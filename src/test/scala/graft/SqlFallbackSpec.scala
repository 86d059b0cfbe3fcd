package graft

import org.apache.spark.sql.functions._
import graft.sources.VersionedTable

/** Negative sweep of the SQL DML converter's documented limits: no
  * subqueries in conditions beyond `key IN (SELECT ...)`, no subquery
  * SET values, references to the target's own columns only.  Plain
  * `spark.sql` hands each statement to the analyzer, where
  * GraftDmlRule converts it or the analyzer itself refuses it — every
  * unsupported shape must error LOUDLY and leave the table
  * byte-identical; a silent mis-translation here would be data
  * corruption with no error to notice.  Each case asserts both the
  * loud error and the unchanged table. */
class SqlFallbackSpec extends SparkSpec with TempDirs {

  private lazy val roots = tempDir("graft_sqlfall_")

  private def freshRoot(kind: String): String = s"$roots/$kind"

  private def seed(root: String): Unit = {
    import spark.implicits._
    (0 until 10).map(i => (i.toLong, s"g${i % 2}", i.toLong))
      .toDF("id", "grp", "x")
      .write.format("graft-table").option("keyCol", "id").save(root)
  }

  /** (version, row checksum) — the "nothing happened" witness. */
  private def state(root: String): (Int, Long) = {
    val v = VersionedTable.latestVersion(spark, root).get
    val sum = VersionedTable.read(spark, root)
      .agg(sum_distinct(col("id") * 1000 + col("x")).cast("long"))
      .head().getLong(0)
    (v, sum)
  }

  private def mustReject(root: String, sql: String,
      msgParts: String*): Unit = {
    val before = state(root)
    val e = intercept[Exception] { spark.sql(sql) }
    val all = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msgParts.isEmpty || msgParts.exists(all.contains),
      s"expected a loud error mentioning one of $msgParts, got: $all")
    assert(state(root) === before,
      s"statement must not have touched the table: $sql")
  }

  test("subquery shapes beyond `key IN (SELECT ...)` reject loudly " +
    "with the supported grammar, never mis-translate") {
    import spark.implicits._
    val root = freshRoot("subq")
    seed(root)
    Seq(1L, 2L).toDF("k").createOrReplaceTempView("fall_keys")
    // EXISTS is not in the grammar
    mustReject(root,
      s"DELETE FROM graft.`$root` WHERE EXISTS (SELECT 1 FROM fall_keys)",
      "unsupported subquery shape")
    // NOT IN is not in the grammar (it is NOT the complement of the
    // supported shape under NULL semantics — silent translation to an
    // anti-join would be wrong)
    mustReject(root,
      s"DELETE FROM graft.`$root` WHERE id NOT IN (SELECT k FROM fall_keys)",
      "unsupported subquery shape")
    // the IN column must be the table key
    mustReject(root,
      s"DELETE FROM graft.`$root` WHERE x IN (SELECT k FROM fall_keys)",
      "must test the table key")
    // at most one IN-subquery conjunct
    mustReject(root,
      s"DELETE FROM graft.`$root` WHERE id IN (SELECT k FROM fall_keys) " +
        "AND id IN (SELECT k + 1 FROM fall_keys)",
      "at most ONE IN-subquery")
    // subqueries in UPDATE assignment values are rejected by the
    // value translator, not silently scalar-ized
    mustReject(root,
      s"UPDATE graft.`$root` SET x = (SELECT max(k) FROM fall_keys)",
      "subquer")
    // scalar subquery in a plain (non-IN) condition position
    mustReject(root,
      s"UPDATE graft.`$root` SET x = 0 " +
        "WHERE x > (SELECT max(k) FROM fall_keys)",
      "subquer")
  }

  test("column references qualified by an unknown table reject; " +
    "assignment targets beyond columns/nested fields reject") {
    val root = freshRoot("cols")
    seed(root)
    // `other.x` is neither the alias nor the root: the analyzer fails
    // its resolution against the target — loud and pre-write;
    // silently treating it as the target's column would be the bug
    mustReject(root,
      s"UPDATE graft.`$root` AS t SET x = other.x + 1",
      "unsupported column reference", "cannot be resolved")
    mustReject(root,
      s"DELETE FROM graft.`$root` AS t WHERE other.id = 3",
      "unsupported column reference", "cannot be resolved")
    // an expression as assignment target is not a column
    mustReject(root,
      s"UPDATE graft.`$root` SET x + 1 = 5")
  }

  test("a correlated IN-subquery never silently decorrelates: the " +
    "statement fails, the table stays byte-identical") {
    import spark.implicits._
    val root = freshRoot("corr")
    seed(root)
    Seq(1L, 2L).toDF("k").createOrReplaceTempView("fall_corr")
    // the converter's correlation guard, or an unresolved-column
    // failure when the subquery plans standalone — either way LOUD,
    // and the table must be untouched
    val before = state(root)
    intercept[Exception] {
      spark.sql(s"DELETE FROM graft.`$root` AS t WHERE id IN " +
        "(SELECT k FROM fall_corr WHERE k = t.x)")
    }
    assert(state(root) === before)
  }
}
