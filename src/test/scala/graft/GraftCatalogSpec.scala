package graft

import org.apache.spark.sql.functions._
import graft.sources.VersionedTable

/** The SQL face: `graft.`/path`` identifiers through a path-based
  * TableCatalog, SQL VERSION AS OF / TIMESTAMP AS OF, and the
  * v2-relation -> V1 HadoopFsRelation swap that the extension's
  * resolution rule performs during analysis of plain `spark.sql`. */
class GraftCatalogSpec extends SparkSpec with TempDirs {

  private lazy val roots = tempDir("graft_catspec_")

  private def freshRoot(kind: String): String = s"$roots/$kind"

  private def docs(r: Range) = {
    import spark.implicits._
    r.map(i => (i.toLong, s"text $i")).toDF("doc_id", "text")
  }

  private def build(root: String): Unit = {
    VersionedTable.append(spark, root, docs(0 until 30), "doc_id", 2)
    VersionedTable.append(spark, root, docs(30 until 50), "doc_id", 2)
    ()
  }

  test("SELECT through the catalog reads the head; VERSION AS OF " +
    "pins an old snapshot; filters keep manifest file-skipping") {
    val root = freshRoot("sel")
    build(root)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$root`")
      .head().getLong(0) === 50L)
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft.`$root` VERSION AS OF 1")
      .head().getLong(0) === 30L)
    // the swap serves the connector's FileIndex: a key-range filter
    // must scan fewer files than the snapshot holds (zone-map skip)
    val pruned = spark.sql(s"SELECT * FROM graft.`$root` WHERE doc_id < 5")
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(fail("expected a FileSourceScanExec after the swap"))
    assert(pruned.count() === 5)
    assert(scan.metrics("numFiles").value < 4)
  }

  test("TIMESTAMP AS OF resolves at-or-before through SQL micros") {
    val root = freshRoot("ts")
    build(root)
    val t1 = VersionedTable.snapshot(spark, root, 1).tsMillis
    val probe = java.time.Instant.ofEpochMilli(t1)
      .toString.replace("T", " ").replace("Z", "")
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$root` " +
      s"TIMESTAMP AS OF '$probe'").head().getLong(0) === 30L)
  }

  test("unknown tables and namespaced identifiers are rejected") {
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM graft.`${freshRoot("missing")}`")
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graft.db.tbl")
    }
  }

  test("end to end in a child JVM whose FIRST session installs the " +
    "extension: spark.sql alone resolves, time-travels and prunes — " +
    "spark.sql.extensions is static, so only a fresh JVM proves it") {
    // in-process: the shared session is GraftSession's, whose first
    // build in this JVM installed the extension
    val root = freshRoot("ext")
    build(root)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$root`")
      .head().getLong(0) === 50L, "head count via plain spark.sql")
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft.`$root` VERSION AS OF 1")
      .head().getLong(0) === 30L, "VERSION AS OF 1 count")
    assert(spark.sql(
      s"""SELECT count(*) AS n FROM graft.`$root` a
         |JOIN graft.`$root` VERSION AS OF 1 b USING (doc_id)"""
        .stripMargin).head().getLong(0) === 30L,
      "self-join across two pinned snapshots")
    // the swap must serve the connector's FileIndex: key filter
    // scans fewer files than the snapshot holds
    val pruned = spark.sql(s"SELECT * FROM graft.`$root` WHERE doc_id < 5")
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(fail("expected FileSourceScanExec after swap"))
    assert(pruned.count() === 5L, "pruned read row count")
    assert(scan.metrics("numFiles").value < 4,
      s"zone-map skip through SQL (numFiles = " +
        s"${scan.metrics("numFiles").value})")
  }
}
