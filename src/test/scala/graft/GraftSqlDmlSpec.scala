package graft

import org.apache.spark.sql.functions._
import graft.sources.VersionedTable

/** The SQL WRITE/DML face: INSERT / UPDATE / DELETE / MERGE over
  * `graft.`/root`` identifiers, all through plain `spark.sql` on the
  * shared session.  The extension's GraftDmlRule converts each
  * statement during analysis; its parser converts MERGE ... WITH
  * SCHEMA EVOLUTION, whose source-born columns the analyzer cannot
  * resolve, and the maintenance grammar. */
class GraftSqlDmlSpec extends SparkSpec with TempDirs {

  private lazy val roots = tempDir("graft_sqldml_")

  private def freshRoot(kind: String): String = s"$roots/$kind"

  private def seed(root: String, n: Int = 10): Unit = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"g${i % 2}", i.toLong))
      .toDF("id", "grp", "x")
      .write.format("graft-table").option("keyCol", "id").save(root)
  }

  private def count(root: String, where: String = ""): Long =
    spark.sql(s"SELECT count(*) AS n FROM graft.`$root` $where")
      .head().getLong(0)

  test("INSERT INTO: positional, with column list (null-fill), and " +
    "INSERT OVERWRITE — each one manifest commit, history intact") {
    val root = freshRoot("ins")
    seed(root)
    spark.sql(s"INSERT INTO graft.`$root` VALUES (100, 'new', 7)")
    assert(count(root) === 11L)
    assert(count(root, "WHERE id = 100 AND grp = 'new' AND x = 7") === 1L)
    spark.sql(s"INSERT INTO graft.`$root` (id, x) VALUES (101, 9)")
    assert(count(root, "WHERE id = 101 AND grp IS NULL AND x = 9") === 1L)
    assert(VersionedTable.latestVersion(spark, root) === Some(3))
    assert(VersionedTable.snapshot(spark, root, 2).op === "append")
    // INSERT from a SELECT over another graft table
    val src = freshRoot("inssrc")
    seed(src, 3)
    spark.sql(s"INSERT INTO graft.`$root` SELECT id + 500, grp, x " +
      s"FROM graft.`$src`")
    assert(count(root, "WHERE id >= 500") === 3L)
    // OVERWRITE: content swaps, history stays
    spark.sql(s"INSERT OVERWRITE graft.`$root` VALUES (1, 'o', 1)")
    assert(count(root) === 1L)
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft.`$root` VERSION AS OF 3")
      .head().getLong(0) === 12L)
  }

  test("UPDATE: SET expressions see the pre-update row, WHERE gates " +
    "with SQL NULL semantics, commits through the library path") {
    val root = freshRoot("upd")
    seed(root)
    spark.sql(s"UPDATE graft.`$root` SET x = x + 1000, grp = 'u' WHERE id < 3")
    assert(count(root, "WHERE grp = 'u'") === 3L)
    assert(count(root, "WHERE id = 2 AND x = 1002") === 1L)
    assert(count(root, "WHERE id = 5 AND x = 5") === 1L)
    assert(VersionedTable.snapshot(spark, root,
      VersionedTable.latestVersion(spark, root).get).op === "update")
  }

  test("DELETE FROM with and without WHERE") {
    val root = freshRoot("del")
    seed(root)
    spark.sql(s"DELETE FROM graft.`$root` WHERE id % 2 = 0")
    assert(count(root) === 5L)
    spark.sql(s"DELETE FROM graft.`$root`")
    assert(count(root) === 0L)
    // history: pre-delete state still readable
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft.`$root` VERSION AS OF 1")
      .head().getLong(0) === 10L)
  }

  test("MERGE INTO: clause census — conditional matched update beats " +
    "delete, not-matched insert, NMBS update + delete, aliases " +
    "and unqualified source columns both resolve") {
    import spark.implicits._
    val root = freshRoot("mrg")
    seed(root, 100)
    Seq((0L, "s0", 1L), (5L, "s5", 2L), (200L, "s2", 3L))
      .toDF("id", "sgrp", "sx").createOrReplaceTempView("sqldml_src")
    spark.sql(
      s"""MERGE INTO graft.`$root` AS t
         |USING sqldml_src AS s ON t.id = s.id
         |WHEN MATCHED AND sx = 1 THEN UPDATE SET x = sx * 10, grp = sgrp
         |WHEN MATCHED THEN DELETE
         |WHEN NOT MATCHED THEN INSERT (id, grp, x) VALUES (s.id, sgrp, sx)
         |WHEN NOT MATCHED BY SOURCE AND t.id >= 90 THEN DELETE
         |""".stripMargin)
    assert(count(root, "WHERE id = 0 AND x = 10 AND grp = 's0'") === 1L)
    assert(count(root, "WHERE id = 5") === 0L)
    assert(count(root, "WHERE id = 200 AND grp = 's2' AND x = 3") === 1L)
    assert(count(root, "WHERE id >= 90 AND id < 200") === 0L)
    assert(count(root) === 100L - 1L - 10L + 1L)
    assert(VersionedTable.snapshot(spark, root,
      VersionedTable.latestVersion(spark, root).get).op === "merge")
  }

  test("MERGE with a differently-named source key joins on the table " +
    "key; duplicate matched source keys throw through SQL too") {
    import spark.implicits._
    val root = freshRoot("mrgkey")
    seed(root)
    Seq((1L, 77L)).toDF("sid", "sx")
      .createOrReplaceTempView("sqldml_key_src")
    spark.sql(
      s"""MERGE INTO graft.`$root` AS t USING sqldml_key_src AS s
         |ON t.id = s.sid
         |WHEN MATCHED THEN UPDATE SET x = s.sx""".stripMargin)
    assert(count(root, "WHERE id = 1 AND x = 77") === 1L)
    Seq((2L, 1L), (2L, 2L)).toDF("sid", "sx")
      .createOrReplaceTempView("sqldml_dup_src")
    intercept[IllegalArgumentException] {
      spark.sql(
        s"""MERGE INTO graft.`$root` AS t USING sqldml_dup_src AS s
           |ON t.id = s.sid
           |WHEN MATCHED THEN UPDATE SET x = s.sx""".stripMargin)
    }
  }

  test("SQL DML negative cases: constraint violations surface, " +
    "non-key merge conditions and subqueries are rejected loudly, " +
    "hive-style INSERT PARTITION is refused") {
    import spark.implicits._
    val root = freshRoot("neg")
    seed(root)
    VersionedTable.addConstraint(spark, root, "x_pos", "x >= 0")
    val e = intercept[IllegalStateException] {
      spark.sql(s"INSERT INTO graft.`$root` VALUES (50, 'b', -1)")
    }
    assert(e.getMessage.contains("CHECK constraint"))
    assert(count(root, "WHERE x < 0") === 0L)
    Seq((1L, 1L)).toDF("id", "x").createOrReplaceTempView("sqldml_neg_src")
    intercept[IllegalArgumentException] {
      spark.sql(
        s"""MERGE INTO graft.`$root` AS t USING sqldml_neg_src AS s
           |ON t.x = s.x
           |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    // non-key IN-subqueries and EXISTS stay rejected with the grammar
    intercept[IllegalArgumentException] {
      spark.sql(s"DELETE FROM graft.`$root` WHERE x IN " +
        s"(SELECT x FROM graft.`$root` WHERE x > 5)")
    }
    intercept[IllegalArgumentException] {
      spark.sql(s"DELETE FROM graft.`$root` WHERE EXISTS " +
        s"(SELECT 1 FROM graft.`$root` WHERE x > 5)")
    }
    intercept[IllegalArgumentException] {
      spark.sql(s"INSERT INTO graft.`$root` PARTITION (grp='a') VALUES (9, 9)")
    }
    // non-graft statements pass through untouched
    assert(spark.sql("SELECT 1 AS one").head().getInt(0) === 1)
  }

  test("ALTER TABLE via SQL: RENAME COLUMN / DROP COLUMN / ADD " +
    "COLUMNS / SET+UNSET TBLPROPERTIES map to versioned metadata " +
    "commits on any session — no extensions required") {
    val root = freshRoot("alter")
    seed(root)
    spark.sql(s"ALTER TABLE graft.`$root` RENAME COLUMN x TO score")
    assert(VersionedTable.read(spark, root).columns.toSeq ===
      Seq("id", "grp", "score"))
    // the rename was metadata-only
    assert(VersionedTable.snapshot(spark, root, 2).files.map(_.path) ===
      VersionedTable.snapshot(spark, root, 1).files.map(_.path))
    spark.sql(s"ALTER TABLE graft.`$root` ADD COLUMNS (note STRING)")
    assert(VersionedTable.read(spark, root).columns.contains("note"))
    spark.sql(s"ALTER TABLE graft.`$root` DROP COLUMN note")
    assert(!VersionedTable.read(spark, root).columns.contains("note"))
    // IF EXISTS tolerates a missing column; a bare drop throws
    spark.sql(s"ALTER TABLE graft.`$root` DROP COLUMN IF EXISTS nope")
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$root` DROP COLUMN nope")
    }
    // the table key refuses to rename through SQL too
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$root` RENAME COLUMN id TO key2")
    }
    spark.sql(s"ALTER TABLE graft.`$root` " +
      "SET TBLPROPERTIES ('curation.owner' = 'team-a')")
    val head = VersionedTable.latestVersion(spark, root).get
    assert(VersionedTable.snapshot(spark, root, head)
      .props.get("curation.owner") === Some("team-a"))
    spark.sql(s"ALTER TABLE graft.`$root` UNSET TBLPROPERTIES ('curation.owner')")
    assert(!VersionedTable.snapshot(spark, root,
      VersionedTable.latestVersion(spark, root).get)
      .props.contains("curation.owner"))
    // structural properties refuse to unset
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$root` " +
        "UNSET TBLPROPERTIES ('table.schema')")
    }
    // SHOW TBLPROPERTIES serves the manifest props verbatim
    spark.sql(s"ALTER TABLE graft.`$root` " +
      "SET TBLPROPERTIES ('curation.stage' = 'filtered')")
    val props = spark.sql(s"SHOW TBLPROPERTIES graft.`$root`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("curation.stage") === Some("filtered"))
    assert(props.get("table.key") === Some("id"))
    assert(props.contains("table.schema"))
  }

  test("maintenance SQL grammar: DESCRIBE HISTORY/DETAIL, OPTIMIZE " +
    "[ZORDER BY], VACUUM [RETAIN n HOURS] [DRY RUN] — on any session " +
    "through GraftSql; ordinary SQL is untouched") {
    import spark.implicits._
    val root = freshRoot("maint")
    seed(root)
    spark.sql(s"INSERT INTO graft.`$root` VALUES (50, 'z', 5)")
    val hist = spark.sql(s"DESCRIBE HISTORY graft.`$root`")
      .collect()
    assert(hist.map(_.getInt(0)).toSeq === Seq(1, 2))
    assert(hist.map(_.getString(2)).toSeq === Seq("append", "append"))
    val det = spark.sql(s"DESCRIBE DETAIL graft.`$root`")
      .head()
    assert(det.getAs[String]("key_col") === "id")
    assert(det.getAs[Long]("num_live_rows") === 11L)
    // OPTIMIZE bin-packs the two tiny commits into one file
    val opt = spark.sql(s"OPTIMIZE graft.`$root`").head()
    assert(opt.getAs[Long]("num_files_after") <
      opt.getAs[Long]("num_files_before"))
    assert(VersionedTable.read(spark, root).count() === 11L)
    // OPTIMIZE ZORDER BY re-lays out on (grp, x)
    spark.sql(s"OPTIMIZE graft.`$root` ZORDER BY (grp, x)")
    assert(VersionedTable.snapshot(spark, root,
      VersionedTable.latestVersion(spark, root).get).op === "zorder")
    // DRY RUN lists reclaimable files without deleting them
    val doomed = spark.sql(s"VACUUM graft.`$root` RETAIN 0 HOURS DRY RUN")
      .collect().map(_.getString(0))
    assert(doomed.nonEmpty)
    assert(doomed.forall(p =>
      new java.io.File(p.stripPrefix("file:")).exists()))
    // sub-floor retention REFUSES without the explicit opt-out
    // (Delta's retentionDurationCheck): RETAIN 0 HOURS would break
    // concurrent readers of recent snapshots
    val guard = intercept[Exception] {
      spark.sql(s"VACUUM graft.`$root` RETAIN 0 HOURS").head()
    }
    assert(guard.getMessage.contains("safety floor") ||
      Option(guard.getCause).exists(_.getMessage.contains("safety floor")))
    VersionedTable.setProperty(spark, root, "vacuum.retentionCheck",
      "false")
    // the real VACUUM (retain 0 h keeps only the head) reclaims them
    val vac = spark.sql(s"VACUUM graft.`$root` RETAIN 0 HOURS").head()
    assert(vac.getAs[Long]("data_files_deleted") >= doomed.length)
    assert(doomed.forall(p =>
      !new java.io.File(p.stripPrefix("file:")).exists()))
    assert(VersionedTable.read(spark, root).count() === 11L)
    // non-maintenance SQL flows through the ordinary path
    assert(spark.sql("SELECT 2 AS two").head().getInt(0) === 2)
  }

  test("RESTORE TABLE ... TO VERSION AS OF and FSCK REPAIR TABLE " +
    "[DRY RUN] via SQL") {
    val root = freshRoot("restore")
    seed(root)
    spark.sql(s"DELETE FROM graft.`$root` WHERE id < 8")
    assert(count(root) === 2L)
    val r = spark.sql(s"RESTORE TABLE graft.`$root` TO VERSION AS OF 1").head()
    assert(r.getAs[Int]("restored_to") === 1)
    assert(count(root) === 10L)
    // TIMESTAMP AS OF accepts the conventional SQL spelling
    // 'yyyy-MM-dd HH:mm:ss' (not just epoch millis / ISO-8601): a
    // probe after the delete's commit restores back to the deleted
    // state
    val delTs = VersionedTable.snapshot(spark, root, 2).tsMillis
    val probe = new java.sql.Timestamp(delTs + 1).toString
    val r2 = spark.sql(
      s"RESTORE TABLE graft.`$root` TO TIMESTAMP AS OF '$probe'")
      .head()
    assert(r2.getAs[Int]("restored_to") === 2)
    assert(count(root) === 2L)
    val badTs = intercept[Exception] { spark.sql(
      s"RESTORE TABLE graft.`$root` TO TIMESTAMP AS OF 'yesterday'")
      .head() }
    assert(badTs.getMessage.contains("cannot parse") ||
      Option(badTs.getCause).exists(_.getMessage.contains("cannot parse")))
    // roll forward again for the FSCK half below
    spark.sql(s"RESTORE TABLE graft.`$root` TO VERSION AS OF 1")
    assert(count(root) === 10L)
    // FSCK: clean table reports nothing
    assert(spark.sql(
      s"FSCK REPAIR TABLE graft.`$root` DRY RUN").count() === 0L)
    // break a referenced data file, then audit + repair through SQL
    val victim = VersionedTable.snapshot(spark, root,
      VersionedTable.latestVersion(spark, root).get).files.head.path
    new java.io.File(victim.stripPrefix("file:")).delete()
    val missing = spark.sql(
      s"FSCK REPAIR TABLE graft.`$root` DRY RUN").collect()
    assert(missing.length === 1 &&
      missing.head.getString(0) === "missing-data")
    spark.sql(s"FSCK REPAIR TABLE graft.`$root`")
    assert(VersionedTable.snapshot(spark, root,
      VersionedTable.latestVersion(spark, root).get).op === "fsck")
    // the table reads again (the broken entry is gone)
    assert(count(root) < 10L)
  }

  test("end to end in a child JVM with the extension installed: plain " +
    "spark.sql drives INSERT / UPDATE / DELETE / MERGE / OVERWRITE " +
    "and constraint enforcement through GraftDmlRule") {
    // in-process: the shared session is GraftSession's, whose first
    // build in this JVM installed the extension
    val root = freshRoot("ext")
    def rows(where: String = ""): Long =
      spark.sql(s"SELECT count(*) AS n FROM graft.`$root` $where")
        .head().getLong(0)

    import spark.implicits._
    seed(root)

    // INSERT INTO, positional
    spark.sql(s"INSERT INTO graft.`$root` VALUES (100, 'new', 7)")
    assert(rows() == 11L, "INSERT INTO positional")
    assert(rows("WHERE id = 100 AND grp = 'new' AND x = 7") == 1L,
      "inserted row readable")
    // INSERT INTO with a column list: unlisted columns become NULL
    spark.sql(s"INSERT INTO graft.`$root` (id, x) VALUES (101, 9)")
    assert(rows("WHERE id = 101 AND grp IS NULL AND x = 9") == 1L,
      "INSERT with column list null-fills")
    assert(VersionedTable.latestVersion(spark, root).contains(3),
      "each INSERT is one commit")

    // UPDATE with WHERE; assignments see the pre-update row
    spark.sql(s"UPDATE graft.`$root` SET x = x + 1000, grp = 'upd' " +
      "WHERE id < 3")
    assert(rows("WHERE grp = 'upd' AND x >= 1000") == 3L,
      "UPDATE applied where cond true")
    assert(rows("WHERE id = 5 AND x = 5") == 1L,
      "UPDATE left non-matching rows")

    // DELETE
    spark.sql(s"DELETE FROM graft.`$root` WHERE id = 101")
    assert(rows("WHERE id = 101") == 0L, "DELETE removed the row")
    assert(rows() == 11L, "DELETE removed exactly one row")

    // MERGE: update / conditional delete / insert / NMBS delete
    (Seq((0L, "src", 1L), (5L, "src", 2L), (200L, "src", 3L)))
      .toDF("id", "grp", "x").createOrReplaceTempView("dml_src")
    spark.sql(
      s"""MERGE INTO graft.`$root` AS t USING dml_src AS src
         |ON t.id = src.id
         |WHEN MATCHED AND src.x = 1 THEN UPDATE SET x = src.x * 10
         |WHEN MATCHED THEN DELETE
         |WHEN NOT MATCHED THEN INSERT (id, grp, x)
         |  VALUES (src.id, src.grp, src.x)
         |WHEN NOT MATCHED BY SOURCE AND t.id >= 9 AND t.id < 100
         |  THEN DELETE""".stripMargin)
    assert(rows("WHERE id = 0 AND x = 10") == 1L,
      "MERGE first matched clause wins (update, not delete)")
    assert(rows("WHERE id = 5") == 0L, "MERGE matched delete")
    assert(rows("WHERE id = 200 AND grp = 'src'") == 1L,
      "MERGE not-matched insert")
    assert(rows("WHERE id = 9") == 0L, "MERGE NMBS delete")
    assert(rows("WHERE id = 100") == 1L,
      "MERGE NMBS condition gates")

    // INSERT OVERWRITE replaces the head (history stays)
    val beforeOvw = VersionedTable.latestVersion(spark, root).get
    spark.sql(s"INSERT OVERWRITE graft.`$root` VALUES (1, 'only', 1)")
    assert(rows() == 1L, "INSERT OVERWRITE replaced content")
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$root` " +
      s"VERSION AS OF $beforeOvw").head().getLong(0) > 1L,
      "history survives the overwrite")

    // CHECK constraint surfaces through SQL INSERT
    VersionedTable.addConstraint(spark, root, "x_pos", "x >= 0")
    val threw =
      try { spark.sql(s"INSERT INTO graft.`$root` VALUES (2, 'bad', -5)")
        false }
      catch { case e: Throwable =>
        e.getMessage != null &&
          e.getMessage.contains("CHECK constraint") ||
          Option(e.getCause).exists(c => c.getMessage != null &&
            c.getMessage.contains("CHECK constraint")) }
    assert(threw, "constraint violation rejected through SQL")
    assert(rows("WHERE x < 0") == 0L, "violating row not committed")

    // maintenance grammar through the INJECTED PARSER (plain
    // spark.sql — the delegating-parser path)
    val hist = spark.sql(s"DESCRIBE HISTORY graft.`$root`").collect()
    assert(hist.length == VersionedTable.versions(spark, root).size,
      "DESCRIBE HISTORY row per version via plain spark.sql")
    assert(spark.sql(s"DESCRIBE DETAIL graft.`$root`").head()
      .getAs[String]("key_col") == "id",
      "DESCRIBE DETAIL via plain spark.sql")
    val opt = spark.sql(s"OPTIMIZE graft.`$root`").head()
    assert(opt.getAs[Long]("num_files_after") <=
      opt.getAs[Long]("num_files_before"),
      "OPTIMIZE via plain spark.sql")
    val dry = spark.sql(s"VACUUM graft.`$root` RETAIN 0 HOURS DRY RUN")
      .count()
    VersionedTable.setProperty(spark, root, "vacuum.retentionCheck",
      "false") // sub-floor retention needs the explicit opt-out
    val vac = spark.sql(s"VACUUM graft.`$root` RETAIN 0 HOURS").head()
    assert(vac.getAs[Long]("data_files_deleted") >= dry,
      "VACUUM via plain spark.sql reclaims at least the dry-run list")
    assert(rows() == 1L, "table reads after maintenance")
    // ordinary SQL still parses through the delegate
    assert(spark.sql("SELECT 3 AS three").head().getInt(0) == 3,
      "delegating parser passes ordinary SQL through")

    // ---------------- round-13 surface, RESOLVED-path (plain
    // spark.sql through GraftDmlRule / the analyzer) ----------------
    val r13 = freshRoot("ext_r13")
    // CREATE TABLE with inline CHECK + table.key; empty read; INSERT
    spark.sql(s"CREATE TABLE graft.`$r13` (id BIGINT, grp STRING, " +
      "x BIGINT, CONSTRAINT x_pos CHECK (x >= 0)) " +
      "TBLPROPERTIES ('table.key'='id')")
    assert(spark.sql(s"SELECT * FROM graft.`$r13`").count() == 0L,
      "created table reads empty with schema")
    spark.sql(s"INSERT INTO graft.`$r13` SELECT id, 'g' || " +
      s"cast(id % 2 AS string), id FROM range(20)")
    def c13(where: String = ""): Long =
      spark.sql(s"SELECT count(*) AS n FROM graft.`$r13` $where")
        .head().getLong(0)
    assert(c13() == 20L, "CREATE + INSERT INTO ... SELECT via spark.sql")
    val cThrew =
      try { spark.sql(s"INSERT INTO graft.`$r13` VALUES (99, 'g', -1)")
        false }
      catch { case e: Throwable =>
        (e.getMessage + Option(e.getCause).map(_.getMessage)
          .getOrElse("")).contains("x_pos") }
    assert(cThrew, "inline CREATE constraint enforced, named")
    // ALTER TABLE ADD/DROP CONSTRAINT through the injected parser
    spark.sql(s"ALTER TABLE graft.`$r13` ADD CONSTRAINT x_cap " +
      "CHECK (x < 1000000)")
    assert(VersionedTable.snapshot(spark, r13,
      VersionedTable.latestVersion(spark, r13).get)
      .constraints.keySet == Set("x_pos", "x_cap"),
      "ADD CONSTRAINT via plain spark.sql")
    spark.sql(s"ALTER TABLE graft.`$r13` DROP CONSTRAINT x_cap")
    // IN-subquery DELETE (resolved InSubquery through GraftDmlRule)
    spark.sql("SELECT id * 2 AS k FROM range(5)")
      .createOrReplaceTempView("r13_doomed")
    spark.sql(s"DELETE FROM graft.`$r13` WHERE id IN " +
      "(SELECT k FROM r13_doomed) AND grp = 'g0'")
    assert(c13() == 15L, "IN-subquery DELETE with residual (resolved)")
    assert(c13("WHERE id IN (0, 2, 4, 6, 8)") == 0L,
      "IN-subquery DELETE removed the right keys")
    // compound-ON MERGE (resolved side attribution)
    spark.sql("SELECT id AS id, id + 500 AS nx FROM range(3)")
      .createOrReplaceTempView("r13_src")
    spark.sql(
      s"""MERGE INTO graft.`$r13` AS t USING r13_src AS sq
         |ON t.id = sq.id AND t.grp = 'g1'
         |WHEN MATCHED THEN UPDATE SET x = sq.nx
         |WHEN NOT MATCHED THEN INSERT (id, grp, x)
         |VALUES (sq.id + 700, 'ins', sq.nx)""".stripMargin)
    assert(c13("WHERE id = 1 AND x = 501") == 1L,
      "compound-ON matched (residual holds) updated")
    assert(c13("WHERE id = 700 AND grp = 'ins'") == 1L,
      "compound-ON residual-failed source row inserted")
    // MERGE WITH SCHEMA EVOLUTION (resolved path)
    spark.sql("SELECT id * 3 + 1 AS id, id AS q FROM range(3)")
      .createOrReplaceTempView("r13_evo")
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO graft.`$r13` AS t
         |USING r13_evo AS sq ON t.id = sq.id
         |WHEN MATCHED THEN UPDATE SET q = sq.q""".stripMargin)
    assert(spark.sql(s"SELECT q FROM graft.`$r13` WHERE id = 7")
      .head().getLong(0) == 2L,
      "WITH SCHEMA EVOLUTION widened + filled (resolved)")
    assert(c13("WHERE q IS NULL") > 0L,
      "evolution: untouched rows read NULL")
    // dml.mode=mor via SQL property, then MoR UPDATE
    spark.sql(s"ALTER TABLE graft.`$r13` SET TBLPROPERTIES " +
      "('dml.mode'='mor')")
    spark.sql(s"UPDATE graft.`$r13` SET x = x + 9000 WHERE id = 7")
    assert(VersionedTable.snapshot(spark, r13,
      VersionedTable.latestVersion(spark, r13).get).op == "update-mor",
      "dml.mode=mor routes SQL UPDATE merge-on-read")
    assert(c13("WHERE id = 7 AND x = 9007") == 1L,
      "MoR SQL UPDATE applied")
    // column DEFAULTs through the ANALYZER's own resolution
    // (SUPPORT_COLUMN_DEFAULT_VALUE + field metadata)
    val r13d = freshRoot("ext_r13def")
    spark.sql(s"CREATE TABLE graft.`$r13d` (id BIGINT, " +
      "x BIGINT DEFAULT 42) TBLPROPERTIES ('table.key'='id')")
    spark.sql(s"INSERT INTO graft.`$r13d` (id) VALUES (1)")
    assert(spark.sql(s"SELECT x FROM graft.`$r13d` WHERE id = 1")
      .head().getLong(0) == 42L,
      "column DEFAULT filled by plain spark.sql INSERT")
    // INSERT ... REPLACE WHERE through the resolved rule
    spark.sql(s"INSERT INTO graft.`$r13` REPLACE WHERE id >= 700 " +
      "VALUES (700, 'rw', 7, CAST(NULL AS BIGINT))")
    assert(c13("WHERE id = 700 AND grp = 'rw'") == 1L,
      "REPLACE WHERE swapped the slice via plain spark.sql")
    assert(c13("WHERE id = 702") == 0L,
      "REPLACE WHERE removed the rest of the slice")
    // CTAS through plain spark.sql
    val r13c = freshRoot("ext_r13ctas")
    spark.sql(s"CREATE TABLE graft.`$r13c` TBLPROPERTIES " +
      s"('table.key'='id') AS SELECT id, x FROM graft.`$r13` " +
      "WHERE x < 100")
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$r13c`")
      .head().getLong(0) ==
      c13("WHERE x < 100"), "CTAS via plain spark.sql")
  }

  test("MERGE ON conjunction: key equality + residual predicates — a " +
    "pair failing the residual is unmatched BOTH ways (target keeps " +
    "or NMBS-applies, source inserts), matching Delta's compound ON") {
    import spark.implicits._
    val root = freshRoot("compound")
    seed(root) // ids 0..9, grp g0/g1 alternating, x = id
    Seq((4L, 400L), (5L, 500L), (200L, 7L))
      .toDF("id", "nx").createOrReplaceTempView("cmp_src")
    // residual `t.grp = 'g0'`: id 4 (g0) matches -> UPDATE; id 5 (g1)
    // FAILS the residual -> target row keeps, source row INSERTS;
    // id 200 matches nothing -> INSERT
    spark.sql(
      s"""MERGE INTO graft.`$root` AS t
         |USING cmp_src AS s
         |ON t.id = s.id AND t.grp = 'g0'
         |WHEN MATCHED THEN UPDATE SET x = s.nx
         |WHEN NOT MATCHED THEN INSERT (id, grp, x)
         |VALUES (s.id, 'ins', s.nx)""".stripMargin)
    val got = spark.sql(
      s"SELECT id, grp, x FROM graft.`$root` ORDER BY id, grp")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.contains((4L, "g0", 400L)))   // matched + residual: updated
    assert(got.contains((5L, "g1", 5L)))     // residual failed: kept
    assert(got.contains((5L, "ins", 500L)))  // ...and source inserted
    assert(got.contains((200L, "ins", 7L)))  // plain unmatched insert
    assert(got.length === 12)                // 10 + 2 inserts
    // a source-side residual conjunct also rides the join
    Seq((0L, 1L), (2L, -1L)).toDF("id", "nx")
      .createOrReplaceTempView("cmp_src2")
    spark.sql(
      s"""MERGE INTO graft.`$root` AS t
         |USING cmp_src2 AS s
         |ON t.id = s.id AND s.nx > 0
         |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(count(root, "WHERE id = 0") === 0L) // nx>0: matched, deleted
    assert(count(root, "WHERE id = 2") === 1L) // nx<0: unmatched, kept
    // ON without any key equality still refuses
    val noKey = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$root` AS t USING cmp_src AS s
           |ON t.grp = 'g0'
           |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert((noKey.getMessage + Option(noKey.getCause)
      .map(_.getMessage).getOrElse("")).contains("table key"))
  }

  test("DELETE / UPDATE ... WHERE key IN (SELECT ...): the subquery " +
    "plans distributed (deleteKeys / key-join merge), residual " +
    "conjuncts gate per-row — the decontamination shape") {
    import spark.implicits._
    val root = freshRoot("insub")
    seed(root, 20) // ids 0..19, x = id, grp g0/g1
    Seq(1L, 3L, 5L, 7L, 99L).toDF("bad_id")
      .createOrReplaceTempView("contaminated")
    // plain key-IN delete -> join-based deleteKeys
    spark.sql(s"DELETE FROM graft.`$root` WHERE id IN " +
      "(SELECT bad_id FROM contaminated)")
    assert(count(root) === 16L)
    assert(count(root, "WHERE id IN (1, 3, 5, 7)") === 0L)
    assert(VersionedTable.snapshot(spark, root,
      VersionedTable.latestVersion(spark, root).get).op === "delete")
    // key-IN + residual -> merge delete, residual gates per row
    Seq(2L, 4L, 6L).toDF("k").createOrReplaceTempView("maybe_del")
    spark.sql(
      s"DELETE FROM graft.`$root` WHERE id IN (SELECT k FROM maybe_del)" +
        " AND grp = 'g0'")
    // 2,4,6 are all g0 -> deleted; total 13
    assert(count(root) === 13L)
    // UPDATE with key-IN + residual: SET sees the pre-update row
    Seq(8L, 9L, 10L).toDF("k").createOrReplaceTempView("maybe_upd")
    spark.sql(s"UPDATE graft.`$root` SET x = x + 1000 " +
      "WHERE id IN (SELECT k FROM maybe_upd) AND grp = 'g0'")
    assert(count(root, "WHERE x = 1008") === 1L)  // id 8 (g0): updated
    assert(count(root, "WHERE id = 9 AND x = 9") === 1L) // g1: kept
    assert(count(root, "WHERE id = 10 AND x = 1010") === 1L)
    // the subquery may read another graft table
    val src = freshRoot("insubsrc")
    seed(src, 5)
    spark.sql(s"DELETE FROM graft.`$root` WHERE id IN " +
      s"(SELECT id + 11 FROM graft.`$src`)")
    assert(count(root, "WHERE id >= 11 AND id <= 15") === 0L)
  }

  test("MERGE ... WITH SCHEMA EVOLUTION: source-only columns widen " +
    "the target (metadata-only addColumn, then merge); surviving old " +
    "rows read NULL for the new column") {
    import spark.implicits._
    val root = freshRoot("evolve")
    seed(root) // ids 0..9: (id, grp, x)
    Seq((1L, 10L, "fr"), (100L, 7L, "de"))
      .toDF("id", "x", "lang").createOrReplaceTempView("evo_src")
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO graft.`$root` AS t
         |USING evo_src AS s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET x = s.x, lang = s.lang
         |WHEN NOT MATCHED THEN INSERT (id, grp, x, lang)
         |VALUES (s.id, 'new', s.x, s.lang)""".stripMargin)
    val got = spark.sql(s"SELECT id, grp, x, lang FROM graft.`$root`")
    assert(got.columns.toSeq === Seq("id", "grp", "x", "lang"))
    // matched row updated, new column filled
    assert(got.filter(col("id") === 1).select("lang").head()
      .getString(0) === "fr")
    assert(got.filter(col("id") === 1).select("x").head()
      .getLong(0) === 10L)
    // inserted row carries the evolved column
    assert(got.filter(col("id") === 100).select("lang").head()
      .getString(0) === "de")
    // OLD rows (untouched and rewritten-kept alike) read NULL
    assert(got.filter(col("lang").isNull).count() === 9L)
    assert(got.count() === 11L)
    // the widen was a separate metadata commit before the merge
    val ops = (1 to VersionedTable.latestVersion(spark, root).get)
      .map(v => VersionedTable.snapshot(spark, root, v).op)
    assert(ops.contains("add-column") && ops.last === "merge")
    // UPDATE SET * / INSERT * widen too
    Seq((2L, 20L, "it"), (101L, 8L, "zh"))
      .toDF("id", "x", "lang").createOrReplaceTempView("evo_src2")
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO graft.`$root` AS t
         |USING (SELECT id, 'g9' AS grp, x, lang, x * 2 AS score
         |       FROM evo_src2) AS s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got2 = spark.sql(s"SELECT id, grp, x, lang, score FROM graft.`$root`")
    assert(got2.filter(col("id") === 2).select("score").head()
      .getLong(0) === 40L)
    assert(got2.filter(col("id") === 101).select("lang").head()
      .getString(0) === "zh")
    assert(got2.filter(col("score").isNull).count() === 10L)
    assert(got2.count() === 12L)
    // WITHOUT the evolution keyword, a source-only assignment refuses
    val noEvo = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$root` AS t USING
           |(SELECT id, x, 9 AS brand_new FROM evo_src2) AS s
           |ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET brand_new = s.brand_new
           |""".stripMargin)
    }
    assert((noEvo.getMessage + Option(noEvo.getCause)
      .map(_.getMessage).getOrElse("")).nonEmpty)
  }

  test("nested-field UPDATE: SET s.f = ... rebuilds the struct via " +
    "withField over the PRE-update row; whole+field double-assign " +
    "rejects") {
    import spark.implicits._
    val root = freshRoot("nested")
    (0 until 10).map(i => (i.toLong, (s"u$i", i.toLong)))
      .toDF("id", "props")
      .selectExpr("id",
        "named_struct('user', props._1, 'n', props._2) AS props")
      .write.format("graft-table").option("keyCol", "id").save(root)
    spark.sql(s"UPDATE graft.`$root` SET props.n = props.n + 100, " +
      "props.user = upper(props.user) WHERE id < 3")
    val got = spark.sql(
      s"SELECT id, props.user AS u, props.n AS n FROM graft.`$root`")
    assert(got.filter(col("id") === 1).head().getString(1) === "U1")
    assert(got.filter(col("id") === 1).head().getLong(2) === 101L)
    // untouched rows keep their structs verbatim
    assert(got.filter(col("id") === 5).head().getString(1) === "u5")
    assert(got.filter(col("id") === 5).head().getLong(2) === 5L)
    // assignments see PRE-update values: swap fields in one statement
    spark.sql(s"UPDATE graft.`$root` SET props.n = length(props.user), " +
      "props.user = concat('n=', cast(props.n AS string)) " +
      "WHERE id = 9")
    val r9 = spark.sql(
      s"SELECT props.user AS u, props.n AS n FROM graft.`$root` " +
        "WHERE id = 9").head()
    assert(r9.getString(0) === "n=9" && r9.getLong(1) === 2L)
    // whole-column + nested-field double assignment is ambiguous
    val dbl = intercept[Exception] {
      spark.sql(
        s"UPDATE graft.`$root` SET props = named_struct('user', 'x', " +
          "'n', 0L), props.n = 1 WHERE id = 0")
    }
    assert((dbl.getMessage + Option(dbl.getCause)
      .map(_.getMessage).getOrElse("")).contains("ambiguous"))
  }

  test("dml.mode=mor: SQL UPDATE/DELETE route through the " +
    "merge-on-read twins — DV mask + post-image, zero data files " +
    "rewritten; key-IN deletes take deleteMoRKeys") {
    import spark.implicits._
    val root = freshRoot("mor")
    seed(root)
    spark.sql(
      s"ALTER TABLE graft.`$root` SET TBLPROPERTIES ('dml.mode'='mor')")
    val before = VersionedTable.snapshot(spark, root, 1).files
      .map(_.path).toSet
    spark.sql(s"UPDATE graft.`$root` SET x = x + 1000 WHERE id < 3")
    val afterU = VersionedTable.snapshot(spark, root,
      VersionedTable.latestVersion(spark, root).get)
    assert(afterU.op === "update-mor")
    // every original file survives by path (masked, not rewritten)
    assert(before.subsetOf(afterU.files.map(_.path).toSet))
    assert(count(root, "WHERE x >= 1000") === 3L)
    assert(count(root) === 10L)
    spark.sql(s"DELETE FROM graft.`$root` WHERE id >= 8")
    val afterD = VersionedTable.snapshot(spark, root,
      VersionedTable.latestVersion(spark, root).get)
    assert(afterD.op === "delete-mor")
    assert(count(root) === 8L)
    // key-IN subquery delete routes to deleteMoRKeys
    Seq(0L, 1L).toDF("k").createOrReplaceTempView("mor_keys")
    spark.sql(
      s"DELETE FROM graft.`$root` WHERE id IN (SELECT k FROM mor_keys)")
    val afterK = VersionedTable.snapshot(spark, root,
      VersionedTable.latestVersion(spark, root).get)
    assert(afterK.op === "delete-mor")
    assert(count(root) === 6L)
    // flipping back restores copy-on-write
    spark.sql(
      s"ALTER TABLE graft.`$root` SET TBLPROPERTIES ('dml.mode'='cow')")
    spark.sql(s"DELETE FROM graft.`$root` WHERE id = 7")
    assert(VersionedTable.snapshot(spark, root,
      VersionedTable.latestVersion(spark, root).get).op === "delete")
    assert(count(root) === 5L)
  }

  test("dml.mode=mor: key-IN UPDATE and RESIDUAL key-IN UPDATE/DELETE " +
    "route through the merge-on-read twins — DV mask + post-image " +
    "economics, zero data files rewritten (no silent copy-on-write " +
    "fallback for the subquery shapes)") {
    import spark.implicits._
    val root = freshRoot("morkeys")
    seed(root)
    spark.sql(
      s"ALTER TABLE graft.`$root` SET TBLPROPERTIES ('dml.mode'='mor')")
    val before = VersionedTable.snapshot(spark, root, 1).files
      .map(_.path).toSet
    Seq(0L, 1L, 2L, 3L).toDF("k").createOrReplaceTempView("mork_upd")
    // key-IN UPDATE, no residual
    spark.sql(s"UPDATE graft.`$root` SET x = x + 1000 " +
      "WHERE id IN (SELECT k FROM mork_upd)")
    val afterU = VersionedTable.snapshot(spark, root,
      VersionedTable.latestVersion(spark, root).get)
    assert(afterU.op === "update-mor",
      "key-IN UPDATE on a mor table must take the DV-mask twin")
    assert(before.subsetOf(afterU.files.map(_.path).toSet))
    assert(count(root, "WHERE x >= 1000") === 4L)
    assert(count(root) === 10L)
    // key-IN UPDATE with a residual conjunct: grp g0 = even ids
    spark.sql(s"UPDATE graft.`$root` SET x = x + 10000 " +
      "WHERE id IN (SELECT k FROM mork_upd) AND grp = 'g0'")
    val afterR = VersionedTable.snapshot(spark, root,
      VersionedTable.latestVersion(spark, root).get)
    assert(afterR.op === "update-mor")
    assert(before.subsetOf(afterR.files.map(_.path).toSet))
    assert(count(root, "WHERE x >= 11000") === 2L) // ids 0 and 2
    assert(count(root) === 10L)
    // residual key-IN DELETE: grp g1 = odd ids -> 1 and 9 go
    Seq(0L, 1L, 8L, 9L).toDF("k").createOrReplaceTempView("mork_del")
    spark.sql(s"DELETE FROM graft.`$root` " +
      "WHERE id IN (SELECT k FROM mork_del) AND grp = 'g1'")
    val afterD = VersionedTable.snapshot(spark, root,
      VersionedTable.latestVersion(spark, root).get)
    assert(afterD.op === "delete-mor",
      "residual key-IN DELETE on a mor table must take the DV-mask twin")
    assert(before.subsetOf(afterD.files.map(_.path).toSet))
    assert(count(root) === 8L)
    assert(count(root, "WHERE id IN (1, 9)") === 0L)
    assert(count(root, "WHERE id IN (0, 8)") === 2L) // residual kept g0
  }

  test("INSERT INTO ... REPLACE WHERE: predicate-scoped overwrite as " +
    "SQL — slice swapped in one commit, outside-slice batches " +
    "rejected, untouched files carry") {
    val root = freshRoot("replwhere")
    seed(root) // ids 0..9, x = id
    spark.sql(s"INSERT INTO graft.`$root` REPLACE WHERE id < 3 " +
      "VALUES (0, 'r', 0), (1, 'r', 1)")
    assert(count(root) === 9L) // 10 - 3 replaced + 2 inserted
    assert(count(root, "WHERE grp = 'r'") === 2L)
    assert(count(root, "WHERE id = 2") === 0L) // in-slice, not re-sent
    assert(count(root, "WHERE id = 5 AND x = 5") === 1L) // untouched
    assert(VersionedTable.snapshot(spark, root,
      VersionedTable.latestVersion(spark, root).get).op ===
      "replace-where")
    // a batch outside the slice refuses before anything commits
    val outside = intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$root` REPLACE WHERE id < 3 " +
        "VALUES (100, 'bad', 1)")
    }
    assert((outside.getMessage + Option(outside.getCause)
      .map(_.getMessage).getOrElse("")).contains("outside"))
    assert(count(root, "WHERE id = 100") === 0L)
  }
}
