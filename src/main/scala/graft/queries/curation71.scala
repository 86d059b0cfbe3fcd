package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.{QueryDef, Scratch, Tables}
import graft.sources.VersionedTable

/** Batch 71: the round-13 SQL-surface closers — CREATE TABLE / CTAS
  * (a table born, filled and read ENTIRELY by SQL text; round 12's
  * one missing verb), and constraint DDL as SQL (`ALTER TABLE ... ADD
  * /DROP CONSTRAINT` mapping onto the library constraint commits).
  *
  * Scale notes: CREATE TABLE is a pure-metadata v1 commit (zero data
  * files, O(1) driver work); CTAS writes ride the same library append
  * as every other write (distributed stats pass, manifest commit);
  * constraint DDL validates existing rows in ONE distributed
  * aggregation, never collecting data rows. */
object Curation71Queries {

  /** SQL-only lifecycle table: CREATE TABLE (schema + key + CHECK
    * constraint declared in SQL), INSERT INTO ... SELECT, and one
    * ALTER TABLE ADD CONSTRAINT — no connector seed anywhere. */
  private def createdTable(s: SparkSession, d: String): String =
    Scratch.buildOnce(s, d, "sqlcreate") { root =>
      Tables.documents(s, d)
        .createOrReplaceTempView("graft_create_docs")
      s.sql(
        s"""CREATE TABLE graft.`$root` (
           |  doc_id BIGINT, text STRING, lang STRING, source STRING,
           |  n_chars BIGINT,
           |  CONSTRAINT n_chars_nonneg CHECK (n_chars >= 0))
           |TBLPROPERTIES ('table.key'='doc_id')""".stripMargin)
      s.sql(
        s"""INSERT INTO graft.`$root`
           |SELECT doc_id, text, lang, source, n_chars
           |FROM graft_create_docs WHERE doc_id % 2 = 0""".stripMargin)
      s.sql(
        s"""INSERT INTO graft.`$root`
           |SELECT doc_id, text, lang, source, n_chars
           |FROM graft_create_docs WHERE doc_id % 2 = 1""".stripMargin)
      s.sql(s"ALTER TABLE graft.`$root` ADD CONSTRAINT " +
        "lang_known CHECK (lang IS NOT NULL)")
      ()
    }

  /** CTAS table: created AND filled by one statement. */
  private def ctasTable(s: SparkSession, d: String): String =
    Scratch.buildOnce(s, d, "sqlctas") { root =>
      Tables.documents(s, d)
        .createOrReplaceTempView("graft_ctas_docs")
      s.sql(
        s"""CREATE TABLE graft.`$root`
           |TBLPROPERTIES ('table.key'='doc_id')
           |AS SELECT doc_id, lang, n_chars FROM graft_ctas_docs
           |WHERE n_chars >= 200""".stripMargin)
      ()
    }

  /** Compound-ON merge table: seed = documents, one MERGE whose ON
    * carries a residual predicate beside the key equality. */
  private def compoundTable(s: SparkSession, d: String): String =
    Scratch.buildOnce(s, d, "sqlcompound") { root =>
      Tables.documents(s, d).write.format("graft-table")
        .option("keyCol", "doc_id").option("numFiles", "4").save(root)
      Tables.documents(s, d)
        .createOrReplaceTempView("graft_cmp_docs")
      s.sql(
        s"""MERGE INTO graft.`$root` AS t USING (
           |  SELECT doc_id, n_chars + 1000 AS n_chars
           |  FROM graft_cmp_docs WHERE doc_id % 5 = 0) AS s
           |ON t.doc_id = s.doc_id AND t.lang = 'en'
           |WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars
           |WHEN NOT MATCHED THEN INSERT (doc_id, text, lang, source,
           |  n_chars) VALUES (s.doc_id + 30000000, 'x', 'xx', 'merge',
           |  s.n_chars)""".stripMargin)
      ()
    }

  /** IN-subquery delete table (the decontamination shape). */
  private def decontamTable(s: SparkSession, d: String): String =
    Scratch.buildOnce(s, d, "sqldecontam") { root =>
      Tables.documents(s, d).write.format("graft-table")
        .option("keyCol", "doc_id").option("numFiles", "4").save(root)
      Tables.documents(s, d)
        .createOrReplaceTempView("graft_decon_docs")
      s.sql(
        s"""DELETE FROM graft.`$root`
           |WHERE doc_id IN (SELECT doc_id FROM graft_decon_docs
           |                 WHERE n_chars < 120)
           |  AND lang <> 'en'""".stripMargin)
      ()
    }

  /** Schema-evolution merge table: a `quality` column born by MERGE. */
  private def evolveTable(s: SparkSession, d: String): String =
    Scratch.buildOnce(s, d, "sqlevolve") { root =>
      Tables.documents(s, d).write.format("graft-table")
        .option("keyCol", "doc_id").option("numFiles", "4").save(root)
      Tables.documents(s, d)
        .createOrReplaceTempView("graft_evo_docs")
      s.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO graft.`$root` AS t
           |USING (SELECT doc_id, n_chars % 100 AS quality
           |       FROM graft_evo_docs WHERE doc_id % 7 = 0) AS s
           |ON t.doc_id = s.doc_id
           |WHEN MATCHED THEN UPDATE SET quality = s.quality
           |""".stripMargin)
      ()
    }

  /** Nested-field update table: documents reshaped with a struct
    * column, one `SET props.nc = ...` statement. */
  private def nestedTable(s: SparkSession, d: String): String =
    Scratch.buildOnce(s, d, "sqlnested") { root =>
      Tables.documents(s, d)
        .selectExpr("doc_id", "lang",
          "named_struct('src', source, 'nc', n_chars) AS props")
        .write.format("graft-table")
        .option("keyCol", "doc_id").option("numFiles", "4").save(root)
      s.sql(
        s"""UPDATE graft.`$root`
           |SET props.nc = props.nc + 1000,
           |    props.src = upper(props.src)
           |WHERE lang = 'en'""".stripMargin)
      ()
    }


  /** MoR SQL DML table: dml.mode=mor via SQL property, then one SQL
    * UPDATE and one SQL DELETE — both deletion-vector commits. */
  private def morDmlTable(s: SparkSession, d: String): String =
    Scratch.buildOnce(s, d, "sqlmordml") { root =>
      Tables.documents(s, d).write.format("graft-table")
        .option("keyCol", "doc_id").option("numFiles", "4").save(root)
      s.sql(s"ALTER TABLE graft.`$root` " +
        "SET TBLPROPERTIES ('dml.mode'='mor')")
      s.sql(s"UPDATE graft.`$root` " +
        "SET n_chars = n_chars + 500 WHERE lang = 'en'")
      s.sql(s"DELETE FROM graft.`$root` WHERE lang = 'it'")
      ()
    }


  /** SQL REPLACE WHERE table: the 'de' slice swapped for its even-id
    * half (re-scored) in ONE statement. */
  private def replaceWhereTable(s: SparkSession, d: String): String =
    Scratch.buildOnce(s, d, "sqlreplwhere") { root =>
      Tables.documents(s, d).write.format("graft-table")
        .option("keyCol", "doc_id").option("numFiles", "4").save(root)
      Tables.documents(s, d)
        .createOrReplaceTempView("graft_rw_docs")
      s.sql(
        s"""INSERT INTO graft.`$root` REPLACE WHERE lang = 'de'
           |SELECT doc_id, text, lang, source, n_chars + 7
           |FROM graft_rw_docs
           |WHERE lang = 'de' AND doc_id % 2 = 0""".stripMargin)
      ()
    }


  /** TRUNCATE lifecycle table: fill, TRUNCATE (empty-manifest commit),
    * refill with the re-keyed survivors — all SQL. */
  private def truncateTable(s: SparkSession, d: String): String =
    Scratch.buildOnce(s, d, "sqltrunc") { root =>
      Tables.documents(s, d)
        .createOrReplaceTempView("graft_trunc_docs")
      s.sql(
        s"""CREATE TABLE graft.`$root` (doc_id BIGINT, lang STRING,
           |n_chars BIGINT) TBLPROPERTIES ('table.key'='doc_id')""".stripMargin)
      s.sql(s"INSERT INTO graft.`$root` " +
        "SELECT doc_id, lang, n_chars FROM graft_trunc_docs")
      s.sql(s"TRUNCATE TABLE graft.`$root`")
      s.sql(s"INSERT INTO graft.`$root` " +
        "SELECT doc_id, lang, n_chars FROM graft_trunc_docs " +
        "WHERE lang = 'en'")
      ()
    }

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "sql_create_insert_read",
      (s, d) => {
        val root = createdTable(s, d)
        s.sql(
          s"""SELECT lang, count(*) AS n_docs,
             |       sum(n_chars) AS sum_n_chars
             |FROM graft.`$root` GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, count(*)::BIGINT AS n_docs,
        |       sum(n_chars)::BIGINT AS sum_n_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
      "A table BORN by SQL: `CREATE TABLE graft.`/t`` commits a v1 " +
        "metadata-only manifest (declared schema, table.key, an " +
        "inline CHECK constraint), two `INSERT INTO ... SELECT` " +
        "statements fill it (positional alignment, constraint " +
        "enforcement, stats/bloom recording through the library " +
        "append), and the readout is SQL over the catalog — no " +
        "connector seed anywhere, closing round 12's one missing " +
        "lifecycle verb.  The oracle is the same aggregate over the " +
        "source table: both halves of the modulo split must arrive " +
        "intact.  CREATE is O(1) driver work at any scale; the " +
        "inserts are ordinary distributed appends."),

    QueryDef(
      "sql_create_empty_schema",
      (s, d) => {
        val root = createdTable(s, d)
        // time-travel to v1: the CREATE commit itself — zero rows,
        // full declared schema (the recorded table.schema is the read
        // schema even with no file to template from)
        s.sql(
          s"""SELECT count(*) AS n_rows,
             |       count(DISTINCT lang) AS n_langs
             |FROM graft.`$root` VERSION AS OF 1""".stripMargin)
      },
      Some("SELECT 0::BIGINT AS n_rows, 0::BIGINT AS n_langs"),
      "Time travel to the CREATE commit itself: version 1 is the " +
        "EMPTY table — zero rows but the full declared schema (the " +
        "recorded table.schema serves reads when no data file " +
        "exists to template from).  Pins that a created-but-unfilled " +
        "table is a first-class snapshot, not an error."),

    QueryDef(
      "sql_ctas_read",
      (s, d) => {
        val root = ctasTable(s, d)
        s.sql(
          s"""SELECT lang, count(*) AS n_docs,
             |       sum(n_chars) AS sum_n_chars,
             |       min(doc_id) AS min_doc
             |FROM graft.`$root` GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, count(*)::BIGINT AS n_docs,
        |       sum(n_chars)::BIGINT AS sum_n_chars,
        |       min(doc_id)::BIGINT AS min_doc
        |FROM documents WHERE n_chars >= 200
        |GROUP BY lang ORDER BY lang""".stripMargin),
      "CTAS: `CREATE TABLE ... AS SELECT` creates the manifest AND " +
        "fills it in one statement — Spark's CreateTableAsSelect " +
        "exec calls the catalog's createTable then writes through " +
        "the V1-fallback write (Delta's WriteIntoDeltaBuilder " +
        "construction), which delegates to the SAME library append " +
        "every path uses: stats, blooms, constraints, manifest " +
        "commit.  The filtered projection proves the query half " +
        "executes distributed before the write."),

    QueryDef(
      "sql_constraint_ddl_props",
      (s, d) => {
        val root = createdTable(s, d)
        // SHOW TBLPROPERTIES serves the head manifest's properties;
        // constraint entries carry the DDL-declared predicates
        s.sql(s"SHOW TBLPROPERTIES graft.`$root`")
          .filter(col("key").startsWith("constraint."))
          .select(col("key"), col("value"))
          .orderBy(col("key"))
      },
      Some("""SELECT 'constraint.lang_known' AS key,
        |       'lang IS NOT NULL' AS value
        |UNION ALL
        |SELECT 'constraint.n_chars_nonneg', 'n_chars >= 0'
        |ORDER BY key""".stripMargin),
      "Constraint DDL round-trip as SQL: the CREATE-inline CHECK " +
        "(`CONSTRAINT n_chars_nonneg CHECK (n_chars >= 0)`) and the " +
        "post-hoc `ALTER TABLE ... ADD CONSTRAINT lang_known` both " +
        "land as `constraint.<name>` manifest properties — the same " +
        "encoding Delta uses — and SHOW TBLPROPERTIES reads them " +
        "back.  Every SQL INSERT into this table validated against " +
        "them (a violating row fails naming the constraint; " +
        "GraftCreateTableSpec pins that).  ADD CONSTRAINT validates " +
        "existing rows in one distributed aggregation first."),

    QueryDef(
      "sql_merge_compound_on",
      (s, d) => {
        val root = compoundTable(s, d)
        s.sql(
          s"""SELECT lang, count(*) AS n_docs,
             |       sum(n_chars) AS sum_n_chars
             |FROM graft.`$root` GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""WITH m AS (
        |  SELECT doc_id, n_chars + 1000 AS n_chars
        |  FROM documents WHERE doc_id % 5 = 0)
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |       sum(n_chars)::BIGINT AS sum_n_chars
        |FROM (
        |  SELECT t.lang,
        |    CASE WHEN t.lang = 'en' AND m.doc_id IS NOT NULL
        |         THEN m.n_chars ELSE t.n_chars END AS n_chars
        |  FROM documents t LEFT JOIN m ON t.doc_id = m.doc_id
        |  UNION ALL
        |  SELECT 'xx' AS lang, m.n_chars
        |  FROM m LEFT JOIN (SELECT doc_id FROM documents
        |                    WHERE lang = 'en') e
        |    ON m.doc_id = e.doc_id
        |  WHERE e.doc_id IS NULL)
        |GROUP BY lang ORDER BY lang""".stripMargin),
      "MERGE with a COMPOUND ON clause (`ON t.doc_id = s.doc_id AND " +
        "t.lang = 'en'`): the key equality drives the equi-join " +
        "shuffle, the residual rides the same join as a non-equi " +
        "predicate, and a pair failing it is unmatched BOTH ways — " +
        "non-'en' matched targets keep their rows while their source " +
        "rows INSERT re-keyed, the standard compound-ON semantics.  " +
        "The oracle mirrors both halves with a LEFT JOIN + anti-join " +
        "CTE.  No cartesian shape: the residual never degrades the " +
        "join strategy."),

    QueryDef(
      "sql_delete_in_subquery",
      (s, d) => {
        val root = decontamTable(s, d)
        s.sql(
          s"""SELECT lang, count(*) AS n_docs,
             |       sum(n_chars) AS sum_n_chars
             |FROM graft.`$root` GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, count(*)::BIGINT AS n_docs,
        |       sum(n_chars)::BIGINT AS sum_n_chars
        |FROM documents
        |WHERE NOT (doc_id IN (SELECT doc_id FROM documents
        |                      WHERE n_chars < 120)
        |           AND lang <> 'en')
        |GROUP BY lang ORDER BY lang""".stripMargin),
      "`DELETE FROM ... WHERE doc_id IN (SELECT ...) AND lang <> " +
        "'en'` — the decontamination shape (drop every document " +
        "whose id appears in a contamination query's result).  The " +
        "subquery stays a DISTRIBUTED frame end to end: with the " +
        "residual it rewrites to a key-join MERGE DELETE, without " +
        "one it routes to the library's join-based deleteKeys — " +
        "driver state O(files), never O(keys), where an isin " +
        "literal list would blow the driver at 100 TB key counts."),

    QueryDef(
      "sql_merge_schema_evolution",
      (s, d) => {
        val root = evolveTable(s, d)
        s.sql(
          s"""SELECT lang, count(*) AS n_docs,
             |       count(quality) AS n_quality,
             |       sum(quality) AS sum_quality
             |FROM graft.`$root` GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT t.lang, count(*)::BIGINT AS n_docs,
        |       count(s.quality)::BIGINT AS n_quality,
        |       sum(s.quality)::BIGINT AS sum_quality
        |FROM documents t LEFT JOIN (
        |  SELECT doc_id, n_chars % 100 AS quality
        |  FROM documents WHERE doc_id % 7 = 0) s
        |ON t.doc_id = s.doc_id
        |GROUP BY t.lang ORDER BY t.lang""".stripMargin),
      "`MERGE ... WITH SCHEMA EVOLUTION`: the source-only `quality` " +
        "column widens the target via an addColumn METADATA commit " +
        "(zero files rewritten) before the merge runs; matched rows " +
        "take the source value, every untouched row reads NULL — " +
        "count(quality) vs count(*) per language pins exactly which " +
        "rows the evolution filled.  Delta's autoMerge order, " +
        "composed from two commits the engine already had."),

    QueryDef(
      "sql_update_nested_field",
      (s, d) => {
        val root = nestedTable(s, d)
        s.sql(
          s"""SELECT lang, count(*) AS n_docs,
             |       sum(props.nc) AS sum_nc,
             |       count(DISTINCT props.src) AS n_src
             |FROM graft.`$root` GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, count(*)::BIGINT AS n_docs,
        |       sum(CASE WHEN lang = 'en' THEN n_chars + 1000
        |                ELSE n_chars END)::BIGINT AS sum_nc,
        |       count(DISTINCT CASE WHEN lang = 'en'
        |             THEN upper(source) ELSE source END)::BIGINT
        |         AS n_src
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
      "Nested-field UPDATE: `SET props.nc = props.nc + 1000, " +
        "props.src = upper(props.src)` rebuilds the struct via " +
        "withField over the PRE-update row (both assignments see the " +
        "original struct) — the lakehouse-standard struct-update " +
        "shape, one whole-stage-codegen projection per rewritten " +
        "file, no explode/re-assemble.  The oracle mirrors the field " +
        "arithmetic columnar-side."),

    QueryDef(
      "sql_mor_dml_read",
      (s, d) => {
        val root = morDmlTable(s, d)
        // in-band pins: both DML commits used the MoR encoding and
        // every ORIGINAL data file survives by path (masked, never
        // rewritten) — the O(changed rows) economics, via SQL text
        val v1 = VersionedTable.snapshot(s, root, 1)
        val head = VersionedTable.snapshot(s, root,
          VersionedTable.latestVersion(s, root).get)
        val ops = (2 to head.version)
          .map(v => VersionedTable.snapshot(s, root, v).op)
          .filter(_.endsWith("-mor")).sorted.mkString(",")
        val headPaths = head.files.map(_.path).toSet
        val carried = v1.files.map(_.path).forall(headPaths.contains)
        s.sql(
          s"""SELECT lang, count(*) AS n_docs,
             |       sum(n_chars) AS sum_n_chars
             |FROM graft.`$root` GROUP BY lang ORDER BY lang""".stripMargin)
          .withColumn("mor_ops", lit(ops))
          .withColumn("originals_carried", lit(carried))
      },
      Some("""SELECT lang, count(*)::BIGINT AS n_docs,
        |       sum(CASE WHEN lang = 'en' THEN n_chars + 500
        |                ELSE n_chars END)::BIGINT AS sum_n_chars,
        |       'delete-mor,update-mor' AS mor_ops,
        |       TRUE AS originals_carried
        |FROM documents WHERE lang <> 'it'
        |GROUP BY lang ORDER BY lang""".stripMargin),
      "SQL DML in MERGE-ON-READ encoding: `TBLPROPERTIES " +
        "('dml.mode'='mor')` routes UPDATE and DELETE through the " +
        "deletion-vector twins — masked rows + post-image appends, " +
        "O(changed rows) total I/O.  In-band pins prove BOTH commits " +
        "carried the -mor ops and every original data file survived " +
        "by path (nothing rewritten).  At 100 TB this is the " +
        "difference between a sparse SQL UPDATE costing KBs of " +
        "sidecar and costing a rewrite of every touched file; " +
        "purgeDeletes/OPTIMIZE bound the read-side mask cost."),

    QueryDef(
      "sql_replace_where_read",
      (s, d) => {
        val root = replaceWhereTable(s, d)
        s.sql(
          s"""SELECT lang, count(*) AS n_docs,
             |       sum(n_chars) AS sum_n_chars
             |FROM graft.`$root` GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, count(*)::BIGINT AS n_docs,
        |       sum(n_chars)::BIGINT AS sum_n_chars
        |FROM (
        |  SELECT lang, n_chars FROM documents WHERE lang <> 'de'
        |  UNION ALL
        |  SELECT lang, n_chars + 7 FROM documents
        |  WHERE lang = 'de' AND doc_id % 2 = 0)
        |GROUP BY lang ORDER BY lang""".stripMargin),
      "`INSERT INTO ... REPLACE WHERE lang = 'de'` — Delta's " +
        "predicate-scoped overwrite as SQL TEXT (the native " +
        "OverwriteByExpression parse converted to the library " +
        "replaceWhere): ONE commit deletes the 'de' slice and inserts " +
        "its re-scored even-id half, the batch is VALIDATED to lie " +
        "inside the slice before anything is written (a retried " +
        "reload can never leak outside the slice it owns), and files " +
        "with no 'de' row carry by reference — the idempotent " +
        "partition-reload shape at 100 TB."),

    QueryDef(
      "sql_truncate_lifecycle",
      (s, d) => {
        val root = truncateTable(s, d)
        // in-band pins: the truncate commit carries ZERO files (no
        // scan, no rewrite) and the pre-truncate state time-travels
        val truncV = (1 to VersionedTable.latestVersion(s, root).get)
          .find(v => VersionedTable.snapshot(s, root, v).op ==
            "truncate").get
        val emptyAtTrunc =
          VersionedTable.snapshot(s, root, truncV).files.isEmpty
        s.sql(
          s"""SELECT lang, count(*) AS n_docs FROM graft.`$root`
             |GROUP BY lang ORDER BY lang""".stripMargin)
          .withColumn("truncate_commit_empty", lit(emptyAtTrunc))
          .withColumn("pre_truncate_rows",
            lit(s.sql(s"SELECT count(*) AS n FROM " +
              s"graft.`$root` VERSION AS OF ${truncV - 1}")
              .head().getLong(0)))
      },
      Some("""SELECT lang, count(*)::BIGINT AS n_docs,
        |       TRUE AS truncate_commit_empty,
        |       (SELECT count(*) FROM documents)::BIGINT
        |         AS pre_truncate_rows
        |FROM documents WHERE lang = 'en'
        |GROUP BY lang ORDER BY lang""".stripMargin),
      "TRUNCATE TABLE as part of a SQL lifecycle: the commit is one " +
        "EMPTY-file-list manifest — no scan, no rewrite (a predicate " +
        "delete would read every row to keep none) — pinned in-band; " +
        "the pre-truncate state stays time-travelable (row count " +
        "re-read via VERSION AS OF), and the refill is an ordinary " +
        "append.  O(1) driver work at any table size."))
}

