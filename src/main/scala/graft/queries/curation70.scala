package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.{QueryDef, Scratch, Tables}
import graft.sources.VersionedTable

/** Batch 70: the SQL WRITE/DML surface of the versioned table — the
  * half round 11's read-only catalog left out.  Every mutation here
  * is issued as SQL TEXT (`INSERT INTO` / `UPDATE` / `MERGE INTO` /
  * `DELETE FROM` over `graft.`/root``) through plain `spark.sql`,
  * converted during analysis by [[graft.sources.v2.GraftDmlRule]] into
  * the SAME library DML commands the programmatic API runs — manifest
  * commits, CHECK constraints, stats/bloom recording and optimistic
  * concurrency included.  A SQL-only user can now operate the table end to end:
  * reference-pipeline workflows (re-crawl appends, redaction updates,
  * contamination deletes, dedup merges) all express as the four
  * statements a lakehouse operator already knows.
  *
  * The shared five-version table (built ONCE per session+dataset,
  * every commit after the seed pure SQL):
  *
  *   v1 seed    = documents through the connector (keyCol doc_id)
  *   v2 INSERT  = `INSERT INTO ... SELECT doc_id + 10000000, ...
  *                WHERE doc_id % 11 = 0` (a re-crawl shard)
  *   v3 UPDATE  = `UPDATE ... SET text = 'S ' || text,
  *                n_chars = n_chars + 50 WHERE lang = 'en' AND
  *                doc_id % 4 = 1` (assignments see pre-update rows)
  *   v4 MERGE   = conditional clause census: matched 'de' source rows
  *                DELETE (first match wins), other matched rows
  *                UPDATE from source, unmatched source rows >= 2e7
  *                INSERT, NOT MATCHED BY SOURCE 'zh' even-key rows
  *                DELETE
  *   v5 DELETE  = `DELETE FROM ... WHERE lang = 'it' AND
  *                doc_id % 3 = 0`
  *
  * The DuckDB oracle mirrors all five states as CTE algebra over
  * `documents`, so the whole SQL DML stack — parser interception,
  * side attribution of merge references, positional INSERT alignment,
  * the library commit protocol — hash-checks end to end. */
object Curation70Queries {

  /** CTE mirror of the five SQL-built states. */
  private val sqlStateSql =
    """s2 AS (
      |  SELECT doc_id, text, lang, source, n_chars FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000, text, lang, source, n_chars
      |  FROM documents WHERE doc_id % 11 = 0),
      |s3 AS (
      |  SELECT doc_id,
      |    CASE WHEN lang = 'en' AND doc_id % 4 = 1
      |         THEN 'S ' || text ELSE text END AS text,
      |    lang, source,
      |    CASE WHEN lang = 'en' AND doc_id % 4 = 1
      |         THEN n_chars + 50 ELSE n_chars END AS n_chars
      |  FROM s2),
      |msrc AS (
      |  SELECT doc_id, 'M ' || text AS text, lang, source,
      |         n_chars + 7 AS n_chars
      |  FROM documents WHERE doc_id % 6 = 0
      |  UNION ALL
      |  SELECT doc_id + 20000000, text, lang, source, n_chars
      |  FROM documents WHERE doc_id % 9 = 2),
      |s4 AS (
      |  SELECT t.doc_id,
      |    CASE WHEN m.doc_id IS NOT NULL THEN m.text ELSE t.text END
      |      AS text,
      |    t.lang, t.source,
      |    CASE WHEN m.doc_id IS NOT NULL THEN m.n_chars
      |         ELSE t.n_chars END AS n_chars
      |  FROM s3 t LEFT JOIN msrc m ON t.doc_id = m.doc_id
      |  WHERE NOT (m.doc_id IS NOT NULL AND m.lang = 'de')
      |    AND NOT (m.doc_id IS NULL AND t.lang = 'zh'
      |             AND t.doc_id % 2 = 0)
      |  UNION ALL
      |  SELECT doc_id, text, lang, source, n_chars FROM msrc
      |  WHERE doc_id >= 20000000),
      |s5 AS (
      |  SELECT * FROM s4
      |  WHERE NOT (lang = 'it' AND doc_id % 3 = 0))""".stripMargin

  /** Build the five-version table once per (session, dataset); every
    * commit after the connector seed is SQL text. */
  private def table(s: SparkSession, d: String): String =
    Scratch.buildOnce(s, d, "sqldmltab") { root =>
      val docs = Tables.documents(s, d)
      docs.write.format("graft-table").option("keyCol", "doc_id")
        .option("numFiles", "4").save(root)
      docs.createOrReplaceTempView("graft_sqldml_docs")
      s.sql(
        s"""INSERT INTO graft.`$root`
           |SELECT doc_id + 10000000, text, lang, source, n_chars
           |FROM graft_sqldml_docs WHERE doc_id % 11 = 0""".stripMargin)
      s.sql(
        s"""UPDATE graft.`$root`
           |SET text = 'S ' || text, n_chars = n_chars + 50
           |WHERE lang = 'en' AND doc_id % 4 = 1""".stripMargin)
      s.sql(
        s"""MERGE INTO graft.`$root` AS t USING (
           |  SELECT doc_id, 'M ' || text AS text, lang, source,
           |         n_chars + 7 AS n_chars
           |  FROM graft_sqldml_docs WHERE doc_id % 6 = 0
           |  UNION ALL
           |  SELECT doc_id + 20000000 AS doc_id, text, lang, source,
           |         n_chars
           |  FROM graft_sqldml_docs WHERE doc_id % 9 = 2) AS s
           |ON t.doc_id = s.doc_id
           |WHEN MATCHED AND s.lang = 'de' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET text = s.text,
           |  n_chars = s.n_chars
           |WHEN NOT MATCHED AND s.doc_id >= 20000000 THEN
           |  INSERT (doc_id, text, lang, source, n_chars)
           |  VALUES (s.doc_id, s.text, s.lang, s.source, s.n_chars)
           |WHEN NOT MATCHED BY SOURCE AND t.lang = 'zh'
           |  AND t.doc_id % 2 = 0 THEN DELETE""".stripMargin)
      s.sql(s"DELETE FROM graft.`$root` " +
        "WHERE lang = 'it' AND doc_id % 3 = 0")
      ()
    }

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "sql_dml_lifecycle",
      (s, d) => {
        val root = table(s, d)
        s.sql(
          s"""SELECT lang, count(*) AS n_docs,
             |       sum(n_chars) AS sum_n_chars
             |FROM graft.`$root` GROUP BY lang
             |ORDER BY lang""".stripMargin)
      },
      Some(s"""WITH $sqlStateSql
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |       sum(n_chars)::BIGINT AS sum_n_chars
        |FROM s5 GROUP BY lang ORDER BY lang""".stripMargin),
      "The whole DML lifecycle driven by SQL TEXT — INSERT INTO " +
        "(positional, from a SELECT), UPDATE with pre-image " +
        "assignment semantics, a four-clause conditional MERGE INTO " +
        "(first-match-wins, side-attributed references, NMBS " +
        "deletes), and DELETE FROM — each statement one manifest " +
        "commit through the same library DML the programmatic API " +
        "runs.  The readout is itself SQL over the catalog, and the " +
        "oracle reconstructs all five states as CTE algebra, so the " +
        "parser-to-commit pipeline hash-checks end to end.  The " +
        "round-11 catalog could only read; a SQL-only operator can " +
        "now run every workflow the reference pipeline needs."),

    QueryDef(
      "sql_dml_history_read",
      (s, d) => {
        val root = table(s, d)
        (1 to 5).map(v => s.sql(s"SELECT CAST($v AS BIGINT) AS version, " +
          s"count(*) AS n_rows FROM graft.`$root` VERSION AS OF $v"))
          .reduce(_ unionByName _)
          .orderBy(col("version"))
      },
      Some(s"""WITH $sqlStateSql
        |SELECT 1::BIGINT AS version,
        |       (SELECT count(*) FROM documents)::BIGINT AS n_rows
        |UNION ALL SELECT 2, (SELECT count(*) FROM s2)::BIGINT
        |UNION ALL SELECT 3, (SELECT count(*) FROM s3)::BIGINT
        |UNION ALL SELECT 4, (SELECT count(*) FROM s4)::BIGINT
        |UNION ALL SELECT 5, (SELECT count(*) FROM s5)::BIGINT
        |ORDER BY version""".stripMargin),
      "Time travel ACROSS the SQL-driven DML history: one `VERSION " +
        "AS OF` count per lifecycle commit, all through SQL.  Every " +
        "intermediate state a SQL statement produced stays " +
        "addressable — the INSERT's append, the UPDATE's " +
        "copy-on-write rewrite (row-count preserving), the MERGE's " +
        "clause census and the DELETE — pinning that SQL writes get " +
        "the same snapshot-isolation + history semantics as library " +
        "writes, because they ARE library writes."),

    QueryDef(
      "sql_describe_history",
      (s, d) => {
        val root = table(s, d)
        s.sql(s"DESCRIBE HISTORY graft.`$root`")
          .select(col("version").cast("long").as("version"),
            col("op"), col("num_live_rows"))
          .orderBy(col("version"))
      },
      Some(s"""WITH $sqlStateSql
        |SELECT 1::BIGINT AS version, 'append' AS op,
        |       (SELECT count(*) FROM documents)::BIGINT AS num_live_rows
        |UNION ALL SELECT 2, 'append', (SELECT count(*) FROM s2)::BIGINT
        |UNION ALL SELECT 3, 'update', (SELECT count(*) FROM s3)::BIGINT
        |UNION ALL SELECT 4, 'merge', (SELECT count(*) FROM s4)::BIGINT
        |UNION ALL SELECT 5, 'delete', (SELECT count(*) FROM s5)::BIGINT
        |ORDER BY version""".stripMargin),
      "DESCRIBE HISTORY as SQL TEXT — the maintenance mini-grammar " +
        "standard Spark cannot parse, served through the delegating " +
        "parser extension (Delta's DeltaSqlParser construction) that " +
        "every graft session loads.  The audit " +
        "readout (per-version op + live row count, manifests only, " +
        "no data scanned) hash-matches the oracle's reconstruction " +
        "of the same five SQL-driven lifecycle states — closing the " +
        "loop: a SQL-only operator can write, mutate, time-travel, " +
        "evolve, OPTIMIZE, VACUUM and audit the table."),

    // ------------------------------- column mapping: RENAME / DROP
    QueryDef(
      "column_mapping_rename_read",
      (s, d) => {
        // v1 load -> v2 RENAME n_chars -> char_count (metadata-only,
        // zero files rewritten) -> v3 append under the NEW name (file
        // stores the immutable physical name).  Read BOTH the
        // pre-rename version (old logical name) and the head (new
        // name over mixed old/new files) in one result.
        val root = Scratch.buildOnce(s, d, "colmaptab") { r =>
          VersionedTable.append(s, r, Tables.documents(s, d),
            "doc_id", 4, op = "load")
          VersionedTable.renameColumn(s, r, "n_chars", "char_count")
          VersionedTable.append(s, r,
            Tables.documents(s, d)
              .filter(pmod(col("doc_id"), lit(13)) === 0)
              .withColumn("doc_id", col("doc_id") + 30000000L)
              .withColumnRenamed("n_chars", "char_count"),
            "doc_id", 1)
          ()
        }
        val pre = VersionedTable.read(s, root, Some(1))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"))
          .select(lit("v1_pre_rename").as("stage"), col("lang"),
            col("n_docs"), col("total_chars"))
        val head = VersionedTable.read(s, root)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("char_count")).as("total_chars"))
          .select(lit("head_post_rename").as("stage"), col("lang"),
            col("n_docs"), col("total_chars"))
        pre.unionByName(head).orderBy(col("stage"), col("lang"))
      },
      Some("""WITH post AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 30000000, lang, n_chars FROM documents
        |  WHERE doc_id % 13 = 0)
        |SELECT 'v1_pre_rename' AS stage, lang,
        |       count(*)::BIGINT AS n_docs,
        |       sum(n_chars)::BIGINT AS total_chars
        |FROM documents GROUP BY lang
        |UNION ALL
        |SELECT 'head_post_rename', lang, count(*)::BIGINT,
        |       sum(n_chars)::BIGINT
        |FROM post GROUP BY lang
        |ORDER BY stage, lang""".stripMargin),
      "ALTER TABLE RENAME COLUMN via column mapping (Delta's " +
        "name-mapping invariant): the physical storage name never " +
        "changes, so the rename is a metadata commit — zero of the " +
        "4-file load rewrites — and files appended AFTER the rename " +
        "store under the same immutable physical name, making " +
        "mixed-era reads uniform.  Time travel is free: the " +
        "pre-rename version reads with ITS snapshot's mapping (the " +
        "old logical name), the head with the new one, and both " +
        "aggregate to the oracle's reconstruction."),

    QueryDef(
      "column_mapping_drop_readd_read",
      (s, d) => {
        // v1 load -> v2 DROP source -> v3 re-ADD source (fresh
        // physical: old values must NOT resurrect) -> v4 append rows
        // that fill it.  The readout separates NULL (pre-re-add rows,
        // old values invisible) from filled rows, plus the v1
        // time-travel count proving history still serves the column.
        val root = Scratch.buildOnce(s, d, "coldroptab") { r =>
          VersionedTable.append(s, r, Tables.documents(s, d),
            "doc_id", 4, op = "load")
          VersionedTable.dropColumn(s, r, "source")
          VersionedTable.addColumn(s, r, "source",
            org.apache.spark.sql.types.StringType)
          VersionedTable.append(s, r,
            Tables.documents(s, d)
              .filter(pmod(col("doc_id"), lit(17)) === 0)
              .withColumn("doc_id", col("doc_id") + 40000000L)
              .withColumn("source", lit("readd")),
            "doc_id", 1)
          ()
        }
        // ONE aggregation over a side-tagged union (no join — a 1x1
        // cross join would still plan a nested loop, and the registry
        // bans unbounded join shapes outright)
        val head = VersionedTable.read(s, root)
          .select(lit("head").as("side"), col("source"))
        val v1 = VersionedTable.read(s, root, Some(1))
          .select(lit("v1").as("side"), col("source"))
        head.unionByName(v1).agg(
          sum(when(col("side") === "head", 1L).otherwise(0L))
            .as("n_rows"),
          sum(when(col("side") === "head" && col("source").isNull, 1L)
            .otherwise(0L)).as("n_null_source"),
          sum(when(col("side") === "head" && col("source") === "readd",
            1L).otherwise(0L)).as("n_readd"),
          sum(when(col("side") === "v1" && col("source").isNotNull, 1L)
            .otherwise(0L)).as("n_v1_with_source"))
      },
      Some("""SELECT
        |  ((SELECT count(*) FROM documents) +
        |   (SELECT count(*) FROM documents WHERE doc_id % 17 = 0)
        |  )::BIGINT AS n_rows,
        |  (SELECT count(*) FROM documents)::BIGINT AS n_null_source,
        |  (SELECT count(*) FROM documents
        |   WHERE doc_id % 17 = 0)::BIGINT AS n_readd,
        |  (SELECT count(*) FROM documents
        |   WHERE source IS NOT NULL)::BIGINT AS n_v1_with_source"""
        .stripMargin),
      "DROP COLUMN + re-ADD of the same name: the drop is metadata " +
        "(files untouched, column gone from every reader), and the " +
        "re-added column binds a FRESH physical name through the " +
        "mapping, so the retired physical data still sitting in old " +
        "files can never resurrect — every pre-re-add row reads NULL " +
        "while new appends fill it.  Time travel to v1 still serves " +
        "the original column values, because each snapshot reads " +
        "under its own schema + mapping."),
  )
}
