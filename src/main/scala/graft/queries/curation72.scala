package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import graft.{QueryDef, Scratch, Tables}
import graft.sources.VersionedTable

/** Batch 72: SURVEY-name closure.  Two rows in SURVEY.md §2 passed
  * under registry names that differ from the survey column
  * (`similarity_theta_join` ran as `cosine_topk`, `lag_prev_checkpoint`
  * as `lag_prev_gap`) — a mechanical audit mapping §2 line-by-line
  * should find every name literally, so the survey names register as
  * first-class aliases sharing the proven plan AND oracle.  The third
  * row closes the one §2 operator that had only a spec: S10
  * `sink_overwrite_dir` (reference RAG-eval-test_model.py:233-235 —
  * delete + rebuild a persist dir) as an overwrite-then-read
  * round-trip whose reread hash-matches the oracle, proving replace
  * (not append) semantics the same way `connector_write_roundtrip`
  * pins the connector's overwrite. */
object Curation72Queries {

  /** MoR table mutated through the SQL KEY-IN shapes: a plain key-IN
    * UPDATE, a residual key-IN UPDATE, and a residual key-IN DELETE —
    * all three must take the deletion-vector twins (round-14 routing:
    * updateMoRKeys / deleteMoRKeys with residual), never the silent
    * copy-on-write fallback. */
  private def morKeyInTable(s: SparkSession, d: String): String =
    Scratch.buildOnce(s, d, "sqlmorkeyin") { root =>
      Tables.documents(s, d).write.format("graft-table")
        .option("keyCol", "doc_id").option("numFiles", "4").save(root)
      s.sql(s"ALTER TABLE graft.`$root` " +
        "SET TBLPROPERTIES ('dml.mode'='mor')")
      Tables.documents(s, d).select(col("doc_id"))
        .createOrReplaceTempView("graft_mork_keys")
      s.sql(s"UPDATE graft.`$root` SET n_chars = " +
        "n_chars + 1000 WHERE doc_id IN " +
        "(SELECT doc_id FROM graft_mork_keys WHERE doc_id % 10 = 3)")
      s.sql(s"UPDATE graft.`$root` SET n_chars = " +
        "n_chars + 50000 WHERE doc_id IN " +
        "(SELECT doc_id FROM graft_mork_keys WHERE doc_id % 10 = 3) " +
        "AND lang = 'en'")
      s.sql(s"DELETE FROM graft.`$root` WHERE doc_id IN " +
        "(SELECT doc_id FROM graft_mork_keys WHERE doc_id % 10 = 7) " +
        "AND lang = 'de'")
      ()
    }

  private def alias(of: Seq[QueryDef], name: String, asName: String,
      doc: String): QueryDef = {
    val q = of.find(_.name == name).getOrElse(
      throw new IllegalStateException(s"no registry row named '$name'"))
    q.copy(name = asName, doc = doc)
  }

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------- J5 under its SURVEY name
    alias(VectorQueries.defs, "cosine_topk", "similarity_theta_join",
      "SURVEY §2.4 J5 under its survey name: every query scored " +
        "against every corpus vector (broadcast query side x streamed " +
        "corpus, per-query top-k window) — the same plan and oracle " +
        "as cosine_topk, registered so the §2 inventory maps by name."),

    // ------------------------------------------- W2 under its SURVEY name
    alias(WindowQueries.defs, "lag_prev_gap", "lag_prev_checkpoint",
      "SURVEY §2.6 W2 under its survey name: previous-row lookup over " +
        "the per-user event stream (create_all_models.py:54-57 " +
        "checkpoint chain) — the same plan and oracle as lag_prev_gap."),

    // ---------------------------------------------------------------- S10
    QueryDef(
      "sink_overwrite_dir",
      (s, d) => {
        val dir = Scratch.buildOnce(s, d, "sinkoverwrite") { r =>
          // stale build: a subset that the rebuild MUST erase — if
          // overwrite appended instead of replacing, these rows would
          // double-count in the reread and the hash would mismatch
          Tables.documents(s, d).filter(col("doc_id") < 5)
            .write.mode("overwrite").parquet(r)
          // idempotent rebuild of the same dir (the reference's
          // shutil.rmtree + persist): full corpus replaces the subset
          Tables.documents(s, d)
            .write.mode("overwrite").parquet(r)
        }
        s.read.parquet(dir)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_n_chars"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*)::BIGINT AS n_docs,
        |       sum(n_chars)::BIGINT AS sum_n_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
      "S10 delete-and-rebuild persist dir " +
        "(RAG-eval-test_model.py:233-235) as an oracle row: " +
        "write.mode(overwrite) twice into one dir, reread, aggregate — " +
        "matches the corpus iff the second write REPLACED the first " +
        "(stale doc_id<5 rows gone).  At scale this is the idempotent " +
        "re-run story: a failed job's partial output never survives " +
        "the rerun's overwrite."),

    // ------------------------- MoR routing for SQL key-IN DML shapes
    QueryDef(
      "sql_mor_keyin_read",
      (s, d) => {
        val root = morKeyInTable(s, d)
        // in-band pins: all three key-IN commits took -mor ops and
        // every ORIGINAL data file survives by path (masked + post-
        // imaged, never rewritten) — proof the subquery shapes do not
        // silently fall back to copy-on-write on a mor table
        val v1 = VersionedTable.snapshot(s, root, 1)
        val head = VersionedTable.snapshot(s, root,
          VersionedTable.latestVersion(s, root).get)
        val ops = (3 to head.version)
          .map(v => VersionedTable.snapshot(s, root, v).op)
          .sorted.mkString(",")
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
        |       sum(n_chars
        |           + CASE WHEN doc_id % 10 = 3 THEN 1000 ELSE 0 END
        |           + CASE WHEN doc_id % 10 = 3 AND lang = 'en'
        |                  THEN 50000 ELSE 0 END)::BIGINT
        |         AS sum_n_chars,
        |       'delete-mor,update-mor,update-mor' AS mor_ops,
        |       TRUE AS originals_carried
        |FROM documents
        |WHERE NOT (doc_id % 10 = 7 AND lang = 'de')
        |GROUP BY lang ORDER BY lang""".stripMargin),
      "SQL KEY-IN DML on a merge-on-read table: `UPDATE/DELETE ... " +
        "WHERE key IN (SELECT ...) [AND residual]` routes through the " +
        "DV twins (updateMoRKeys / deleteMoRKeys with the residual " +
        "gating matched rows) — the key set stays a distributed frame " +
        "(driver O(files), never O(keys)), the mask + post-image cost " +
        "is O(changed rows), and the in-band pins prove all three " +
        "commits were -mor with every original file carried by path.  " +
        "The decontamination shape (delete eval-set overlaps by id " +
        "list) at 100 TB: KBs of sidecar, not a touched-file rewrite."))
}
