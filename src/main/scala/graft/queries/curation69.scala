package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import graft.{QueryDef, Scratch, Tables}
import graft.sources.VersionedTable
import graft.sources.VersionedTable.{MatchedDelete, MatchedUpdate, NotMatchedBySourceDelete, NotMatchedInsert}

/** Batch 69: row-level DML on the versioned table — UPDATE (copy-on-
  * write and merge-on-read) and the full conditional MERGE INTO clause
  * surface (WHEN MATCHED [AND] UPDATE/DELETE, WHEN NOT MATCHED [AND]
  * INSERT, WHEN NOT MATCHED BY SOURCE [AND] DELETE), which [[
  * graft.sources.VersionedTable.merge]]'s pure upsert is the special
  * case of.  This is the last of the Delta DML quartet (the reference
  * pipeline's corpora get corrected, re-crawled and redacted in place;
  * at 100 TB each of those is an UPDATE or a conditional MERGE, never
  * a table rewrite).
  *
  * Every query reads a four-version table built ONCE per
  * (session, dataset) from `documents`:
  *
  *   v1 load        = all documents (range-partitioned by doc_id)
  *   v2 update      = COPY-ON-WRITE: bottom-decile 'en' docs get
  *                    text 'U '-prefixed and n_chars+100 — only the
  *                    files containing a matched row rewrite
  *   v3 update-mor  = MERGE-ON-READ: doc_id % 10 == 3 docs get
  *                    n_chars+1 via a deletion-vector mask plus a
  *                    post-image file — ZERO existing files rewritten
  *   v4 merge-into  = conditional MERGE: source = (doc_id % 7 == 0
  *                    'u '-prefixed, n_chars+2) ∪ (doc_id % 5 == 1
  *                    re-keyed +1e9, clear of any x100 probe replica's id range); matched & s.doc_id % 14 == 0 →
  *                    UPDATE from source; else matched & t.lang='de' →
  *                    DELETE; not-matched & s.lang≠'it' → INSERT;
  *                    not-matched-by-source & t.lang='fr' &
  *                    t.doc_id % 3 == 0 → DELETE
  *   v5 replace-where = the re-keyed (+1e9) slice rebuilt in one
  *                    commit from a re-derivation ('r '-prefixed,
  *                    n_chars+5); the slice is key-contiguous, so
  *                    bottom-range files carry by reference
  *
  * The oracle mirrors the four logical states as CTE algebra over
  * `documents`, so DuckDB hash-checks CoW update semantics (including
  * that assignments see PRE-update values), MoR update zero-rewrite
  * economics, first-match-wins clause ordering, and the change-feed
  * shape of both update encodings end to end.
  */
object Curation69Queries {

  private[queries] val dmlStateSql =
    """mx AS (SELECT max(doc_id) AS m FROM documents),
      |u2 AS (SELECT doc_id,
      |         CASE WHEN lang = 'en' AND doc_id * 10 <= (SELECT m FROM mx)
      |              THEN 'U ' || text ELSE text END AS text,
      |         lang, source,
      |         CASE WHEN lang = 'en' AND doc_id * 10 <= (SELECT m FROM mx)
      |              THEN n_chars + 100 ELSE n_chars END AS n_chars
      |       FROM documents),
      |u3 AS (SELECT doc_id, text, lang, source,
      |         CASE WHEN doc_id % 10 = 3 THEN n_chars + 1
      |              ELSE n_chars END AS n_chars
      |       FROM u2),
      |up AS (SELECT doc_id, 'u ' || text AS text, lang, source,
      |         n_chars + 2 AS n_chars
      |       FROM documents WHERE doc_id % 7 = 0),
      |ins AS (SELECT doc_id + 1000000000 AS doc_id, text, lang, source,
      |          n_chars
      |        FROM documents WHERE doc_id % 5 = 1),
      |m4t AS (SELECT t.doc_id,
      |          CASE WHEN u.doc_id IS NOT NULL AND u.doc_id % 14 = 0
      |               THEN u.text ELSE t.text END AS text,
      |          t.lang, t.source,
      |          CASE WHEN u.doc_id IS NOT NULL AND u.doc_id % 14 = 0
      |               THEN u.n_chars ELSE t.n_chars END AS n_chars
      |        FROM u3 t LEFT JOIN up u ON t.doc_id = u.doc_id
      |        WHERE NOT (u.doc_id IS NOT NULL
      |                   AND NOT coalesce(u.doc_id % 14 = 0, FALSE)
      |                   AND t.lang = 'de')
      |          AND NOT (u.doc_id IS NULL AND t.lang = 'fr'
      |                   AND t.doc_id % 3 = 0)),
      |m4 AS (SELECT doc_id, text, lang, source, n_chars FROM m4t
      |       UNION ALL
      |       SELECT doc_id, text, lang, source, n_chars FROM ins
      |       WHERE lang <> 'it'),
      |m5 AS (SELECT * FROM m4 WHERE doc_id < 1000000000
      |       UNION ALL
      |       SELECT doc_id + 1000000000 AS doc_id,
      |              'r ' || text AS text, lang, source,
      |              n_chars + 5 AS n_chars
      |       FROM documents WHERE doc_id % 5 = 1 AND lang <> 'it')"""
      .stripMargin

  private[queries] def buildDml(s: SparkSession, d: String,
      root: String): Unit = {
    val docs = Tables.documents(s, d)
    VersionedTable.append(s, root, docs, "doc_id", 4, op = "load")
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
    // v2: CoW UPDATE — the condition is key-range-narrow on purpose,
    // so the touched-file discovery actually prunes (the top-range
    // files carry over by reference, pinned in-band below)
    VersionedTable.update(s, root,
      col("lang") === "en" && col("doc_id") * 10 <= maxId,
      Map("text" -> concat(lit("U "), col("text")),
        "n_chars" -> (col("n_chars") + 100L)),
      "doc_id", 2)
    // v3: MoR UPDATE — sidecar + post-image file, zero rewrites
    VersionedTable.updateMoR(s, root,
      pmod(col("doc_id"), lit(10)) === 3,
      Map("n_chars" -> (col("n_chars") + 1L)),
      "doc_id", 1)
    // v4: conditional MERGE INTO
    val src = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      .withColumn("text", concat(lit("u "), col("text")))
      .withColumn("n_chars", col("n_chars") + 2L)
      .unionByName(docs.filter(pmod(col("doc_id"), lit(5)) === 1)
        .withColumn("doc_id", col("doc_id") + 1000000000L))
    VersionedTable.mergeInto(s, root, src, "doc_id", Seq(
      MatchedUpdate(Map("text" -> col("s.text"),
        "n_chars" -> col("s.n_chars")),
        cond = Some(pmod(col("s.doc_id"), lit(14)) === 0)),
      MatchedDelete(cond = Some(col("t.lang") === "de")),
      NotMatchedInsert(Map("doc_id" -> col("s.doc_id"),
        "text" -> col("s.text"), "lang" -> col("s.lang"),
        "source" -> col("s.source"), "n_chars" -> col("s.n_chars")),
        cond = Some(col("s.lang") =!= "it")),
      NotMatchedBySourceDelete(cond = Some(col("t.lang") === "fr" &&
        pmod(col("t.doc_id"), lit(3)) === 0))), 4)
    // v5: REPLACE WHERE — rebuild the re-keyed (+1e9) slice from a
    // re-derivation (one commit: slice out, batch in).  The slice is
    // key-contiguous, so it lives in the top range file only and the
    // bottom files carry by reference — the partition-reload shape.
    VersionedTable.replaceWhere(s, root,
      col("doc_id") >= 1000000000L,
      docs.filter(pmod(col("doc_id"), lit(5)) === 1 &&
          col("lang") =!= "it")
        .withColumn("doc_id", col("doc_id") + 1000000000L)
        .withColumn("text", concat(lit("r "), col("text")))
        .withColumn("n_chars", col("n_chars") + 5L),
      "doc_id", 2)
    ()
  }

  private def table(s: SparkSession, d: String): String =
    Scratch.buildOnce(s, d, "vtabdml")(root => buildDml(s, d, root))

  /** Incremental-clustering fixture: cluster by n_chars, append a
    * batch confined to the bottom quarter of the n_chars range (keyed
    * +2e9, clear of ×100 probe replicas), then restore disjointness
    * incrementally — only the overlapped component may rewrite. */
  private[queries] def buildInc(s: SparkSession, d: String,
      root: String): Unit = {
    val docs = Tables.documents(s, d)
    VersionedTable.append(s, root, docs, "doc_id", 4, op = "load")
    VersionedTable.optimizeClusterBy(s, root, "n_chars", "doc_id", 4)
    val mx = docs.agg(max(col("n_chars"))).head.getLong(0)
    val inc = docs
      .filter(pmod(col("doc_id"), lit(11)) === 5 &&
        col("n_chars") * 4 <= mx)
      .withColumn("doc_id", col("doc_id") + 2000000000L)
    VersionedTable.append(s, root, inc, "doc_id", 1)
    val rows = docs.count()
    VersionedTable.optimizeClusterIncremental(s, root, "n_chars",
      "doc_id", targetRowsPerFile = math.max(1L, rows / 4L))
    ()
  }

  private def incTable(s: SparkSession, d: String): String =
    Scratch.buildOnce(s, d, "vtabinc")(root => buildInc(s, d, root))

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------ copy-on-write UPDATE WHERE
    QueryDef(
      "update_where_read",
      (s, d) => {
        val root = table(s, d)
        val v1 = VersionedTable.snapshot(s, root, 1)
        val v2 = VersionedTable.snapshot(s, root, 2)
        val carried = v1.files.map(_.path).toSet
          .intersect(v2.files.map(_.path).toSet).size
        VersionedTable.read(s, root, Some(2))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_n_chars"))
          .select(col("lang"), col("n_docs"), col("sum_n_chars"),
            lit(carried > 0).as("files_carried"),
            lit(v2.op).as("op"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH $dmlStateSql
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |       sum(n_chars)::BIGINT AS sum_n_chars,
        |       TRUE AS files_carried, 'update' AS op
        |FROM u2 GROUP BY lang ORDER BY lang""".stripMargin),
      "Copy-on-write UPDATE ... SET text = 'U ' || text, n_chars = " +
        "n_chars + 100 WHERE lang = 'en' AND doc_id in the bottom key " +
        "decile: the per-lang readout hash-matches the logical CASE " +
        "expression (assignments see PRE-update values, SQL UPDATE " +
        "semantics), and the in-band pin proves the key-range-narrow " +
        "condition left the top-range files carried BY REFERENCE — " +
        "write amplification is O(touched files).  At 100 TB an " +
        "in-place correction touching 1% of the key space rewrites " +
        "1% of the files, never the table."),

    // ------------------------------- merge-on-read UPDATE, zero rewrites
    QueryDef(
      "mor_update_zero_rewrite_read",
      (s, d) => {
        val root = table(s, d)
        val v2 = VersionedTable.snapshot(s, root, 2)
        val v3 = VersionedTable.snapshot(s, root, 3)
        // merge-on-read invariant, pinned in-band: every v2 data file
        // is still present in v3 (zero rewritten), the post-images
        // arrived as NEW files, and the masks as DV refs
        val rewritten = v2.files.map(_.path).toSet
          .diff(v3.files.map(_.path).toSet).size.toLong
        val hasDv = v3.files.exists(_.dv.isDefined)
        val newFiles = v3.files.map(_.path).toSet
          .diff(v2.files.map(_.path).toSet).size
        VersionedTable.read(s, root, Some(3))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_n_chars"))
          .select(col("lang"), col("n_docs"), col("sum_n_chars"),
            lit(rewritten).as("n_files_rewritten"),
            lit(hasDv && newFiles > 0).as("mor_encoded"),
            lit(v3.op).as("op"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH $dmlStateSql
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |       sum(n_chars)::BIGINT AS sum_n_chars,
        |       0::BIGINT AS n_files_rewritten, TRUE AS mor_encoded,
        |       'update-mor' AS op
        |FROM u3 GROUP BY lang ORDER BY lang""".stripMargin),
      "Merge-on-read UPDATE (doc_id % 10 = 3 → n_chars + 1) read back " +
        "through its deletion-vector mask plus post-image file: the " +
        "per-lang readout hash-matches the logical CASE, and the " +
        "in-band pins prove ZERO existing data files were rewritten — " +
        "the commit cost is O(updated rows) (a KB-scale sidecar + one " +
        "post-image file), Delta's DV-based UPDATE economics.  " +
        "Updating 0.01% of a 100 TB table this way writes KBs, where " +
        "copy-on-write would rewrite every touched file."),

    // ---------------------------------------- conditional MERGE INTO
    QueryDef(
      "merge_into_conditional_read",
      (s, d) => {
        val root = table(s, d)
        val v4 = VersionedTable.snapshot(s, root, 4)
        VersionedTable.read(s, root, Some(4))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_n_chars"))
          .select(col("lang"), col("n_docs"), col("sum_n_chars"),
            lit(v4.op).as("op"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH $dmlStateSql
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |       sum(n_chars)::BIGINT AS sum_n_chars, 'merge' AS op
        |FROM m4 GROUP BY lang ORDER BY lang""".stripMargin),
      "Conditional MERGE INTO with all four clause classes live at " +
        "once — WHEN MATCHED AND s.doc_id % 14 = 0 THEN UPDATE from " +
        "source, WHEN MATCHED AND t.lang = 'de' THEN DELETE (first " +
        "match wins: a doc_id % 14 = 0 'de' row UPDATES), WHEN NOT " +
        "MATCHED AND s.lang ≠ 'it' THEN INSERT, WHEN NOT MATCHED BY " +
        "SOURCE AND t.lang = 'fr' AND t.doc_id % 3 = 0 THEN DELETE — " +
        "hash-matched against the equivalent LEFT JOIN + CASE + UNION " +
        "algebra in DuckDB.  The whole clause surface evaluates as " +
        "when/otherwise chains inside ONE full-outer join (whole-stage " +
        "codegen; the source is never collected), and without " +
        "NOT-MATCHED-BY-SOURCE clauses the rewrite scope is only the " +
        "files containing a matched key."),

    // --------------------------- CDC shape of a merge-on-read UPDATE
    QueryDef(
      "mor_update_change_pairs",
      (s, d) => {
        val root = table(s, d)
        VersionedTable.changeFeed(s, root, 2, 3, Some("doc_id"))
          .groupBy(col("_change_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("_change_type"))
      },
      Some("""WITH n AS (SELECT count(*)::BIGINT AS c FROM documents
        |            WHERE doc_id % 10 = 3)
        |SELECT 'update_postimage' AS _change_type, c AS n FROM n
        |UNION ALL
        |SELECT 'update_preimage' AS _change_type, c AS n FROM n
        |ORDER BY _change_type""".stripMargin),
      "The change feed across the merge-on-read UPDATE commit is " +
        "PURE update pairs: every masked key re-appears with its " +
        "post-image, so the pre/post pairing resolves every row — no " +
        "bare inserts, no bare deletes.  CDC consumers see a logical " +
        "UPDATE regardless of the physical encoding (deletion vector " +
        "+ post-image file vs file rewrite): encoding-independent " +
        "change capture, the contract downstream incremental view " +
        "maintenance depends on."),

    // --------------------------------- CDC shape of the MERGE commit
    QueryDef(
      "merge_into_change_feed",
      (s, d) => {
        val root = table(s, d)
        VersionedTable.changeFeed(s, root, 3, 4, Some("doc_id"))
          .groupBy(col("_change_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("_change_type"))
      },
      Some("""WITH dels AS (
        |  SELECT count(*)::BIGINT AS c FROM documents
        |  WHERE (doc_id % 7 = 0 AND NOT doc_id % 14 = 0 AND lang = 'de')
        |     OR (doc_id % 7 <> 0 AND lang = 'fr' AND doc_id % 3 = 0)),
        |insr AS (SELECT count(*)::BIGINT AS c FROM documents
        |         WHERE doc_id % 5 = 1 AND lang <> 'it'),
        |upd AS (SELECT count(*)::BIGINT AS c FROM documents
        |        WHERE doc_id % 14 = 0)
        |SELECT 'delete' AS _change_type, c AS n FROM dels
        |UNION ALL SELECT 'insert', c FROM insr
        |UNION ALL SELECT 'update_postimage', c FROM upd
        |UNION ALL SELECT 'update_preimage', c FROM upd
        |ORDER BY _change_type""".stripMargin),
      "The change feed across the conditional MERGE decomposes " +
        "exactly into its clause census: matched updates surface as " +
        "pre/post pairs, matched and not-matched-by-source deletes as " +
        "plain deletes, inserts as inserts — each count hash-matched " +
        "against the clause predicates evaluated directly on the " +
        "fixture.  One MERGE commit, one diff, a complete CDC story " +
        "for the most complex write the table supports."),

    // ----------------------- CDF window through the connector surface
    QueryDef(
      "connector_cdf_read",
      (s, d) => {
        val root = table(s, d)
        s.read.format("graft-table")
          .option("readChangeFeed", "true")
          .option("startingVersion", "2").option("endingVersion", "4")
          .option("idCol", "doc_id")
          .load(root)
          .groupBy(col("_commit_version"), col("_change_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("_commit_version"), col("_change_type"))
      },
      Some(s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        |c2 AS (SELECT count(*)::BIGINT AS c FROM documents
        |       WHERE lang = 'en' AND doc_id * 10 <= (SELECT m FROM mx)),
        |c3 AS (SELECT count(*)::BIGINT AS c FROM documents
        |       WHERE doc_id % 10 = 3),
        |dels AS (
        |  SELECT count(*)::BIGINT AS c FROM documents
        |  WHERE (doc_id % 7 = 0 AND NOT doc_id % 14 = 0 AND lang = 'de')
        |     OR (doc_id % 7 <> 0 AND lang = 'fr' AND doc_id % 3 = 0)),
        |insr AS (SELECT count(*)::BIGINT AS c FROM documents
        |         WHERE doc_id % 5 = 1 AND lang <> 'it'),
        |upd AS (SELECT count(*)::BIGINT AS c FROM documents
        |        WHERE doc_id % 14 = 0)
        |SELECT 2 AS _commit_version,
        |       'update_postimage' AS _change_type, c AS n FROM c2
        |UNION ALL SELECT 2, 'update_preimage', c FROM c2
        |UNION ALL SELECT 3, 'update_postimage', c FROM c3
        |UNION ALL SELECT 3, 'update_preimage', c FROM c3
        |UNION ALL SELECT 4, 'delete', c FROM dels
        |UNION ALL SELECT 4, 'insert', c FROM insr
        |UNION ALL SELECT 4, 'update_postimage', c FROM upd
        |UNION ALL SELECT 4, 'update_preimage', c FROM upd
        |ORDER BY 1, 2""".stripMargin),
      "The change data feed served through the STANDARD DataFrame " +
        "reader — spark.read.format(\"graft-table\")" +
        ".option(\"readChangeFeed\", true) with a " +
        "startingVersion/endingVersion window — decomposes the whole " +
        "DML lifecycle per commit: the copy-on-write UPDATE and the " +
        "merge-on-read UPDATE both surface as pure pre/post pairs " +
        "(encoding-independent), the conditional MERGE as its clause " +
        "census.  A user never needs the library API to consume " +
        "changes; the connector now serves all four quadrants " +
        "(read, write, writeStream, CDF)."),

    // ------------------------------ SQL catalog + SQL-level time travel
    QueryDef(
      "sql_catalog_time_travel_read",
      (s, d) => {
        val root = table(s, d)
        // the injected resolution rule swaps the catalog relation for
        // the graft-table scan during analysis
        s.sql(s"SELECT lang, count(*) AS n_docs, " +
          "sum(n_chars) AS sum_n_chars " +
          s"FROM graft.`$root` VERSION AS OF 2 " +
          "GROUP BY lang ORDER BY lang")
      },
      Some(s"""WITH $dmlStateSql
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |       sum(n_chars)::BIGINT AS sum_n_chars
        |FROM u2 GROUP BY lang ORDER BY lang""".stripMargin),
      "The versioned table resolved entirely through SQL — " +
        "spark.sql(\"SELECT ... FROM graft.`/root`\") with the " +
        "engine's own VERSION AS OF syntax — via a path-based " +
        "TableCatalog (Delta's delta.`/path` architecture): the " +
        "catalog pins the snapshot, an injected resolution rule swaps " +
        "the v2 relation for the SAME manifest-backed vectorized " +
        "parquet relation the connector serves (output attribute ids " +
        "preserved), and the result hash-matches the logical v2 " +
        "state.  SQL users get snapshot isolation, time travel and " +
        "manifest file-skipping with zero library imports."),

    // --------------------------------------- incremental re-clustering
    QueryDef(
      "cluster_incremental_pruned_read",
      (s, d) => {
        val root = incTable(s, d)
        val head = VersionedTable.latestVersion(s, root).get
        val v2 = VersionedTable.snapshot(s, root, 2) // full cluster
        val v4 = VersionedTable.snapshot(s, root, head)
        val carried = v2.files.map(_.path).toSet
          .intersect(v4.files.map(_.path).toSet).nonEmpty
        val ranges = v4.files.flatMap(_.stats.get("n_chars"))
          .sortBy(_._1)
        val disjointAfter = ranges.size == v4.files.size &&
          ranges.sliding(2).forall {
            case Seq((_, h1), (l2, _)) => l2 > h1
            case _ => true
          }
        VersionedTable.read(s, root, Some(head))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_n_chars"))
          .select(col("lang"), col("n_docs"), col("sum_n_chars"),
            lit(carried).as("files_carried"),
            lit(disjointAfter).as("disjoint_after"),
            lit(v4.op).as("op"))
          .orderBy(col("lang"))
      },
      Some("""WITH mxc AS (SELECT max(n_chars) AS m FROM documents),
        |inc AS (SELECT doc_id + 2000000000 AS doc_id, text, lang,
        |          source, n_chars
        |        FROM documents WHERE doc_id % 11 = 5
        |          AND n_chars * 4 <= (SELECT m FROM mxc)),
        |st AS (SELECT * FROM documents UNION ALL SELECT * FROM inc)
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |       sum(n_chars)::BIGINT AS sum_n_chars,
        |       TRUE AS files_carried, TRUE AS disjoint_after,
        |       'cluster' AS op
        |FROM st GROUP BY lang ORDER BY lang""".stripMargin),
      "INCREMENTAL re-clustering: a clustered-by-n_chars table takes " +
        "an appended batch confined to the bottom quarter of the " +
        "range, and optimizeClusterIncremental restores a pairwise-" +
        "DISJOINT layout by rewriting ONLY the overlapped interval " +
        "component — the in-band pins prove untouched clustered files " +
        "carried by reference and the post-layout is disjoint on the " +
        "recorded bounds, while the readout hash-matches the logical " +
        "union.  At 100 TB this is the difference between O(table) " +
        "and O(overlapping files) per maintenance pass — the steady-" +
        "state cost model of Iceberg's rewrite_data_files and " +
        "incremental OPTIMIZE."),

    // ----------------------------------------------- CONVERT TO GRAFT
    QueryDef(
      "convert_in_place_read",
      (s, d) => {
        val root = Scratch.buildOnce(s, d, "vtabconv") { r =>
          val dir = s"$r/plain"
          Tables.documents(s, d)
            .repartitionByRange(4, col("doc_id")).write.parquet(dir)
          VersionedTable.convert(s, r, dir, "doc_id")
          ()
        }
        val snap = VersionedTable.snapshot(s, root, 1)
        // the adoption pins: zero engine-managed files (nothing was
        // copied), every entry carries recorded stats and sizes
        val inPlace = snap.files.forall(f =>
          !f.path.contains("/data/") && f.bytes > 0L &&
            f.stats.contains("n_chars"))
        VersionedTable.read(s, root, Some(1))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_n_chars"))
          .select(col("lang"), col("n_docs"), col("sum_n_chars"),
            lit(inPlace).as("in_place"), lit(snap.op).as("op"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*)::BIGINT AS n_docs,
        |       sum(n_chars)::BIGINT AS sum_n_chars,
        |       TRUE AS in_place, 'convert' AS op
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
      "CONVERT TO GRAFT: a plain parquet directory adopted as version " +
        "1 IN PLACE — the readout hash-matches the original corpus, " +
        "and the in-band pins prove zero rows were copied (no " +
        "engine-managed files) while every imported file already " +
        "carries the zone map, column stats and recorded size a " +
        "native write would have.  Onboarding a 100 TB corpus into " +
        "snapshot isolation, time travel, DML and the connector costs " +
        "one metadata pass, exactly Delta's CONVERT TO DELTA " +
        "economics."),

    // --------------------- DV snapshot served through the connector
    QueryDef(
      "connector_masked_read",
      (s, d) => {
        val root = table(s, d)
        val v3 = VersionedTable.snapshot(s, root, 3)
        val masked = v3.files.exists(_.dv.isDefined)
        s.read.format("graft-table").option("versionAsOf", "3")
          .load(root)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_n_chars"))
          .select(col("lang"), col("n_docs"), col("sum_n_chars"),
            lit(masked).as("dv_masked"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH $dmlStateSql
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |       sum(n_chars)::BIGINT AS sum_n_chars, TRUE AS dv_masked
        |FROM u3 GROUP BY lang ORDER BY lang""".stripMargin),
      "A DELETION-VECTOR snapshot read through the standard connector " +
        "(spark.read.format(\"graft-table\").option(\"versionAsOf\", " +
        "3)): the masked relation applies the DV anti-join above the " +
        "vectorized inner scan while column pruning and translated " +
        "filters still push through Catalyst — hash-matched against " +
        "the logical post-update state, with the in-band pin proving " +
        "the snapshot really carries masks.  A table with outstanding " +
        "merge-on-read deletes stays fully readable to SQL and " +
        "DataFrame users; purging remains a maintenance choice, not a " +
        "service requirement."),

    // -------------------------------------------------- REPLACE WHERE
    QueryDef(
      "replace_where_read",
      (s, d) => {
        val root = table(s, d)
        val v4 = VersionedTable.snapshot(s, root, 4)
        val v5 = VersionedTable.snapshot(s, root, 5)
        val carried = v4.files.map(_.path).toSet
          .intersect(v5.files.map(_.path).toSet).nonEmpty
        VersionedTable.read(s, root, Some(5))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_n_chars"))
          .select(col("lang"), col("n_docs"), col("sum_n_chars"),
            lit(carried).as("files_carried"), lit(v5.op).as("op"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH $dmlStateSql
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |       sum(n_chars)::BIGINT AS sum_n_chars,
        |       TRUE AS files_carried, 'replace-where' AS op
        |FROM m5 GROUP BY lang ORDER BY lang""".stripMargin),
      "REPLACE WHERE doc_id >= 1e9: the key-contiguous slice is " +
        "rebuilt from a re-derivation in ONE commit — matching rows " +
        "out, batch in — while every bottom-range file carries by " +
        "reference (pinned in-band).  The incoming batch is " +
        "validated to lie INSIDE the predicate before anything is " +
        "written, so a retried reload can never leak rows outside the " +
        "slice it owns: the idempotent partition-reload unit every " +
        "scheduled pipeline needs, at O(slice) cost instead of a " +
        "table overwrite."),

    // -------------------------------------------- null-count pruning
    QueryDef(
      "null_stats_pruned_read",
      (s, d) => {
        val root = Scratch.buildOnce(s, d, "vtabnull") { r =>
          val docs = Tables.documents(s, d)
          VersionedTable.append(s, r,
            docs.withColumn("opt", col("n_chars")), "doc_id", 3,
            op = "load")
          VersionedTable.append(s, r,
            docs.withColumn("doc_id", col("doc_id") + 3000000000L)
              .withColumn("opt", lit(null).cast("long")), "doc_id", 2)
          ()
        }
        val snap = VersionedTable.snapshot(s, root, 2)
        val kept = VersionedTable.pruneWithBounds(snap, Some("doc_id"),
          Seq(("opt", "isnotnull", null)))
        // strict prune + soundness, pinned in-band: exactly the
        // all-null files skipped, and every skipped file's recorded
        // null count equals its rows (cannot hold a match)
        val strict = kept.size == 3 && snap.files.size == 5
        val sound = snap.files.filterNot(kept.toSet).forall(f =>
          f.nulls.get("opt").contains(f.rows))
        s.read.format("graft-table").load(root)
          .filter(col("opt").isNotNull)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("opt")).as("sum_opt"))
          .select(col("lang"), col("n_docs"), col("sum_opt"),
            lit(strict).as("prune_strict"),
            lit(sound).as("skipped_cannot_match"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*)::BIGINT AS n_docs,
        |       sum(n_chars)::BIGINT AS sum_opt,
        |       TRUE AS prune_strict, TRUE AS skipped_cannot_match
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
      "NULL-COUNT statistics (Iceberg's null_value_counts): a corpus " +
        "whose second ingest carries an all-null `opt` column reads " +
        "`opt IS NOT NULL` by planning ONLY the populated files — the " +
        "in-band pins prove the prune is strict (3 of 5 files) and " +
        "sound (every skipped file's recorded null count equals its " +
        "row count).  Because Spark injects IsNotNull under nearly " +
        "every comparison, pre-backfill evolution shapes — the normal " +
        "state of a growing 100 TB corpus — drop out of most scans " +
        "for free."))
}
