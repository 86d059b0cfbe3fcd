package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import graft.{QueryDef, Scratch, Tables}
import graft.sources.VersionedTable

/** Batch 66: per-file COLUMN STATISTICS + 1-D re-clustering on the
  * versioned table.  Every write already records min/max of each
  * non-key long column per file (the Iceberg-manifest / Delta
  * Add-file stats idea); `optimizeClusterBy` rewrites the layout
  * range-partitioned on a chosen column, after which a `ranges` read
  * prunes to the few files whose span intersects the predicate —
  * file skipping on a NON-KEY column, the 100 TB lever for "scan
  * just the short documents / last week's slice" queries that the
  * key-ranged layout cannot serve. */
object Curation66Queries {

  /** documents loaded key-ranged, then re-clustered on n_chars. */
  private def clusteredTable(s: SparkSession, d: String): String =
    Scratch.buildOnce(s, d, "vtabclus") { root =>
      VersionedTable.append(s, root, Tables.documents(s, d),
        "doc_id", 4, op = "load")
      VersionedTable.optimizeClusterBy(s, root, "n_chars", "doc_id", 4)
      ()
    }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "cluster_stats_pruned_read",
      (s, d) => {
        val root = clusteredTable(s, d)
        val head = VersionedTable.latestVersion(s, root).get
        val snap = VersionedTable.snapshot(s, root, head)
        val kept = VersionedTable.statsPrunedFiles(snap.files,
          Map("n_chars" -> (0L, 100L)))
        // the layout proof, in-band: the clustered table serves a
        // narrow non-key range from ONE of its four files (n_chars
        // 0..100 is deep inside the first quartile file at every
        // fixture scale), and the files it skips provably cannot
        // match (their recorded min exceeds the range)
        val skippedCannotMatch = snap.files.diff(kept)
          .forall(_.stats("n_chars")._1 > 100L)
        VersionedTable.read(s, root,
            ranges = Map("n_chars" -> (0L, 100L)))
          .filter(col("n_chars") <= 100L)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_n_chars"))
          .select(col("lang"), col("n_docs"), col("sum_n_chars"),
            lit(snap.op).as("op"),
            lit(snap.files.size.toLong).as("n_files_total"),
            lit(kept.size.toLong).as("n_files_scanned"),
            lit(skippedCannotMatch).as("skipped_cannot_match"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*)::BIGINT AS n_docs,
        |       sum(n_chars)::BIGINT AS sum_n_chars,
        |       'cluster' AS op, 4::BIGINT AS n_files_total,
        |       1::BIGINT AS n_files_scanned,
        |       TRUE AS skipped_cannot_match
        |FROM documents WHERE n_chars <= 100
        |GROUP BY lang ORDER BY lang""".stripMargin),
      "Re-cluster the corpus on n_chars (1-D OPTIMIZE ZORDER), then " +
        "read a narrow non-key range through the per-file column " +
        "stats: the answer hash-matches the plain filter, and the " +
        "in-band pins prove the read planned ONE of the four data " +
        "files — with every skipped file's recorded minimum above the " +
        "range, so the skip is provably sound, not sampled luck.  " +
        "Column stats come from the written files' parquet footers " +
        "for free; clustering is what makes them bite (on the key-ranged " +
        "layout the same range prunes nothing — the fixture's length " +
        "is uncorrelated with doc_id).  At 100 TB this is the " +
        "difference between scanning a slice and scanning the table " +
        "for every non-key-range query the corpus serves."),

    QueryDef(
      "zorder_table_pruned_read",
      (s, d) => {
        val root = Scratch.buildOnce(s, d, "vtabz") { r =>
          VersionedTable.append(s, r, Tables.documents(s, d),
            "doc_id", 4, op = "load")
          VersionedTable.optimizeZOrder(s, r, "doc_id", "n_chars",
            "doc_id", 4)
          ()
        }
        val head = VersionedTable.latestVersion(s, root).get
        val snap = VersionedTable.snapshot(s, root, head)
        // the Z-order property, pinned in-band as two STRICT prunes:
        // a narrow range on the KEY alone (per-file minId/maxId) and
        // on n_chars alone (column stats) each skip files — 1-D
        // clustering can only ever serve one of the two
        val keptId = snap.files
          .filter(f => f.maxId >= 0L && f.minId <= 49L)
        val keptChars = VersionedTable.statsPrunedFiles(snap.files,
          Map("n_chars" -> (0L, 100L)))
        VersionedTable.read(s, root, idRange = Some((0L, 49L)))
          .filter(col("doc_id") <= 49L)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_n_chars"))
          .select(col("lang"), col("n_docs"), col("sum_n_chars"),
            lit(snap.op).as("op"),
            lit(keptId.size < snap.files.size).as("id_prune_strict"),
            lit(keptChars.size < snap.files.size)
              .as("chars_prune_strict"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*)::BIGINT AS n_docs,
        |       sum(n_chars)::BIGINT AS sum_n_chars,
        |       'zorder' AS op, TRUE AS id_prune_strict,
        |       TRUE AS chars_prune_strict
        |FROM documents WHERE doc_id <= 49
        |GROUP BY lang ORDER BY lang""".stripMargin),
      "OPTIMIZE ZORDER BY (doc_id, n_chars) on the versioned table: " +
        "files are laid out along the Morton interleave of the two " +
        "columns' grid cells (an exchange-only expression — never " +
        "written into the files), so each file covers a compact " +
        "region of the plane and a narrow range on EITHER column " +
        "alone prunes strictly — pinned in-band for both dimensions " +
        "simultaneously, which no 1-D layout can satisfy.  The " +
        "readout itself goes through the key-pruned path and " +
        "hash-matches the plain filter.  This is the multi-predicate " +
        "file-skipping layout (Delta's OPTIMIZE ZORDER) that lets a " +
        "100 TB corpus serve both 'this id shard' and 'short docs' " +
        "scans from file subsets after ONE layout rewrite."),
  )
}
