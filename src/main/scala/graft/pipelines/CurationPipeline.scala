package graft.pipelines

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Corpus

/** End-to-end curation run: the engine's operators composed into the
  * single job a pretraining ingest actually executes, with in-pass
  * metrics — the capstone proof that the pieces fit together, not just
  * pass their individual gates.
  *
  * Stages (each one an oracle-checked operator family elsewhere):
  *   1. exact dedup on content hash          (dedup_exact)
  *   2. winnowing near-dup removal            (winnow_overlap_pairs):
  *      fingerprint inverted index, containment >= 50% of the smaller
  *      set drops the larger doc_id — the MOSS pair stage in-line
  *   3. language gate                         (text_langid's substrate)
  *   4. Gopher-style quality rules            (gopher_quality_filter)
  *   5. length-outlier removal by exact p5/p95 (length_outlier_filter)
  *   6. k-anonymity release gate              (k_anonymity_violations):
  *      quasi-identifier classes (lang, 100-char length bucket) with
  *      fewer than 3 members are suppressed before release
  *   7. deterministic md5 train/val/test split  (split_train_val_test)
  *   8. per-split partitioned parquet write   (sink_per_record_files)
  *
  * Plan: flag, count once, filter last. Each gate adds a boolean
  * column instead of dropping rows: `dd_ok` (md5 min-id window),
  * `nd_ok` (not a winnow loser: a left join to the distinct loser ids
  * plus a null test), `q_ok` (language and quality rules), `r_ok`
  * (p5/p95 bounds from a broadcast one-row aggregate over the `q_ok`
  * rows) and `k_ok` (a class count window over the `r_ok` rows). One
  * Dataset.observe() above the last exchange counts every flag, then
  * `filter(k_ok)` feeds the one partitioned write, so the write is the
  * run's only action and the six stage counts come with it. Wide
  * stages: the md5 window, the fingerprint stream (one fp-partitioned
  * exchange under the hot-fp cap window, shared by the fp sizes and both
  * sides of the pair join) + pair aggregation (near-dup), the loser
  * join, the p5/p95 aggregate and the k-anon window. The trade-off:
  * rejected rows ride through the loser join and the k-anon window
  * exchange before the final filter drops them.
  *
  * Per-stage observe() calls on a filtered plan would lose counts:
  * when a stage empties (every document rejected, an empty corpus),
  * adaptive execution's empty-relation propagation prunes the
  * materialized stage holding the lower CollectMetrics nodes from the
  * final plan, and their metrics never arrive. The single observe sits
  * where no pruning reaches it.
  *
  * Reference: this is §3.1's generate-filter-write loop
  * (data_generation/generate_narratives_from_data.py:79-96) as one
  * declarative plan.
  */
object CurationPipeline {

  final case class Result(
      curatedPath: String,
      ingested: Long,
      afterDedup: Long,
      afterNearDup: Long,
      afterQuality: Long,
      afterKAnon: Long,
      written: Long)

  def run(spark: SparkSession, sfDir: String, outDir: String): Result = {
    val obs = new Observation("curation")

    val ingested = Corpus.withDups(spark, sfDir)

    // 1. exact dedup: the minimum doc_id per content hash is kept
    val deduped = ingested
      .withColumn("dd_ok", col("doc_id") === min(col("doc_id"))
        .over(Window.partitionBy(md5(col("text")))))

    // 2. winnowing near-dup removal: containment >= 50% of the smaller
    // fingerprint set (after a 64-doc hot-fp cap) drops the LARGER id —
    // the winnow_overlap_pairs operator over the dedup keepers
    // the cap is a count window over the one fp-partitioned stream, so
    // every consumer below (sizes, both pair sides) reuses that exchange
    // and the fingerprint kernel runs once; a hot fp's rows are buffered
    // in one window partition (and can spill) before the cap drops them
    val cappedFps = deduped.filter(col("dd_ok") && length(col("text")) >= 11)
      .select(col("doc_id"),
        explode(graft.functions.WinnowKernel.winnowFps(col("text")))
          .as("fp"))
      .withColumn("bn", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .filter(col("bn") <= 64).select(col("doc_id"), col("fp"))
    val fpSizes = cappedFps.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nf"))
    val dupLosers = cappedFps.as("x").join(cappedFps.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(fpSizes.select(col("doc_id").as("a"), col("nf").as("na")),
        Seq("a"))
      .join(fpSizes.select(col("doc_id").as("b"), col("nf").as("nb")),
        Seq("b"))
      .filter(col("n_shared") * 2 >= least(col("na"), col("nb")))
      .select(col("b").as("doc_id")).distinct()
      .withColumn("loser", lit(true))
    val nearDeduped = deduped.join(dupLosers, Seq("doc_id"), "left")
      .withColumn("nd_ok", col("dd_ok") && col("loser").isNull)

    // 3+4. language + quality gates (pure row predicates); n_chars is
    // derived — withDups truncations change lengths, so never trust a
    // pre-computed stat across a mutating stage
    val toks = split(col("text"), " ")
    val gated = nearDeduped
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("q_ok", col("nd_ok") &&
        col("lang").isin("en", "de", "fr", "es", "zh") &&
        size(toks) >= 10 && size(toks) <= 2048 &&
        // mean word length in [3, 12] — cross-multiplied
        col("n_chars") * 1 >= size(toks) * 3 &&
        col("n_chars") <= size(toks) * 13)

    // 5. length outliers out by exact percentile bounds over the gated
    // rows (broadcast row); no gated rows means null bounds: none pass
    val bounds = gated.agg(
      expr("percentile(CASE WHEN q_ok THEN n_chars END, 0.05)").as("p05"),
      expr("percentile(CASE WHEN q_ok THEN n_chars END, 0.95)").as("p95"))
    val inRange = gated.crossJoin(broadcast(bounds))
      .withColumn("r_ok", col("q_ok") && coalesce(
        col("n_chars") >= ceil(col("p05")) &&
          col("n_chars") <= floor(col("p95")), lit(false)))

    // 6. k-anonymity release gate: quasi-identifier classes (lang,
    // 100-char length bucket) with fewer than k=3 in-range members are
    // suppressed — the k_anonymity_violations screen as a class window
    val released = inRange
      .withColumn("k_ok", col("r_ok") && count(when(col("r_ok"), 1))
        .over(Window.partitionBy(col("lang"), expr("n_chars div 100"))) >= 3)
      .observe(obs,
        count(lit(1)).as("ingested"),
        count(when(col("dd_ok"), 1)).as("dedup"),
        count(when(col("nd_ok"), 1)).as("near_dup"),
        count(when(col("q_ok"), 1)).as("quality"),
        count(when(col("k_ok"), 1)).as("k_anon"))

    // 7. deterministic split of the released rows
    val bucket = pmod(
      conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(100L))
    val curated = released.filter(col("k_ok"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val")
          .otherwise("test"))

    // 8. one partitioned write drives the whole plan exactly once
    curated.write.mode("overwrite")
      .partitionBy("split").parquet(outDir)

    val m = obs.get.map { case (k, v) => k -> v.asInstanceOf[Long] }
    Result(outDir,
      ingested = m("ingested"),
      afterDedup = m("dedup"),
      afterNearDup = m("near_dup"),
      afterQuality = m("quality"),
      afterKAnon = m("k_anon"),
      written = m("k_anon"))
  }
}
