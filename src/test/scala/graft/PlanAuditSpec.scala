package graft

import org.apache.spark.sql.functions._

/** Engine-wide physical-plan invariants: the shapes that make queries
  * survive a 100 TB scale-up, asserted so a refactor cannot silently
  * regress them.  (Plan text is inspected pre-AQE: sparkPlan, not
  * executedPlan, so assertions are deterministic.) */
class PlanAuditSpec extends SparkSpec {

  /** Queries DOCUMENTED as products over deliberately bounded inputs —
    * the parameter-grid cross products (a LocalTableScan x a Range,
    * J4 semantics), broadcast query rubrics, the bounded near-dup
    * slice, and the IVF centroid table. Broadcast nested-loop is the
    * correct plan for these: one side is tiny and broadcast. */
  private val boundedProducts = Set(
    "crossjoin_grid",        // the reference's parameter-grid product
    "antijoin_completed", "semijoin_available",       // grid builders
    "except_pending", "intersect_ready", "pivot_scores",
    "cosine_topk",           // broadcast 10-vector rubric x corpus
    "similarity_theta_join", // SURVEY-name alias of cosine_topk (same plan)
    "avg_search_rank", "avg_first_hit_rank", "retrieval_eval_detail",
    "miss_sentinel",          // 4-term broadcast containment join
    "ann_ivf_topk",           // centroid table x probe rubric
    "knn_graph",              // bounded 300-vector slice, broadcast side
                              // (scale path: LSH/IVF bucket join, see doc)
    "length_outlier_filter",  // broadcast of 1-row total + 2-value bounds
    "kmeans_cluster_assign",  // broadcast of k=8 centroid rows per pass
    "semdedup_prune",         // broadcast of k=8 centroid rows (assign)
    "domain_mixture_rebalance", // broadcast of the 1-row totals
    "pagerank_knn",           // bounded 300-vector kNN slice (see knn_graph)
    "triangle_count_knn",     // same bounded kNN slice as pagerank_knn
    "constraint_violations",  // broadcast of 1-row bounds per rule
    "bm25_topk",              // broadcast of the 1-row corpus stats
    "domain_temperature_sample", // broadcast of the 1-row normalizer
    "hamming_topk_binary",    // broadcast 10-signature query rubric
    "two_hop_neighbors",      // bounded 300-vector kNN slice (see knn_graph)
    "contrastive_negative_pairs", // broadcast of the 1-row corpus count
    "chi2_lang_source",       // broadcast of the 1-row n/dof totals
    "resource_allocation_linkpred", // bounded 300-vector kNN slice
    "label_propagation_communities", // bounded 300-vector kNN slice
    "graph_degree_distribution",     // bounded 300-vector kNN slice
    "association_rules_lift",        // broadcast of the 1-row user total
    "bootstrap_ci_mean_length",      // broadcast of the 16 replica ids
    "churn_labels",                  // broadcast of the 1-row horizon
    "rfm_segmentation",              // broadcast of the 1-row horizon
    "pca_power_iteration",           // broadcast of the 1-row inf-norm
    "pca_projection_hist",           // broadcast of the 1-row range bounds
    "churn_hazard_table",            // broadcast of the 1-row horizon
    "join_cardinality_estimate",     // broadcast of the 1-row actual count
    "embedding_norm_histogram",      // broadcast of the 1-row range bounds
    "map_at_20",              // broadcast 20-vector rubric (rankedRelevant)
    "collocation_pmi",        // broadcast of the two 1-row totals
    "dsir_importance_proxy",  // broadcast of the 1-row ns/nt totals
    "kcore_membership",       // bounded 300-vector kNN slice (see knn_graph)
    "mmr_rerank_top3",        // broadcast 5-query rubric, 10-cand pools
    "unigram_sampling_weights", // broadcast of the 1-row normalizer
    "heaps_vocab_growth",     // broadcast of the 10 cutoff rows
    "histogram_drift_l1",     // broadcast of the 1-row histogram totals
    "cuped_adjustment",       // broadcast of the 1-row midpoint + moments
    "neyman_allocation",      // broadcast of the 1-row total + leftover
    "ks_two_sample",          // broadcast of the 1-row sample totals
    "conformal_threshold",    // broadcast of the 1-row threshold
    "ann_recall_at_k",        // broadcast 10-query rubric (exact side)
    "bpe_train_merges",       // broadcast of each round 1-row winner
    "bpe_compression_ratio",  // same per-round 1-row winner broadcasts
    "embedding_whiten",       // broadcast of the 1-row moment table
    "ndcg_at_10",             // broadcast 20-vector rubric (rankedRelevant)
    "mrr_at_10",              // broadcast 20-vector rubric (rankedRelevant)
    "hll_register_estimate",  // broadcast of the 1-row register summary
    "ipf_raking",             // broadcast of the 1-row marginal targets
    "quantile_sketch_merge",  // broadcast of the 1-row corpus count
    "matryoshka_dim_eval",    // broadcast 10-query rubric x3 dims
    "hits_hub_authority",     // broadcast of the 1-row max normalizers
    "purged_time_split",      // broadcast of the 3-row fold table
    "shard_assign_consistent", // broadcast 40-row vnode ring x2 layouts
    "hard_negative_mining",    // broadcast 20-vector rubric (rankedRelevant)
    "dpr_inbatch_negatives",   // same rubric crossJoin inside firstHits
    "triplet_margin_audit",    // same rubric + broadcast triplet fetch
    "holt_linear_forecast",    // broadcast 1-row day-span bounds (spine)
    "kaplan_meier_retention",  // broadcast 1-row horizon + total rows
    "cusum_changepoint_batch", // broadcast 1-row ref/slack/threshold params
    "seasonal_naive_eval",     // broadcast 1-row day-span bounds (spine)
    "node_jaccard_linkpred",   // knnEdges 300-vector broadcast substrate
    "graph_reciprocity",       // knnEdges 300-vector broadcast substrate
    "degree_assortativity",    // knnEdges 300-vector broadcast substrate
    "local_bridge_edges",      // knnEdges 300-vector broadcast substrate
    "stylometry_source_distance", // broadcast 20-word function-word band
    "minhash_band_tuning",     // pure-arithmetic 4x19 literal grid
    "dedup_threshold_sweep",   // 5-row threshold grid x bounded slice pairs
    "did_you_mean_edit1",      // 5-probe broadcast x vocabulary (not corpus)
    "freshness_lag_audit",     // broadcast 1-row horizon
    "quantization_error_audit", // broadcast 64-row per-dim bounds
    "ann_probe_cost_curve",    // Lloyd substrate: broadcast k centroids
    "kmeans_assignment_stability", // 2x Lloyd + 100-vector pair panel
    "residual_vector_energy",  // Lloyd substrate: broadcast k centroids
    "dataset_card_summary",    // 1-row aggregate crosses (card assembly)
    "mixture_token_budget_planner", // broadcast 1-row weight total/leftover
    "sequential_pattern_support",  // broadcast 1-row user count
    "weekly_autocorr_strength",    // broadcast 1-row day-span bounds (spine)
    "power_user_curve",            // broadcast 1-row user total
    "lorenz_user_concentration",   // broadcast 1-row event total
    "anomaly_dow_baseline",        // spine bounds + broadcast 7-row medians
    "srm_check",                   // broadcast 1-row split total
    "diff_in_diff_purchases",      // broadcast 1-row t0 + 1-row arm cross
    "ab_power_mde",                // broadcast 3-row horizon grid
    "priority_sample_estimator",   // broadcast 1-row tau + 1-row truth
    "range_partition_boundaries",  // broadcast 1-row corpus count
    "t_closeness_audit",           // broadcast 1-row global total
    "dedup_recall_eval",           // broadcast 1-row prediction count
    "source_ablation_impact",      // broadcast 1-row corpus totals
    "silhouette_by_label",         // bounded 200-vector slice
    "pq_adc_topk",                 // broadcast k=8 codebook + 32-cell tables
    "reciprocal_nn_pairs",         // bounded 300-vector kNN slice
    "session_type_cooccurrence",   // broadcast 1-row session total
    "community_modularity",        // bounded kNN slice + 1-row edge count
    "ranker_agreement_tau",        // bounded 60-vector candidate panel
    "shingle_bit_balance",         // broadcast 1-row hash total
    "rbo_topterm_drift",           // 10-row depth grid x 20-row lists
    "embedding_anisotropy",        // broadcast 1-row corpus count
    "knn_label_accuracy",          // bounded 300-vector kNN slice
    "zipf_coverage_curve",         // broadcast of the 1-row corpus total
    "abc_part_classification",     // broadcast of the 1-row revenue total
    "ivf_pq_topk",                 // broadcast ONE-row index: |corpus|/31
                                   // coarse centroids, the 8-vector
                                   // codebook and the 6-query panel
    "perceptron_quality_epochs",   // broadcast 1-row inter-epoch weights
    "tpch_q22_sales_opportunity",  // broadcast 1-row global-average gate
    "tpch_q11_important_stock",    // broadcast 1-row fraction gate (the
                                   // > compare keeps it a BNLJ; Q15's =
                                   // gate becomes a hash join instead
    "bleu_ngram_precisions",       // brevity row: 1-row x 1-row totals
    "ann_graph_topk",              // bounded 300-vector kNN slice (the
                                   // knn_graph construction's broadcast
                                   // !=-join; the search rounds are all
                                   // equi-joins)
    "ann_graph_hier_topk",         // entry routing: broadcast 10-query
                                   // panel x ~|corpus|/31 centroid grid
                                   // (the IVF coarse-quantizer product);
                                   // the graph build and search rounds are
                                   // all equi-joins over the WRITTEN
                                   // edge table
    "ann_index_insert",            // same routing product, 20-row
                                   // broadcast insert panel x centroid
                                   // grid; search + worst-edge join are
                                   // equi-joins
    "kmv_jaccard_sources",         // pair enumeration over the SKETCH
                                   // table: n_sources rows of k longs
                                   // each (corpus-size-independent by
                                   // construction — that is the KMV
                                   // point); the corpus pass itself is
                                   // agg-only
    "cms_heavy_hitters_twopass",   // the 1-ROW threshold scalar
                                   // (count(*)/200) broadcast onto the
                                   // distinct-token probe side; both
                                   // corpus passes are agg / broadcast
                                   // equi-join only
    "bigram_backoff_score",        // broadcast of the 1-row train-token
                                   // total N (the stupid-backoff
                                   // denominator); model joins are
                                   // (w1,w2)/(w)-keyed equi-joins
    "lm_score_quality_gate",       // same 1-row N broadcast inside the
                                   // shared scoring subplan; the gate
                                   // join itself is source-keyed
    "chi_square_cells",            // margin completion: rowT x colT is
                                   // a <=5-lang x 3-bucket enum-agg
                                   // product (<=15 cells) and tot is a
                                   // broadcast 1-row scalar frame
                                   // (curation61.scala chiCells)
    "chi_square_independence",     // same chiCells subplan: both BNLJ
                                   // sides bounded by enum cardinality
    "cramers_v_assoc",             // two chiCells-shaped grids, <=100
                                   // completed cells each (lang x
                                   // bucket, lang x source) + 1-row tot
    "anova_f_oneway",              // k<=5 per-lang moment rows x the
                                   // broadcast 1-row (k,n,s,q) totals
    "jackknife_source_influence",  // <=20 per-source moment rows x the
                                   // broadcast 1-row (n,s) totals
    "jackknife_variance")          // same <=20-row LOSO frame x two
                                   // broadcast 1-row scalar frames
                                   // (totals, then the LOSO mean)

  test("no shuffled cartesian anywhere; broadcast NLJ only where bounded") {
    val offenders = SparkEntry.registry.flatMap { q =>
      val plan =
        try q.fn(spark, sfDir).queryExecution.sparkPlan.toString
        catch { case e: Throwable => fail(s"${q.name}: $e") }
      // A shuffle-based cartesian (both sides large) is never acceptable.
      if (plan.contains("CartesianProduct")) Some(s"${q.name} (cartesian)")
      // Broadcast NLJ implies one side is broadcast-small: fine exactly
      // where the query is documented as a bounded product.
      else if (plan.contains("BroadcastNestedLoopJoin") &&
        !boundedProducts(q.name)) Some(s"${q.name} (bnlj)")
      else None
    }
    assert(offenders.isEmpty,
      s"unbounded join shape in: ${offenders.mkString(", ")}")
  }

  test("asof join plans at most two exchanges (pre-agg + window)") {
    // executedPlan (see shuffle-budget audit): exchanges only exist
    // after EnsureRequirements, so sparkPlan always counted zero
    val plan = SparkEntry.registry.find(_.name == "asof_join_latest_ref").get
      .fn(spark, sfDir).queryExecution.executedPlan.toString
    val exchanges = "Exchange (hash|range|Single)".r
      .findAllIn(plan).length
    assert(exchanges <= 2, s"asof join grew to $exchanges exchanges:\n$plan")
  }

  /** Narrow transforms must stay shuffle-free: scan -> project/filter
    * only. An Exchange appearing here means a refactor introduced a
    * repartition/sort that turns a streaming pass into a 100 TB shuffle. */
  private val narrowQueries = Seq(
    "text_normalize", "zorder_cluster", "json_extract_field",
    "json_serialize_record", "filter_min_length", "filter_nonblank",
    "regex_strip_suffix", "prompt_template_concat", "media_metadata",
    "media_resize", "redact_pii", "text_token_count", "text_fingerprint",
    "l2_normalize", "mean_pool_embedding", "truncate_pad_tokens",
    "epoch_format_decimal", "path_key_concat", "split_train_val_test",
    "c4_line_filter", "random_projection_reduce")
    // split_train_val_test has one agg exchange; allow 1 there
  private val narrowAllowance = Map("split_train_val_test" -> 1)

  test("narrow transforms plan zero unexpected exchanges") {
    val offenders = narrowQueries.flatMap { name =>
      // executedPlan, not sparkPlan: EnsureRequirements only inserts
      // Exchange nodes during physical preparation, so counting on
      // sparkPlan sees zero everywhere and the audit is vacuous
      val plan = SparkEntry.registry.find(_.name == name).get
        .fn(spark, sfDir).queryExecution.executedPlan.toString
      val n = "Exchange".r.findAllIn(plan).length
      val cap = narrowAllowance.getOrElse(name, 0)
      if (n > cap) Some(s"$name ($n exchanges, cap $cap)") else None
    }
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  /** Shuffle budgets for the round-5 aggregation/window operators: the
    * documented scale story of each is "N wide stages"; a refactor that
    * adds an Exchange breaks the claim before it breaks a benchmark. */
  private val exchangeBudgets = Map(
    "grouped_ols_trend" -> 1,        // one groupBy(lang)
    "pearson_corr_lang" -> 1,        // same single moment agg
    "two_proportion_ztest" -> 1,     // one 4-counter global agg
    "tpch_q1_pricing" -> 1,          // the canonical single-shuffle agg
    "target_encode_loo" -> 1,        // one lang window
    "feature_hash_vec" -> 1,         // one (doc, bin) agg
    "kfold_assign" -> 1,             // one (lang, fold) agg
    "ewma_halflife" -> 1,            // one user window
    "flesch_reading_grade" -> 0,     // pure projection
    "media_dedup_bytes" -> 1,        // one (digest, len) agg
    "inverted_index_postings" -> 2,  // (doc, term) tf then term
    "gini_length_concentration" -> 2, // per-source rank + agg
    "first_touch_attribution" -> 1,  // one user window
    "gap_time_histogram" -> 2,       // user window + 5-key agg
    "seasonality_profile" -> 3,      // 168-key agg + 1-row share window
    "tpch_q6_forecast_revenue" -> 1, // scan-only predicate agg
    "tpch_q12_priority_by_flag" -> 1, // broadcast orders + one agg
    "tpch_q14_promo_revenue" -> 1,   // broadcast part + one global agg
    "tpch_q18_large_orders" -> 1,    // orderkey self-agg; joins broadcast
    "tpch_q19_bracket_revenue" -> 1, // broadcast part w/ residual + agg
    "tpch_q7_volume_shipping" -> 1,  // year rollup; joins broadcast here
    "tpch_q8_market_share" -> 1,     // year rollup; dims broadcast
    "tpch_q9_profit_rollup" -> 1,    // nation-year rollup
    "tpch_q13_customer_distribution" -> 2, // custkey agg + count re-agg
    "tpch_q17_small_quantity" -> 3,  // partkey agg + join + global agg
    "tpch_q21_waiting_supplier" -> 3, // orderkey agg + supplier agg + sort
    "tpch_q22_sales_opportunity" -> 2, // anti join + code agg
    // batch 53/54 (counts are initial-plan; the scalar-gate shapes
    // q2/q11 re-plan at runtime with a ReusedExchange over the shared
    // partsupp-proxy subtree — asserted in ExchangeReuseSpec)
    "tpch_q2_min_cost_supplier" -> 5,
    "tpch_q11_important_stock" -> 5,
    "tpch_q15_top_supplier" -> 3,    // date-pruned slice aggregated twice
    "tpch_q16_supplier_relationship" -> 3, // proxy + 2-phase distinct
    "tpch_q20_promotion_stock" -> 2, // pair agg + distinct; semi broadcast
    "prefix_cache_sharing" -> 1,     // the one min/max/count hash agg
    "variant_shred_props" -> 1,      // one bounded event-type rollup
    "best_of_n_reward_curve" -> 2,   // tpl window + bounded rollups
    "cross_source_novelty" -> 2,     // gram agg + source rollup
    "dynamic_partition_prune_join" -> 3, // year-dim distinct + fact agg
    "ivf_pq_topk" -> 2)              // 1-partition index agg + qid window

  test("round-5 operators stay inside their documented shuffle budgets") {
    val offenders = exchangeBudgets.toSeq.sortBy(_._1).flatMap {
      case (name, cap) =>
        // executedPlan (see narrow-transform audit): sparkPlan precedes
        // EnsureRequirements and carries no Exchange nodes at all.  The
        // pattern also matches SinglePartition (global aggs) — the old
        // lowercase "single" never matched anything Spark prints.
        val plan = SparkEntry.registry.find(_.name == name).get
          .fn(spark, sfDir).queryExecution.executedPlan.toString
        val n = "Exchange (hash|range|Single)".r.findAllIn(plan).length
        if (n > cap) Some(s"$name ($n shuffles, budget $cap)") else None
    }
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  /** Exchange-free queries execute eagerly (no AdaptiveSparkPlan
    * wrapper), so their executedPlan string carries the codegen stage
    * markers; AQE-wrapped queries only annotate them at runtime, which
    * is why this check targets the narrow scalar paths. */
  test("scalar hot paths run inside whole-stage codegen") {
    Seq("text_normalize", "zorder_cluster", "json_extract_field",
      "media_resize").foreach { name =>
      val plan = SparkEntry.registry.find(_.name == name).get
        .fn(spark, sfDir).queryExecution.executedPlan.toString
      // codegen'd stages print with the *(id) prefix
      assert(plan.contains("*("), s"$name has no WholeStageCodegen span")
    }
  }

  test("parquet aggregate pushdown serves count/min/max from metadata") {
    // aggregate pushdown is a DataSource V2 feature; parquet defaults to
    // the V1 path, so drop it from the V1 list for this read
    withConf("spark.sql.parquet.aggregatePushdown" -> "true",
        "spark.sql.sources.useV1SourceList" -> "") {
      val plan = spark.read.parquet(s"$sfDir/documents.parquet")
        .agg(count(lit(1)), min(col("doc_id")), max(col("doc_id")))
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation"),
        s"no PushedAggregation in:\n$plan")
    }
  }

  test("AQE coalesces shuffle partitions at runtime for small aggs") {
    val q = SparkEntry.registry.find(_.name == "count_by_group").get
      .fn(spark, sfDir)
    q.queryExecution.toRdd.count() // materialize so AQE finalizes
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("AQEShuffleRead") || plan.contains("coalesced"),
      s"expected AQE shuffle coalescing in:\n$plan")
  }

  /** Every rank<=k-over-window query must plan WindowGroupLimit — Spark
    * 4's rank-limit pushdown (partial per-partition top-k BEFORE the
    * shuffle + final after), which bounds both sort width and shuffle
    * volume to k rows per group per partition. This is why the engine
    * has no custom grouped-top-k physical operator: the built-in plans
    * the exact two-phase bounded-heap shape a custom SparkPlan would,
    * and a regression here (e.g. a filter rewritten so the rank
    * predicate no longer matches) silently reverts to full group sorts
    * at 100 TB. */
  test("top-k window queries plan two-phase WindowGroupLimit") {
    Seq("cosine_topk", "knn_graph", "ann_lsh_topk", "limit_topk",
      "topk_terms_per_lang", "sample_fixed_per_group",
      "lateral_topk_per_customer").foreach { // LATERAL decorrelates here
      name =>
        val plan = SparkEntry.registry.find(_.name == name).get
          .fn(spark, sfDir).queryExecution.sparkPlan.toString
        val n = "WindowGroupLimit".r.findAllIn(plan).length
        if (plan.contains("Window")) // rank-based top-k queries only
          assert(n >= 1, s"$name plans Window without WindowGroupLimit")
    }
  }

  /** SQL correlated subqueries must decorrelate: EXISTS/NOT EXISTS plan
    * as one semi + one anti hash join, and the scalar aggregate subquery
    * as a pre-aggregated join — never a per-row subquery re-execution
    * (which would be a correlated nested loop at 100 TB). */
  test("correlated subqueries decorrelate to semi/anti/aggregate joins") {
    val exists = SparkEntry.registry.find(_.name == "exists_correlated").get
      .fn(spark, sfDir).queryExecution.sparkPlan.toString
    assert(exists.contains("LeftSemi"), s"no semi join in:\n$exists")
    assert(exists.contains("LeftAnti"), s"no anti join in:\n$exists")
    val scalar = SparkEntry.registry
      .find(_.name == "scalar_subquery_above_avg").get
      .fn(spark, sfDir).queryExecution.sparkPlan.toString
    assert(scalar.contains("HashAggregate"),
      s"scalar subquery not pre-aggregated:\n$scalar")
    assert(!scalar.contains("CartesianProduct"))
  }

  /** Unhinted equi-joins must pick broadcast under the size threshold
    * and degrade to shuffle (sort-merge/shuffled-hash) when the build
    * side outgrows it — the property that lets the same query text run
    * at sf0.001 and at 100 TB without a rewrite. Explicitly-hinted
    * joins (broadcast(dim)) are pinned choices and exempt. */
  test("unhinted joins flip broadcast -> shuffle with the threshold") {
    val orders = Tables.orders(spark, sfDir)
    val cust = Tables.customer(spark, sfDir)
    def planOf(threshold: String): String =
      withConf("spark.sql.autoBroadcastJoinThreshold" -> threshold) {
        orders.join(cust, orders("o_custkey") === cust("c_custkey"))
          .groupBy(cust("c_nationkey")).count()
          .queryExecution.sparkPlan.toString
      }
    assert(planOf("10485760").contains("BroadcastHashJoin"),
      "small dim did not broadcast under the default threshold")
    val big = planOf("-1")
    assert(!big.contains("BroadcastHashJoin"),
      s"join still broadcasts with threshold disabled:\n$big")
    assert(big.contains("SortMergeJoin") || big.contains("ShuffledHashJoin"),
      s"no shuffle join planned:\n$big")
  }

  /** Column pruning must reach the parquet scan: a narrow projection
    * that drags full rows through the reader is wrong at any scale and
    * fatal at 100 TB. Asserted as exact ReadSchema column sets. */
  private val readSchemas = Map(
    "tpch_q6_forecast_revenue" ->
      Set("l_quantity", "l_extendedprice", "l_discount", "l_shipdate"),
    "tpch_q14_promo_revenue" ->
      Set("l_partkey", "l_extendedprice", "l_discount", "l_shipdate",
        "p_partkey", "p_type"),
    "filter_min_length" -> Set("doc_id", "text"),
    "text_token_count" -> Set("doc_id", "text"),
    "l2_normalize" -> Set("vec_id", "embedding"),
    "count_by_group" -> Set("event_type", "user_id")) // countDistinct(user)

  test("narrow projections prune the parquet ReadSchema to exactly " +
    "the needed columns") {
    val re = "ReadSchema: struct<([^>]*)>".r
    val offenders = readSchemas.toSeq.sortBy(_._1).flatMap {
      case (name, want) =>
        val plan = SparkEntry.registry.find(_.name == name).get
          .fn(spark, sfDir).queryExecution.sparkPlan.toString
        val got = re.findAllMatchIn(plan).flatMap(_.group(1).split(",")
          .map(_.trim.takeWhile(_ != ':')).filter(_.nonEmpty)).toSet
        if (got != want) Some(s"$name: read $got, wanted $want") else None
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  /** Unpartitioned WindowExec moves ALL input rows to one task — the
    * named 100 TB scale-killer. It is tolerable only when the window's
    * input is provably bounded first:
    *
    *  - IN-PLAN: a limit / distributed top-k (TakeOrderedAndProject) /
    *    rank-pushdown WindowGroupLimit below, or a small literal
    *    Range / LocalTableScan leaf. An AGGREGATE below is NOT enough:
    *    per-user / per-token / per-key aggregates still grow with the
    *    corpus, which is how the round-5 rank family hid its global
    *    sorts. Unbounded-domain rank/ntile queries must execute through
    *    ScalableIndex / ScalablePrefix instead.
    *  - BY DOMAIN: queries named in [[boundedDomainWindows]], whose
    *    window input is an aggregate over a domain bounded by VALUES
    *    (value histograms, langs/sources/types, calendar spans, decile
    *    ids), not by corpus size — each with its domain on record.
    */
  private val globalWindowAllowed = Map(
    // reference-fidelity ops whose scalable twin ships alongside and is
    // oracle-proven bit-identical (ScalableIndexSpec): the windowed form
    // IS the §2 reference semantics being demonstrated
    "zip_with_index" -> "S-twin zip_with_index_scalable",
    "ntile_length_buckets" -> "S-twin ntile_length_buckets_scalable")

  test("no unpartitioned WindowExec over unbounded input anywhere " +
    "in the registry") {
    import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec,
      LocalTableScanExec, RangeExec, SparkPlan, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.window.{WindowExec,
      WindowGroupLimitExec}
    def compacted(p: SparkPlan): Boolean = p.exists {
      case _: GlobalLimitExec => true
      case _: LocalLimitExec => true
      case _: TakeOrderedAndProjectExec => true
      case _: WindowGroupLimitExec => true
      // literal parameter grids: bounded at plan time, not data-sized
      case r: RangeExec => r.numElements.isValidLong &&
        r.numElements.toLong <= 10000L
      case t: LocalTableScanExec => t.rows.size <= 10000
      case _ => false
    }
    val allowed = globalWindowAllowed.keySet ++ boundedDomainWindows.keySet
    val offenders = SparkEntry.registry.flatMap { q =>
      val plan = q.fn(spark, sfDir).queryExecution.sparkPlan
      val bad = plan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty && !compacted(w.child) => w
      }
      if (bad.nonEmpty && !allowed(q.name)) Some(q.name) else None
    }
    assert(offenders.isEmpty,
      s"unbounded single-partition window in: ${offenders.mkString(", ")}")
  }

  /** Global-window queries whose input is an aggregate over a
    * VALUE-bounded domain — cardinality pinned by the value space
    * (histogram support, enum columns, calendar span, fixed bucket
    * ids), independent of corpus row count. Kept deliberately explicit:
    * adding a query here is a reviewed claim, not a default. Queries
    * over corpus-scaling domains (users, tokens, partkeys, doc ranks)
    * may NOT appear here — they migrate to ScalableIndex/ScalablePrefix
    * (as the rank family, rfm_segmentation, decile_lift_table,
    * zipf_coverage_curve, skyline_pareto, abc_part_classification did). */
  private lazy val boundedDomainWindows: Map[String, String] = Map(
    "length_outlier_filter" -> "distinct per-doc token counts (<= max doc len)",
    "benford_first_digit" -> "9 leading digits",
    "class_balance_downsample" -> "lang enum",
    "token_budget_by_split" -> "3 train/val/test splits",
    "shuffle_skew_profile" -> "fixed shuffle partition ids",
    "decile_lift_table" -> "10 decile ids (user rank itself is ScalableIndex)",
    "seasonality_profile" -> "168 hour-of-week cells",
    "churn_hazard_table" -> "day offsets within the fixture horizon",
    "neyman_allocation" -> "lang strata",
    "quantile_sketch_merge" -> ("n_chars/16 histogram buckets " +
      "(exact-rank side is ScalableIndex)"),
    "kaplan_meier_retention" -> "day durations within the horizon",
    "ann_probe_cost_curve" -> "k=8 centroid clusters",
    "mixture_token_budget_planner" -> "source enum",
    "power_user_curve" -> "distinct active-day counts (<= horizon days)",
    "lorenz_user_concentration" -> "10 decile ids (user rank is ScalableIndex)",
    "order_backlog_daily" -> "calendar days in the fixture span")

  /** An ENUM-partitioned WindowExec — partitionSpec consisting only of
    * bounded-enum columns (lang/source/split/event_type/...) — divides
    * the corpus by a CONSTANT, not by data size: at the 100 TB north
    * star that is corpus/|enum| rows funneled through a handful of
    * window tasks, the same scale-killer as the unpartitioned window
    * merely divided by five. The same tolerances as the global
    * invariant apply: in-plan compaction below the window (limit /
    * top-k / WindowGroupLimit / literal leaf), or a reviewed
    * [[enumWindowAllowed]] entry whose window input is an aggregate
    * over a VALUE-bounded domain (so rows-per-group is pinned by the
    * value space, not corpus size). Everything else migrates to
    * ScalableGroups (range exchange over the total order + broadcast
    * per-group offsets — ScalableGroupsSpec pins exact window parity).
    */
  private val enumPartitionCols = Set("lang", "source", "split",
    "event_type", "l_returnflag", "l_linestatus", "o_orderstatus",
    "o_orderpriority", "c_mktsegment", "r_name", "n_name", "status",
    "half", "variant", "bucket_kind", "model", "segment",
    // round-7 census additions: every other bounded-enum partition
    // column found by a grep over Window.partitionBy call sites
    "label", "tier", "col_name", "snap", "dow")

  test("no enum-partitioned WindowExec over unbounded input anywhere " +
    "in the registry") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec,
      LocalTableScanExec, RangeExec, SparkPlan, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.window.{WindowExec,
      WindowGroupLimitExec}
    def compacted(p: SparkPlan): Boolean = p.exists {
      case _: GlobalLimitExec => true
      case _: LocalLimitExec => true
      case _: TakeOrderedAndProjectExec => true
      case _: WindowGroupLimitExec => true
      case r: RangeExec => r.numElements.isValidLong &&
        r.numElements.toLong <= 10000L
      case t: LocalTableScanExec => t.rows.size <= 10000
      case _ => false
    }
    def enumOnly(w: WindowExec): Boolean =
      w.partitionSpec.nonEmpty && w.partitionSpec.forall {
        case a: Attribute => enumPartitionCols(a.name)
        case _ => false
      }
    val offenders = SparkEntry.registry.flatMap { q =>
      val plan = q.fn(spark, sfDir).queryExecution.sparkPlan
      val bad = plan.collect {
        case w: WindowExec if enumOnly(w) && !compacted(w.child) => w
      }
      if (bad.nonEmpty && !enumWindowAllowed.contains(q.name))
        Some(q.name)
      else None
    }
    assert(offenders.isEmpty,
      s"enum-partitioned window over unbounded input in: " +
        offenders.mkString(", "))
  }

  /** Enum-partitioned-window queries whose window input is an
    * aggregate over a VALUE-bounded domain — rows per enum group
    * pinned by the value space, independent of corpus row count.
    * Reviewed claims, same contract as [[boundedDomainWindows]].
    * (The former row-level members — percent_rank_cume, gini, spearman,
    * kendall/theil-sen samples, fuzzy_match_jw, pack_sequences,
    * compaction_packing_plan, target_encode_loo, quantile_normalize,
    * blocking_sorted_neighborhood, mad_outlier_flag,
    * weighted_median_length — migrated to ScalableGroups/ScalableIndex
    * and may NOT return here.) */
  private lazy val enumWindowAllowed: Map[String, String] = Map(
    "ipf_raking" -> "lang x source cells (<= |lang|*|source| rows)",
    "t_closeness_audit" ->
      "lang x source x 10 fixed length bins per class",
    "seasonal_naive_eval" ->
      "per-(event_type, day) counts: |types| x fixture-horizon days",
    "weekly_autocorr_strength" ->
      "per-(event_type, day) counts: |types| x fixture-horizon days",
    "runs_test_randomness" ->
      "per-(event_type, day) counts: |types| x fixture-horizon days",
    "durbin_watson_daily" ->
      "per-(event_type, day) counts: |types| x fixture-horizon days",
    "max_drawdown_daily" ->
      "per-(event_type, day) counts: |types| x fixture-horizon days",
    "schema_drift_detect" ->
      ("per-(snap, col_name, v) counts: window input is the " +
        "aggregated value histogram, bounded by the value domain"),
    "anomaly_dow_baseline" ->
      "per-day counts: |dow| x fixture-horizon days")

  test("no registry query's analyzed plan exceeds the node budget") {
    // The failure class this locks out: iterative DataFrame loops that
    // reference their predecessor k times per round build k^rounds-node
    // trees — ANALYSIS alone OOMs the driver before a single task runs
    // (observed live: the NN-descent build pre-checkpoint took the
    // whole ann_graph_hier_topk query down with `Java heap space` at
    // 8 GiB driver heap; persist() does not help because CacheManager
    // dedups execution, not the analyzed tree). Iterative constructions
    // must truncate lineage per round (parquet checkpoint like
    // nnDescentEdges, localCheckpoint like the CC fixpoint). The budget
    // is ~4x the widest legitimate plan in the registry (the unrolled
    // beam rounds of ann_graph_topk, 662 nodes at last measure), so
    // growth shows up as a reviewed decision here, while any
    // exponential blowup (which jumps to 1e5+ nodes) trips it
    // unmissably.
    val budget = 2500
    val sizes = SparkEntry.registry.map { q =>
      q.name -> q.fn(spark, sfDir).queryExecution.analyzed
        .collect { case _ => 1 }.size
    }
    val worst = sizes.sortBy(-_._2).take(5)
      .map { case (n, c) => s"$n=$c" }.mkString(", ")
    info(s"largest analyzed plans: $worst")
    val offenders = sizes.collect { case (n, c) if c > budget => s"$n=$c" }
    assert(offenders.isEmpty,
      s"analyzed plan over $budget nodes (exponential lineage?): " +
        offenders.mkString(", "))
  }

  test("filters reach the parquet scan for the pruned-scan query") {
    val plan = SparkEntry.registry.find(_.name == "partition_pruned_scan").get
      .fn(spark, sfDir).queryExecution.sparkPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "GreaterThanOrEqual(l_shipdate"), plan)
  }
}
