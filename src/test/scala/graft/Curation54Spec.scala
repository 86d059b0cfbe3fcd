package graft

import org.apache.spark.sql.functions._

/** Batch-54 invariants: exact replay of the prefix-cache planner and
  * the LCP(min,max) identity it relies on. */
class Curation54Spec extends SparkSpec with TempDirs {

  private def byName(name: String) =
    SparkEntry.registry.find(_.name == name).get.fn(spark, sfDir)

  private def lcp(a: String, b: String): Int =
    a.zip(b).takeWhile { case (x, y) => x == y }.size

  test("prefix_cache_sharing: exact replay; LCP(min,max) equals the " +
    "all-members LCP on every group") {
    val texts = Tables.documents(spark, sfDir)
      .select(col("text")).collect().map(_.getString(0)).toSeq
    val groups = texts.groupBy(_.take(12)).filter(_._2.size >= 2)
    val expected = groups.map { case (tpl, ts) =>
      val l = math.min(64, lcp(ts.min, ts.max)).toLong
      (tpl, ts.size.toLong, l, (ts.size - 1) * l)
    }.toSet
    val got = byName("prefix_cache_sharing").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got === expected)
    assert(got.nonEmpty)
    // the algebraic identity the plan rests on: pairwise-all LCP ==
    // LCP of the lexicographic extremes
    groups.foreach { case (_, ts) =>
      val viaExtremes = lcp(ts.min, ts.max)
      val viaAll = ts.map(_.toVector).reduce { (a, b) =>
        a.zip(b).takeWhile { case (x, y) => x == y }.map(_._1)
      }.size
      assert(viaExtremes === viaAll)
    }
    // every group's LCP is at least the 12-char template key
    got.foreach { case (_, _, l, _) => assert(l >= 12L) }
  }

  test("variant_shred_props: VARIANT extraction agrees with the " +
    "string-path get_json_object on every event; variant laws hold") {
    val cmp = Tables.events(spark, sfDir)
      .select(
        expr("variant_get(parse_json(props), '$.k', 'bigint')").as("vk"),
        expr("CAST(get_json_object(props, '$.k') AS BIGINT)").as("jk"),
        expr("schema_of_variant(parse_json(props))").as("sch"),
        expr("try_variant_get(parse_json(props), '$.missing', 'bigint')")
          .as("miss"))
    assert(cmp.filter(not(col("vk") <=> col("jk"))).count() === 0L)
    // the inferred variant schema names the k field with an integral type
    val schemas = cmp.select(col("sch")).distinct()
      .collect().map(_.getString(0))
    assert(schemas.forall(s0 => s0.contains("k") &&
      (s0.contains("BIGINT") || s0.contains("INT"))))
    // absent paths are null, not an error (try_variant_get)
    assert(cmp.filter(col("miss").isNotNull).count() === 0L)
    // the registry rollup conserves the total count of extracted keys
    val rolled = SparkEntry.registry.find(_.name == "variant_shred_props")
      .get.fn(spark, sfDir).agg(sum(col("n_with_k"))).collect()
      .head.getLong(0)
    assert(rolled === cmp.filter(col("vk").isNotNull).count())
  }

  test("best_of_n_reward_curve: brute-force subset enumeration replay") {
    // deterministic md5 pseudo-rewards, recomputed driver-side
    val rewards = Tables.documents(spark, sfDir)
      .select(substring(col("text"), 1, 12).as("tpl"),
        pmod(conv(substring(md5(col("text")), 1, 8), 16, 10)
          .cast("long"), lit(1000000L)).as("reward"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val groups = rewards.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def comb(n: Int, k: Int): Long =
      if (k < 0 || k > n) 0L
      else (1 to k).foldLeft(1L)((acc, j) => acc * (n - k + j) / j)
    val expected = Seq(1, 2, 4).flatMap { n =>
      // exact E[max of n] per group by literal subset enumeration
      val evs = groups.values.filter(_.size >= n).map { rs =>
        // index the members so .combinations enumerates positional
        // subsets (it dedups equal elements otherwise)
        val subsets = rs.zipWithIndex.combinations(n)
          .map(_.map(_._1).max).toSeq
        subsets.sum / comb(rs.size, n)
      }.toSeq
      if (evs.isEmpty) None
      else Some((n.toLong, evs.size.toLong, evs.sum / evs.size))
    }.toSet
    val got = byName("best_of_n_reward_curve").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected)
    assert(got.size === 3)
  }

  test("hll_sketch_union_cardinality: merge laws — union of per-type " +
    "sketches equals the one-shot sketch and the exact count") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sfDir)
    val oneShot = ev.agg(
      expr("hll_sketch_estimate(hll_sketch_agg(user_id))")).collect()
      .head.getLong(0)
    val viaUnion = ev.groupBy(col("event_type"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")).collect()
      .head.getLong(0)
    val exact = ev.select(col("user_id")).distinct().count()
    assert(viaUnion === oneShot)    // merge = one-pass (register maxes)
    assert(oneShot === exact)       // sparse regime: estimate is exact
    // and the registry query's _all row carries the same number
    val allRow = byName("hll_sketch_union_cardinality")
      .filter(col("event_type") === "_all").collect().head.getLong(1)
    assert(allRow === exact)
    // the deployment story: sketch BLOBS survive a parquet round-trip
    // and merge later without touching the events again
    val dir = tempDir("graft_hll")
    ev.groupBy(col("event_type"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      .write.mode("overwrite").parquet(dir)
    val reloaded = spark.read.parquet(dir)
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")).collect()
      .head.getLong(0)
    assert(reloaded === exact)
  }
}
