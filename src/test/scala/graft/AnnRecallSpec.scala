package graft

import org.apache.spark.sql.functions._

/** Recall evaluation of the approximate-nearest-neighbor paths against
  * the brute-force ground truth — the eval harness a 100 TB deployment
  * runs before trusting an index. The oracle pins each query's OUTPUT;
  * this pins the RELATIONSHIP between the approximate and exact
  * operators, which no single-query check can see. */
class AnnRecallSpec extends SparkSpec with TempDirs {

  private def byName(name: String) =
    SparkEntry.registry.find(_.name == name).get.fn(spark, sfDir)

  /** exact top-5 neighbor set per query from the brute-force ranking */
  private lazy val exact: Map[Long, Set[Long]] =
    byName("cosine_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }

  test("IVF top-k recall@5 against brute force is usable and measured") {
    val ivf = byName("ann_ivf_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    // every IVF query id must exist in the exact ranking
    assert(ivf.keySet.subsetOf(exact.keySet))
    val hits = ivf.map { case (q, approx) =>
      (approx intersect exact(q)).size
    }.sum
    val total = ivf.size * 5
    val recallPermille = 1000L * hits / total
    // nprobe covers a fraction of 8 centroids over RANDOM 64-dim
    // vectors (no cluster structure — the hardest case for IVF):
    // measured 360 permille at sf0.001; random routing would land near
    // 5/500 = 10 permille. Floor at 250 to catch routing regressions
    // without overfitting the fixture draw.
    assert(recallPermille >= 250L,
      s"IVF recall@5 = $recallPermille permille")
  }

  test("graph ANN (NSW beam search) recall@3 against brute force is " +
    "usable and measured") {
    // exact top-3 ground truth over the same <300 corpus slice the
    // graph indexes (cosine_topk ranks the FULL table and includes
    // self-matches, so brute-force the slice directly)
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorOps.cosine
    val e3 = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 300)
    val exact3 = broadcast(e3.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe")))
      .crossJoin(e3.select(col("vec_id").as("cid"),
        col("embedding").as("ce")))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), cosine(col("qe"), col("ce")).as("c"))
      .withColumn("r", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("c").desc, col("cid"))))
      .filter(col("r") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val graph = byName("ann_graph_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    assert(graph.nonEmpty)
    // every query returns exactly 3 ranked neighbors from the slice
    graph.foreach { case (q, ns) =>
      assert(ns.size === 3, s"query $q returned ${ns.size} neighbors")
      assert(!ns.contains(q))
    }
    val scored = graph.filter { case (q, _) => exact3.contains(q) }
    val hits = scored.map { case (q, approx) =>
      (approx intersect exact3(q)).size }.sum
    val total = scored.map { case (q, _) => exact3(q).size }.sum
    val recallPermille = if (total == 0) 0L else 1000L * hits / total
    // a k=3 graph over 300 RANDOM 64-dim vectors is the hardest
    // navigability case (no cluster structure, tiny degree); random
    // guessing lands near 3/300 = 10 permille. Floor low enough to be
    // draw-stable, high enough to catch a broken expansion.
    assert(recallPermille >= 100L,
      s"graph ANN recall@3 = $recallPermille permille")
    // the assembled pipeline (NN-descent graph + centroid-routed
    // entries + the same beam search) must clear the same floor and
    // return well-formed top-3 sets — it searches the BUILT graph,
    // not the exact one, so its recall is measured, not assumed
    spark.catalog.clearCache() // hier persists its graph (contract)
    val hier = byName("ann_graph_hier_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q2, rs) => q2 -> rs.map(_._2).toSet }
    spark.catalog.clearCache()
    assert(hier.nonEmpty)
    hier.foreach { case (q2, ns) =>
      assert(ns.size === 3 && !ns.contains(q2), s"query $q2 malformed")
    }
    val hScored = hier.filter { case (q2, _) => exact3.contains(q2) }
    val hHits = hScored.map { case (q2, approx) =>
      (approx intersect exact3(q2)).size }.sum
    val hTotal = hScored.map { case (q2, _) => exact3(q2).size }.sum
    val hRecall = if (hTotal == 0) 0L else 1000L * hHits / hTotal
    assert(hRecall >= 100L,
      s"hierarchical graph ANN recall@3 = $hRecall permille")
  }

  test("NN-descent graph build converges toward the exact kNN graph, " +
    "monotone every round") {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorOps.cosine
    // exact top-3 edges over the slice (the ground truth the
    // construction approaches)
    val e3 = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 300)
    val base = e3.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val exact = base.as("x").join(broadcast(base.as("y")),
        col("x.cid") =!= col("y.cid"))
      .select(col("x.cid").as("src"), col("y.cid").as("dst"),
        cosine(col("x.ce"), col("y.ce")).as("c"))
      .withColumn("r", row_number().over(Window.partitionBy(col("src"))
        .orderBy(col("c").desc, col("dst"))))
      .filter(col("r") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // driver replay of the rounds (exact same construction as the
    // query, tie-breaks included) to observe EVERY round's recall
    val vecs = base.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cosD(a: Array[Float], b: Array[Float]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dp += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble; i += 1
      }
      dp / (math.sqrt(na) * math.sqrt(nb))
    }
    def topK(cands: Set[(Long, Long)], k: Int): Set[(Long, Long)] =
      // .toSeq before flatMap: flatMap on a Map yielding tuples would
      // rebuild a Map and silently keep ONE edge per src
      cands.filter(p => p._1 != p._2).groupBy(_._1).toSeq.flatMap {
        case (src, ps) => ps.toSeq
          .map { case (_, dst) => (dst, cosD(vecs(src), vecs(dst))) }
          .sortBy { case (dst, c) => (-c, dst) }.take(k)
          .map { case (dst, _) => (src, dst) }
      }.toSet
    val n = 300L
    var g = topK((for (s0 <- 0L until n; o <- Seq(1L, 7L, 31L, 73L, 151L))
      yield (s0, (s0 + o) % n)).toSet, 5)
    var prevRecall = (g intersect exact).size
    (1 to 4).foreach { round =>
      val fwd = for ((a, b) <- g; (b2, c) <- g if b2 == b) yield (a, c)
      val rev = for ((a, b) <- g; (a2, b2) <- g if b2 == b) yield (a, a2)
      g = topK(g ++ fwd ++ rev, 5)
      val rec = (g intersect exact).size
      assert(rec > prevRecall,
        s"round $round recall $rec did not improve on $prevRecall")
      prevRecall = rec
    }
    // the query's output is the driver replay's final graph exactly
    val got = byName("knn_graph_nn_descent").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === g)
    // and it ends far above the similarity-blind seed baseline
    assert(prevRecall >= 300,
      s"final exact-edge recall $prevRecall/900 below floor")
  }

  test("hier beam search recall/touch curve across beam in {4, 8, 16}: " +
    "wider beams buy recall at bounded linear cost") {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorOps.cosine
    import graft.queries.Curation56Queries
    // exact top-3 ground truth over the indexed slice
    val e = Curation56Queries.hierCorpus(spark, sfDir)
    val q = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val exact3 = broadcast(q).crossJoin(e)
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), cosine(col("qe"), col("ce")).as("c"))
      .withColumn("r", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("c").desc, col("cid"))))
      .filter(col("r") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).toSet }
    val und = Curation56Queries.hierAdjacency(spark, sfDir).persist()
    val curve = Seq(4, 8, 16).map { b =>
      val got = Curation56Queries.hierBeamSearch(q, e, und, 3, b)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).toSet }
      // well-formed at every width: 3 non-self neighbors per query
      got.foreach { case (k, ns) =>
        assert(ns.size === 3 && !ns.contains(k), s"beam $b query $k")
      }
      val hits = got.map { case (k, a) => (a intersect exact3(k)).size }.sum
      b -> 1000L * hits / (got.size * 3)
    }
    spark.catalog.clearCache()
    info(s"recall@3 permille by beam: $curve")
    val byBeam = curve.toMap
    // every width must clear the usable floor (random ~ 10 permille)
    curve.foreach { case (b, r) =>
      assert(r >= 100L, s"beam $b recall $r below floor")
    }
    // the tradeoff the width knob exists for: the widest beam must not
    // recall WORSE than the narrowest (strict per-step monotonicity is
    // not a theorem for beam search, so only the span is pinned)
    assert(byBeam(16) >= byBeam(4),
      s"beam 16 recall ${byBeam(16)} below beam 4 ${byBeam(4)}")
    // and the default (8) is the documented operating point: already
    // at-or-near the wide-beam recall on this fixture
    assert(byBeam(8) >= byBeam(4),
      s"default beam 8 recall ${byBeam(8)} below beam 4 ${byBeam(4)}")
  }

  test("hier beam recall curve on a CLUSTERED corpus — the deployment " +
    "case: the default beam is justified where data has neighborhood " +
    "structure") {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorOps.cosine
    import graft.queries.Curation56Queries
    import spark.implicits._
    // 10 well-separated clusters of 30 vectors, fully deterministic:
    // cluster c's center peaks (value 10) on coordinates d % 10 == c
    // with small per-cluster texture elsewhere; per-vector noise is
    // +/-0.9 max — tight clusters, the shape real embedding corpora
    // (and this engine's kmeans family) actually have, versus the
    // uniform-random slice which is the navigability WORST case.
    val dim = 64
    def vec(i: Int): Seq[Float] = {
      val c = i / 30
      Seq.tabulate(dim) { d =>
        val center =
          if (d % 10 == c) 10f else ((c * 37 + d * 11) % 7).toFloat
        // hash-scrambled noise: a LINEAR pattern in (i, d) makes
        // intra-cluster similarity a function of i - j alone, i.e. a
        // circulant ring whose kNN graph has chain diameter — the
        // scramble decorrelates vectors so each cluster's graph is an
        // expander, the structure real embedding neighborhoods have
        val h = i.toLong * 2654435761L + d.toLong * 40503L
        val n = java.lang.Math.floorMod(h ^ (h >>> 13), 1001L) - 500L
        center + n * 0.002f
      }
    }
    val clustered = (0 until 300).map(i => (i.toLong, vec(i)))
      .toDF("cid", "ce").persist()
    // the SHIPPING construction, not a replica: same NN-descent build
    // the registry materializes, over this corpus
    val base = tempDir("graft_ann_clustered")
    Curation56Queries.nnDescentOver(spark, clustered, base, 300L)
    val edges = spark.read.parquet(s"$base/r4")
    val und = edges.unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().persist()
    // one query per cluster
    val q = clustered.filter(pmod(col("cid"), lit(30)) === 0)
      .select(col("cid").as("qid"), col("ce").as("qe"))
    val exact3 = broadcast(q).crossJoin(clustered)
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), cosine(col("qe"), col("ce")).as("c"))
      .withColumn("r", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("c").desc, col("cid"))))
      .filter(col("r") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).toSet }
    val curve = Seq(4, 8, 16).map { b =>
      val got = Curation56Queries.hierBeamSearch(q, clustered, und, 3, b)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).toSet }
      got.foreach { case (k, ns) =>
        assert(ns.size === 3 && !ns.contains(k), s"beam $b query $k")
      }
      val hits = got.map { case (k, a) => (a intersect exact3(k)).size }.sum
      b -> 1000L * hits / (got.size * 3)
    }
    spark.catalog.clearCache()
    info(s"CLUSTERED recall@3 permille by beam: $curve")
    val byBeam = curve.toMap
    // pinned from measurement on this fully deterministic fixture
    // (966/1000/1000 — see PLANS.md): on clustered data the DEFAULT
    // beam 8 is EXACT and 16 buys nothing, while the narrow beam
    // already drops — the operating-point justification the
    // random-slice curve (worst case, measured 166/400/533) cannot
    // give.  Together: default 8 sits past the knee on deployment-
    // shaped data; widening helps only the adversarial random case.
    assert(byBeam(8) === 1000L,
      s"default beam 8 recall ${byBeam(8)} on clustered data")
    assert(byBeam(16) === 1000L,
      s"beam 16 recall ${byBeam(16)} on clustered data")
    assert(byBeam(4) >= 900L,
      s"narrow-beam recall collapsed: ${byBeam(4)}")
    ()
  }

  test("LSH top-k output is structurally sound per query") {
    val lsh = byName("ann_lsh_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(lsh.nonEmpty)
    val corpus = Tables.embeddings(spark, sfDir)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    lsh.foreach { case (q, n, _, _, _) =>
      assert(corpus.contains(n) && n != q)
    }
    lsh.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._4)
      // ranks consecutive from 1, at most k=3, one bucket per query,
      // scores non-increasing in rank (exact cosine within the bucket)
      assert(sorted.map(_._4).toSeq == (1L to sorted.length).toSeq)
      assert(sorted.length <= 3)
      assert(sorted.map(_._3).distinct.length == 1, s"query $q buckets")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._5 >= b._5, s"query $q score order")
        case _ =>
      }
    }
    // single-table sign-LSH on random 64-dim vectors is NOT expected to
    // recover the global top-5 (per-plane agreement ~0.6^planes); the
    // measured overlap is reported by AnnRecallSpec's IVF test pattern
    // but not floored — the banding variant that does chase recall is
    // dedup_minhash_lsh's multi-band construction.
  }

  test("the maintained index still serves: search after delete+repair " +
    "clears the recall floor") {
    // ann_index_delete's output is not just rows — APPLY it: drop every
    // edge touching a deleted node from the written graph, add the
    // refill edges, and run the same routed beam search the serving
    // path uses over the repaired adjacency. The repaired index must
    // (a) never surface a deleted node and (b) clear the same recall
    // floor as the intact graph on the surviving queries — the check a
    // deployment runs before swapping in a maintained index.
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorOps.cosine
    import graft.queries.Curation56Queries
    val deleted = (0 until 300 by 50).map(_ + 3L) // vec_id % 50 == 3
    val g = Curation56Queries.nnDescentEdges(spark, sfDir)
    val surv = g.filter(!col("src").isin(deleted: _*) &&
      !col("dst").isin(deleted: _*))
    val refill = byName("ann_index_delete")
      .select(col("src"), col("new_dst").as("dst"))
    val repaired = surv.unionByName(refill)
    val und = repaired.unionByName(
        repaired.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val live = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 300 && !col("vec_id").isin(deleted: _*))
    val e = live.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val q = live.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val served = Curation56Queries.hierBeamSearch(q, e, und)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(served.nonEmpty)
    assert(served.forall { case (_, cid) => !deleted.contains(cid) },
      "repaired index surfaced a deleted node")
    val got = served.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    got.foreach { case (qid, ns) =>
      assert(ns.size === 3 && !ns.contains(qid), s"query $qid malformed")
    }
    // exact top-3 over the LIVE slice (deleted nodes are not valid
    // answers after deletion, so ground truth excludes them too)
    val exact3 = broadcast(q).crossJoin(e)
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), cosine(col("qe"), col("ce")).as("c"))
      .withColumn("r", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("c").desc, col("cid"))))
      .filter(col("r") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val hits = got.collect { case (qid, approx) if exact3.contains(qid) =>
      (approx intersect exact3(qid)).size }.sum
    val total = got.collect { case (qid, _) if exact3.contains(qid) =>
      exact3(qid).size }.sum
    val recall = if (total == 0) 0L else 1000L * hits / total
    assert(recall >= 100L,
      s"post-repair graph ANN recall@3 = $recall permille")
  }

  test("the consolidated index interlinks inserted nodes and serves " +
    "the widened corpus above the recall floor") {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorOps.cosine
    import graft.queries.Curation56Queries
    val edges = byName("ann_index_consolidate")
      .select(col("src"), col("dst"))
    spark.catalog.clearCache()
    // the motivating property: consolidation produces edges BETWEEN
    // inserted nodes (>= 300) — the class per-batch deltas cannot
    val interlinks = edges
      .filter(col("src") >= 300L && col("dst") >= 300L).count()
    assert(interlinks > 0L,
      "consolidation produced no inserted-node interlinks")
    // and the refreshed graph must serve the WIDENED corpus: same
    // routed beam search, ground truth now includes inserted nodes
    val und = edges.unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val wide = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 320)
    val e = wide.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val q = wide.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val served = Curation56Queries.hierBeamSearch(q, e, und)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    served.foreach { case (qid, ns) =>
      assert(ns.size === 3 && !ns.contains(qid), s"query $qid malformed")
    }
    val exact3 = broadcast(q).crossJoin(e)
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), cosine(col("qe"), col("ce")).as("c"))
      .withColumn("r", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("c").desc, col("cid"))))
      .filter(col("r") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val hits = served.collect { case (qid, ap) if exact3.contains(qid) =>
      (ap intersect exact3(qid)).size }.sum
    val total = served.collect { case (qid, _) if exact3.contains(qid) =>
      exact3(qid).size }.sum
    val recall = if (total == 0) 0L else 1000L * hits / total
    assert(recall >= 100L,
      s"post-consolidation graph ANN recall@3 = $recall permille")
  }
}
