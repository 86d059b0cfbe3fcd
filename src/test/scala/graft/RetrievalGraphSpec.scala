package graft

import org.apache.spark.sql.functions._

/** Semantic invariants of the retrieval-index and graph-analytics
  * operators: handshake laws, independent driver-side recomputation on
  * the bounded kNN slice, and positional-hit verification. */
class RetrievalGraphSpec extends SparkSpec {

  private def byName(name: String) =
    SparkEntry.registry.find(_.name == name).get.fn(spark, sfDir)

  /** Undirected edge set of the bounded kNN graph, via the oracle-checked
    * knn_graph query (same construction GraphQueries uses). */
  private lazy val undEdges: Set[(Long, Long)] =
    byName("knn_graph").select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .map { case (s, d) => (math.min(s, d), math.max(s, d)) }.toSet

  private lazy val adj: Map[Long, Set[Long]] = {
    val sym = undEdges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    sym.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
  }

  test("inverted_index_postings: heads sorted, bounded by df, df consistent") {
    val idx = byName("inverted_index_postings").collect()
    assert(idx.nonEmpty)
    idx.foreach { r =>
      val df = r.getLong(1)
      // postings_head is CSV-stringified for driver-side sortability
      val head = r.getString(3).split(',').toSeq.map(_.toLong)
      assert(df >= 2)
      assert(head.length == math.min(df, 8L).toInt)
      assert(head == head.sorted)
      assert(r.getLong(2) >= df) // tf_total >= df (each doc contributes >=1)
    }
    // independent df recount for the lexicographically first term
    val tok = idx.map(_.getString(0)).min
    val expectDf = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(col("t") === tok).select(col("t")).count()
    // df counts distinct docs; recount distinct
    val expectDfDocs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .filter(col("t") === tok).distinct().count()
    assert(idx.find(_.getString(0) == tok).get.getLong(1) == expectDfDocs)
    assert(expectDf >= expectDfDocs)
  }

  test("phrase_bigram_search: every hit is a real positional occurrence " +
    "of one single bigram") {
    val hits = byName("phrase_bigram_search").collect()
    assert(hits.nonEmpty)
    val bigrams = hits.map(_.getString(2)).distinct
    assert(bigrams.length == 1, s"expected one phrase, got ${bigrams.length}")
    val phrase = bigrams.head.split(" ")
    val texts = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("toks")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    hits.foreach { r =>
      val toks = texts(r.getLong(0))
      val pos = r.getLong(1).toInt // 1-based
      assert(toks(pos - 1) == phrase(0) && toks(pos) == phrase(1),
        s"doc ${r.getLong(0)} pos $pos is not '${bigrams.head}'")
    }
    // completeness: total hit count equals a direct occurrence count
    val expect = texts.values.map(_.sliding(2).count(w =>
      w.length == 2 && w(0) == phrase(0) && w(1) == phrase(1))).sum
    assert(hits.length == expect)
  }

  test("idf_weighted_jaccard: bounded permille, exact dups score 1000") {
    val rows = byName("idf_weighted_jaccard").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val wj = r.getLong(2)
      assert(wj >= 0 && wj <= 1000, s"wj_permille $wj out of range")
    }
    // an exact duplicate (doc_id + 2000000, same text) has an identical
    // shingle set -> weighted jaccard exactly 1000
    val exact = rows.filter(r => r.getLong(1) == r.getLong(0) + 2000000L)
    assert(exact.nonEmpty, "no exact-dup pair surfaced")
    exact.foreach(r => assert(r.getLong(2) == 1000L))
  }

  test("shingle_containment_pairs: prefix truncations are fully contained " +
    "from the short side") {
    val rows = byName("shingle_containment_pairs").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 1000)
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 1000)
    }
    // a near-dup (+1000000) is a 90%-CHARACTER-prefix truncation: all its
    // shingles except the <=4 spanning the cut's partial word appear in
    // the original, so short-side containment is high (but not 1000) and
    // dominates the long-side ratio
    val nearDups = rows.filter(r => r.getLong(0) < 1000000L &&
      r.getLong(1) == r.getLong(0) + 1000000L)
    assert(nearDups.nonEmpty, "no near-dup pair surfaced")
    nearDups.foreach { r =>
      assert(r.getLong(3) >= 850L,
        s"pair (${r.getLong(0)},${r.getLong(1)}) containment_b=${r.getLong(3)}")
      assert(r.getLong(3) >= r.getLong(2),
        "short-side containment must dominate")
    }
    // and symmetric Jaccard on the same pair is strictly lower than the
    // short-side containment (the signal containment exists to add)
    val exact = rows.filter(r => r.getLong(1) == r.getLong(0) + 2000000L)
    exact.foreach { r =>
      assert(r.getLong(2) == 1000L && r.getLong(3) == 1000L)
    }
  }

  test("graph_degree_distribution: handshake law and degree bounds") {
    val dist = byName("graph_degree_distribution").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val massSum = dist.map { case (deg, n) => deg * n }.sum
    assert(massSum == 2L * undEdges.size)
    assert(dist.map(_._2).sum == adj.size)
    // kNN out-degree 3: undirected degree in [3, 2k] is not a law for
    // dst-only nodes, but min degree must be >= 1 and src nodes >= 3
    assert(dist.map(_._1).min >= 1)
  }

  test("label_propagation_communities matches 2-step min-label recompute") {
    val got = byName("label_propagation_communities").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nodes = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 300).select(col("vec_id"))
      .collect().map(_.getLong(0))
    var lbl = nodes.map(v => v -> v).toMap
    for (_ <- 1 to 2) {
      lbl = lbl.map { case (v, l) =>
        val nb = adj.getOrElse(v, Set.empty).map(lbl)
        v -> (nb + l).min
      }
    }
    assert(got == lbl)
  }

  test("knn_bfs_hops matches a driver BFS; hop layers are sound") {
    val got = byName("knn_bfs_hops").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nodes = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 300).select(col("vec_id"))
      .collect().map(_.getLong(0))
    // driver BFS from the seed set, depth-capped at 4
    var dist = nodes.filter(_ % 40 == 0).map(_ -> 0L).toMap
    for (h <- 1L to 4L) {
      val frontier = dist.collect { case (v, d0) if d0 == h - 1 => v }
      val next = frontier.flatMap(v => adj.getOrElse(v, Set.empty))
        .filterNot(dist.contains)
      dist = dist ++ next.map(_ -> h)
    }
    val expected = nodes.map(v => v -> dist.getOrElse(v, -1L)).toMap
    assert(got === expected)
    // soundness: every hop-h node (h>0) has a neighbor at hop h-1
    got.foreach { case (v, h) =>
      if (h > 0) assert(adj.getOrElse(v, Set.empty)
        .exists(u => got(u) == h - 1))
    }
    assert(got.values.exists(_ > 0L)) // expansion actually happened
  }

  test("knn_bfs_recursive_sql (WITH RECURSIVE / UnionLoop) matches the " +
    "superstep twin row for row") {
    val sup = byName("knn_bfs_hops").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rec = byName("knn_bfs_recursive_sql").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rec === sup)
  }

  test("connected_components_largestar: edges never cross components, " +
    "roots are component minima") {
    val (cc, log) = JobLog.during(spark.sparkContext)(
      byName("connected_components_largestar"))
    // the fixpoint loop runs no job besides its eager checkpoints: the
    // convergence count arrives with each checkpoint's own job
    assert(log.jobs.nonEmpty)
    assert(log.jobSites.forall(_.exists(
      _.startsWith("localCheckpoint at graph.scala:"))), log.jobSites)
    val lbl = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    undEdges.foreach { case (a, b) =>
      assert(lbl(a) == lbl(b), s"edge ($a,$b) crosses components")
    }
    // each component's label is the minimum member id, and the root
    // labels itself
    lbl.groupBy(_._2).foreach { case (c, members) =>
      assert(members.keys.min == c, s"component $c min is not the label")
      assert(lbl(c) == c)
    }
    // independent union-find over the same edges gives identical labels
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    undEdges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    lbl.foreach { case (v, c) => assert(find(v) == c, s"node $v") }
  }

  test("resource_allocation_linkpred matches driver-side recompute") {
    val got = byName("resource_allocation_linkpred").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val deg = adj.map { case (k, vs) => k -> vs.size.toLong }
    val expect = scala.collection.mutable.Map[(Long, Long), (Long, Long)]()
    for ((z, nbrs) <- adj; u <- nbrs; v <- nbrs if u < v
         if !undEdges.contains((u, v))) {
      val (ra, n) = expect.getOrElse((u, v), (0L, 0L))
      expect((u, v)) = (ra + 1000000L / deg(z), n + 1L)
    }
    assert(got == expect.toMap)
    got.keys.foreach { case (u, v) =>
      assert(!undEdges.contains((u, v)), s"pair ($u,$v) is already an edge")
    }
  }
}
