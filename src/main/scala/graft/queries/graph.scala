package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.VectorOps._

/** Graph analytics over the corpus similarity structure: PageRank-style
  * centrality on the kNN graph, in exact fixed-point arithmetic.
  * Centrality over the semantic graph is a curation signal — pick
  * representative documents, down-weight redundant neighborhoods —
  * and the implementation pattern (edge-list joins + per-node aggs,
  * iterations as repeated passes) is the standard Pregel-free DataFrame
  * formulation that scales with the node/edge shuffles.
  */
object GraphQueries {

  /** k=3 kNN edge list over the bounded 300-vector slice (same
    * construction as knn_graph; see its doc for the 100 TB path —
    * LSH/IVF bucketed candidate generation upstream of the same
    * top-k). */
  def knnEdges(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d).filter(col("vec_id") < 300)
      .select(col("vec_id"), col("embedding"))
    // Kept LAZY deliberately (measured, round 14): single-action
    // consumers that reference this subtree 2-3x (triangle counts,
    // link prediction, assortativity) already deduplicate the repeated
    // build at runtime via exchange reuse, so an eager checkpoint here
    // only added a ~0.15 s materialization job per query (bench showed
    // every single-plan consumer regressing by one job latency).
    // LOOP-driven consumers, where each action re-derives the build
    // and exchange reuse cannot help (CC fixpoint, BFS supersteps,
    // community_modularity's comm+edges split), materialize it at
    // their call sites instead.
    base.as("x").join(broadcast(base.as("y")),
        col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("src"), col("y.vec_id").as("dst"),
        cosine(col("x.embedding"), col("y.embedding")).as("cos"))
      .withColumn("nn_rank", row_number().over(
        Window.partitionBy(col("src"))
          .orderBy(col("cos").desc, col("dst"))))
      .filter(col("nn_rank") <= 3)
      .select(col("src"), col("dst"))
  }

  /** Canonical undirected (a < b, deduped) edge set over [[knnEdges]] —
    * the substrate most graph queries start from; exposed so a query
    * needing BOTH the communities and the raw edges builds the kNN
    * graph once instead of twice. */
  private[queries] def undirectedKnn(s: SparkSession, d: String): DataFrame =
    knnEdges(s, d)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  val knnEdgesSql: String =
    s"""base AS (SELECT vec_id, embedding FROM embeddings
      |             WHERE vec_id < 300),
      |scored AS (SELECT x.vec_id AS src, y.vec_id AS dst,
      |    ${cosineSql("x.embedding", "y.embedding")} AS cos
      |  FROM base x JOIN base y ON x.vec_id != y.vec_id),
      |edges AS (SELECT src, dst FROM (SELECT src, dst, row_number() OVER (
      |    PARTITION BY src ORDER BY cos DESC, dst) AS nn_rank
      |  FROM scored) WHERE nn_rank <= 3)""".stripMargin

  /** Synchronous min-label propagation over the undirected kNN graph
    * (2 supersteps) — shared by label_propagation_communities (emits it)
    * and community_modularity (scores it). */
  def lpCommunities(s: SparkSession, d: String): DataFrame =
    lpCommunitiesOver(s, d, undirectedKnn(s, d))

  /** [[lpCommunities]] over a caller-supplied undirected edge set, so
    * community_modularity (which also needs the edges for e_in/deg)
    * materializes the kNN build once, not twice. */
  private[queries] def lpCommunitiesOver(s: SparkSession, d: String,
      und: DataFrame): DataFrame = {
    val adj = und.unionByName(
      und.select(col("b").as("a"), col("a").as("b")))
    val nodes = Tables.embeddings(s, d).filter(col("vec_id") < 300)
      .select(col("vec_id"))
    // synchronous min-label propagation: lbl <- min(lbl, neighbors')
    def step(lbl: DataFrame) = {
      val nb = adj.join(lbl, adj("b") === lbl("vec_id"))
        .groupBy(col("a")).agg(min(col("lbl")).as("nbmin"))
      lbl.join(nb, lbl("vec_id") === nb("a"), "left")
        .select(lbl("vec_id"),
          least(col("lbl"), coalesce(col("nbmin"), col("lbl"))).as("lbl"))
    }
    val lbl0 = nodes.select(col("vec_id"), col("vec_id").as("lbl"))
    step(step(lbl0)).select(col("vec_id"), col("lbl").as("community"))
  }

  /** DuckDB CTE chain for [[lpCommunities]] — terminal CTE `comm`
    * (vec_id, community); requires `edges` from [[knnEdgesSql]]. */
  val lpCommunitiesSqlCtes: String =
    """und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |        FROM edges),
      |adj AS (SELECT a, b FROM und UNION SELECT b, a FROM und),
      |nodes AS (SELECT vec_id FROM embeddings WHERE vec_id < 300),
      |l0 AS (SELECT vec_id, vec_id AS lbl FROM nodes),
      |n1 AS (SELECT adj.a, min(l.lbl) AS nbmin FROM adj
      |       JOIN l0 l ON l.vec_id = adj.b GROUP BY adj.a),
      |l1 AS (SELECT l.vec_id, least(l.lbl, coalesce(n.nbmin, l.lbl)) AS lbl
      |       FROM l0 l LEFT JOIN n1 n ON n.a = l.vec_id),
      |n2 AS (SELECT adj.a, min(l.lbl) AS nbmin FROM adj
      |       JOIN l1 l ON l.vec_id = adj.b GROUP BY adj.a),
      |l2 AS (SELECT l.vec_id, least(l.lbl, coalesce(n.nbmin, l.lbl)) AS lbl
      |       FROM l1 l LEFT JOIN n2 n ON n.a = l.vec_id),
      |comm AS (SELECT vec_id, lbl AS community FROM l2)""".stripMargin

  /** Connected components by alternating large-star and small-star to an
    * exact fixpoint (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC 2014): O(log² n) rounds where recursive label
    * spreading needs O(diameter) passes.
    *
    * `nodes` has a long column `vec_id`; `edges` has long columns `a`
    * and `b` in any orientation (duplicates and self-loops are dropped).
    * Returns (vec_id, component) for every node, the component being the
    * minimum id connected to it; a node without edges labels itself.
    *
    * State between rounds is the edge set oriented larger -> smaller.
    * Each round is one eager `localCheckpoint` and no other job:
    *   - each star step takes a node's closed-neighbourhood minimum as
    *     `min(b) over (partitionBy a)` on the adjacency, so it costs one
    *     exchange. The trade-off: a hub's whole neighbourhood is buffered
    *     in one window partition, and that buffer can spill;
    *   - one aggregate keyed on (a, b) over the new edges (`nw`) and the
    *     previous ones (`od`) deduplicates the new set, and an `observe`
    *     on it counts the symmetric difference (`nw =!= od`) and the new
    *     edges, so the exact change count arrives with the checkpoint;
    *   - the loop stops when a round changes nothing. The checkpoint
    *     truncates lineage: without it every round re-plans all earlier
    *     rounds (at scale: a reliable checkpoint to storage).
    * The canonical input is round 0, compared with the empty set, so its
    * change count is its edge count m. A graph that has not reached its
    * fixpoint after `maxRounds` rounds (default max(8, 2·⌈log₂(2m+2)⌉²),
    * Kiveris' O(log² n) bound with room to spare) throws
    * IllegalStateException instead of returning a wrong labelling. */
  private[queries] def starComponents(nodes: DataFrame, edges: DataFrame,
      maxRounds: Option[Int] = None): DataFrame = {
    val nbrMin =
      least(col("a"), min(col("b")).over(Window.partitionBy(col("a"))))
    def both(e: DataFrame) =
      e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
    // large-star: link each strictly larger neighbour of a to m(a)
    def largeStar(e: DataFrame) = both(e).withColumn("m", nbrMin)
      .filter(col("b") > col("a"))
      .select(col("b").as("a"), col("m").as("b"))
    // small-star: link a and its smaller neighbours to their minimum
    def smallStar(e: DataFrame) = both(e).filter(col("b") < col("a"))
      .withColumn("m", nbrMin)
      .select(explode(array(col("a"), col("b"))).as("a"), col("m").as("b"))
      .filter(col("a") =!= col("b"))
    def tagged(e: DataFrame, isNew: Boolean) =
      e.withColumn("nw", lit(isNew)).withColumn("od", lit(!isNew))
    // checkpoints the `nw` rows; returns them with (changed, edge count)
    def checkpoint(e: DataFrame): (DataFrame, Long, Long) = {
      val obs = Observation()
      val next = e
        .observe(obs, count(when(col("nw") =!= col("od"), 1)).as("changed"),
          count(when(col("nw"), 1)).as("edges"))
        .filter(col("nw")).select(col("a"), col("b"))
        .localCheckpoint(true)
      val m = obs.get
      (next, m("changed").asInstanceOf[Long], m("edges").asInstanceOf[Long])
    }

    var (cur, changed, m) = checkpoint(tagged(edges
      .select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b")).distinct(), isNew = true))
    val logM = 64 - java.lang.Long.numberOfLeadingZeros(2 * m + 1)
    val cap = maxRounds.getOrElse(math.max(8, 2 * logM * logM))
    var rounds = 0
    while (changed > 0) {
      if (rounds >= cap) throw new IllegalStateException(
        s"large-star/small-star: no fixpoint after round $rounds " +
          s"(cap $cap, last change count $changed of $m edges)")
      val (next, c, e) = checkpoint(
        tagged(smallStar(largeStar(cur)), isNew = true)
          .unionByName(tagged(cur, isNew = false))
          .groupBy(col("a"), col("b"))
          .agg(max(col("nw")).as("nw"), max(col("od")).as("od")))
      cur = next
      changed = c
      m = e
      rounds += 1
    }
    nodes
      .join(cur.select(col("a").as("vec_id"), col("b").as("component")),
        Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("component"), col("vec_id"))
        .as("component"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "pagerank_knn",
      (s, d) => {
        val edges = knnEdges(s, d)
        val nodes = Tables.embeddings(s, d).filter(col("vec_id") < 300)
          .select(col("vec_id"))
        // Fixed-point PageRank, damping 0.85, rank scaled by 1e6.
        // Every node has out-degree exactly k=3 (kNN), so the per-edge
        // contribution is rank div 3 — exact integer, no float mass.
        def step(pr: DataFrame): DataFrame = {
          val contrib = edges.join(pr, edges("src") === pr("vec_id"))
            .select(col("dst"), expr("pr div 3").as("c"))
            .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
          nodes.join(contrib, nodes("vec_id") === contrib("dst"), "left")
            .select(nodes("vec_id"),
              (lit(150000L) +
                expr("(85 * coalesce(inflow, 0L)) div 100")).as("pr"))
        }
        val pr0 = nodes.select(col("vec_id"), lit(1000000L).as("pr"))
        step(step(pr0)).withColumnRenamed("pr", "pr_e6")
      },
      Some(s"""WITH $knnEdgesSql,
        |nodes AS (SELECT vec_id FROM embeddings WHERE vec_id < 300),
        |pr0 AS (SELECT vec_id, 1000000::BIGINT AS pr FROM nodes),
        |in1 AS (SELECT e.dst, sum(p.pr // 3)::BIGINT AS inflow
        |  FROM edges e JOIN pr0 p ON p.vec_id = e.src GROUP BY e.dst),
        |pr1 AS (SELECT n.vec_id,
        |    (150000 + (85 * coalesce(i.inflow, 0)) // 100)::BIGINT AS pr
        |  FROM nodes n LEFT JOIN in1 i ON i.dst = n.vec_id),
        |in2 AS (SELECT e.dst, sum(p.pr // 3)::BIGINT AS inflow
        |  FROM edges e JOIN pr1 p ON p.vec_id = e.src GROUP BY e.dst),
        |pr2 AS (SELECT n.vec_id,
        |    (150000 + (85 * coalesce(i.inflow, 0)) // 100)::BIGINT AS pr
        |  FROM nodes n LEFT JOIN in2 i ON i.dst = n.vec_id)
        |SELECT vec_id, pr AS pr_e6 FROM pr2""".stripMargin),
      "PageRank centrality (damping 0.85, 2 iterations) over the kNN " +
        "similarity graph, in exact fixed-point integers: out-degree is " +
        "the kNN k, so per-edge contributions are integer divisions and " +
        "the rank vector is reproducible on any cluster layout. Each " +
        "iteration is one edge-by-rank equi-join + one per-dst agg — " +
        "the shuffle-per-superstep shape that holds at billions of " +
        "edges; iterations chain as repeated passes with the rank " +
        "frontier checkpointed between them at scale."),

    QueryDef(
      "triangle_count_knn",
      (s, d) => {
        // Undirect the kNN edges (a<b canonical), then count triangles
        // by the two-join wedge-close: e(a,b) ⋈ e(b,c) forms the wedge
        // a<b<c, closed iff e(a,c) exists. Each triangle appears exactly
        // once, then fans out to its three member nodes.
        val und = knnEdges(s, d)
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct()
        val tri = und.as("e1")
          .join(und.as("e2"), col("e1.b") === col("e2.a"))
          .join(und.as("e3"),
            col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
          .select(col("e1.a").as("x"), col("e1.b").as("y"),
            col("e2.b").as("z"))
        tri.select(explode(array(col("x"), col("y"), col("z"))).as("vec_id"))
          .groupBy(col("vec_id"))
          .agg(count(lit(1)).as("n_triangles"))
      },
      Some(s"""WITH $knnEdgesSql,
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |        FROM edges),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM und e1 JOIN und e2 ON e1.b = e2.a
        |  JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b),
        |members AS (SELECT x AS vec_id FROM tri
        |  UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
        |SELECT vec_id, count(*)::BIGINT AS n_triangles
        |FROM members GROUP BY vec_id""".stripMargin),
      "Per-node triangle participation over the kNN graph — the local " +
        "clustering signal that separates dense semantic neighborhoods " +
        "(near-duplicate clouds) from chain-like ones. Canonical a<b " +
        "ordering means each triangle is produced once with no " +
        "post-dedup; the wedge join is the standard vertex-ordered " +
        "formulation whose join fan-in stays bounded because kNN caps " +
        "out-degree at k — at 100 TB the same two self-joins, " +
        "pre-partitioned on the join keys, with the high-degree-last " +
        "ordering keeping wedge counts near the theoretical minimum."),

    QueryDef(
      "two_hop_neighbors",
      (s, d) => {
        val und = knnEdges(s, d)
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct()
        val adj = und.unionByName(
          und.select(col("b").as("a"), col("a").as("b")))
        val twoHop = adj.as("e1")
          .join(adj.as("e2"), col("e1.b") === col("e2.a"))
          .filter(col("e1.a") =!= col("e2.b"))
          .select(col("e1.a").as("a"), col("e2.b").as("c"))
          .distinct()
          .join(adj.select(col("a"), col("b").as("c")),
            Seq("a", "c"), "left_anti")
        twoHop.groupBy(col("a").as("vec_id"))
          .agg(count(lit(1)).as("n_twohop"))
      },
      Some(s"""WITH $knnEdgesSql,
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |        FROM edges),
        |adj AS (SELECT a, b FROM und UNION SELECT b, a FROM und),
        |twohop AS (SELECT DISTINCT e1.a AS a, e2.b AS c
        |  FROM adj e1 JOIN adj e2 ON e1.b = e2.a
        |  WHERE e1.a <> e2.b),
        |pruned AS (SELECT t.a, t.c FROM twohop t
        |  WHERE NOT EXISTS (SELECT 1 FROM adj WHERE adj.a = t.a AND adj.b = t.c))
        |SELECT a AS vec_id, count(*)::BIGINT AS n_twohop
        |FROM pruned GROUP BY a""".stripMargin),
      "Strict 2-hop neighborhood size per node (friends-of-friends who " +
        "are not already friends): symmetric adjacency, one wedge join, " +
        "anti-join against direct edges. The expansion-frontier metric " +
        "behind graph-based diversity sampling; the anti join plans as " +
        "a shuffled hash anti on the same (a, c) key the wedge join " +
        "produced, and kNN's degree cap bounds the wedge fan-out at " +
        "any corpus size."),

    // ------------------------------------------- link prediction
    QueryDef(
      "resource_allocation_linkpred",
      (s, d) => {
        val und = knnEdges(s, d)
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct()
        val adj = und.unionByName(
          und.select(col("b").as("a"), col("a").as("b")))
        val deg = adj.groupBy(col("a").as("z")).agg(count(lit(1)).as("deg"))
        // wedges u -z- v (u < v canonical), each common neighbor z
        // contributes 1e6 div deg(z); anti-join out already-linked pairs
        val wedges = adj.as("e1")
          .join(adj.as("e2"), col("e1.b") === col("e2.a"))
          .filter(col("e1.a") < col("e2.b"))
          .select(col("e1.a").as("u"), col("e2.b").as("v"),
            col("e1.b").as("z"))
        wedges.join(deg, "z")
          .groupBy(col("u"), col("v"))
          .agg(sum(expr("1000000 div deg")).as("ra_e6"),
            count(lit(1)).as("n_common"))
          .join(und.select(col("a").as("u"), col("b").as("v")),
            Seq("u", "v"), "left_anti")
      },
      Some(s"""WITH $knnEdgesSql,
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |        FROM edges),
        |adj AS (SELECT a, b FROM und UNION SELECT b, a FROM und),
        |deg AS (SELECT a AS z, count(*)::BIGINT AS deg FROM adj GROUP BY a),
        |wedges AS (SELECT e1.a AS u, e2.b AS v, e1.b AS z
        |  FROM adj e1 JOIN adj e2 ON e1.b = e2.a
        |  WHERE e1.a < e2.b),
        |ra AS (SELECT w.u, w.v,
        |    sum(1000000 // d.deg)::BIGINT AS ra_e6,
        |    count(*)::BIGINT AS n_common
        |  FROM wedges w JOIN deg d USING (z) GROUP BY w.u, w.v)
        |SELECT s.u, s.v, s.ra_e6, s.n_common FROM ra s
        |WHERE NOT EXISTS (SELECT 1 FROM und
        |                  WHERE und.a = s.u AND und.b = s.v)""".stripMargin),
      "Resource-allocation link prediction over the kNN graph: " +
        "non-adjacent pairs scored by sum(1/deg(z)) over common " +
        "neighbors z — the degree-discounted variant of " +
        "common-neighbor counting (low-degree shared neighbors are " +
        "stronger evidence). The 1e6 div deg weight is integer-exact " +
        "(Adamic-Adar's 1/ln(deg) would hit cross-engine ln rounding); " +
        "one wedge join + one broadcast-sized degree join + one anti " +
        "join, all on equi-keys, fan-out bounded by the kNN degree cap."),

    // ---------------------------------------- label propagation
    QueryDef(
      "label_propagation_communities",
      (s, d) => lpCommunities(s, d),
      Some(s"""WITH $knnEdgesSql,
        |$lpCommunitiesSqlCtes
        |SELECT vec_id, community FROM comm""".stripMargin),
      "Community detection by synchronous min-label propagation (2 " +
        "supersteps) over the kNN graph — deterministic (min is order-" +
        "free, unlike frequency-vote LPA whose ties depend on visit " +
        "order). After convergence labels equal connected-component " +
        "ids; fixed-superstep output is a checkpointable prefix of " +
        "that. Per superstep: one edge-label equi-join + per-node min " +
        "agg — the Pregel-free DataFrame shape that scales linearly " +
        "in edges and supersteps."),

    // ------------------------------------------ degree histogram
    QueryDef(
      "graph_degree_distribution",
      (s, d) => {
        val und = knnEdges(s, d)
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct()
        val adj = und.unionByName(
          und.select(col("b").as("a"), col("a").as("b")))
        adj.groupBy(col("a")).agg(count(lit(1)).as("deg"))
          .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
      },
      Some(s"""WITH $knnEdgesSql,
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |        FROM edges),
        |adj AS (SELECT a, b FROM und UNION SELECT b, a FROM und),
        |deg AS (SELECT a, count(*)::BIGINT AS deg FROM adj GROUP BY a)
        |SELECT deg, count(*)::BIGINT AS n_nodes FROM deg GROUP BY deg""".stripMargin),
      "Degree histogram of the undirected kNN graph — the first " +
        "sanity profile after any graph build (kNN guarantees " +
        "out-degree k but mutual links make undirected degree vary in " +
        "[k, 2k]; a heavier tail flags hub nodes / near-dup clouds). " +
        "Two cheap partial-aggregatable counts; at 100 TB the second " +
        "groupBy is over at most max-degree distinct keys."),

    // --------------------- scalable connected components (star ops)
    QueryDef(
      "connected_components_largestar",
      (s, d) => starComponents(
        Tables.embeddings(s, d).filter(col("vec_id") < 300)
          .select(col("vec_id")),
        knnEdges(s, d).select(col("src").as("a"), col("dst").as("b"))),
      Some(s"""WITH RECURSIVE $knnEdgesSql,
        |und AS (SELECT a, b FROM (
        |    SELECT least(src, dst) AS a, greatest(src, dst) AS b FROM edges)
        |  UNION
        |  SELECT b, a FROM (
        |    SELECT least(src, dst) AS a, greatest(src, dst) AS b FROM edges)),
        |nodes AS (SELECT vec_id FROM embeddings WHERE vec_id < 300),
        |reach AS (
        |  SELECT vec_id AS node, vec_id AS lbl FROM nodes
        |  UNION
        |  SELECT u.b AS node, r.lbl FROM reach r JOIN und u ON u.a = r.node)
        |SELECT node AS vec_id, min(lbl) AS component
        |FROM reach GROUP BY node""".stripMargin),
      "Connected components by alternating large-star/small-star to an " +
        "exact observed fixpoint (starComponents) — the O(log² n)-round " +
        "algorithm that computes CC at 100 TB where recursive label " +
        "spreading needs O(diameter) passes. Each round is one eager " +
        "checkpoint: two star steps, each a min over a window " +
        "partitioned by node (one exchange; a hub's neighbourhood is " +
        "buffered in one window partition and can spill), then one " +
        "(a, b) aggregate over the new and previous edges whose observed " +
        "symmetric-difference count stops the loop at zero. No round " +
        "runs a separate convergence job, and a graph that misses the " +
        "O(log² m) round cap throws instead of returning a non-fixpoint " +
        "labelling. The final label of every node is the component " +
        "minimum — exactly what the oracle's recursive reach computes " +
        "independently."),

    // ------------------------------------ multi-source BFS hop layers
    QueryDef(
      "knn_bfs_hops",
      (s, d) => {
        // Seed-expansion distances: hop count from a seed set over the
        // undirected kNN graph, 4 synchronous supersteps — the frontier
        // pattern of graph-based retrieval (expand a query's seed
        // neighborhood breadth-first) and of influence-radius audits.
        // Each superstep is one join + one map-side-combinable min-agg
        // keyed on the node; lineage is truncated per round
        // (localCheckpoint) exactly like the CC fixpoint above.  Depth
        // is a fixed constant, so unlike CC no convergence check is
        // needed and the round count — not the diameter — bounds the
        // work at any scale.
        val und0 = knnEdges(s, d)
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct()
        // materialized once: every superstep is its own action (the
        // per-round localCheckpoint below), so without this the kNN
        // build re-ran once per round x two adjacency references —
        // exchange reuse never applies across actions (measured
        // 1.57 s -> 1.03 s at sf0.1/local[32])
        val und = und0.unionByName(
            und0.select(col("b").as("a"), col("a").as("b")))
          .localCheckpoint(true)
        var dist = Tables.embeddings(s, d).filter(col("vec_id") < 300)
          .select(col("vec_id"),
            when(pmod(col("vec_id"), lit(40)) === 0, 0L).as("hop"))
          .localCheckpoint()
        (1 to 4).foreach { _ =>
          val nb = und.join(dist.filter(col("hop").isNotNull),
              und("b") === dist("vec_id"))
            .groupBy(col("a")).agg(min(col("hop") + 1L).as("nbhop"))
          // least() skips nulls, so unreached nodes adopt the neighbor
          // hop and already-reached nodes keep their minimum
          dist = dist.join(nb, dist("vec_id") === nb("a"), "left")
            .select(dist("vec_id"),
              least(col("hop"), col("nbhop")).as("hop"))
            .localCheckpoint()
        }
        dist.select(col("vec_id"), coalesce(col("hop"), lit(-1L)).as("hops"))
      },
      Some(s"""WITH RECURSIVE $knnEdgesSql,
        |und AS (SELECT a, b FROM (
        |    SELECT least(src, dst) AS a, greatest(src, dst) AS b FROM edges)
        |  UNION
        |  SELECT b, a FROM (
        |    SELECT least(src, dst) AS a, greatest(src, dst) AS b FROM edges)),
        |nodes AS (SELECT vec_id FROM embeddings WHERE vec_id < 300),
        |bfs AS (
        |  SELECT vec_id AS node, 0 AS hop FROM nodes WHERE vec_id % 40 = 0
        |  UNION ALL
        |  SELECT u.b AS node, bfs.hop + 1 FROM bfs
        |  JOIN und u ON u.a = bfs.node WHERE bfs.hop < 4)
        |SELECT n.vec_id, coalesce(min(bfs.hop), -1)::BIGINT AS hops
        |FROM nodes n LEFT JOIN bfs ON bfs.node = n.vec_id
        |GROUP BY n.vec_id""".stripMargin),
      "Multi-source BFS over the kNN graph: hop distance from the seed " +
        "set (vec_id % 40 = 0) in at most 4 synchronous supersteps, " +
        "unreached nodes surfaced as -1.  Each superstep is one " +
        "neighbor join + node-keyed min-agg (partial-aggregated), and " +
        "the fixed depth bounds total work by rounds x |edges| — the " +
        "oracle's recursive path enumeration with min(hop) computes " +
        "the same frontier distances independently."),

    // ------------------------- the same BFS through WITH RECURSIVE
    QueryDef(
      "knn_bfs_recursive_sql",
      (s, d) => {
        // Twin of knn_bfs_hops executed through Spark 4's recursive CTE
        // (UnionLoop): the engine's declarative recursion surface,
        // mirroring the DuckDB oracle SQL 1:1.  The edge substrate is
        // built once as a DataFrame (the cosine kNN construction is not
        // SQL-portable) and exposed as a temp view; the recursion is
        // depth-bounded by the hop predicate, so the loop unrolls to
        // the same 4 frontier expansions as the superstep form.  Use
        // the superstep twin at 100 TB — recursion enumerates paths
        // (frontier x branching growth) where supersteps carry one
        // min-distance row per node; the parity spec pins both to the
        // same answer.
        val und0 = knnEdges(s, d)
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct()
        // materialized once: the recursive CTE references the view on
        // every UnionLoop iteration, and each iteration would re-derive
        // the whole kNN build (measured 2.00 s -> 1.14 s)
        und0.unionByName(und0.select(col("b").as("a"), col("a").as("b")))
          .localCheckpoint(true)
          .createOrReplaceTempView("graft_bfs_und")
        Tables.embeddings(s, d).filter(col("vec_id") < 300)
          .select(col("vec_id")).createOrReplaceTempView("graft_bfs_nodes")
        s.sql("""WITH RECURSIVE bfs(node, hop) AS (
          |  SELECT vec_id, 0 FROM graft_bfs_nodes WHERE vec_id % 40 = 0
          |  UNION ALL
          |  SELECT u.b, bfs.hop + 1 FROM bfs
          |  JOIN graft_bfs_und u ON u.a = bfs.node WHERE bfs.hop < 4)
          |SELECT n.vec_id,
          |  CAST(coalesce(min(bfs.hop), -1) AS BIGINT) AS hops
          |FROM graft_bfs_nodes n LEFT JOIN bfs ON bfs.node = n.vec_id
          |GROUP BY n.vec_id""".stripMargin)
      },
      Some(s"""WITH RECURSIVE $knnEdgesSql,
        |und AS (SELECT a, b FROM (
        |    SELECT least(src, dst) AS a, greatest(src, dst) AS b FROM edges)
        |  UNION
        |  SELECT b, a FROM (
        |    SELECT least(src, dst) AS a, greatest(src, dst) AS b FROM edges)),
        |nodes AS (SELECT vec_id FROM embeddings WHERE vec_id < 300),
        |bfs AS (
        |  SELECT vec_id AS node, 0 AS hop FROM nodes WHERE vec_id % 40 = 0
        |  UNION ALL
        |  SELECT u.b AS node, bfs.hop + 1 FROM bfs
        |  JOIN und u ON u.a = bfs.node WHERE bfs.hop < 4)
        |SELECT n.vec_id, coalesce(min(bfs.hop), -1)::BIGINT AS hops
        |FROM nodes n LEFT JOIN bfs ON bfs.node = n.vec_id
        |GROUP BY n.vec_id""".stripMargin),
      "The BFS as a declarative WITH RECURSIVE query (Spark 4 " +
        "UnionLoop), hop-bounded in the recursive term — same answer, " +
        "same oracle as knn_bfs_hops, proving the engine's SQL " +
        "recursion surface.  The superstep twin remains the 100 TB " +
        "form: recursion enumerates paths where supersteps carry one " +
        "min-distance row per node."),
  )
}
