// (power-iteration PCA appended in round 5 — see pca_power_iteration)
package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.SqDist
import graft.functions.VectorOps._
import org.apache.spark.sql.graftx.Bridge

/** Embedding-space curation operators, round 4: random-projection
  * dimensionality reduction, deterministic fixed-point k-means (the
  * clustering stage under IVF indexes and SemDeDup), and SemDeDup-style
  * within-cluster semantic pruning.
  *
  * All arithmetic is exact integer fixed point (components quantized to
  * 1e-6) so cluster assignments and prune decisions are bit-identical
  * across engines, partitionings, and cluster sizes — the property that
  * makes a 100 TB curation run reproducible (same contract as the LSH /
  * SimHash family in AnnQueries/DedupQueries).
  *
  * Reference anchor: the reference's embedding stage
  * (rag_evaluation/RAG-eval-test_model.py:36-117) stops at brute-force
  * cosine ranking; these are the operators that stand between that and
  * corpus-scale semantic search/dedup.
  */
object Vector2Queries {

  /** floor(x * 1e6) quantization of an array<float> to array<long> —
    * exact in both engines (f32->f64 widening then floor). */
  private[queries] def quant(v: Column): Column =
    transform(v, x => floor(x.cast("double") * 1000000).cast("long"))

  private[queries] val quantSql =
    "list_transform(%s, x -> floor(x::DOUBLE * 1000000)::BIGINT)"

  /** Integer squared L2 distance between two array<long>: the native
    * codegen kernel [[SqDist]] (NULL on a NULL element or a length
    * mismatch, overflow raising under ANSI).  [[sqDistSql]] is its
    * DuckDB twin for the oracles. */
  private[queries] def sqDist(a: Column, b: Column): Column =
    Bridge.column(SqDist(Bridge.expression(a), Bridge.expression(b)))

  private[queries] def sqDistSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(list_zip($a, $b), " +
      s"p -> (p[1] - p[2]) * (p[1] - p[2]))), (acc, x) -> acc + x)"

  /** Each entry of the centroid array `cl` (array<struct<cid, cvec>>)
    * scored against `v`: array<struct<dist, cid>>, whose struct ordering
    * is (integer squared distance, then the lowest cid). */
  private[queries] def centroidDists(v: Column, cl: Column): Column =
    transform(cl, c => struct(sqDist(v, c.getField("cvec")).as("dist"),
      c.getField("cid").as("cid")))

  /** Nearest centroid of `v` in `cl` as struct(dist, cid), ties to the
    * lowest cid; NULL on an empty `cl`.  Costs |cl| distances per row:
    * k <= 8 for the Lloyd queries, |corpus|/31 for IVF coarse lists
    * (ivf_pq_topk). */
  private[queries] def nearestCentroid(v: Column, cl: Column): Column =
    array_min(centroidDists(v, cl))

  /** One Lloyd assignment step: nearest centroid by integer squared
    * distance, ties to the lowest centroid id. */
  private[queries] def assign(points: DataFrame, cents: DataFrame): DataFrame = {
    // Scan-local argmin: the k centroids collapse to ONE array row
    // (k <= 8 at every call site) broadcast to the points side, and
    // each point picks its nearestCentroid — struct ordering (dist,
    // cid) is exactly a min(struct(dist, cid)) groupBy, ties to the
    // lowest cid.  The points side shuffles nothing at any scale; only
    // the k-row centroid collect pays a single tiny exchange.  An empty
    // centroid frame still aggregates to one empty-array row; dropping
    // that row assigns no rows (no centroid, no assignment) instead of
    // one null-cluster row per point.
    val cl = cents.agg(collect_list(struct(col("cid"), col("cvec"))).as("cl"))
      .filter(size(col("cl")) > 0)
    points.crossJoin(broadcast(cl))
      .select(col("vec_id"), col("qe"),
        nearestCentroid(col("qe"), col("cl")).as("m"))
      .select(col("vec_id"), col("qe"),
        col("m.cid").as("cluster"), col("m.dist").as("dist"))
  }

  /** Centroid recomputation: exact integer per-dimension sums, then
    * truncating integer division — Spark's `div` and DuckDB's `//`
    * both truncate toward zero (measured on negative sums; DuckDB's
    * FLOOR-like `//` behavior applies to FLOAT operands only). */
  private[queries] def update(assigned: DataFrame): DataFrame =
    assigned.select(col("cluster"), posexplode(col("qe")).as(Seq("d", "v")))
      .groupBy(col("cluster"), col("d"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
      .select(col("cluster"), col("d"),
        expr("sv div n").as("cv"))
      .groupBy(col("cluster"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("cv")))),
        p => p.getField("cv")).as("cvec"))
      .select(col("cluster").as("cid"), col("cvec"))

  private[queries] def assignSql(points: String, cents: String): String =
    s"""SELECT vec_id, qe, cid AS cluster, dist FROM (
      |    SELECT q.vec_id, q.qe, c.cid,
      |      ${sqDistSql("q.qe", "c.cvec")} AS dist,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY ${sqDistSql("q.qe", "c.cvec")}, c.cid) AS rn
      |    FROM $points q CROSS JOIN $cents c)
      |  WHERE rn = 1""".stripMargin


  /** (vec_id, dim, x3) fixed-point triples of the embedding matrix. */
  private def embTriples(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        floor(col("x").cast("double") * 1000).cast("long").as("x3"))

  /** Top principal direction (dim, v6) after two integer power steps —
    * shared by pca_power_iteration and pca_projection_hist. */
  private def pcaDirection(s: SparkSession, d: String): DataFrame = {
    val e = embTriples(s, d)
    def step(v: DataFrame) = {
      val u = e.join(v, "dim")
        .groupBy(col("vec_id"))
        .agg(sum(col("x3") * col("v6")).as("u"))
      val w = e.join(u, "vec_id")
        .groupBy(col("dim"))
        .agg(sum(col("x3") * col("u")).as("w"))
      val m = w.agg(max(abs(col("w"))).as("mx"))
      // scale w into ~[-1e6, 1e6] WITHOUT forming 1e6*w (overflow at
      // |w| ~ 9e15): divide by the pre-shrunk norm mx div 1e6
      w.crossJoin(broadcast(m))
        .select(col("dim"),
          expr("w div greatest(mx div 1000000, 1L)").as("v6"))
    }
    val v0 = s.range(0, 64).select(col("id").as("dim"),
      lit(1000000L).as("v6"))
    step(step(v0))
  }

  /** Oracle CTE chain ending in a `pc(dim, v6)` relation. */
  private val pcaSql: String =
    """e AS (SELECT vec_id, i.i::BIGINT AS dim,
      |    floor(embedding[i.i + 1]::DOUBLE * 1000)::BIGINT AS x3
      |  FROM embeddings, (SELECT range AS i FROM range(0, 64)) i),
      |v0 AS (SELECT range::BIGINT AS dim, 1000000::BIGINT AS v6
      |       FROM range(0, 64)),
      |u1 AS (SELECT e.vec_id, sum(e.x3 * v.v6)::BIGINT AS u
      |       FROM e JOIN v0 v USING (dim) GROUP BY e.vec_id),
      |w1 AS (SELECT e.dim, sum(e.x3 * u1.u)::BIGINT AS w
      |       FROM e JOIN u1 USING (vec_id) GROUP BY e.dim),
      |v1 AS (SELECT dim, (w // greatest(
      |         (SELECT max(abs(w)) FROM w1) // 1000000, 1))
      |         ::BIGINT AS v6 FROM w1),
      |u2 AS (SELECT e.vec_id, sum(e.x3 * v.v6)::BIGINT AS u
      |       FROM e JOIN v1 v USING (dim) GROUP BY e.vec_id),
      |w2 AS (SELECT e.dim, sum(e.x3 * u2.u)::BIGINT AS w
      |       FROM e JOIN u2 USING (vec_id) GROUP BY e.dim),
      |pc AS (SELECT dim, (w // greatest(
      |  (SELECT max(abs(w)) FROM w2) // 1000000, 1))
      |  ::BIGINT AS v6 FROM w2)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------- random-projection reduction
    QueryDef(
      "random_projection_reduce",
      (s, d) => Tables.embeddings(s, d).select(
        (col("vec_id") +: (0 until 8).map(j =>
          AnnQueries.intDot(col("embedding"), j).as(s"p$j"))): _*),
      Some(s"""WITH comps AS (
        |  SELECT vec_id, pl.j,
        |    sum(floor(embedding[pl.d + 1]::DOUBLE * 1000000)::BIGINT * pl.w)
        |      AS dotj
        |  FROM embeddings CROSS JOIN ${AnnQueries.planesSql}
        |  GROUP BY vec_id, pl.j)
        |SELECT vec_id,
        |  ${(0 until 8).map(j =>
          s"sum(CASE WHEN j = $j THEN dotj ELSE 0 END)::BIGINT AS p$j")
          .mkString(",\n        |  ")}
        |FROM comps GROUP BY vec_id""".stripMargin),
      "Johnson-Lindenstrauss random-projection reduction: 64-dim float " +
        "embeddings down to 8 integer components via the fixed xorshift " +
        "hyperplane matrix (shared with ann_bucket_assign). Row-local " +
        "fixed-point dots — a narrow codegen'd projection, the cheap " +
        "sketch that stands in for the full vector in coarse filters, " +
        "cutting 100 TB of vector bytes ~8x before any shuffle."),

    // ------------------------------------------ fixed-point k-means
    QueryDef(
      "kmeans_cluster_assign",
      (s, d) => {
        val q = Tables.embeddings(s, d)
          .select(col("vec_id"), quant(col("embedding")).as("qe"))
        val c0 = q.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("qe").as("cvec"))
        val a2 = assign(q, update(assign(q, c0)))
        a2.select(col("vec_id"), col("cluster"), col("dist"))
      },
      Some(s"""WITH q AS (SELECT vec_id,
        |    ${quantSql.format("embedding")} AS qe FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, qe AS cvec FROM q WHERE vec_id < 8),
        |a1 AS (${assignSql("q", "c0")}),
        |upd AS (SELECT cluster, dd.dd AS d,
        |    sum(qe[dd.dd + 1])::BIGINT AS sv, count(*)::BIGINT AS n
        |  FROM a1, (SELECT range AS dd FROM range(0, 64)) dd
        |  GROUP BY cluster, dd.dd),
        |c1 AS (SELECT cluster AS cid, list(sv // n ORDER BY d) AS cvec
        |  FROM upd GROUP BY cluster),
        |a2 AS (${assignSql("q", "c1")})
        |SELECT vec_id, cluster, dist FROM a2""".stripMargin),
      "Deterministic Lloyd k-means (k=8, 2 assignment passes, exact " +
        "integer arithmetic): init centroids are the first k vectors, " +
        "distances are fixed-point squared L2, centroid updates are " +
        "exact integer sums + floor division — so the clustering is " +
        "reproducible regardless of partitioning, unlike float k-means " +
        "whose centroid sums drift with reduce order. Each pass is one " +
        "broadcast of k centroids over a narrow scan plus one " +
        "(cluster, dim)-keyed agg: the 100 TB IVF/SemDeDup " +
        "cluster-build loop, with iterations as repeated passes."),

    // ------------------------------------- product quantization encode
    QueryDef(
      "pq_encode",
      (s, d) => {
        // 4 subspaces x 16 dims; codebook = the first 8 vectors' slices
        // (deterministic stand-in for per-subspace k-means codebooks —
        // swap in kmeans_cluster_assign's iterated centroids unchanged).
        val q = Tables.embeddings(s, d)
          .select(col("vec_id"), quant(col("embedding")).as("qe"))
        val sub = q
          .select(col("vec_id"), explode(sequence(lit(0), lit(3))).as("m"),
            col("qe"))
          .select(col("vec_id"), col("m"),
            expr("slice(qe, m * 16 + 1, 16)").as("sv"))
        val cb = sub.filter(col("vec_id") < 8)
          .select(col("m"), col("vec_id").as("cid"), col("sv").as("csub"))
        sub.join(broadcast(cb), "m")
          .select(col("vec_id"), col("m"),
            struct(sqDist(col("sv"), col("csub")).as("dist"),
              col("cid")).as("dc"))
          .groupBy(col("vec_id"), col("m"))
          .agg(min(col("dc")).as("m2"))
          .select(col("vec_id"), col("m").cast("bigint").as("m"),
            col("m2.cid").as("code"), col("m2.dist").as("dist"))
      },
      Some(s"""WITH q AS (SELECT vec_id,
        |    ${quantSql.format("embedding")} AS qe FROM embeddings),
        |sub AS (SELECT vec_id, m.m AS m,
        |    qe[m.m * 16 + 1 : m.m * 16 + 16] AS sv
        |  FROM q, (SELECT range AS m FROM range(0, 4)) m),
        |cb AS (SELECT m, vec_id AS cid, sv AS csub FROM sub WHERE vec_id < 8),
        |scored AS (SELECT s.vec_id, s.m, c.cid,
        |    ${sqDistSql("s.sv", "c.csub")} AS dist,
        |    row_number() OVER (PARTITION BY s.vec_id, s.m
        |      ORDER BY ${sqDistSql("s.sv", "c.csub")}, c.cid) AS rn
        |  FROM sub s JOIN cb c ON s.m = c.m)
        |SELECT vec_id, m::BIGINT AS m, cid AS code, dist
        |FROM scored WHERE rn = 1""".stripMargin),
      "Product-quantization encoding: the 64-dim vector split into 4 " +
        "subspaces, each mapped to its nearest 8-entry codebook slice " +
        "by exact integer squared L2 (ties to lowest code id) — 256 " +
        "bytes of float down to 4 code bytes, the compression behind " +
        "IVF-PQ billion-vector indexes. The codebook broadcast is k*m " +
        "rows; points never shuffle (the groupBy key includes vec_id, " +
        "so AQE folds it into the scan-side partial)."),

    // ----------------------------------------- SemDeDup within-cluster
    QueryDef(
      "semdedup_prune",
      (s, d) => {
        val base = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding"))
        // Injected exact-copy vectors (same construction as
        // dedup_embedding_cosine) model re-embedded duplicate content.
        val c = base.unionByName(
          base.filter(pmod(col("vec_id"), lit(25)) === 0)
            .select((col("vec_id") + 10000L).as("vec_id"), col("embedding")))
        val q = c.select(col("vec_id"), col("embedding"),
          quant(col("embedding")).as("qe"))
        val cents = q.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("qe").as("cvec"))
        val clustered = assign(
          q.select(col("vec_id"), col("qe")), cents)
          .select(col("vec_id"), col("cluster"))
          .join(q.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        // Greedy keep-lowest-id: b is pruned if any earlier same-cluster
        // vector is a near-duplicate. Pairing is within-cluster only —
        // the whole point of SemDeDup: clusters bound the O(n^2).
        val pairs = clustered.as("x")
          .join(clustered.as("y"),
            col("x.cluster") === col("y.cluster") &&
              col("x.vec_id") < col("y.vec_id"))
          .select(col("y.vec_id").as("vec_id"), col("y.cluster").as("cluster"),
            col("x.vec_id").as("dup_of"),
            cosine(col("x.embedding"), col("y.embedding")).as("cos"))
          .filter(col("cos") >= 0.999)
        pairs.withColumn("rn", row_number().over(
            Window.partitionBy(col("vec_id")).orderBy(col("dup_of"))))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("cluster"), col("dup_of"),
            floor(col("cos") * 1000000).cast("bigint").as("cos_e6"))
      },
      Some(s"""WITH base AS (SELECT vec_id, embedding FROM embeddings),
        |c AS (SELECT vec_id, embedding FROM base
        |      UNION ALL
        |      SELECT vec_id + 10000, embedding FROM base
        |      WHERE vec_id % 25 = 0),
        |q AS (SELECT vec_id, embedding,
        |    ${quantSql.format("embedding")} AS qe FROM c),
        |c0 AS (SELECT vec_id AS cid, qe AS cvec FROM q WHERE vec_id < 8),
        |a1 AS (${assignSql("q", "c0")}),
        |cl AS (SELECT a1.vec_id, a1.cluster, q.embedding
        |  FROM a1 JOIN q ON q.vec_id = a1.vec_id),
        |pairs AS (SELECT y.vec_id AS vec_id, y.cluster AS cluster,
        |    x.vec_id AS dup_of,
        |    ${cosineSql("x.embedding", "y.embedding")} AS cos
        |  FROM cl x JOIN cl y
        |    ON x.cluster = y.cluster AND x.vec_id < y.vec_id),
        |hits AS (SELECT vec_id, cluster, dup_of, cos, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY dup_of) AS rn
        |  FROM pairs WHERE cos >= 0.999)
        |SELECT vec_id, cluster, dup_of,
        |       floor(cos * 1000000)::BIGINT AS cos_e6
        |FROM hits WHERE rn = 1""".stripMargin),
      "SemDeDup semantic pruning: coarse-cluster the corpus (one " +
        "fixed-point assignment pass), then drop any vector whose " +
        "cluster contains an earlier near-duplicate (cos >= 0.999), " +
        "reporting what it duplicated. Pair generation is an equi-join " +
        "on cluster id — the cluster stage is exactly what turns " +
        "all-pairs semantic dedup into a per-bucket job that scales to " +
        "100 TB; swap the assignment pass for kmeans_cluster_assign's " +
        "iterated centroids unchanged."),

    // ------------------------------------ power-iteration PCA
    QueryDef(
      "pca_power_iteration",
      (s, d) => pcaDirection(s, d).select(col("dim"),
        col("v6").as("component_e6")),
      Some(s"""WITH $pcaSql
        |SELECT dim, v6 AS component_e6 FROM pc""".stripMargin),
      "Top principal direction by two power iterations, Gram-matrix-" +
        "free: each step is E^T(E v) — two equi-join aggregations over " +
        "the (vec, dim, value) triples, never materializing the 64x64 " +
        "Gram, which is the formulation that survives when dim is 4096 " +
        "and the Gram no longer fits a broadcast. Infinity-norm " +
        "scaling replaces L2 normalization so every number stays an " +
        "exact int64 (|w| ~ 9e16 at sf0.1; rescaling divides by the " +
        "pre-shrunk norm, never forming 1e6*w) — deterministic across " +
        "engines, partitionings, and " +
        "cluster sizes. Downstream: project embeddings onto the " +
        "direction for whitening or 1-D curriculum ordering."),

    // ---------------------------------- embedding norm histogram
    QueryDef(
      "embedding_norm_histogram",
      (s, d) => {
        val n2 = Tables.embeddings(s, d)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
          .select(col("vec_id"),
            floor(col("x").cast("double") * 1000).cast("long").as("x3"))
          .groupBy(col("vec_id"))
          .agg(sum(col("x3") * col("x3")).as("norm2_e6"))
        val bounds = n2.agg(min(col("norm2_e6")).as("mn"),
          max(col("norm2_e6")).as("mx"))
        n2.crossJoin(broadcast(bounds))
          .select(expr("((norm2_e6 - mn) * 10) div (mx - mn + 1)")
            .as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).as("n_vecs"))
      },
      Some("""WITH n2 AS (SELECT vec_id,
        |    sum(floor(embedding[i.i + 1]::DOUBLE * 1000)::BIGINT
        |        * floor(embedding[i.i + 1]::DOUBLE * 1000)::BIGINT)
        |      ::BIGINT AS norm2_e6
        |  FROM embeddings, (SELECT range AS i FROM range(0, 64)) i
        |  GROUP BY vec_id),
        |b AS (SELECT min(norm2_e6) AS mn, max(norm2_e6) AS mx FROM n2)
        |SELECT (((n.norm2_e6 - b.mn) * 10) // (b.mx - b.mn + 1))::BIGINT
        |  AS bucket, count(*)::BIGINT AS n_vecs
        |FROM n2 n CROSS JOIN b GROUP BY 1""".stripMargin),
      "Distribution of squared embedding norms in 10 equal-width " +
        "buckets — the vector-QA check that catches unnormalized or " +
        "degenerate embeddings before they poison cosine rankings " +
        "(l2_normalize is the fix; this is the detector). Squared " +
        "norms stay exact integers (no sqrt), the range bounds are a " +
        "1-row broadcast, and the whole audit is one posexplode agg."),

    // ---------------------------------- PCA projection histogram
    QueryDef(
      "pca_projection_hist",
      (s, d) => {
        val proj = embTriples(s, d)
          .join(pcaDirection(s, d), "dim")
          .groupBy(col("vec_id"))
          .agg(sum(col("x3") * col("v6")).as("proj"))
        val bounds = proj.agg(min(col("proj")).as("mn"),
          max(col("proj")).as("mx"))
        proj.crossJoin(broadcast(bounds))
          .select(col("vec_id"),
            expr("((proj - mn) * 10) div (mx - mn + 1)").as("bucket"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_vecs"))
      },
      Some(s"""WITH $pcaSql,
        |proj AS (SELECT e.vec_id, sum(e.x3 * pc.v6)::BIGINT AS proj
        |         FROM e JOIN pc USING (dim) GROUP BY e.vec_id),
        |b AS (SELECT min(proj) AS mn, max(proj) AS mx FROM proj)
        |SELECT (((p.proj - b.mn) * 10) // (b.mx - b.mn + 1))::BIGINT
        |  AS bucket, count(*)::BIGINT AS n_vecs
        |FROM proj p CROSS JOIN b GROUP BY 1""".stripMargin),
      "Distribution of the corpus along its own top principal " +
        "direction: project every embedding onto the power-iteration " +
        "PC (one equi-join agg over the shared triples — Catalyst " +
        "reuses the direction subtree) and bin into 10 equal-width " +
        "buckets from the data's own range. A bimodal histogram here " +
        "is the classic signal of a mixed corpus (two sources/domains " +
        "in one bucket of training data); all arithmetic inherits the " +
        "integer determinism of the direction itself."),
  )
}
