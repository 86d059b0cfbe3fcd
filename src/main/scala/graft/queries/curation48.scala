package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Batch 48: substring-level exact dedup (the ExactSubstr pass of
  * Lee et al., "Deduplicating Training Data Makes Language Models
  * Better", ACL 2022) and the combined IVF-PQ search path (coarse
  * inverted lists + asymmetric-distance re-rank, Jegou et al., TPAMI
  * 2011).  Both close gaps the existing families skirt: the dedup
  * family is document/line/fingerprint-grained (dedup_exact,
  * line_dedup_global, winnow_overlap_pairs sample positions rather
  * than prove maximal spans), and the ANN family has IVF and PQ-ADC
  * as separate queries but not the composed index the two exist for.
  */
object Curation48Queries {

  import Vector2Queries.{centroidDists, nearestCentroid, quant, quantSql,
    sqDist, sqDistSql}

  /** The composed IVF-PQ search as a scan-local probe (the REPOSE
    * pattern, ICDE 2021: each partition generates its candidates
    * locally, one bounded top-k merge follows).  Coarse lists are the
    * vectors with vec_id % 31 = 7, the PQ codebook is the first 8
    * vectors (4 subspaces x 16 dims), the queries are vec_id < 6; all
    * arithmetic is on the e6 integer grid.
    *
    *  1. One aggregate over the rows it needs builds a one-row index:
    *     the coarse list `cl`, the codebook `cb` and the query panel
    *     `qs`, where each query already carries its 2 nearest lists
    *     (array_sort over (dist, cid), ties to the lowest list id).
    *  2. That row is broadcast onto a second scan of the corpus.  Each
    *     vector takes its list_id (nearestCentroid, the argmin Lloyd's
    *     assign uses), explodes the queries and keeps the (query,
    *     vector) pairs whose list the query probes, qid <> vec_id.
    *  3. Only those candidates pay for PQ work: one lambda over the 4
    *     subspaces picks each subspace's code by array_min over (dist,
    *     cid, cvec) and sums the ADC distance sqDist(q_m, cb[code_m]_m).
    *  4. The row_number window by qid keeps the top 5 by (adc, vec_id).
    *
    * Exchanges: the single-partition index aggregate and the qid window;
    * the corpus side shuffles nothing.
    *
    * Plan traps.  (1) CollapseProject inlines an alias that a HOF
    * lambda references, and the lambda then re-evaluates it per
    * element: filtering the queries in a projection over the list_id
    * one, `filter(qs, q -> array_contains(q.lists, list_id))`, puts the
    * whole coarse argmin inside that lambda, once per query, and filter
    * inference copies it into the join condition as well.  So list_id
    * stays in a projection directly below the explode (a Generate does
    * not collapse), the probe test runs after the explode, and the ADC
    * lambda computes each code in place instead of reading an aliased
    * `codes` array.  (2) The probe test is `exists(q.lists, l -> l =
    * list_id)`, not the null-intolerant `array_contains(q.lists,
    * list_id)`: from that, filter inference derives isnotnull(list_id)
    * and pushes it through the Generate and the projection into the
    * join condition, which then evaluates the coarse argmin a second
    * time per vector. */
  private def ivfPqTopk(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), quant(col("embedding")).as("qe"))
    def sub(v: Column, m: Column): Column = slice(v, m * 16 + 1, lit(16))
    def entry(id: String, v: String) =
      struct(col("vec_id").as(id), col("qe").as(v))
    val isList = pmod(col("vec_id"), lit(31)) === 7
    val index = e.filter(isList || col("vec_id") < 8)
      .agg(
        collect_list(when(isList, entry("cid", "cvec"))).as("cl"),
        collect_list(when(col("vec_id") < 8, entry("cid", "cvec"))).as("cb"),
        collect_list(when(col("vec_id") < 6, entry("qid", "qe"))).as("qs"))
      .select(col("cl"), col("cb"),
        transform(col("qs"), q => struct(q.getField("qid").as("qid"),
          q.getField("qe").as("qe"),
          transform(slice(array_sort(centroidDists(q.getField("qe"),
            col("cl"))), 1, 2), p => p.getField("cid")).as("lists")))
          .as("qs"))
    val adc = aggregate(sequence(lit(0), lit(3)), lit(0L), (acc, m) => {
      val code = array_min(transform(col("cb"), c => struct(
        sqDist(sub(col("qe"), m), sub(c.getField("cvec"), m)).as("dist"),
        c.getField("cid").as("cid"), c.getField("cvec").as("cvec"))))
      acc + sqDist(sub(col("q.qe"), m), sub(code.getField("cvec"), m))
    })
    e.crossJoin(broadcast(index))
      .select(col("vec_id"), col("qe"), col("cb"), col("qs"),
        nearestCentroid(col("qe"), col("cl")).getField("cid").as("list_id"))
      .select(col("vec_id"), col("qe"), col("cb"), col("list_id"),
        explode(col("qs")).as("q"))
      .filter(exists(col("q.lists"), l => l === col("list_id")) &&
        col("q.qid") =!= col("vec_id"))
      .select(col("q.qid").as("qid"), col("vec_id"), adc.as("adc_dist"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("adc_dist"), col("vec_id"))).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("qid"), col("vec_id"), col("rk"), col("adc_dist"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------ exact duplicated substrings
    QueryDef(
      "exact_substring_spans",
      (s, d) => {
        // Corpus: documents plus injected "quotation" docs that embed a
        // 40-token slice of every 20th document — the train-set-quotes-
        // the-web shape ExactSubstr dedup exists to catch.  Word-level
        // 5-grams with their positions; a gram is duplicated when it
        // appears in >= 2 distinct docs; duplicated gram start
        // positions then merge into maximal spans (two hits merge when
        // their k-token windows overlap or touch: pos gap <= k).
        val k = 5
        val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val corpus = base.unionByName(
          base.filter(pmod(col("doc_id"), lit(20)) === 0)
            .select((col("doc_id") + 10000L).as("doc_id"),
              expr("array_join(slice(split(text, ' '), 4, 40), ' ')")
                .as("text")))
        // The gram build runs through the native PosGrams generator
        // (one pass over the document bytes, 0-based positions matching
        // posexplode; GramKernelSpec pins parity) instead of the
        // interpreted transform/slice/array_join HOF.  The stream feeds
        // two consumers (the dup census and the probe side of the
        // survivor join) and is NOT materialized (r15 re-measure): with
        // the generator the rebuild is one cheap kernel pass, while the
        // r14 scratch parquet WROTE the k-x-corpus gram-string stream
        // every invocation — measured 1.48-1.81 s with the write vs
        // 1.18-1.58 s without, back to back.  At scale the census agg
        // and the probe join hash-partition on the same key over the
        // identical subtree, so runtime exchange reuse makes it one
        // pass with no k-x-corpus scratch I/O at all.
        val grams = corpus
          .select(col("doc_id"),
            graft.functions.GramKernel.posGrams(col("text"), k)
              .as(Seq("pos", "gram")))
        // shuffle #1 (the only data-sized one): gram -> distinct-doc
        // count.  At 100 TB this is the canonical shuffle-the-shingles
        // MapReduce form of ExactSubstr; gram strings could carry a
        // 64-bit hash instead, but exactness keeps the oracle exact.
        val dup = grams.groupBy(col("gram"))
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2)
          .select(col("gram"))
        val hits = grams.join(dup, "gram")
          .select(col("doc_id"), col("pos"))
        // gaps-and-islands per doc: window is partitioned by doc_id
        // (bounded by doc token count — never a global sort).
        val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        hits
          .withColumn("newspan",
            when(col("pos") - lag(col("pos"), 1).over(w) <= k, 0L)
              .otherwise(1L))
          .withColumn("island", sum(col("newspan")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("doc_id"), col("island"))
          .agg(min(col("pos")).cast("long").as("span_start"),
            (max(col("pos")) + (k - 1)).cast("long").as("span_end"),
            count(lit(1)).as("n_grams"))
          .select(col("doc_id"), col("span_start"), col("span_end"),
            col("n_grams"))
      },
      Some("""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id,
        |    array_to_string(string_split(text, ' ')[4:43], ' ') AS text
        |  FROM documents WHERE doc_id % 20 = 0),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus
        |        WHERE len(string_split(text, ' ')) >= 5),
        |grams AS (
        |  SELECT doc_id, i.i AS pos,
        |    array_to_string(toks[i.i + 1 : i.i + 5], ' ') AS gram
        |  FROM tok, (SELECT range AS i FROM range(0, 4096)) i
        |  WHERE i.i <= len(toks) - 5),
        |dup AS (SELECT gram FROM grams
        |        GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        |hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
        |lagged AS (SELECT doc_id, pos,
        |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM hits),
        |isl AS (SELECT doc_id, pos,
        |    sum(CASE WHEN prev IS NOT NULL AND pos - prev <= 5
        |             THEN 0 ELSE 1 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM lagged)
        |SELECT doc_id, min(pos)::BIGINT AS span_start,
        |  (max(pos) + 4)::BIGINT AS span_end, count(*)::BIGINT AS n_grams
        |FROM isl GROUP BY doc_id, island""".stripMargin),
      "Substring-level exact dedup (ExactSubstr, Lee et al. ACL 2022): " +
        "positional word 5-grams, grams appearing in >= 2 distinct docs " +
        "mark duplicated regions, and overlapping/adjacent hits merge " +
        "into maximal spans by gaps-and-islands.  One data-sized " +
        "shuffle (gram -> doc count, the suffix-array stand-in that " +
        "actually distributes); the island window is per-doc bounded.  " +
        "Injected quotation docs prove both sides of a real duplicated " +
        "span are localized, with exact token coordinates."),

    // ------------------------------------------------ IVF-PQ combined
    QueryDef(
      "ivf_pq_topk",
      ivfPqTopk,
      Some(s"""WITH q AS (SELECT vec_id,
        |    ${quantSql.format("embedding")} AS qe FROM embeddings),
        |cents AS (SELECT vec_id AS ivf_cid, qe AS cvec FROM q
        |          WHERE vec_id % 31 = 7),
        |assign AS (SELECT vec_id, ivf_cid AS list_id FROM (
        |    SELECT e.vec_id, c.ivf_cid, row_number() OVER (
        |        PARTITION BY e.vec_id
        |        ORDER BY ${sqDistSql("e.qe", "c.cvec")}, c.ivf_cid) AS rn
        |    FROM q e CROSS JOIN cents c) WHERE rn = 1),
        |sub AS (SELECT vec_id, m.m AS m,
        |    qe[m.m * 16 + 1 : m.m * 16 + 16] AS sv
        |  FROM q, (SELECT range AS m FROM range(0, 4)) m),
        |cb AS (SELECT m, vec_id AS cid, sv AS csub FROM sub
        |       WHERE vec_id < 8),
        |codes AS (SELECT vec_id, m, cid AS code FROM (
        |    SELECT s.vec_id, s.m, c.cid, row_number() OVER (
        |        PARTITION BY s.vec_id, s.m
        |        ORDER BY ${sqDistSql("s.sv", "c.csub")}, c.cid) AS rn
        |    FROM sub s JOIN cb c ON s.m = c.m) WHERE rn = 1),
        |probes AS (SELECT qid, ivf_cid AS list_id FROM (
        |    SELECT e.vec_id AS qid, c.ivf_cid, row_number() OVER (
        |        PARTITION BY e.vec_id
        |        ORDER BY ${sqDistSql("e.qe", "c.cvec")}, c.ivf_cid) AS crn
        |    FROM q e CROSS JOIN cents c WHERE e.vec_id < 6)
        |  WHERE crn <= 2),
        |dt AS (SELECT s.vec_id AS qid, s.m AS dm, c.cid,
        |    ${sqDistSql("s.sv", "c.csub")} AS dist
        |  FROM sub s JOIN cb c ON s.m = c.m WHERE s.vec_id < 6),
        |cand AS (SELECT p.qid, a.vec_id FROM probes p
        |  JOIN assign a ON p.list_id = a.list_id
        |  WHERE p.qid <> a.vec_id),
        |adc AS (SELECT cand.qid, cand.vec_id,
        |    sum(dt.dist)::BIGINT AS adc_dist
        |  FROM cand JOIN codes ON codes.vec_id = cand.vec_id
        |  JOIN dt ON dt.qid = cand.qid AND dt.dm = codes.m
        |         AND dt.cid = codes.code
        |  GROUP BY 1, 2)
        |SELECT qid, vec_id, rk, adc_dist FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY adc_dist, vec_id)::BIGINT AS rk FROM adc)
        |WHERE rk <= 5""".stripMargin),
      "The composed IVF-PQ index (Jegou et al., TPAMI 2011) as a " +
        "scan-local probe: one aggregate builds a one-row index (the " +
        "|corpus|/31 coarse centroids, the 8-vector PQ codebook and the " +
        "6 queries with their 2 nearest lists), broadcast onto the " +
        "corpus scan; each vector takes its nearest list, pairs with the " +
        "queries that probe it, and only those candidates are PQ-encoded " +
        "and scored by asymmetric distance (4 codeword lookups), never " +
        "by raw vectors; one qid window keeps the top 5.  Two exchanges " +
        "(the single-partition index aggregate, the qid window); the " +
        "corpus side never shuffles.  At 100 TB list_id is the " +
        "write-time partition column and the probe reads 2 partitions " +
        "of 4-byte codes: candidate I/O ~ lists-probed x code bytes, " +
        "while ann_ivf_topk (exact re-rank) and pq_adc_topk (full-" +
        "corpus ADC) each pay one of the two costs this query " +
        "composes away.  Integer-exact on the e6 grid end to end."),
  )
}
