package graft

import org.apache.spark.sql.functions._

/** Batch-48 invariants: ExactSubstr span replay and IVF-PQ ADC replay —
  * both recomputed independently on the driver from the raw fixtures,
  * the IVF-PQ one also on a tie-heavy synthetic vector set. */
class Curation48Spec extends SparkSpec with TempDirs {

  private def byName(name: String) =
    SparkEntry.registry.find(_.name == name).get.fn(spark, sfDir)

  // ---- driver-side replica of the exact_substring_spans pipeline ----
  private lazy val spanExpected: Set[(Long, Long, Long, Long)] = {
    val k = 5
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val corpus = base ++ base.filter(_._1 % 20 == 0).map { case (id, t) =>
      val toks = t.split(" ", -1)
      (id + 10000L, toks.slice(3, 43).mkString(" "))
    }
    val grams = corpus.flatMap { case (id, t) =>
      val toks = t.split(" ", -1)
      if (toks.length < k) Seq.empty
      else (0 to toks.length - k).map(i =>
        (id, i.toLong, toks.slice(i, i + k).mkString(" ")))
    }
    val dup = grams.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2)
      .keySet
    val hits = grams.filter(g => dup(g._3)).map(g => (g._1, g._2))
    hits.groupBy(_._1).flatMap { case (id, ps) =>
      val sorted = ps.map(_._2).sorted
      // gaps-and-islands: split where the gap between consecutive
      // duplicated gram starts exceeds k
      val islands = sorted.foldLeft(List.empty[List[Long]]) {
        case (Nil, p) => List(List(p))
        case (cur :: rest, p) =>
          if (p - cur.head <= k) (p :: cur) :: rest
          else List(p) :: cur :: rest
      }.map(_.reverse).reverse
      islands.map(is =>
        (id, is.min, is.max + (k - 1), is.size.toLong))
    }.toSet
  }

  test("exact_substring_spans: exact driver replay") {
    val got = byName("exact_substring_spans").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === spanExpected)
  }

  test("exact_substring_spans: every injected quotation is localized " +
    "on both sides") {
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // quote docs with at least k tokens exist for these base ids
    val quoted = base.filter { case (id, t) =>
      id % 20 == 0 && t.split(" ", -1).slice(3, 43).length >= 5
    }.map(_._1)
    val gotDocs = spanExpected.map(_._1)
    quoted.foreach { id =>
      assert(gotDocs.contains(id), s"base doc $id has no span")
      assert(gotDocs.contains(id + 10000L), s"quote of $id has no span")
    }
    // the base doc's span must cover the quoted token range start (pos 3)
    quoted.foreach { id =>
      val spans = spanExpected.filter(_._1 == id)
      assert(spans.exists(s => s._2 <= 3 && s._3 >= 7),
        s"doc $id: no span covering the quoted prefix grams")
    }
  }

  // ------------- driver-side replica of the IVF-PQ search path -------
  private def quantized(dir: String): Array[(Long, Array[Long])] =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1e6).toLong)
          .toArray))
      .sortBy(_._1)

  private def sq(a: Array[Long], b: Array[Long]): Long =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  private def subvec(qe: Array[Long], m: Int): Array[Long] =
    qe.slice(m * 16, m * 16 + 16)

  /** (qid, vec_id, rk, adc_dist) of ivf_pq_topk over `vecs`, every tie
    * broken by the lowest id: coarse (dist, list id), PQ code (dist,
    * codeword id), final ranking (adc, vec_id). */
  private def ivfPqReplay(vecs: Array[(Long, Array[Long])])
      : Seq[(Long, Long, Long, Long)] = {
    val cents = vecs.filter(_._1 % 31 == 7)
    def nearestList(qe: Array[Long]): Long =
      cents.map { case (cid, cv) => (sq(qe, cv), cid) }.min._2
    val assign = vecs.map { case (id, qe) => (id, nearestList(qe)) }.toMap
    val cb = vecs.filter(_._1 < 8).map { case (cid, qe) =>
      (cid, (0 until 4).map(m => subvec(qe, m)))
    }
    def codesOf(qe: Array[Long]): Array[Long] =
      (0 until 4).map { m =>
        cb.map { case (cid, subs) => (sq(subvec(qe, m), subs(m)), cid) }.min._2
      }.toArray
    val codes = vecs.map { case (id, qe) => (id, codesOf(qe)) }.toMap
    val queries = vecs.filter(_._1 < 6)
    queries.flatMap { case (qid, qe) =>
      val probed = cents.map { case (cid, cv) => (sq(qe, cv), cid) }
        .sorted.take(2).map(_._2).toSet
      val dt = (0 until 4).map { m =>
        cb.map { case (cid, subs) => cid -> sq(subvec(qe, m), subs(m)) }.toMap
      }
      val cand = vecs.map(_._1)
        .filter(id => id != qid && probed(assign(id)))
      cand.map { id =>
        val adc = (0 until 4).map(m => dt(m)(codes(id)(m))).sum
        (id, adc)
      }.sortBy { case (id, adc) => (adc, id) }.take(5).zipWithIndex
        .map { case ((id, adc), i) => (qid, id, (i + 1).toLong, adc) }
    }.toSeq
  }

  private lazy val ivfPqExpected = ivfPqReplay(quantized(sfDir))

  private def ivfPqGot(dir: String): Seq[(Long, Long, Long, Long)] =
    SparkEntry.registry.find(_.name == "ivf_pq_topk").get.fn(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3)).toSeq

  /** 100 sparse vectors: in each 16-dim subspace one of the first 8
    * components is 0.25, the rest 0 (exact on the e6 grid).  Every
    * distance is then a small multiple of one unit, so distinct vectors
    * tie everywhere: a vector sits as near to several list centroids, a
    * query's 2nd and 3rd lists tie, a subvector that matches no
    * codeword is equally far from all 8 of them, and repeated vectors
    * tie on ADC. */
  private def tieHeavyEmbeddings(): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(48)
    val rows = (0 until 100).map { i =>
      val v = Array.fill(64)(0f)
      (0 until 4).foreach(m => v(m * 16 + rnd.nextInt(8)) = 0.25f)
      (i.toLong, v.toSeq, i % 3)
    }
    val dir = tempDir("graft_ivfpq")
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("ivf_pq_topk: exact driver replay") {
    val got = byName("ivf_pq_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3))
    assert(got.toSeq === ivfPqExpected.sortBy(t => (t._1, t._3)))
  }

  test("ivf_pq_topk: tie-heavy replay pins every (dist, id) tie-break") {
    val dir = tieHeavyEmbeddings()
    val vecs = quantized(dir)
    val cents = vecs.filter(_._1 % 31 == 7).map(_._2).toSeq
    val cb = vecs.filter(_._1 < 8).map(_._2).toSeq
    // the nearest points of `ps` to v include two different vectors
    def tied(v: Array[Long], ps: Seq[Array[Long]]): Boolean = {
      val ds = ps.map(p => (sq(v, p), p.toSeq))
      ds.filter(_._1 == ds.map(_._1).min).map(_._2).distinct.size > 1
    }
    // the fixture forces a tie at each of the three levels
    assert(vecs.exists { case (_, qe) => tied(qe, cents) })
    assert(vecs.exists { case (_, qe) => (0 until 4).exists(m =>
      tied(subvec(qe, m), cb.map(subvec(_, m)))) })
    val want = ivfPqReplay(vecs).sortBy(t => (t._1, t._3))
    assert(want.groupBy(_._1).values.exists(rs =>
      rs.map(_._4).distinct.size < rs.size))
    assert(ivfPqGot(dir) === want)
  }

  test("ivf_pq_topk: ranks dense from 1, distances nondecreasing") {
    val byQ = ivfPqExpected.groupBy(_._1)
    byQ.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._3)
      assert(sorted.map(_._3) === (1L to sorted.size.toLong))
      assert(sorted.map(_._4) === sorted.map(_._4).sorted)
    }
  }
}
