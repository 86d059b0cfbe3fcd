package graft

import org.apache.spark.sql.functions._

/** Batch-55 invariants: exact driver replay of the BLEU ingredients
  * and the bounds the prefix-truncation construction implies. */
class Curation55Spec extends SparkSpec with TempDirs {

  private def byName(name: String) =
    SparkEntry.registry.find(_.name == name).get.fn(spark, sfDir)

  test("bleu_ngram_precisions: exact clipped-count replay; prefix " +
    "candidates keep precision near the ceiling") {
    val base = Tables.documents(spark, sfDir)
      .filter(pmod(col("doc_id"), lit(50)) === 0)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    def ngrams(s0: String, n: Int): Map[String, Long] =
      s0.split(" ", -1).sliding(n).filter(_.length == n)
        .map(_.mkString(" ")).toSeq.groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
    val perN = (1 to 4).map { n =>
      var matched = 0L; var total = 0L
      base.foreach { case (_, ref) =>
        val cand = ref.substring(0, ref.length * 9 / 10)
        val cg = ngrams(cand, n); val rg = ngrams(ref, n)
        cg.foreach { case (g, c) =>
          matched += math.min(c, rg.getOrElse(g, 0L)); total += c
        }
      }
      (n.toLong, matched, total, matched * 1000 / total)
    }
    val brevM = base.map { case (_, ref) =>
      ref.substring(0, ref.length * 9 / 10).split(" ", -1).length.toLong }.sum
    val brevT = base.map(_._2.split(" ", -1).length.toLong).sum
    val expected = (perN :+
      ((0L, brevM, brevT, brevM * 1000 / brevT))).toSet
    val got = byName("bleu_ngram_precisions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got === expected)
    // construction bounds: a prefix shares all but boundary grams, so
    // precision stays near (and never above) the ceiling, and longer
    // grams can only lower it
    val prec = got.toSeq.filter(_._1 > 0).sortBy(_._1).map(_._4)
    assert(prec.forall(p => p > 900 && p <= 1000))
    assert(prec.zip(prec.tail).forall { case (a, b) => b <= a })
    // brevity ratio reflects the 90% truncation (word-rounding slack)
    val brev = got.find(_._1 == 0L).get._4
    assert(brev >= 850 && brev <= 950)
  }

  test("chrf_char_ngram_f: exact char-gram replay; recall tracks the " +
    "10% truncation, precision stays near the ceiling") {
    val base = Tables.documents(spark, sfDir)
      .filter(pmod(col("doc_id"), lit(50)) === 0)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    def cgrams(s0: String, n: Int): Map[String, Long] =
      (0 to s0.length - n).map(i => s0.substring(i, i + n))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = (1 to 6).map { n =>
      var m = 0L; var ct = 0L; var rt = 0L
      base.foreach { case (_, ref) =>
        val cand = ref.substring(0, ref.length * 9 / 10)
        val cg = cgrams(cand, n); val rg = cgrams(ref, n)
        (cg.keySet ++ rg.keySet).foreach { g =>
          m += math.min(cg.getOrElse(g, 0L), rg.getOrElse(g, 0L))
        }
        ct += cg.values.sum; rt += rg.values.sum
      }
      val p = m * 1000 / ct; val r = m * 1000 / rt
      val f = if (p + r == 0) 0L else 2 * p * r / (p + r)
      (n.toLong, m, p, r, f)
    }.toSet
    val got = byName("chrf_char_ngram_f").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got === expected)
    // a 90% char prefix: precision near ceiling, recall near 900
    got.foreach { case (_, _, p, r, f) =>
      assert(p > 950 && p <= 1000)
      assert(r > 850 && r < 950)
      assert(f >= r && f <= p) // harmonic mean sits between
    }
  }

  test("short documents contribute empty gram sets, not crashes or " +
    "fabricated grams (the downward-sequence guard)") {
    import spark.implicits._
    // a corpus where the selected pair set (doc_id % 50 == 0) contains
    // a 1-token / 2-char doc: unguarded, the BLEU enumeration throws
    // (slice at i <= 0) and the chrF one silently invents char-grams
    val dir = tempDir("graft_c55_short")
    Seq(
      (0L, "hi"),                       // 1 token, 2 chars — the trap
      (50L, "alpha beta gamma delta epsilon zeta eta theta"),
      (100L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val bleu = SparkEntry.registry.find(_.name == "bleu_ngram_precisions")
      .get.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // "hi" has one 1-gram and zero 2/3/4-grams; candidate = 90% prefix
    // of "hi" = "h" (1 token).  Long docs dominate, but the short doc
    // must add exactly one clipped unigram pair and nothing above n=1.
    assert(bleu.keySet === Set(0L, 1L, 2L, 3L, 4L))
    val docs = Seq("hi",
      "alpha beta gamma delta epsilon zeta eta theta",
      "one two three four five six seven eight nine ten")
    def toks(s0: String) = s0.substring(0, s0.length * 9 / 10)
      .split(" ", -1).filter(_ => true)
    val candToks = docs.map(toks)
    (1 to 4).foreach { n =>
      val total = candToks.map(t => math.max(0, t.length - n + 1).toLong).sum
      assert(bleu(n.toLong)._2 === total,
        s"n=$n: expected $total candidate $n-grams (short doc excluded)")
    }
    val chrf = SparkEntry.registry.find(_.name == "chrf_char_ngram_f")
      .get.fn(spark, dir).collect()
    assert(chrf.map(_.getLong(0)).sorted === Array(1L, 2L, 3L, 4L, 5L, 6L))
  }
}
