package graft

import org.apache.spark.sql.functions._
import graft.functions.{RewriteTokenCount, SwKernel, TokenCountWs}
import graft.functions.TokenCountKernel.tokenCount

/** Batch-4 invariants: Smith-Waterman laws, token-count kernel parity
  * and rewrite rule, histogram-drift recompute. */
class Curation10Spec extends SparkSpec {

  private def byName(name: String) =
    SparkEntry.registry.find(_.name == name).get.fn(spark, sfDir)

  // ------------------------------------------------ Smith-Waterman

  /** Full-matrix SW, independent of the kernel's rolling rows. */
  private def swRef(a: String, b: String): Long = {
    val x = a.split(" ", -1); val y = b.split(" ", -1)
    val dp = Array.ofDim[Long](x.length + 1, y.length + 1)
    var best = 0L
    for (i <- 1 to x.length; j <- 1 to y.length) {
      val s = dp(i - 1)(j - 1) + (if (x(i - 1) == y(j - 1)) 2L else -1L)
      dp(i)(j) = math.max(0L,
        math.max(s, math.max(dp(i - 1)(j) - 1, dp(i)(j - 1) - 1)))
      best = math.max(best, dp(i)(j))
    }
    best
  }

  test("smith_waterman_pairs matches the full-matrix recompute") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = byName("smith_waterman_pairs").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (pid, score, lb) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val ta = docs(pid)
      val tb = ta.substring(0, ta.length * 9 / 10)
      assert(score === swRef(ta, tb), s"pair $pid")
      // prefix alignment: the local score reaches at least 2*(lb-1)
      // (all but possibly the cut final token align as matches)
      assert(score >= 2 * (lb - 1), s"pair $pid weak alignment")
      assert(score <= 2 * lb)
    }
  }

  test("smith_waterman kernel laws on adversarial inputs") {
    import spark.implicits._
    val rows = Seq(
      ("a b c", "a b c", 6L),           // perfect match
      ("a b c", "x y z", 0L),           // nothing aligns (floor at 0)
      ("p q a b c r", "z a b c z", 6L), // local region ignores flanks
      ("a", "a", 2L),
      ("a b a b", "a b", 4L))
    val got = rows.toDF("a", "b", "want")
      .select(graft.functions.SwKernel.smithWaterman(col("a"), col("b"))
        .as("s"), col("want"))
      .collect()
    got.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // symmetry under swap for these scoring params
    val sym = rows.toDF("a", "b", "w")
      .select(graft.functions.SwKernel.smithWaterman(col("a"), col("b")) ===
        graft.functions.SwKernel.smithWaterman(col("b"), col("a")))
      .collect()
    assert(sym.forall(_.getBoolean(0)))
  }

  // ------------------------------------------------ token_count

  test("token_count kernel equals size(split) on fixture and edges") {
    import spark.implicits._
    val fixture = Tables.documents(spark, sfDir).select(col("text").as("t"))
    val edges = Seq("", " ", "a", "a ", " a", "a  b", "héllo wörld",
      "多字节 字符 test").toDF("t")
    for (texts <- Seq(fixture, edges)) {
      // the reference must stay size(split): plan it without the rewrite
      val viaSplit =
        withConf(SparkSpec.ExcludedRules -> RewriteTokenCount.ruleName) {
          val ref = texts.select(col("t"), size(split(col("t"), " ")))
          assert(optimizedExprs(ref) { case k: TokenCountWs => k }.isEmpty)
          ref.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
        }
      val viaKernel = texts.select(col("t"), tokenCount(col("t")))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(viaKernel === viaSplit)
    }
  }

  test("RewriteTokenCount rewrites the space form and only that form") {
    def spaceForm = Tables.documents(spark, sfDir)
      .select(size(split(col("text"), " ")).as("n"))
    val plan = spaceForm.queryExecution.optimizedPlan.toString
    assert(plan.contains("token_count"), s"not rewritten:\n$plan")
    assert(!plan.contains("split"), s"split survived:\n$plan")
    // rewritten plan computes identical values
    val viaRule = spaceForm.agg(sum(col("n"))).head().getLong(0)
    val plain =
      withConf(SparkSpec.ExcludedRules -> RewriteTokenCount.ruleName) {
        val ref = spaceForm.agg(sum(col("n")))
        assert(optimizedExprs(ref) { case k: TokenCountWs => k }.isEmpty)
        ref.head().getLong(0)
      }
    assert(viaRule === plain)
    // negative: regex separators are left alone
    val negative = Tables.documents(spark, sfDir)
      .select(size(split(col("text"), "\\s+")).as("n"))
      .queryExecution.optimizedPlan.toString
    assert(!negative.contains("token_count"), s"over-matched:\n$negative")
  }

  // ------------------------------------------------ histogram drift

  test("histogram_drift_l1 recomputes from raw lengths") {
    val lens = Tables.documents(spark, sfDir)
      .select(col("doc_id"), length(col("text")).as("l")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val h1 = lens.map(_._2 / 50).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val v2lens = lens.filter(_._1 % 7 != 0)
      .map { case (id, l) => if (id % 11 == 0) l + 3 else l } ++
      lens.filter(_._1 % 13 == 0).map(_._2)
    val h2 = v2lens.map(_ / 50).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val nt1 = h1.values.sum; val nt2 = h2.values.sum
    val sad = (h1.keySet ++ h2.keySet).toSeq.map { b =>
      math.abs(h1.getOrElse(b, 0L) * nt2 - h2.getOrElse(b, 0L) * nt1)
    }.sum
    val want = 1000 * sad / (2 * nt1 * nt2)
    val r = byName("histogram_drift_l1").head()
    assert(r.getLong(0) === nt1 && r.getLong(1) === nt2)
    assert(r.getLong(2) === want)
    // drift of a corpus against itself is zero
    assert(want >= 0 && r.getLong(2) < 1000)
  }
}
