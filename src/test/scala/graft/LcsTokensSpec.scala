package graft

import org.apache.spark.sql.functions._
import graft.functions.LcsKernel.lcsTokens

/** Native token-LCS kernel: independent DP recompute, metric laws,
  * SQL surface, and plan shape. */
class LcsTokensSpec extends SparkSpec {

  /** Textbook full-matrix DP, independent of the kernel's rolling rows. */
  private def lcsRef(a: String, b: String): Long = {
    val x = a.split(" ", -1); val y = b.split(" ", -1)
    val dp = Array.ofDim[Long](x.length + 1, y.length + 1)
    for (i <- 1 to x.length; j <- 1 to y.length)
      dp(i)(j) =
        if (x(i - 1) == y(j - 1)) dp(i - 1)(j - 1) + 1
        else math.max(dp(i - 1)(j), dp(i)(j - 1))
    dp(x.length)(y.length)
  }

  test("kernel equals the full-matrix DP on fixture pairs") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = Tables.documents(spark, sfDir).filter(col("doc_id") < 20)
      .select(col("doc_id"), lcsTokens(col("text"),
        reverse(col("text"))).as("lcs"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (id, lcs) =>
      assert(lcs === lcsRef(docs(id), docs(id).reverse), s"doc $id")
    }
  }

  test("metric laws: identity, symmetry, subsequence bound") {
    import spark.implicits._
    val pairs = Seq(
      ("a b c d e", "a b c d e"),
      ("a b c d e", "e d c b a"),
      ("a b c d e", "x a y c z e"),
      ("", ""),
      ("one", "two"),
      ("w x y z", "w z"))
    val df = pairs.toDF("a", "b")
      .select(col("a"), col("b"),
        lcsTokens(col("a"), col("b")).as("ab"),
        lcsTokens(col("b"), col("a")).as("ba"),
        lcsTokens(col("a"), col("a")).as("aa"))
    df.collect().foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val (ab, ba, aa) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(ab === ba, s"symmetry on ($a, $b)")
      assert(aa === a.split(" ", -1).length.toLong, s"identity on $a")
      assert(ab <= math.min(a.split(" ", -1).length,
        b.split(" ", -1).length), s"bound on ($a, $b)")
      assert(ab === lcsRef(a, b), s"value on ($a, $b)")
    }
    // spot values: "a b c d e" vs "x a y c z e" share subsequence a c e
    val m = pairs.toDF("a", "b")
      .select(lcsTokens(col("a"), col("b"))).collect().map(_.getLong(0))
    assert(m(0) === 5 && m(1) === 1 && m(2) === 3 && m(5) === 2)
  }

  test("SQL surface and codegen plan") {
    val viaSql = spark.sql(
      "SELECT lcs_tokens('a b c', 'a x c') AS l").head().getLong(0)
    assert(viaSql === 2L)
    val q = SparkEntry.registry.find(_.name == "rouge_l_pairs").get
      .fn(spark, sfDir)
    // sparkPlan (pre-AQE) renders codegen stage markers deterministically
    val plan = q.queryExecution.sparkPlan.toString
    assert(plan.contains("lcs_tokens"), s"kernel missing:\n$plan")
    // the pair join broadcasts the 8-row side, never shuffles the corpus
    assert(plan.contains("BroadcastHashJoin"), s"join shape:\n$plan")
  }

  test("rouge_l_pairs f1 assembles from the kernel value") {
    val rows = SparkEntry.registry.find(_.name == "rouge_l_pairs").get
      .fn(spark, sfDir).collect()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length === 8)
    rows.foreach { r =>
      val (pid, lcs, f1) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val la = docs(pid).split(" ", -1).length.toLong
      val lb = docs(pid + 1).split(" ", -1).length.toLong
      assert(lcs === lcsRef(docs(pid), docs(pid + 1)), s"pair $pid")
      assert(f1 === 2 * lcs * 1000000L / (la + lb), s"pair $pid f1")
      assert(f1 >= 0 && f1 <= 1000000L)
    }
  }
}
