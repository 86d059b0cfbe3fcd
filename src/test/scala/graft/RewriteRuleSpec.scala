package graft

import org.apache.spark.sql.functions._
import graft.functions.{CosineSimilarity, RewriteBoundedTopK, RewriteCosineHof, TopKLongsAgg}
import graft.functions.VectorOps._

/** The optimizer rules GraftExtensions injects: the public-API HOF
  * cosine formulation and the bounded top-k idiom must be rewritten to
  * the native kernels, with identical results.
  *
  * The shared session runs the rules, as `Bench` and `Verify` do. An
  * un-rewritten reference is planned with its rule listed in Spark's
  * `spark.sql.optimizer.excludedRules`, and each reference asserts that
  * its optimized plan holds no kernel node, so a comparison can never
  * silently compare the kernel with itself.
  */
class RewriteRuleSpec extends SparkSpec {

  private def pairs = {
    val e = Tables.embeddings(spark, sfDir)
    e.select(col("vec_id"), col("embedding").as("a"))
      .filter(col("vec_id") < 20)
      .crossJoin(e.filter(col("vec_id") === 0)
        .select(col("embedding").as("b")))
  }

  test("HOF cosine is rewritten to the native kernel and matches it") {
    val df = pairs.select(col("vec_id"),
      cosineHof(col("a"), col("b")).as("cos"))
    val natives = optimizedExprs(df) { case c: CosineSimilarity => c }
    assert(natives.nonEmpty,
      s"expected CosineSimilarity in optimized plan:\n${df.queryExecution.optimizedPlan}")
    val viaRule = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaNative = pairs.select(col("vec_id"),
      cosine(col("a"), col("b")).as("cos"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaRule == viaNative) // bit-identical, not approximately
  }

  test("rule leaves non-cosine HOF aggregates alone") {
    // a plain dot product (no norm divide) must NOT be rewritten
    val df = pairs.select(dot(col("a"), col("b")).as("d"))
    assert(optimizedExprs(df) { case c: CosineSimilarity => c }.isEmpty)
    // and it still evaluates
    assert(df.count() == 20)
  }

  test("bounded top-k idiom is rewritten to TopKLongsAgg, both directions") {
    def idiom(asc: Boolean) = Tables.documents(spark, sfDir)
      .groupBy(col("lang"))
      .agg(slice(sort_array(collect_list(col("n_chars")), asc = asc),
        1, 5).as("head5"))
    for (asc <- Seq(true, false)) {
      val df = idiom(asc)
      val rewritten = optimizedExprs(df) { case t: TopKLongsAgg => t }
      assert(rewritten.nonEmpty, s"asc=$asc not rewritten")
      assert(rewritten.head.largest == !asc)
      // value-identical to the unrewritten evaluation
      val plain =
        withConf(SparkSpec.ExcludedRules -> RewriteBoundedTopK.ruleName) {
          val ref = idiom(asc)
          assert(optimizedExprs(ref) { case t: TopKLongsAgg => t }.isEmpty)
          ref.collect().map(r2 => r2.getString(0) -> r2.getSeq[Long](1)).toMap
        }
      val viaRule = df.collect()
        .map(r2 => r2.getString(0) -> r2.getSeq[Long](1)).toMap
      assert(viaRule == plain, s"asc=$asc mismatch")
    }
    // slice not starting at 1 must NOT be rewritten
    val off = Tables.documents(spark, sfDir).groupBy(col("lang"))
      .agg(slice(sort_array(collect_list(col("n_chars"))), 2, 5).as("mid"))
    assert(optimizedExprs(off) { case t: TopKLongsAgg => t }.isEmpty)
    assert(off.count() == 5)
  }
}
