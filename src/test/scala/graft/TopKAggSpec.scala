package graft

import org.apache.spark.sql.functions._
import graft.functions.TopKLongsAgg.topkLongs

/** The native TypedImperativeAggregate: value parity with the sort-based
  * formulation, two-phase ObjectHashAggregate planning, heap-buffer
  * bounds, and robustness to k larger than the group. */
class TopKAggSpec extends SparkSpec {

  test("agrees with the sort-based top-k on every group") {
    val viaAgg = Tables.documents(spark, sfDir)
      .groupBy(col("lang")).agg(topkLongs(col("n_chars"), 5).as("t"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val direct = Tables.documents(spark, sfDir)
      .select(col("lang"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1)
      .map { case (l, rs) =>
        l -> rs.map(_._2).sortBy(-_).take(5).toSeq
      }
    assert(viaAgg == direct)
  }

  test("plans two ObjectHashAggregate phases around one exchange") {
    val plan = Tables.documents(spark, sfDir)
      .groupBy(col("lang")).agg(topkLongs(col("n_chars"), 3))
      .queryExecution.sparkPlan.toString
    assert("ObjectHashAggregate".r.findAllIn(plan).length == 2, plan)
    assert(plan.contains("partial_topk_longs"), plan)
  }

  test("callable from spark.sql after registration") {
    Tables.documents(spark, sfDir).createOrReplaceTempView("docs_topk_v")
    val viaSql = spark.sql(
      "SELECT lang, topk_longs(n_chars, 5) AS t FROM docs_topk_v GROUP BY lang")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val viaCol = Tables.documents(spark, sfDir)
      .groupBy(col("lang")).agg(topkLongs(col("n_chars"), 5).as("t"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(viaSql == viaCol)
  }

  test("k beyond the group size returns the whole group, descending") {
    import spark.implicits._
    val tiny = Seq(("a", 3L), ("a", 9L), ("a", 1L), ("b", 5L))
      .toDF("g", "v")
    val got = tiny.groupBy(col("g")).agg(topkLongs(col("v"), 10).as("t"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(got("a") == Seq(9L, 3L, 1L))
    assert(got("b") == Seq(5L))
    // nulls are skipped, not propagated
    val withNulls = Seq(("a", Some(2L)), ("a", None), ("a", Some(7L)))
      .toDF("g", "v")
    val g2 = withNulls.groupBy(col("g")).agg(topkLongs(col("v"), 2).as("t"))
      .head().getSeq[Long](1)
    assert(g2 == Seq(7L, 2L))
  }
}
