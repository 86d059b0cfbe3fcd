package graft

import org.apache.spark.sql.functions._

/** The bucketed-layout claim behind `bucketed_colocated_join`: once both
  * sides are bucketBy(8, orderkey) + sortBy on disk, the orderkey join
  * itself plans WITHOUT any exchange or sort — write-time shuffling is
  * what a 100 TB fact layout buys every downstream join. */
class BucketedJoinSpec extends SparkSpec {

  test("bucketed-table join plans zero exchanges and zero sorts " +
    "with broadcast disabled") {
    // materialize the bucketed tables (built once per app+dataset;
    // names carry the app tag + dataset tag — see
    // bucketed_colocated_join)
    SparkEntry.registry.find(_.name == "bucketed_colocated_join").get
      .fn(spark, sfDir).queryExecution.toRdd.count()
    val tag =
      s"${Scratch.tag(spark.sparkContext.applicationId)}_${Scratch.tag(sfDir)}"
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table(s"graft_li_by_orderkey_$tag")
        .join(spark.table(s"graft_ord_by_orderkey_$tag"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.sparkPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join should not shuffle:\n$plan")
      assert(!"(?m)^\\s*[+:]?-? ?Sort ".r.findFirstIn(plan).isDefined,
        s"bucketed+sorted layout should not re-sort:\n$plan")
      // and it's not just an empty plan — the join actually matches
      assert(joined.count() > 0)
    }
  }

  test("bucketed join values equal the raw-parquet join") {
    val viaBuckets = SparkEntry.registry
      .find(_.name == "bucketed_colocated_join").get
      .fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val raw = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(floor(col("l_extendedprice") * 100).cast("long") *
        (lit(100L) - floor(col("l_discount") * 100).cast("long")))
        .as("revenue_e4"),
        count(lit(1)).as("n_items"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(viaBuckets.toSeq === raw.toSeq)
  }
}
