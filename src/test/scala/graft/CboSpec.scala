package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}

/** Cost-based optimizer pins — the statistics half of the optimizer
  * surface (PlanAuditSpec covers the rule half: pushdown, DPP, AQE,
  * runtime filters).  At 100 TB the difference between a stats-blind
  * plan and a stats-driven one is a broadcast vs a corpus-wide
  * shuffle, so the engine must demonstrate that ANALYZE'd catalog
  * tables actually change the physical plan:
  *
  *  1. ANALYZE TABLE ... FOR ALL COLUMNS lands an exact rowCount in
  *     the optimized plan's stats (the input every cost decision
  *     reads);
  *  2. equality-filter selectivity from column NDV turns a
  *     would-be SortMergeJoin into a BroadcastHashJoin: the raw table
  *     is over the broadcast threshold, but rowCount/ndv(l_orderkey)
  *     estimates the filtered side at a few rows — a decision
  *     impossible without column stats (stats-off twin pinned to SMJ);
  *  3. plans stay result-identical with CBO on/off (cost changes the
  *     shape, never the answer).
  *
  * Conf mutations go through SparkSpec.withConf; tables are managed in
  * the default warehouse and dropped after, so no state escapes the
  * suite.
  */
class CboSpec extends SparkSpec {

  private def setup(): Unit = {
    spark.sql("DROP TABLE IF EXISTS cbo_lineitem")
    spark.sql("DROP TABLE IF EXISTS cbo_orders")
    Tables.lineitem(spark, sfDir).write.mode("overwrite")
      .saveAsTable("cbo_lineitem")
    Tables.orders(spark, sfDir).write.mode("overwrite")
      .saveAsTable("cbo_orders")
    spark.sql("ANALYZE TABLE cbo_lineitem COMPUTE STATISTICS FOR ALL COLUMNS")
    spark.sql("ANALYZE TABLE cbo_orders COMPUTE STATISTICS FOR ALL COLUMNS")
  }

  private def teardown(): Unit = {
    spark.sql("DROP TABLE IF EXISTS cbo_lineitem")
    spark.sql("DROP TABLE IF EXISTS cbo_orders")
  }

  test("ANALYZE lands an exact rowCount in optimized-plan stats") {
    setup()
    try withConf("spark.sql.cbo.enabled" -> "true") {
      val exact = spark.table("cbo_lineitem").count()
      val stats = spark.table("cbo_lineitem")
        .queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(exact)),
        s"rowCount=${stats.rowCount} exact=$exact")
      // and equality-filter selectivity uses column NDV: the estimate
      // for one orderkey must be a tiny fraction of the table
      val sel = spark.table("cbo_lineitem")
        .where(col("l_orderkey") === 42)
        .queryExecution.optimizedPlan.stats
      assert(sel.rowCount.exists(r => r > 0 && r * 50 < exact),
        s"filtered estimate ${sel.rowCount} not selective vs $exact")
    } finally teardown()
  }

  test("column-stat selectivity flips the join to broadcast; stats-blind stays SMJ") {
    setup()
    try {
      def joinPlan = {
        val filtered = spark.table("cbo_lineitem")
          .where(col("l_orderkey") === 42)
        filtered.join(spark.table("cbo_orders"),
            col("l_orderkey") === col("o_orderkey"))
          .queryExecution.executedPlan
      }
      // threshold below the raw table footprint, far above a few rows
      val confs = Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "10240",
        "spark.sql.adaptive.enabled" -> "false")
      withConf(confs :+ ("spark.sql.cbo.enabled" -> "true"): _*) {
        val bhj = joinPlan.collect { case j: BroadcastHashJoinExec => j }
        assert(bhj.nonEmpty,
          s"CBO on: expected BroadcastHashJoin, got\n$joinPlan")
      }
      withConf(confs :+ ("spark.sql.cbo.enabled" -> "false"): _*) {
        val smj = joinPlan.collect { case j: SortMergeJoinExec => j }
        assert(smj.nonEmpty,
          s"CBO off: expected SortMergeJoin, got\n$joinPlan")
      }
    } finally teardown()
  }

  test("CBO changes the plan, never the answer") {
    setup()
    try {
      def run = spark.table("cbo_lineitem")
        .where(col("l_orderkey") % 97 === 3)
        .join(spark.table("cbo_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))
        .orderBy(col("o_orderstatus"))
        .collect().toSeq
      val off = withConf("spark.sql.cbo.enabled" -> "false")(run)
      val on = withConf("spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> "true")(run)
      assert(on == off, "CBO must be semantics-preserving")
    } finally teardown()
  }
}
