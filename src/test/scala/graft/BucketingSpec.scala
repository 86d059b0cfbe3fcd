package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Bucketed tables: the write-once-shuffle-never layout for a 100 TB
  * fact table (SCALE.md).  Verifies that a join between two tables
  * bucketed on the join key plans with NO shuffle exchange. */
class BucketingSpec extends SparkSpec {

  test("co-bucketed join plans without a shuffle") {
    // default warehouse dir (spark.sql.warehouse.dir is static); managed
    // tables are dropped below, which removes their data
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")

    Tables.orders(spark, sfDir)
      .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("orders_b")
    Tables.lineitem(spark, sfDir)
      .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("lineitem_b")

    // disable auto-broadcast so the join would otherwise shuffle
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))

      val shuffles = joined.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s
      }
      // only the final groupBy may shuffle; the join itself must not
      assert(shuffles.size <= 1,
        s"expected at most the agg shuffle, got ${shuffles.size}")

      // and the result matches the unbucketed join
      val expected = Tables.lineitem(spark, sfDir)
        .join(Tables.orders(spark, sfDir),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val got = joined.collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      assert(got === expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }
}
