package graft

import org.apache.spark.sql.functions._

/** Spark's own runtime row-level filtering (InjectRuntimeFilter): with
  * a selective filter on the creation side of a shuffle join, the
  * optimizer builds a bloom filter over the creation-side join keys
  * and injects a might_contain() probe into the application side's
  * scan — the row-level sibling of dynamic partition pruning, and the
  * engine-native form of the explicit bloom_semijoin_prune query.
  * Thresholds are tuned down because the fixture is tiny; at 100 TB
  * the defaults (10 MB creation side, 10 GB application side) gate the
  * same rewrite. */
class RuntimeFilterSpec extends SparkSpec {

  test("selective dim filter injects a bloom runtime filter " +
    "(might_contain) into the fact side of a shuffle join") {
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // fixture-sized thresholds: let the tiny tables qualify
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      // force a shuffle join: broadcast would make the filter pointless
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    withConf(confs: _*) {
      val fact = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_extendedprice"))
      val dim = Tables.orders(spark, sfDir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val joined = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"no runtime bloom filter injected:\n$optimized")
      // and the rewrite is semantics-preserving
      val n = joined.collect().head.getLong(0)
      val n0 = withConf(
          "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false") {
        fact.join(dim, col("l_orderkey") === col("o_orderkey"))
          .agg(count(lit(1))).collect().head.getLong(0)
      }
      assert(n === n0)
      assert(n > 0L)
    }
  }
}
