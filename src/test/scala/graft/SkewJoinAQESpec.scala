package graft

import org.apache.spark.sql.functions._

/** AQE skew-join handling: the runtime complement to the engine's
  * manual salting operator (`skewjoin_salted`). A join keyed on a
  * pathologically hot key must be split by OptimizeSkewedJoin at
  * runtime — the same re-plan a 1000-executor job relies on when a
  * crawl's domain distribution turns one shuffle partition into a
  * straggler. Thresholds are lowered so the fixture-scale skew
  * triggers the identical code path production sizes would. */
class SkewJoinAQESpec extends SparkSpec {

  test("AQE splits the skewed partition at runtime (skew=true in plan)") {
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    withConf(confs: _*) {
      import spark.implicits._
      // 50k rows, 90% on one hot key; the dim side is forced to shuffle
      // (broadcast disabled) so the join is a genuine SMJ/SHJ.
      val facts = spark.range(0, 50000)
        .select(when(pmod(col("id"), lit(10)) < 9, 7L)
          .otherwise(pmod(col("id"), lit(1000))).as("k"),
          col("id").as("payload"))
      val dim = spark.range(0, 1000).select(col("id").as("k"),
        concat(lit("d"), col("id")).as("name"))
      val joined = facts.join(dim, "k")
      // materialize THIS query execution so AQE finalizes it (a bare
      // .count() would plan a separate execution and leave this one
      // unfinalized)
      assert(joined.queryExecution.toRdd.count() === 50000L)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected a skew-split join in the adaptive plan:\n$plan")
    }
  }
}
