package graft

import org.apache.spark.sql.functions._
import graft.plans.{AsOfJoin, AsOfJoinExec}

/** The one session definition. The shared test session is
  * `GraftSession(4)`, the function `Bench` and `Verify` call with
  * `SPARK_GRAFT_CPUS` (default 4), so these pins hold for them too. */
class GraftSessionSpec extends SparkSpec {

  test("the session's conf is pinned key by key") {
    // what Spark itself assigns to every context: ids, addresses, JVM
    // options, defaults and the cwd-relative warehouse
    val sparkAssigned = Set("spark.app.id", "spark.app.name",
      "spark.app.startTime", "spark.driver.host", "spark.driver.port",
      "spark.executor.id", "spark.driver.extraJavaOptions",
      "spark.executor.extraJavaOptions", "spark.sql.warehouse.dir")
    val pinned = Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.extensions" -> "graft.functions.GraftExtensions",
      "spark.sql.catalog.graft" -> "graft.sources.v2.GraftCatalog")
    // the context's conf is what the builder handed over; specs that
    // set runtime confs cannot change it
    val built = spark.sparkContext.getConf.getAll.toMap
      .filter { case (k, _) =>
        !sparkAssigned(k) && !k.startsWith("spark.hadoop.fs.s3a.") }
    assert(built === pinned)
    pinned.foreach { case (k, v) => assert(spark.conf.get(k) === v, k) }
  }

  test("extension functions resolve in SQL with no registration call") {
    val r = spark.sql("SELECT cosine_similarity(" +
      "cast(array(3, 4) AS array<float>), " +
      "cast(array(4, 3) AS array<float>)) AS c").head()
    assert(math.abs(r.getDouble(0) - 0.96) < 1e-12)
  }

  test("AsOfJoin.latest plans AsOfJoinExec with no strategy registration") {
    import spark.implicits._
    val left = Seq((1L, 10L), (1L, 30L), (2L, 5L)).toDF("k", "t")
    val right = Seq((1L, 5L, 100L), (1L, 20L, 200L), (2L, 9L, 300L))
      .toDF("rk", "rt", "v")
    val joined = AsOfJoin.latest(left, "k", "t", right, "rk", "rt", "v", "out")
    val plan = joined.queryExecution.sparkPlan
    assert(plan.collectFirst { case j: AsOfJoinExec => j }.isDefined,
      plan.toString)
    assert(joined.orderBy("k", "t").select(col("out")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq ===
      Seq(Some(100L), Some(200L), None))
  }
}
