package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.pipelines.CurationPipeline

/** The composed curation pipeline: monotone stage counts, exact-dup
  * elimination, split integrity of the written output, and observe()
  * metrics agreeing with the files on disk. */
class CurationPipelineSpec extends SparkSpec with TempDirs
    with AdaptiveSparkPlanHelper {

  private lazy val out =
    tempDir("graft_pipeline") + "/curated"
  private lazy val result = CurationPipeline.run(spark, sfDir, out)

  private def counts(r: CurationPipeline.Result) =
    (r.ingested, r.afterDedup, r.afterNearDup, r.afterQuality, r.afterKAnon,
      r.written)

  /** Runs the pipeline over `docs` written as a one-table corpus. */
  private def runOn(docs: DataFrame): CurationPipeline.Result = {
    val dir = tempDir("graft_pipeline_in")
    docs.write.parquet(s"$dir/documents.parquet")
    CurationPipeline.run(spark, dir, s"$dir/curated")
  }

  test("stage counts on the fixture are pinned") {
    assert(counts(result) === ((530L, 510L, 473L, 473L, 425L, 425L)))
    // and the rows themselves: per split, (rows, sum of ids, sum of chars)
    val perSplit = spark.read.parquet(out).groupBy(col("split"))
      .agg(count(lit(1)), sum(col("doc_id")), sum(col("n_chars")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(perSplit === Map("test" -> ((53L, 12530L, 16747L)),
      "train" -> ((336L, 82544L, 100065L)), "val" -> ((36L, 8658L, 13087L))))
  }

  test("stage counts when the language gate rejects every document") {
    val r = runOn(Tables.documents(spark, sfDir).withColumn("lang", lit("xx")))
    assert(counts(r) === ((530L, 510L, 473L, 0L, 0L, 0L)))
  }

  test("stage counts when the k-anonymity gate rejects every document") {
    val r = runOn(Tables.documents(spark, sfDir).filter(col("doc_id") < 3))
    assert(counts(r) === ((5L, 4L, 3L, 3L, 0L, 0L)))
  }

  test("stage counts on an empty corpus") {
    val r = runOn(Tables.documents(spark, sfDir).limit(0))
    assert(counts(r) === ((0L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("plan law: one run is one SQL execution, the write") {
    result // a first run warms the fixture's schema memo
    val done = ArrayBuffer.empty[(String, QueryExecution)]
    val qel = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        done.synchronized(done += (f -> qe))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        done.synchronized(done += (s"failed $f" -> qe))
    }
    spark.listenerManager.register(qel)
    val (_, log) =
      try JobLog.during(spark.sparkContext)(CurationPipeline.run(spark, sfDir,
        tempDir("graft_pipeline") + "/law"))
      finally spark.listenerManager.unregister(qel)
    assert(done.map(_._1).toSeq === Seq("command"))
    assert(log.executions.size === 1, log.executions)
    val (writeId, site) = log.executions.head
    assert(site.startsWith("parquet at CurationPipeline.scala"), site)
    assert(log.jobs.nonEmpty)
    assert(log.jobs.forall(_.contains(writeId)), log.jobs)
    // every fingerprint consumer reads one fp-partitioned exchange, so
    // the winnow kernel's Generate appears once in the final plan
    val plan = done.head._2.executedPlan
    val generates = collect(plan) { case g: GenerateExec => g }
    assert(generates.size === 1, plan.treeString)
  }

  test("stage counts are monotone and dedup removes the injected copies") {
    assert(result.ingested > result.afterDedup)
    assert(result.afterDedup >= result.afterNearDup)
    assert(result.afterNearDup >= result.afterQuality)
    assert(result.afterQuality >= result.afterKAnon)
    assert(result.afterKAnon >= result.written)
    // every injected exact duplicate (doc_id + 2000000) must be gone
    val back = spark.read.parquet(out)
    assert(back.filter(col("doc_id") >= 2000000L).count() === 0)
    // the winnowing stage must also kill the 90%-prefix near-dups
    // (+1000000 ids): containment from the short side is ~100%
    assert(back.filter(col("doc_id") >= 1000000L).count() === 0)
    assert(result.afterDedup > result.afterNearDup)
    // and no two rows share text
    assert(back.select(col("text")).distinct().count() === back.count())
  }

  test("k-anonymity: every released quasi-identifier class has >= 3 rows") {
    val back = spark.read.parquet(out)
    val small = back
      .groupBy(col("lang"), expr("(n_chars div 100)").as("kbucket"))
      .agg(count(lit(1)).as("kn"))
      .filter(col("kn") < 3)
    assert(small.count() === 0)
  }

  test("observe metrics match the files written") {
    val back = spark.read.parquet(out)
    assert(back.count() === result.written)
    val dirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("split=")).map(_.getName).sorted
    assert(dirs.toSeq === Seq("split=test", "split=train", "split=val"))
    // split is the md5 bucket, recomputable from the stable id
    val bad = back.withColumn("bucket",
        pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long"), lit(100L)))
      .filter(
        (col("bucket") < 80 && col("split") =!= "train") ||
          (col("bucket") >= 80 && col("bucket") < 90 && col("split") =!= "val") ||
          (col("bucket") >= 90 && col("split") =!= "test"))
    assert(bad.count() === 0)
  }

  test("quality gates hold on every surviving row") {
    val back = spark.read.parquet(out)
      .withColumn("ntok", size(split(col("text"), " ")))
    assert(back.filter(col("ntok") < 10 || col("ntok") > 2048).count() === 0)
    assert(back.filter(col("n_chars") < col("ntok") * 3 ||
      col("n_chars") > col("ntok") * 13).count() === 0)
  }
}
