package graft

import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.pipelines.CurationPipeline

/** The composed curation pipeline: monotone stage counts, exact-dup
  * elimination, split integrity of the written output, and observe()
  * metrics agreeing with the files on disk. */
class CurationPipelineSpec extends SparkSpec {

  private lazy val out =
    Files.createTempDirectory("graft_pipeline").toString + "/curated"
  private lazy val result = CurationPipeline.run(spark, sfDir, out)

  private def counts(r: CurationPipeline.Result) =
    (r.ingested, r.afterDedup, r.afterNearDup, r.afterQuality, r.afterKAnon,
      r.written)

  /** Runs the pipeline over `docs` written as a one-table corpus. */
  private def runOn(docs: DataFrame): CurationPipeline.Result = {
    val dir = Files.createTempDirectory("graft_pipeline_in").toString
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
    val sc = spark.sparkContext
    val done = ArrayBuffer.empty[String]
    val sites = ArrayBuffer.empty[(Long, String)]
    val jobExecs = ArrayBuffer.empty[Option[Long]]
    val qel = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        done.synchronized(done += f)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        done.synchronized(done += s"failed $f")
    }
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobExecs.synchronized(jobExecs += Option(e.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .map(_.toLong))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          sites.synchronized(sites += (x.executionId -> x.description))
        case _ =>
      }
    }
    ListenerBusDrain(sc)
    spark.listenerManager.register(qel)
    sc.addSparkListener(jobs)
    try CurationPipeline.run(spark, sfDir,
      Files.createTempDirectory("graft_pipeline").toString + "/law")
    finally {
      ListenerBusDrain(sc)
      sc.removeSparkListener(jobs)
      spark.listenerManager.unregister(qel)
    }
    assert(done.toSeq === Seq("command"))
    assert(sites.size === 1, sites)
    val (writeId, site) = sites.head
    assert(site.startsWith("parquet at CurationPipeline.scala"), site)
    assert(jobExecs.nonEmpty)
    assert(jobExecs.forall(_.contains(writeId)), jobExecs)
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
