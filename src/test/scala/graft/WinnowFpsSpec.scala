package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.WinnowKernel.winnowFps

/** Native winnowing kernel: bit-parity against the declarative
  * explode/window formulation, SQL surface, and plan shape. */
class WinnowFpsSpec extends SparkSpec {

  /** The original declarative pipeline (kept here as the independent
    * reference implementation the kernel replaced in the query). */
  private def declarative(k: Int, w: Int) = {
    val P = 2147483647L
    Tables.documents(spark, sfDir)
      .filter(length(col("text")) >= k + w - 1)
      .select(col("doc_id"), col("text"),
        (length(col("text")) - (k - 1)).as("npos"),
        explode(sequence(lit(1), length(col("text")) - (k - 1))).as("pos"))
      .select(col("doc_id"), col("pos"), col("npos"),
        expr(s"cast(conv(substring(md5(substring(text, pos, $k)), 1, 8), 16, 10) as bigint) % $P")
          .as("h"))
      .withColumn("wmin", min(col("h")).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))
          .rowsBetween(0, w - 1)))
      .filter(col("pos") <= col("npos") - (w - 1))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("wmin"))).as("fps"))
  }

  test("kernel equals the declarative explode/window formulation") {
    val native = Tables.documents(spark, sfDir)
      .filter(length(col("text")) >= 11)
      .select(col("doc_id"), winnowFps(col("text")).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val decl = declarative(8, 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native.keySet === decl.keySet)
    native.foreach { case (id, fps) =>
      assert(fps === decl(id), s"doc $id")
      assert(fps === fps.sorted, s"doc $id not sorted")
    }
  }

  test("non-default geometry (k=5, w=9) also matches") {
    val native = Tables.documents(spark, sfDir)
      .filter(length(col("text")) >= 13)
      .select(col("doc_id"), winnowFps(col("text"), 5, 9).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val decl = declarative(5, 9)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    native.foreach { case (id, fps) => assert(fps === decl(id), s"doc $id") }
  }

  test("SQL surface: winnow_fps registered, defaults k=8 w=4") {
    Tables.documents(spark, sfDir).createOrReplaceTempView("wf_docs")
    val viaSql = spark.sql(
      """SELECT doc_id, winnow_fps(text) AS fps FROM wf_docs
        |WHERE length(text) >= 11""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaCol = Tables.documents(spark, sfDir)
      .filter(length(col("text")) >= 11)
      .select(col("doc_id"), winnowFps(col("text")).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaSql === viaCol)
    // explicit geometry form
    val custom = spark.sql(
      "SELECT winnow_fps(text, 5, 9) FROM wf_docs WHERE doc_id = 0")
    assert(custom.count() === 1)
  }

  test("query plan is a single codegen'd pass: no explode, no window") {
    val q = SparkEntry.registry.find(_.name == "winnow_fingerprints").get
      .fn(spark, sfDir)
    q.queryExecution.toRdd.count() // finalize AQE so codegen spans print
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), s"explode survived:\n$plan")
    assert(!plan.contains("Window"), s"window survived:\n$plan")
    // The law this test pins: the kernel computes each document's
    // fingerprint set in one pass with NO data-keyed shuffle — no
    // explode inflation, no per-doc window, no hash/range exchange.
    // The single permitted Exchange is Scratch.spread's round-robin
    // INPUT-SPLIT leveler (parallelizes the md5-per-character pass
    // when the file layout yields fewer splits than cores; a
    // structural no-op on production-scale scans) — it repartitions
    // rows blindly, it never keys them.
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning") &&
      !plan.contains("Exchange SinglePartition"),
      s"keyed shuffle appeared:\n$plan")
    assert("Exchange".r.findAllIn(plan).length <=
      "RoundRobinPartitioning".r.findAllIn(plan).length,
      s"non-round-robin exchange appeared:\n$plan")
    // executedPlan renders whole-stage codegen spans as "*(n)" prefixes
    assert(plan.contains("*("), s"not codegen'd:\n$plan")
  }

  test("kernel edge cases: short text, empty set boundary") {
    import spark.implicits._
    val rows = Seq("", "0123456789", "01234567890")
      .toDF("text")
      .select(winnowFps(col("text")).as("fps"))
      .collect().map(_.getSeq[Long](0))
    assert(rows(0).isEmpty)  // len 0  < 11
    assert(rows(1).isEmpty)  // len 10 < 11: 3 grams, no complete window
    assert(rows(2).nonEmpty) // len 11: exactly one window
    assert(rows(2).length === 1)
  }
}
