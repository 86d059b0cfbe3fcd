package graft

import org.apache.spark.sql.functions._

/** Operational state introspection: Spark 4's state data sources read a
  * streaming checkpoint back as DataFrames — `state-metadata` for the
  * operator inventory, `statestore` for the keyed state itself. This is
  * how a 100 TB deployment audits what a long-running stateful job has
  * accumulated (state cardinality, skewed keys, orphaned state) without
  * touching the job. The spec drives a dedup stream, then reads its
  * checkpoint cold. */
class StateReaderSpec extends SparkSpec with TempDirs {

  test("statestore source reads the dedup keys back from the " +
    "checkpoint; state-metadata names the operator") {
    import spark.implicits._
    val root = tempDir("graft_statereader")
    val src = s"$root/src"; val out = s"$root/out"; val chk = s"$root/chk"
    new java.io.File(src).mkdirs()

    Seq(10L, 20L, 30L, 20L).toDF("id")
      .coalesce(1).write.mode("append").parquet(src)
    val q = spark.readStream.schema("id LONG").parquet(src)
      .dropDuplicates("id")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", chk)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    // operator inventory from the checkpoint alone
    val meta = spark.read.format("state-metadata").load(chk)
    assert(meta.count() === 1L)
    val opName = meta.select(col("operatorName")).collect().head.getString(0)
    assert(opName.toLowerCase.contains("dedupe"))

    // the keyed state itself: one entry per distinct id seen
    val state = spark.read.format("statestore").load(chk)
    val keys = state.select(col("key.id")).collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(keys === Seq(10L, 20L, 30L))
  }
}
