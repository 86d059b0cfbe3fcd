package graft

import org.apache.spark.sql.functions._

/** Operational fault-tolerance: a streaming query stopped and restarted
  * from its checkpoint must (a) carry its state across the restart
  * (dedup state here) and (b) not re-emit already-committed batches —
  * the exactly-once property every 100 TB deployment leans on. Driven
  * through a replayable file source (MemoryStream cannot recover across
  * restarts by design).
  */
class StreamingRestartSpec extends SparkSpec with TempDirs {

  test("dedup state and sink outputs survive a checkpoint restart") {
    import spark.implicits._
    val root = tempDir("graft_restart")
    val src = s"$root/src"; val out = s"$root/out"; val chk = s"$root/chk"
    new java.io.File(src).mkdirs()

    def start() = spark.readStream
      .schema("id LONG")
      .parquet(src)
      .dropDuplicates("id")
      .writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", chk)
      .outputMode("append")
      .start()

    // epoch 1
    Seq(1L, 2L, 3L).toDF("id").coalesce(1).write.mode("append").parquet(src)
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    val after1 = spark.read.parquet(out).as[Long].collect().sorted.toSeq
    assert(after1 === Seq(1L, 2L, 3L))

    // epoch 2: id 3 is a replay across the restart boundary
    Seq(3L, 4L).toDF("id").coalesce(1).write.mode("append").parquet(src)
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    val ids = spark.read.parquet(out).as[Long].collect().sorted.toSeq
    // state recovered (3 deduped), epoch-1 output not re-emitted
    assert(ids === Seq(1L, 2L, 3L, 4L))
  }
}
