package graft

import graft.streaming.Streams

/** transformWithState RESTART: the arbitrary-state v2 gates must
  * resume from a RocksDB checkpoint with their keyed state CARRIED —
  * a failure counter that restarts from zero would silently re-admit
  * retries a 100 TB deployment already gave up on.  Driven through a
  * replayable file source (MemoryStream cannot recover across
  * restarts by design): stop the query mid-stream, feed more events,
  * restart on the SAME checkpoint, and assert the ladder CONTINUES
  * (failures 3,4 after a restart that saw 1,2 — not 1,2 again), plus
  * exactly-once sink output across the boundary. */
class TwsRestartSpec extends SparkSpec with TempDirs {

  test("retryGateTws resumes its ValueState counter across a " +
    "stop/restart on the same RocksDB checkpoint") {
    import spark.implicits._
    val root = tempDir("graft_tws_restart")
    val src = s"$root/src"; val out = s"$root/out"; val chk = s"$root/chk"
    new java.io.File(src).mkdirs()
    withConf(SparkSpec.RocksDb) {
      def start() = Streams.retryGateTws(
        spark.readStream
          .schema("event_id LONG, user_id LONG, event_type STRING")
          .parquet(src)
          .as[graft.streaming.JobEvent],
        maxRetries = 3)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .start()

      // epoch 1: two failures for user 42 -> ladder 1, 2 (both retry)
      (1L to 2L).map(i => (i, 42L, "error"))
        .toDF("event_id", "user_id", "event_type")
        .coalesce(1).write.mode("append").parquet(src)
      val q1 = start()
      q1.processAllAvailable()
      q1.stop()

      // epoch 2 across the restart: two MORE failures -> the carried
      // counter must continue 3 (retry), 4 (give up at maxRetries=3)
      (3L to 4L).map(i => (i, 42L, "error"))
        .toDF("event_id", "user_id", "event_type")
        .coalesce(1).write.mode("append").parquet(src)
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()

      val got = spark.read.parquet(out)
        .as[graft.streaming.RetryDecision].collect()
        .sortBy(_.event_id).toSeq
      assert(got.map(d => (d.event_id, d.failures, d.willRetry)) === Seq(
        (1L, 1, true), (2L, 2, true),
        (3L, 3, true), (4L, 4, false)),
        s"state did not carry across the restart: $got")
      // exactly-once: epoch-1 decisions were not re-emitted
      assert(got.size === 4)
    }
  }
}
