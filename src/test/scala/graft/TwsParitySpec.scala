package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{JobEvent, Streams}

/** Parity of the arbitrary-state v2 gates (transformWithState +
  * StatefulProcessor + ValueState) with their mapGroupsWithState
  * originals: same multi-partition input, decision-for-decision equal
  * output. The v2 operator requires the RocksDB state store provider;
  * it is set per-test and restored so the HDFS-backed suites are
  * untouched. */
class TwsParitySpec extends SparkSpec {

  private val gateEvents = Seq(
    JobEvent(1, 1, "click"), JobEvent(2, 1, "click"),
    JobEvent(3, 1, "click"), JobEvent(4, 1, "click"), // 4th rejected
    JobEvent(5, 1, "purchase"),                        // one completes
    JobEvent(6, 1, "click"),                           // admitted again
    JobEvent(7, 2, "signup"), JobEvent(8, 2, "error"), // user 2: in, out
    JobEvent(9, 3, "view"))                            // gate-neutral

  test("capacityGateTws matches capacityGate decision for decision") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = withConf(SparkSpec.RocksDb) {
      val mem = MemoryStream[JobEvent]
      mem.addData(gateEvents: _*)
      val q = Streams.capacityGateTws(mem.toDS().repartition(8), capacity = 3)
        .writeStream.format("memory").queryName("gate_tws")
        .outputMode(OutputMode.Update).start()
      q.processAllAvailable()
      q.stop()
      spark.table("gate_tws").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
        .sortBy(_._1).toSeq
    }
    // v1 shadow on the same events
    val mem2 = MemoryStream[JobEvent]
    mem2.addData(gateEvents: _*)
    val q2 = Streams.capacityGate(mem2.toDS().repartition(8), capacity = 3)
      .writeStream.format("memory").queryName("gate_v1")
      .outputMode(OutputMode.Update).start()
    q2.processAllAvailable()
    q2.stop()
    val v1 = spark.table("gate_v1").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .sortBy(_._1).toSeq
    assert(out === v1)
    assert(out.find(_._1 == 1L).get === ((1L, 3, 4, 1)))
  }

  test("retryGateTws matches retryGate across batches (state carries)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def run(name: String,
        gate: org.apache.spark.sql.Dataset[JobEvent] =>
          org.apache.spark.sql.Dataset[graft.streaming.RetryDecision])
        : Seq[(Long, Long, Int, Boolean)] = {
      val mem = MemoryStream[JobEvent]
      val q = gate(mem.toDS().repartition(8))
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      mem.addData((1L to 4L).map(i => JobEvent(i, 42, "error")): _*)
      q.processAllAvailable()
      mem.addData((5L to 7L).map(i => JobEvent(i, 42, "error")): _*)
      mem.addData(JobEvent(10, 42, "click")) // non-error: ignored
      q.processAllAvailable()
      q.stop()
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3)))
        .sortBy(_._2).toSeq
    }
    val tws = withConf(SparkSpec.RocksDb)(
      run("retry_tws", Streams.retryGateTws(_, 5)))
    val v1 = run("retry_v1", Streams.retryGate(_, 5))
    assert(tws === v1)
    assert(tws.map(_._3) === (1 to 7))
    assert(tws.count(_._4) === 5)
  }
}
