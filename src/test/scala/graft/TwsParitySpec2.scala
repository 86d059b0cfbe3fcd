package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{JobEvent, Streams}

/** Composite-state v2 (MapState + ListState + TTL) behavior: driver-
  * fold parity across batches, the bounded recent window, and
  * processing-time TTL expiry of abandoned keys. */
class TwsParitySpec2 extends SparkSpec {

  test("userActivityTws: MapState tally and ListState window carry " +
    "across batches and match a driver fold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withConf(SparkSpec.RocksDb) {
      val mem = MemoryStream[JobEvent]
      val q = Streams.userActivityTws(mem.toDS().repartition(4), recentK = 3)
        .writeStream.format("memory").queryName("act_tws")
        .outputMode(OutputMode.Update).start()
      mem.addData(
        JobEvent(1, 1, "click"), JobEvent(2, 1, "view"),
        JobEvent(3, 1, "click"), JobEvent(4, 2, "signup"))
      q.processAllAvailable()
      mem.addData(
        JobEvent(5, 1, "purchase"), JobEvent(6, 1, "click"),
        JobEvent(7, 2, "signup"))
      q.processAllAvailable()
      q.stop()
      // keep the LAST summary per user (Update mode re-emits)
      val rows = spark.table("act_tws").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getSeq[Long](3)))
      val last = rows.groupBy(_._1).view
        .mapValues(_.maxBy(_._3)).toMap // total grows monotonically
      // user 1: types {click:3, view:1, purchase:1} -> 3 types, 5 total,
      // recent window = last 3 ids
      assert(last(1L)._2 === 3L)
      assert(last(1L)._3 === 5L)
      assert(last(1L)._4 === Seq(3L, 5L, 6L))
      // user 2: one type, two events across batches
      assert(last(2L)._2 === 1L)
      assert(last(2L)._3 === 2L)
      assert(last(2L)._4 === Seq(4L, 7L))
    }
  }

  test("userActivityTws: processing-time TTL expires abandoned state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withConf(SparkSpec.RocksDb) {
      val mem = MemoryStream[JobEvent]
      val q = Streams.userActivityTws(mem.toDS(), recentK = 3,
        ttlMs = Some(100L))
        .writeStream.format("memory").queryName("act_ttl")
        .outputMode(OutputMode.Update).start()
      // the processing-time mode schedules batches continuously, so
      // processAllAvailable never settles — poll the sink with a
      // deadline instead
      def awaitRow(pred: Seq[Long] => Boolean): Unit = {
        val deadline = System.currentTimeMillis + 60000
        while (System.currentTimeMillis < deadline && !spark
            .table("act_ttl").collect()
            .exists(r => pred(r.getSeq[Long](3))))
          Thread.sleep(100)
      }
      mem.addData(JobEvent(1, 9, "click"))
      awaitRow(_.contains(1L))
      Thread.sleep(500) // well past the TTL; stalls only widen the gap
      mem.addData(JobEvent(2, 9, "view"))
      awaitRow(_.contains(2L))
      q.stop()
      val last = spark.table("act_ttl").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getSeq[Long](3)))
        .filter(_._4.contains(2L)).head
      // the click batch's state aged out: only the view survives
      assert(last._2 === 1L)
      assert(last._3 === 1L)
      assert(last._4 === Seq(2L))
    }
  }
}
