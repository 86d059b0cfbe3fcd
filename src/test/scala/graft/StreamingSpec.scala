package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{JobEvent, Streams}

final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

final case class StreamDoc(doc_id: Long, text: String, ts: Timestamp)

/** Structured Streaming twins (T1–T4 + capacity gate) driven by
  * MemoryStream — semantics only; the oracle-checked batch shadows live
  * in EventQueries. */
class StreamingSpec extends SparkSpec with TempDirs {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private def runBatches[T](q: org.apache.spark.sql.DataFrame, name: String)
      : org.apache.spark.sql.DataFrame = {
    val query = q.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    query.processAllAvailable()
    query.stop()
    spark.table(name)
  }

  test("tumblingCounts aggregates by hour after watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts(5), 1, "click", 1.0, "{}"),
      Ev(2, ts(15), 1, "click", 1.0, "{}"),
      Ev(3, ts(70), 2, "view", 1.0, "{}"))
    // advance watermark far past hour 0/1
    mem.addData(Ev(4, ts(600), 3, "view", 1.0, "{}"))
    val out = runBatches(Streams.tumblingCounts(mem.toDF()), "tumbling")
    val rows = out.select(col("window_start"), col("event_type"), col("n"))
      .as[(Timestamp, String, Long)].collect().toSet
    assert(rows.contains((ts(0), "click", 2L)))
    assert(rows.contains((ts(60), "view", 1L)))
  }

  test("windowedQuantiles emits mergeable per-hour percentiles") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // hour 0: values 1..10 across two triggers (sketches must merge)
    mem.addData((1 to 6).map(i =>
      Ev(i.toLong, ts(i), 1, "click", i.toDouble, "{}")): _*)
    mem.addData((7 to 10).map(i =>
      Ev(i.toLong, ts(i), 1, "click", i.toDouble, "{}")): _*)
    mem.addData(Ev(99, ts(600), 9, "view", 1.0, "{}")) // close watermark
    val out = runBatches(Streams.windowedQuantiles(mem.toDF()), "wq")
    val h0 = out.filter(col("window_start") === ts(0))
      .select(col("n"), col("p50_e2"), col("p95_e2"))
      .as[(Long, Long, Long)].head()
    assert(h0._1 === 10L)
    // approx_percentile with accuracy 10000 over 10 values is exact:
    // p50 of 100..1000 (e2) = 500, p95 = 1000
    assert(h0._2 === 500L)
    assert(h0._3 === 1000L)
  }

  test("sessionize groups bursts separated by >10min gaps") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts(0), 1, "click", 1.0, "{}"),
      Ev(2, ts(5), 1, "click", 1.0, "{}"),   // same session
      Ev(3, ts(30), 1, "click", 1.0, "{}"))  // new session
    mem.addData(Ev(4, ts(600), 9, "view", 1.0, "{}")) // close watermark
    val out = runBatches(Streams.sessionize(mem.toDF()), "sessions")
    val u1 = out.filter(col("user_id") === 1)
      .select(col("n_events")).as[Long].collect().sorted.toSeq
    assert(u1 === Seq(1L, 2L))
  }

  test("dedupeWithWatermark drops duplicate event ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts(0), 1, "click", 1.0, "{}"),
      Ev(1, ts(1), 1, "click", 1.0, "{}"), // dup within watermark
      Ev(2, ts(2), 1, "view", 1.0, "{}"))
    val out = runBatches(Streams.dedupeWithWatermark(mem.toDF()), "dedupe")
    assert(out.count() === 2)
  }

  test("capacityGate admits at most `capacity` concurrent jobs per user") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[JobEvent]
    mem.addData(
      JobEvent(1, 1, "click"), JobEvent(2, 1, "click"),
      JobEvent(3, 1, "click"), JobEvent(4, 1, "click"), // 4th rejected (cap 3)
      JobEvent(5, 1, "purchase"),                        // one completes
      JobEvent(6, 1, "click"))                           // admitted again
    // repartition(8) scrambles arrival order across partitions — the
    // event_id-sorted fold must still produce order-deterministic gates
    val q = Streams.capacityGate(mem.toDS().repartition(8), capacity = 3)
      .writeStream.format("memory").queryName("gate")
      .outputMode(OutputMode.Update).start()
    q.processAllAvailable()
    q.stop()
    import org.apache.spark.sql.Row
    val r = spark.table("gate").collect().head
    assert(r.getAs[Int]("in_flight") === 3)
    assert(r.getAs[Int]("admitted") === 4)
    assert(r.getAs[Int]("rejected") === 1)
  }

  test("capacityGate is deterministic under multi-partition input") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Same event set as the single-partition test, but the stream is
    // repartitioned so the group's iterator order is NOT insertion
    // order — the event_id sort inside the state function must produce
    // identical gate decisions (the determinism contract of the fold).
    val mem = MemoryStream[JobEvent]
    mem.addData(
      JobEvent(1, 1, "click"), JobEvent(2, 1, "click"),
      JobEvent(3, 1, "click"), JobEvent(4, 1, "click"),
      JobEvent(5, 1, "purchase"), JobEvent(6, 1, "click"))
    val shuffled = mem.toDS().repartition(8)
    val q = Streams.capacityGate(shuffled, capacity = 3)
      .writeStream.format("memory").queryName("gate_mp")
      .outputMode(OutputMode.Update).start()
    q.processAllAvailable()
    q.stop()
    val r = spark.table("gate_mp").collect().head
    assert(r.getAs[Int]("in_flight") === 3)
    assert(r.getAs[Int]("admitted") === 4)
    assert(r.getAs[Int]("rejected") === 1)
  }

  test("retryGate retries up to the cap then dead-letters") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[JobEvent]
    mem.addData((1L to 7L).map(i => JobEvent(i, 42, "error")): _*)
    mem.addData(JobEvent(10, 42, "click")) // non-error: ignored
    val q = Streams.retryGate(mem.toDS().repartition(8), maxRetries = 5)
      .writeStream.format("memory").queryName("retries")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("retries")
      .orderBy(col("event_id")).collect()
    assert(rows.length === 7)
    assert(rows.count(_.getAs[Boolean]("willRetry")) === 5)
    // failures climb monotonically in event order
    assert(rows.map(_.getAs[Int]("failures")).toSeq === (1 to 7))
  }

  test("idempotent foreachBatch sink: batches land once, keyed by id") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = tempDir("graft-sink")
    val ckpt = tempDir("graft-ckpt")
    val mem = MemoryStream[Ev]
    mem.addData(Ev(1, ts(0), 1, "click", 1.0, "{}"),
      Ev(2, ts(1), 2, "view", 1.0, "{}"))
    val q = Streams.startIdempotentSink(mem.toDF(), out, ckpt)
    q.processAllAvailable()
    mem.addData(Ev(3, ts(2), 1, "purchase", 1.0, "{}"))
    q.processAllAvailable()
    q.stop()
    val written = spark.read.parquet(out)
    assert(written.count() === 3)
    // batch_id is a real partition column: per-batch dirs exist
    assert(written.select(col("batch_id")).distinct().count() >= 2)
    // replaying a batch overwrites, not duplicates: rewrite batch 0's
    // rows through the same path and recount
    val replay = Seq(Ev(1, ts(0), 1, "click", 1.0, "{}"),
      Ev(2, ts(1), 2, "view", 1.0, "{}")).toDF()
    replay.write.mode("overwrite").parquet(s"$out/batch_id=0")
    assert(spark.read.parquet(out).count() === 3)
  }

  test("correlateStartDone matches completions within the hour interval") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts(0), 1, "signup", 1.0, "{}"),
      Ev(2, ts(30), 1, "purchase", 1.0, "{}"),   // within the hour -> match
      Ev(3, ts(0), 2, "signup", 1.0, "{}"),
      Ev(4, ts(90), 2, "purchase", 1.0, "{}"),   // outside interval -> drop
      Ev(5, ts(10), 3, "purchase", 1.0, "{}"))   // no start -> drop (inner)
    mem.addData(Ev(9, ts(600), 9, "view", 1.0, "{}")) // advance watermark
    val out = runBatches(Streams.correlateStartDone(mem.toDF()), "corr")
    val rows = out.select(col("user_id"), col("start_id"), col("done_id"))
      .as[(Long, Long, Long)].collect().toSet
    assert(rows === Set((1L, 1L, 2L)))
  }

  test("drainAvailable processes the backlog then terminates itself") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = tempDir("graft-drain")
    val ckpt = tempDir("graft-dckpt")
    val mem = MemoryStream[Ev]
    mem.addData(Ev(1, ts(0), 1, "click", 1.0, "{}"),
      Ev(2, ts(1), 2, "view", 1.0, "{}"))
    val q = Streams.drainAvailable(mem.toDF(), out, ckpt)
    // AvailableNow: the query stops on its own once the backlog drains
    assert(q.awaitTermination(60000), "drain did not self-terminate")
    assert(spark.read.parquet(out).count() === 2)
  }

  test("enrichWithDim broadcast-joins the static dimension per batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts(0), 1, "click", 1.0, "{}"),
      Ev(2, ts(1), 2, "view", 1.0, "{}"),
      Ev(3, ts(2), 99, "view", 1.0, "{}")) // no dim row -> null segment
    val dim = Seq((1L, "BUILDING"), (2L, "MACHINERY"))
      .toDF("user_id", "segment")
    val out = runBatches(Streams.enrichWithDim(mem.toDF(), dim), "enriched")
    assert(out.count() === 3)
    assert(out.filter(col("segment").isNull).count() === 1)
    assert(out.filter(col("user_id") === 1 && col("segment") === "BUILDING")
      .count() === 1)
  }

  test("incrementalDedup drops history hits and in-stream repeats") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamDoc]
    // history index holds the fingerprint of "Seen Before!" (normalized)
    val index = Seq("seen before").toDF("t")
      .select(md5(col("t")).as("fp")).select(col("fp"))
    val q = Streams.incrementalDedup(mem.toDF(), index)
      .writeStream.format("memory").queryName("incdedup")
      .outputMode(OutputMode.Append).start()
    mem.addData(
      StreamDoc(1, "Seen Before!", ts(0)),   // in history -> dropped
      StreamDoc(2, "fresh one", ts(1)))      // survives
    q.processAllAvailable()
    mem.addData( // second micro-batch: state from the first dedupes 3
      StreamDoc(3, "FRESH   one", ts(2)),    // same normalized fp -> dropped
      StreamDoc(4, "another doc", ts(3)))    // survives
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("incdedup")
      .select(col("doc_id")).as[Long].collect().toSet
    assert(ids === Set(2L, 4L))
  }

  test("sessionizeWithTimeout closes sessions via event-time timer and " +
    "emits order-independent summaries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[graft.streaming.SessEvent]
    import graft.streaming.SessEvent
    // user 1: a 3-event burst inside 20 minutes
    mem.addData(
      SessEvent(1, ts(10)), SessEvent(1, ts(0)), SessEvent(1, ts(20)))
    // another user far in the future advances the watermark past
    // last(1) + 30min gap + 10min watermark delay
    mem.addData(SessEvent(2, ts(600)))
    // one more batch so the timed-out state is visited and emitted
    mem.addData(SessEvent(2, ts(620)))
    val out = runBatches(
      Streams.sessionizeWithTimeout(mem.toDS(), gapMinutes = 30).toDF(),
      "sesstimeout")
    import java.sql.Timestamp
    val rows = out.as[graft.streaming.SessionSummary].collect()
      .map(s => s.user_id -> s).toMap
    assert(rows.contains(1L), s"no closed session for user 1: ${rows.keys}")
    val s1 = rows(1L)
    assert(s1.n_events === 3L)
    assert(s1.first_ms === ts(0).getTime)
    assert(s1.last_ms === ts(20).getTime)
    // user 2's session is still open — nothing emitted for it
    assert(!rows.contains(2L))
  }

  test("correlateStartDoneOuter emits unmatched starts with null done " +
    "after the watermark closes the match window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts(0), 1, "signup", 1.0, "{}"),    // matched within the hour
      Ev(2, ts(30), 1, "purchase", 1.0, "{}"),
      Ev(3, ts(10), 2, "signup", 1.0, "{}"))   // never completes
    // push BOTH sides' watermarks far past start_ts + 1h + 10min: the
    // per-side watermark nodes sit behind the event_type filters, so
    // only signup/purchase rows advance them
    mem.addData(
      Ev(4, ts(6000), 8, "signup", 1.0, "{}"),
      Ev(5, ts(6000), 9, "purchase", 1.0, "{}"))
    // state eviction + outer-null emission happen in a batch AFTER the
    // watermark update — force one more micro-batch
    mem.addData(
      Ev(6, ts(6200), 8, "signup", 1.0, "{}"),
      Ev(7, ts(6200), 9, "purchase", 1.0, "{}"))
    val out = runBatches(Streams.correlateStartDoneOuter(mem.toDF()), "sdo")
    val rows = out.select(col("start_id"), col("done_id"))
      .as[(Long, Option[Long])].collect().toMap
    assert(rows(1L) === Some(2L))
    assert(rows(3L) === None)
  }

  test("correlateStartDoneFull surfaces both unmatched directions " +
    "after the watermark closes the window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts(0), 1, "signup", 1.0, "{}"),    // matched within the hour
      Ev(2, ts(30), 1, "purchase", 1.0, "{}"),
      Ev(3, ts(10), 2, "signup", 1.0, "{}"),   // never completes
      Ev(8, ts(15), 3, "purchase", 1.0, "{}")) // orphaned completion
    // advance both per-side watermarks past start_ts + 1h + 10min, then
    // force one more micro-batch so eviction emits the unmatched rows
    mem.addData(
      Ev(4, ts(6000), 8, "signup", 1.0, "{}"),
      Ev(5, ts(6000), 9, "purchase", 1.0, "{}"))
    mem.addData(
      Ev(6, ts(6200), 8, "signup", 1.0, "{}"),
      Ev(7, ts(6200), 9, "purchase", 1.0, "{}"))
    val out = runBatches(Streams.correlateStartDoneFull(mem.toDF()), "sdf")
    val rows = out
      .select(col("user_id"), col("start_id"), col("done_id"))
      .as[(Long, Option[Long], Option[Long])].collect()
      .map { case (u, s0, d0) => u -> ((s0, d0)) }.toMap
    assert(rows(1L) === ((Some(1L), Some(2L))))  // matched
    assert(rows(2L) === ((Some(3L), None)))      // start, no done
    assert(rows(3L) === ((None, Some(8L))))      // done, no start
    // user_id never null: exactly one side is null per unmatched row
    assert(out.filter(col("user_id").isNull).count() === 0L)
  }

  test("slidingDistinctUsers emits per-window sketched cardinality " +
    "after watermark close") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // hour 0: users 1,1,2 -> 2 distinct; hour 1: user 3 -> windows
    // [22:00..0:00], [23:00..1:00], [0:00..2:00] etc. cover each event
    mem.addData(
      Ev(1, ts(5), 1, "click", 1.0, "{}"),
      Ev(2, ts(20), 1, "click", 1.0, "{}"),
      Ev(3, ts(40), 2, "view", 1.0, "{}"),
      Ev(4, ts(70), 3, "view", 1.0, "{}"))
    mem.addData(Ev(5, ts(6000), 9, "view", 1.0, "{}")) // advance watermark
    val out = runBatches(Streams.slidingDistinctUsers(mem.toDF()), "sdu")
    val byStart = out
      .select(col("window_start"), col("n_users_approx"), col("n_events"))
      .as[(Timestamp, Long, Long)].collect()
      .map { case (w, u, n) => w -> ((u, n)) }.toMap
    // the window starting at hour 0 covers all 4 early events, 3 users
    assert(byStart(ts(0)) === ((3L, 4L)))
    // the window starting at 22:00 prev day covers hour 0 only: 2 users
    assert(byStart(Timestamp.valueOf("2023-12-31 22:00:00")) === ((2L, 3L)))
    // each early event replicated into exactly 3 closed windows; the
    // watermark-advancing event's own windows stay open (append mode)
    assert(byStart.values.map(_._2).sum === 4L * 3)
  }

  test("decayedActivity matches the from-scratch batch recomputation " +
      "across incremental batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DayEvent
    val mem = MemoryStream[DayEvent]
    // batch 1: user 1 active on days 0 and 1; user 2 on day 0
    mem.addData(DayEvent(1, 1, 0), DayEvent(2, 1, 1), DayEvent(3, 2, 0))
    // batch 2: day advances to 3 -> stored scores must right-shift by 2
    mem.addData(DayEvent(4, 1, 3), DayEvent(5, 2, 1))
    val q = Streams.decayedActivity(mem.toDS().repartition(8))
      .writeStream.format("memory").queryName("decay")
      .outputMode(OutputMode.Update).start()
    q.processAllAvailable()
    q.stop()
    // latest Update row per user == batch formula sum(2^30 >> (anchor-day))
    val last = spark.table("decay")
      .groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("anchor_day"), col("score")))
        .as("s"))
      .select(col("user_id"), col("s.anchor_day"), col("s.score"),
        col("s.n_events"))
      .as[(Long, Long, Long, Long)].collect()
      .map { case (u, a, sc, n) => u -> ((a, sc, n)) }.toMap
    val unit = 1L << 30
    // user 1: anchor 3, events at days 0,1,3
    assert(last(1L) === ((3L, (unit >> 3) + (unit >> 2) + unit, 3L)))
    // user 2: anchor 1, events at days 0,1
    assert(last(2L) === ((1L, (unit >> 1) + unit, 2L)))
  }

  test("anomalyZscore matches the direct trailing-frame recomputation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.ValueEvent
    // 12 events for user 1: a stable run of 100s, one spike at the end
    val evs = (1 to 11).map(i =>
      ValueEvent(i.toLong, 1L, 1000L * i, if (i <= 10) 100L + i else 5000L))
    val mem = MemoryStream[ValueEvent]
    mem.addData(evs.take(6): _*)   // ring buffer spans batch boundary
    mem.addData(evs.drop(6): _*)
    val q = Streams.anomalyZscore(mem.toDS().repartition(8))
      .writeStream.format("memory").queryName("zscore")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("zscore")
      .select(col("event_id"), col("is_anomaly"))
      .as[(Long, Boolean)].collect().toMap
    // Scala reference: same integer inequality over a sliding window
    val xs = evs.map(_.x_e3)
    val want = (10 until xs.length).map { i =>
      val frame = xs.slice(i - 10, i)
      val s1 = frame.sum; val s2 = frame.map(v => v * v).sum
      val d = xs(i) * 10 - s1
      (i + 1).toLong -> (d * d > (s2 * 10 - s1 * s1) * 4)
    }.toMap
    assert(got === want)
    assert(got(11L) === true) // the spike is flagged
  }

  test("cusumDrift matches the sequential recurrence and resets on alarm") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.ValueEvent
    // user 1: values hover at ref=100e3, then drift upward persistently;
    // user 2: one spike only — accumulates but never crosses
    val evs =
      (1 to 6).map(i => ValueEvent(i.toLong, 1L, 1000L * i, 100000L)) ++
        (7 to 12).map(i => ValueEvent(i.toLong, 1L, 1000L * i, 130000L)) ++
        Seq(ValueEvent(13L, 2L, 1000L, 150000L),
          ValueEvent(14L, 2L, 2000L, 100000L))
    val mem = MemoryStream[ValueEvent]
    mem.addData(evs.take(8): _*) // state crosses the batch boundary
    mem.addData(evs.drop(8): _*)
    val q = Streams.cusumDrift(mem.toDS().repartition(8),
        refE3 = 100000L, slackE3 = 5000L, thresholdE3 = 60000L)
      .writeStream.format("memory").queryName("cusum")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("cusum")
      .select(col("event_id"), col("cusum_e3"), col("drift"))
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // sequential reference fold per user
    val want = scala.collection.mutable.Map[Long, (Long, Boolean)]()
    evs.groupBy(_.user_id).foreach { case (_, es) =>
      var s = 0L
      es.sortBy(e => (e.ts_ms, e.event_id)).foreach { e =>
        s = math.max(0L, s + (e.x_e3 - 100000L - 5000L))
        val drift = s > 60000L
        want(e.event_id) = (s, drift)
        if (drift) s = 0L
      }
    }
    assert(got === want.toMap)
    // the sustained +30e3 drift (net +25e3/event) crosses within 3 events
    assert(got(9L)._2 === true)
    // user 2's lone spike decays back toward zero without alarming
    assert(got.filter(_._1 >= 13L).values.forall(!_._2))
  }

  test("rateLimiter: burst drains the bucket, event-time refill restores it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.ValueEvent
    // capacity 3 tokens (3000 milli), refill 1 token/s; user 1 bursts 5
    // events at t=0..40ms, then one event 2.5s later
    val evs = (1 to 5).map(i => ValueEvent(i.toLong, 1L, (i - 1) * 10L, 0L)) :+
      ValueEvent(6L, 1L, 2540L, 0L)
    val mem = MemoryStream[ValueEvent]
    mem.addData(evs.take(4): _*) // bucket state crosses the batch boundary
    mem.addData(evs.drop(4): _*)
    val q = Streams.rateLimiter(mem.toDS().repartition(8),
        capacityMilli = 3000L, refillMilliPerSec = 1000L)
      .writeStream.format("memory").queryName("throttle")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("throttle")
      .select(col("event_id"), col("admitted"), col("tokens_milli"))
      .as[(Long, Boolean, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // sequential reference fold
    var tokens = 3000L; var last = Long.MinValue
    val want = evs.sortBy(e => (e.ts_ms, e.event_id)).map { e =>
      if (last != Long.MinValue && e.ts_ms > last)
        tokens = math.min(3000L, tokens + (e.ts_ms - last) * 1000L / 1000L)
      last = math.max(last, e.ts_ms)
      val adm = tokens >= 1000L
      if (adm) tokens -= 1000L
      e.event_id -> (adm, tokens)
    }.toMap
    assert(got === want)
    // events 1-3 admitted, 4-5 rejected (refill over 40ms is 40 milli),
    // event 6 admitted after ~2.5s of refill
    assert(got(1L)._1 && got(2L)._1 && got(3L)._1)
    assert(!got(4L)._1 && !got(5L)._1)
    assert(got(6L)._1)
  }

  test("funnelWithDeadline: converts only ordered in-deadline journeys, " +
    "state spans batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.TypedEvent
    val H = 3600000000L // 1h in us
    val evs = Seq(
      // user 1: click -> view -> purchase inside 1h: converts
      TypedEvent(1, 1, "click", 0L),
      TypedEvent(2, 1, "view", 10L * 60 * 1000000),
      TypedEvent(3, 1, "purchase", 30L * 60 * 1000000),
      // user 2: click -> view -> purchase but past the deadline
      TypedEvent(4, 2, "click", 0L),
      TypedEvent(5, 2, "view", 10L * 60 * 1000000),
      TypedEvent(6, 2, "purchase", 2L * H),
      // user 3: view precedes click, no view after click: no conversion
      TypedEvent(7, 3, "view", 0L),
      TypedEvent(8, 3, "click", 10L * 60 * 1000000),
      TypedEvent(9, 3, "purchase", 20L * 60 * 1000000),
      // user 4: journey spans the batch boundary
      TypedEvent(10, 4, "click", 0L),
      TypedEvent(11, 4, "view", 5L * 60 * 1000000),
      TypedEvent(12, 4, "purchase", 50L * 60 * 1000000))
    val mem = MemoryStream[TypedEvent]
    mem.addData(evs.take(11): _*)
    mem.addData(evs.drop(11): _*) // user 4's purchase arrives later
    val q = Streams.funnelWithDeadline(mem.toDS().repartition(8), H)
      .writeStream.format("memory").queryName("funnel")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("funnel")
      .select(col("user_id"), col("purchase_id"), col("latency_secs"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 3L, 1800L), (4L, 12L, 3000L)))
  }

  test("ProgressRecorder captures per-batch rows and durations, bounded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rec = new Streams.ProgressRecorder(keep = 4)
    spark.streams.addListener(rec)
    try {
      val mem = MemoryStream[Ev]
      mem.addData(Ev(1, ts(0), 1, "click", 1.0, "{}"),
        Ev(2, ts(1), 1, "view", 1.0, "{}"))
      val q = Streams.tumblingCounts(mem.toDF())
        .writeStream.format("memory").queryName("prog")
        .outputMode(OutputMode.Append).start()
      q.processAllAvailable()
      mem.addData(Ev(3, ts(2), 2, "click", 1.0, "{}"))
      q.processAllAvailable()
      q.stop()
      // listener events are delivered asynchronously
      var tries = 0
      while (rec.snapshot().isEmpty && tries < 50) {
        Thread.sleep(100); tries += 1
      }
      val snap = rec.snapshot()
      assert(snap.nonEmpty, "no progress recorded")
      assert(snap.length <= 4)
      assert(snap.map(_.num_input_rows).sum >= 3,
        s"rows seen: ${snap.map(_.num_input_rows).toList}")
      assert(snap.forall(_.trigger_ms >= 0))
      assert(snap.map(_.batch_id).distinct.length == snap.length)
    } finally spark.streams.removeListener(rec)
  }

  test("budgetedIngestGate admits a deterministic prefix per source") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.IngestDoc
    // source A: 4 docs of 400 tokens vs budget 1000 -> first 2 admitted;
    // source B: stays under budget entirely
    val docs = Seq(
      IngestDoc(1, "A", 400), IngestDoc(2, "A", 400),
      IngestDoc(3, "A", 400), IngestDoc(4, "A", 400),
      IngestDoc(10, "B", 100), IngestDoc(11, "B", 100))
    val mem = MemoryStream[IngestDoc]
    mem.addData(docs.take(3): _*) // budget state crosses the boundary
    mem.addData(docs.drop(3): _*)
    val q = Streams.budgetedIngestGate(mem.toDS().repartition(8), 1000L)
      .writeStream.format("memory").queryName("ingest")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ingest")
      .select(col("doc_id"), col("admitted"), col("budget_spent"))
      .as[(Long, Boolean, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) == ((true, 400L)) && got(2L) == ((true, 800L)))
    assert(got(3L) == ((false, 800L)) && got(4L) == ((false, 800L)))
    assert(got(10L)._1 && got(11L)._1)
  }

  test("markovOnline emits exactly the batch lead-window transitions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.JobEvent
    val evs = Seq(
      JobEvent(1, 1, "click"), JobEvent(2, 1, "view"),
      JobEvent(3, 1, "click"), JobEvent(4, 1, "purchase"),
      JobEvent(5, 2, "signup"), JobEvent(6, 2, "click"))
    val mem = MemoryStream[JobEvent]
    mem.addData(evs.take(3): _*) // last-type state crosses the boundary
    mem.addData(evs.drop(3): _*)
    val q = Streams.markovOnline(mem.toDS().repartition(8))
      .writeStream.format("memory").queryName("markov")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("markov")
      .groupBy(col("user_id"), col("src"), col("dst"))
      .count().as[(Long, String, String, Long)].collect().toSet
    val want = Set(
      (1L, "click", "view", 1L), (1L, "view", "click", 1L),
      (1L, "click", "purchase", 1L), (2L, "signup", "click", 1L))
    assert(got === want)
  }

  test("heavyHitters: Space-Saving invariants and exact replication") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.JobEvent
    // user 1: skewed over 5 types with k=3 (forces evictions);
    // user 2: only 2 types with k=3 (sketch is exact)
    val types = Seq("click", "click", "view", "click", "purchase", "error",
      "click", "view", "signup", "click", "view", "click")
    val evs = types.zipWithIndex.map { case (t, i) =>
      JobEvent((i + 1).toLong, 1L, t)
    } ++ Seq(JobEvent(100L, 2L, "click"), JobEvent(101L, 2L, "view"),
      JobEvent(102L, 2L, "click"))
    val mem = MemoryStream[JobEvent]
    mem.addData(evs.take(7): _*) // counters survive the batch boundary
    mem.addData(evs.drop(7): _*)
    val q = Streams.heavyHitters(mem.toDS().repartition(8), k = 3)
      .writeStream.format("memory").queryName("hh")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    val all = spark.table("hh")
      .select(col("user_id"), col("item"), col("count"), col("err"),
        col("n_seen"))
      .as[(Long, String, Long, Long, Long)].collect()
    // take the final snapshot (max n_seen) per user
    val finalN = all.groupBy(_._1).map { case (u, rs) => u -> rs.map(_._5).max }
    val got = all.filter(r => r._5 == finalN(r._1))
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // reference fold with identical eviction rule
    def ref(seq: Seq[JobEvent], k: Int): Map[String, (Long, Long)] = {
      var c = Map.empty[String, (Long, Long)]
      seq.sortBy(_.event_id).foreach { e =>
        c.get(e.event_type) match {
          case Some((n, err)) => c = c.updated(e.event_type, (n + 1, err))
          case None if c.size < k => c = c.updated(e.event_type, (1L, 0L))
          case None =>
            val (v, (vc, _)) = c.minBy { case (it, (n, _)) => (n, it) }
            c = (c - v).updated(e.event_type, (vc + 1, vc))
        }
      }
      c
    }
    val want = (ref(evs.filter(_.user_id == 1L), 3).map {
      case (it, v) => (1L, it) -> v
    } ++ ref(evs.filter(_.user_id == 2L), 3).map {
      case (it, v) => (2L, it) -> v
    }).toMap
    assert(got === want)
    // invariants: sum of counts = N per user; <= k counters per user
    assert(got.filter(_._1._1 == 1L).values.map(_._1).sum == 12L)
    assert(got.filter(_._1._1 == 2L).values.map(_._1).sum == 3L)
    assert(got.keys.count(_._1 == 1L) <= 3)
    // user 2 with 2 distinct types: exact (err = 0) and correct counts
    assert(got((2L, "click")) == ((2L, 0L)))
    assert(got((2L, "view")) == ((1L, 0L)))
    // the dominant item's true count is within [count - err, count]
    val (c1, e1) = got((1L, "click"))
    val trueClicks = 6L
    assert(trueClicks <= c1 && c1 <= trueClicks + e1)
  }

  test("histogramDrift emits windowed TV distance matching a recompute") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.LenEvent
    val ref = Map(0L -> 2L, 1L -> 2L) // uniform over buckets 0 and 1
    val mem = MemoryStream[LenEvent]
    // window [0, 60min): 3 docs in bucket 0 (len<50), 1 in bucket 1
    mem.addData(
      LenEvent(1, ts(0), 10), LenEvent(2, ts(5), 20),
      LenEvent(3, ts(10), 30), LenEvent(4, ts(20), 60))
    // far-future event advances the watermark past window end + delay
    mem.addData(LenEvent(90, ts(600), 10))
    // one more batch so the timed-out state is visited
    mem.addData(LenEvent(91, ts(620), 10))
    val out = runBatches(
      Streams.histogramDrift(mem.toDS().repartition(8), ref, 60).toDF(),
      "histdrift")
    val rows = out.as[graft.streaming.DriftReport].collect()
      .map(r => r.window_start -> r).toMap
    val w0 = (ts(0).getTime / 3600000L) * 3600000L
    assert(rows.contains(w0), s"window $w0 not closed: ${rows.keys}")
    val r0 = rows(w0)
    assert(r0.n_docs === 4L)
    // recompute: hist = {0:3, 1:1}, ref = {0:2, 1:2}, n=4, refN=4
    // sad = |3*4-2*4| + |1*4-2*4| = 4 + 4 = 8; tv = 1000*8/(2*4*4) = 250
    assert(r0.tv_permille === 250L)
    // zero drift when the window matches the reference shape exactly
    val sad0 = Seq(0L, 1L).map(b => math.abs(2 * 4 - 2 * 4)).sum
    assert(sad0 === 0)
  }

  test("kAnonymityGate buffers classes until k and releases the backlog") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.ClassifiedDoc
    val mem = MemoryStream[ClassifiedDoc]
    // batch 1: class A has 2 docs (< k=3, held); class B has 3 (released)
    mem.addData(ClassifiedDoc(1, "A"), ClassifiedDoc(2, "A"),
      ClassifiedDoc(10, "B"), ClassifiedDoc(11, "B"), ClassifiedDoc(12, "B"))
    // batch 2: class A reaches k -> backlog releases; B flows through
    mem.addData(ClassifiedDoc(3, "A"), ClassifiedDoc(13, "B"))
    val q = Streams.kAnonymityGate(mem.toDS().repartition(8), 3)
      .writeStream.format("memory").queryName("kanon")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("kanon")
      .select(col("doc_id"), col("cls"), col("released_with"))
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // every A doc (incl. the batch-1 backlog) released with class size 3
    assert(got(1L) == (("A", 3L)) && got(2L) == (("A", 3L)) &&
      got(3L) == (("A", 3L)))
    // B released in batch 1 at size 3; the late arrival flows through
    assert(got(10L) == (("B", 3L)) && got(12L) == (("B", 3L)))
    assert(got(13L) == (("B", 4L)))
    assert(got.size === 7)
  }

  test("kAnonymityGate never emits a class that stays under k") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.ClassifiedDoc
    val mem = MemoryStream[ClassifiedDoc]
    mem.addData(ClassifiedDoc(1, "rare"), ClassifiedDoc(2, "rare"))
    mem.addData(ClassifiedDoc(3, "other"))
    val q = Streams.kAnonymityGate(mem.toDS(), 5)
      .writeStream.format("memory").queryName("kanon_sup")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    assert(spark.table("kanon_sup").count() === 0)
  }
}
