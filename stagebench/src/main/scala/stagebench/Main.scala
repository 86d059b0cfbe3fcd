package stagebench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The stage benchmark's JVM side: set-up, the timed closed loop, and
  * the traced loop. Usage:
  *
  *   stagebench.Main <workload> <seed> <seconds> <trace 0|1>
  *                   <fixtures dir> <work dir> <result json>
  *
  * One caller runs passes back to back on local[N], N = available
  * cores. Set-up is one cold sequence: JVM start, the session, the
  * seeded inputs (written and read back) and [[WarmupPasses]] untimed
  * pass, which pays JIT, codegen and every per-application cache
  * (`Scratch.buildOnce` layouts); work moved out of the passes shows up
  * there. Then passes run until `seconds` have elapsed, and at least
  * [[MinPasses]] of them. With trace 1, traced and
  * untraced passes interleave (at least [[MinPasses]] of each), so the
  * run also yields the tracing overhead. The result JSON carries every
  * metric, every failure with its cause, and the result paths the caller
  * compares against the DuckDB oracle. */
object Main {
  val WarmupPasses = 1
  val MinPasses = 2

  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"

  def bytesUnder(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else f.length()
    walk(new File(path))
  }

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def session(work: String): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("stagebench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A fixed single-thread integer loop: its time tracks how fast this
    * host runs at the moment, independent of the program. */
  private def probeMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42) println("")
    (System.nanoTime() - t0) / 1e6
  }

  /** (steal, total) jiffies from /proc/stat, or zeros where absent. */
  private def cpuJiffies(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val v = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (v.length > 7) v(7) else 0L, v.take(8).sum)
      } finally f.close()
    } catch { case _: Throwable => (0L, 0L) }

  private def vmHwmMb(): Double =
    try {
      val f = scala.io.Source.fromFile("/proc/self/status")
      try f.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
      finally f.close()
    } catch { case _: Throwable => 0.0 }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  final case class PassRec(index: Int, traced: Boolean, wallS: Double,
      cpuS: Double, jitMs: Double, gcMs: Double, probeMs: Double,
      scratchBytes: Long, out: PassOut, spans: Seq[Span],
      stages: Seq[StageRec], plans: Seq[PlanRec], jobs: Seq[JobRec])

  def main(args: Array[String]): Unit = {
    val Array(wname, seedS, secondsS, traceS, fixtures, work, resultPath) = args
    val w = Workloads.all(wname)
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val tmp = System.getProperty("java.io.tmpdir")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    // ---- set-up, one cold sequence: JVM start (before main), session,
    // seeded inputs, untimed warm-up (JIT, codegen cache, lazy layouts) ----
    val mainS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val t0 = System.nanoTime()
    val spark = session(work)
    val t1 = System.nanoTime()
    val inputsDir = s"$work/inputs"
    val inputs = w.inputs(spark, fixtures, inputsDir, seed)
    val t2 = System.nanoTime()
    val failures = ArrayBuffer.empty[(String, String)]
    var warmOps = 0
    val warmups = (1 to WarmupPasses).map { k =>
      val t0 = System.nanoTime()
      val warm = w.pass(spark, inputsDir, s"$work/warmup_$k", seed,
        new Tracer(false, "warmup"))
      warmOps += warm.ops.size
      warm.ops.flatMap(o => o.error.map(o.name -> _))
        .foreach(e => failures += (s"warmup_$k/${e._1}" -> e._2))
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = mainS + (System.nanoTime() - t0) / 1e9
    val setupParts = Seq("jvm_start" -> mainS, "session" -> (t1 - t0) / 1e9,
      "inputs" -> (t2 - t1) / 1e9) ++
      warmups.zipWithIndex.map { case (s, k) => s"warmup_${k + 1}" -> s }
    val jit = ManagementFactory.getCompilationMXBean

    // ---- measured closed loop ----
    val tracer = new Tracer(trace, s"$wname-$seed")
    val passes = ArrayBuffer.empty[PassRec]
    val (steal0, tot0) = cpuJiffies()
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    var i = 0
    def runPass(traced: Boolean): Unit = {
      i += 1
      val t = if (traced) tracer else new Tracer(false, "untraced")
      val probe = probeMs()
      if (traced) { tracer.clear(); tracer.attach(spark) }
      val startMs = System.currentTimeMillis()
      val before = bytesUnder(tmp)
      val j0 = jit.getTotalCompilationTime
      val g0 = gcMs()
      val c0 = cpuNs()
      val t0 = System.nanoTime()
      val out = t.span("run", s"pass_$i")(
        w.pass(spark, inputsDir, s"$work/pass_$i", seed, t))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNs() - c0) / 1e9
      val jitMs = (jit.getTotalCompilationTime - j0).toDouble
      val gcPassMs = (gcMs() - g0).toDouble
      if (traced) tracer.detach(spark)
      // a late event of an earlier pass can still reach the listeners
      passes += PassRec(i, traced, wall, cpu, jitMs, gcPassMs, probe,
        bytesUnder(tmp) - before,
        out, if (traced) tracer.spans.toSeq else Nil,
        if (traced) tracer.stages.filter(_.submitMs >= startMs).toSeq else Nil,
        if (traced) tracer.plans.filter(_.atMs >= startMs).toSeq else Nil,
        if (traced) tracer.jobs.values.filter(_.startMs >= startMs).toSeq else Nil)
      out.ops.flatMap(o => o.error.map(o.name -> _))
        .foreach(e => failures += (s"pass_$i/${e._1}" -> e._2))
    }
    // with tracing, passes go untraced, traced, traced, untraced, ... so a
    // steady warm-up trend falls on both alike and their difference is
    // the tracing overhead
    def count(tr: Boolean) = passes.count(_.traced == tr)
    while (elapsed < seconds || count(false) < MinPasses ||
      (trace && count(true) < MinPasses))
      runPass(trace && (passes.size % 4 == 1 || passes.size % 4 == 2))
    val (steal1, tot1) = cpuJiffies()
    val stealFrac = if (tot1 > tot0) (steal1 - steal0).toDouble / (tot1 - tot0) else 0.0
    // Scratch output lives until JVM exit, so it grows with the number of
    // passes; per pass run (warm-up included) it does not depend on speed
    val residue = bytesUnder(tmp).toDouble / (passes.size + WarmupPasses)
    val hwm = vmHwmMb()
    spark.stop()

    // ---- metrics ----
    val plain = passes.filter(!_.traced)
    val traced = passes.filter(_.traced)
    val allOps = passes.flatMap(_.out.ops).toSeq
    def p50(kind: String) = median(allOps.filter(_.kind == kind).map(_.ms))
    val e2e = Map(
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (median(plain.map(_.wallS).toSeq), "s"))
    val layers: Map[String, (Double, String)] =
      if (!trace) Map.empty
      else Layers.metrics(traced.toSeq, Runtime.getRuntime.availableProcessors()) ++ Map(
        "trace.overhead_ms" -> ((median(traced.map(_.wallS).toSeq) -
          median(plain.map(_.wallS).toSeq)) * 1e3, "ms"),
        "sources.commit_p50_ms" -> (p50("append"), "ms"),
        "sources.lookup_p50_ms" -> (p50("lookup"), "ms"),
        "scratch.residue_bytes" -> (residue, "bytes"),
        "jvm.peak_rss_mb" -> (hwm, "MB"),
        "jvm.cpu_s" -> (median(plain.map(_.cpuS).toSeq), "s"),
        "jvm.jit_ms" -> (median(plain.map(_.jitMs).toSeq), "ms"),
        "host.probe_ms" -> (median(passes.map(_.probeMs).toSeq), "ms"),
        "host.steal_frac" -> (stealFrac, "ratio"))

    // ---- result file ----
    def jmap(kv: (String, Any)*): java.util.Map[String, Any] = {
      val m = new java.util.LinkedHashMap[String, Any]()
      kv.foreach { case (k, v) => m.put(k, v) }
      m
    }
    def metricMap(ms: Map[String, (Double, String)]) =
      jmap(ms.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> jmap("value" -> v, "unit" -> u) }: _*)
    val attempted = warmOps + passes.map(_.out.ops.size).sum
    val result = jmap(
      "workload" -> wname, "seed" -> seed, "trace" -> trace,
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "inputs_dir" -> inputsDir,
      "oracles" -> jmap((w match {
        case q: QueryWorkload => q.oracles
        case _ => Nil
      }): _*),
      "count_oracles" -> jmap((w match {
        case q: QueryWorkload => q.countOracles
        case _ => Nil
      }): _*),
      "inputs" -> jmap(inputs.toSeq.sortBy(_._1).map { case (k, t) =>
        k -> jmap("rows" -> t.rows, "bytes" -> t.bytes) }: _*),
      "setup_parts_s" -> jmap(setupParts: _*),
      "metrics" -> metricMap(e2e),
      "per_layer" -> metricMap(layers),
      "samples" -> jmap("passes" -> plain.size, "traced_passes" -> traced.size),
      "attempted" -> attempted,
      "failures" -> failures.map { case (op, e) =>
        jmap("op" -> op, "error" -> e) }.asJava,
      "passes" -> passes.map { p =>
        jmap("index" -> p.index, "traced" -> p.traced, "wall_s" -> p.wallS,
          "cpu_s" -> p.cpuS, "jit_ms" -> p.jitMs, "gc_ms" -> p.gcMs,
          "probe_ms" -> p.probeMs,
          "ops" -> p.out.ops.map(o => jmap("name" -> o.name, "kind" -> o.kind,
            "ms" -> o.ms, "error" -> o.error.orNull)).asJava,
          "extra" -> jmap(p.out.extra.toSeq: _*),
          "results" -> jmap(p.out.results: _*))
      }.asJava,
      "layer_self_ms" -> jmap(Layers.selfMs(traced.toSeq).toSeq.sortBy(_._1): _*),
      // each span carries the Spark work its own thread submitted
      // (children's work is on the children)
      "spans" -> traced.flatMap { p =>
        p.spans.map { s =>
          val st = p.stages.filter(_.span == s.id)
          jmap("id" -> s.id, "parent" -> s.parent, "run" -> s.run,
            "pass" -> p.index, "layer" -> s.layer, "name" -> s.name,
            "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> s.ms,
            "jobs" -> p.jobs.count(_.span == s.id),
            "job_sites" -> jmap(p.jobs.filter(_.span == s.id).groupBy(_.name)
              .toSeq.sortBy(_._1).map { case (k, js) => k -> js.size }: _*),
            "stages" -> st.size,
            "tasks" -> st.map(_.tasks).sum,
            "task_run_ms" -> st.map(_.runMs).sum,
            "shuffle_write_bytes" -> st.map(_.shuffleWrite).sum)
        }
      }.asJava)
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writerWithDefaultPrettyPrinter().writeValue(new File(resultPath), result)
  }
}
