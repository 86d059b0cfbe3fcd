package stagebench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer, recorded from outside the layer.
  * `layer` is the prefix the per-layer metrics group by; `parent` is the
  * span that made the call; spans of one run share `run`. */
final case class Span(id: Int, parent: Int, run: String, layer: String,
    name: String, startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** What one completed Spark stage did, attributed to the span whose
  * thread submitted its job (via a job-local property). */
final case class StageRec(span: Int, submitMs: Long, doneMs: Long,
    tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long, maxTaskMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long,
    inBytes: Long, inRows: Long, outBytes: Long)

/** One Spark job: the span whose thread submitted it, its start and end
  * (end 0 while running), and its call site: that of the SQL execution
  * it belongs to (e.g. "count at CurationPipeline.scala:139"), else its
  * final stage's `StageInfo.name`. Adaptive execution submits a query's
  * jobs from a pool thread, so the stage name alone does not reach the
  * caller's frame. */
final case class JobRec(id: Int, span: Int, startMs: Long, endMs: Long,
    name: String)

/** One finished action's Catalyst phases and final-plan exchange count. */
final case class PlanRec(atMs: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long, exchanges: Int)

/** Spans kept in memory, plus the two listeners that count Spark's work
  * at the same boundaries. With `enabled = false` the span calls are
  * plain pass-throughs, so untraced passes pay nothing for tracing. */
final class Tracer(val enabled: Boolean, run: String) {
  val SpanProp = "stagebench.span"
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private var current = 0
  @volatile private var sc: SparkContext = _

  /** Times `body` as a span of `layer`; nested calls become children. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = current
      current = id
      sc.setLocalProperty(SpanProp, id.toString)
      val (s0, m0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        spans += Span(id, parent, run, layer, name, s0, System.nanoTime(),
          m0, System.currentTimeMillis())
        current = parent
        sc.setLocalProperty(SpanProp,
          if (parent == 0) null else parent.toString)
      }
    }

  // ---- listener state (written on Spark's listener thread) ----
  private val lock = new Object
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val execSite = mutable.Map.empty[Long, String]
  private val maxTask = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  val stages = ArrayBuffer.empty[StageRec]
  val plans = ArrayBuffer.empty[PlanRec]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  @volatile private var lastEventNs = System.nanoTime()
  @volatile private var open = 0

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(0)
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .flatMap(id => execSite.get(id.toLong))
        .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
      jobs(e.jobId) = JobRec(e.jobId, sp, e.time, 0L, site)
      e.stageIds.foreach(stageSpan(_) = sp)
      open += 1
      lastEventNs = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
      open -= 1
      lastEventNs = System.nanoTime()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => lock.synchronized {
        execSite(x.executionId) = x.description
      }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      if (e.taskInfo != null)
        maxTask(e.stageId) = math.max(maxTask(e.stageId), e.taskInfo.duration)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val i = e.stageInfo
        val m = i.taskMetrics
        stages += StageRec(stageSpan.getOrElse(i.stageId, 0),
          i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
          i.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          maxTask(i.stageId), m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten)
        lastEventNs = System.nanoTime()
      }
  }

  private object Plans extends QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val at = ph.get("planning").orElse(ph.get("analysis"))
        .map(_.endTimeMs).getOrElse(System.currentTimeMillis())
      val exchanges =
        try collect(qe.executedPlan) { case x: Exchange => x }.size
        catch { case _: Throwable => 0 }
      lock.synchronized {
        plans += PlanRec(at, d("analysis"), d("optimization"), d("planning"),
          exchanges)
        lastEventNs = System.nanoTime()
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  /** Registers the listeners for one traced pass. */
  def attach(spark: org.apache.spark.sql.SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(Jobs)
    spark.listenerManager.register(Plans)
  }

  /** Spark delivers listener events asynchronously: waits until every
    * started job has ended and the bus has been quiet for a moment, then
    * unregisters, so untraced passes run without listeners. */
  def detach(spark: org.apache.spark.sql.SparkSession): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    while (System.nanoTime() < deadline &&
      (open > 0 || System.nanoTime() - lastEventNs < 300_000_000L))
      Thread.sleep(20)
    sc.removeSparkListener(Jobs)
    spark.listenerManager.unregister(Plans)
  }

  def clear(): Unit = lock.synchronized {
    spans.clear(); stages.clear(); plans.clear(); jobs.clear(); execSite.clear()
    open = 0
    lastEventNs = System.nanoTime()
  }
}
