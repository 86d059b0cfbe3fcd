package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The SQL executions (id, call-site description) and the jobs (the
  * execution each ran under, if any) that started while a body ran. */
final case class JobLog(executions: Seq[(Long, String)],
    jobs: Seq[Option[Long]]) {
  /** Each job's call site: the description of its SQL execution. */
  def jobSites: Seq[Option[String]] = {
    val site = executions.toMap
    jobs.map(_.flatMap(site.get))
  }
}

object JobLog {
  /** Runs `body` with a listener attached; waits on the listener bus,
    * not on a clock, before and after. */
  def during[T](sc: SparkContext)(body: => T): (T, JobLog) = {
    val execs = ArrayBuffer.empty[(Long, String)]
    val jobs = ArrayBuffer.empty[Option[Long]]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized(jobs += Option(e.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .map(_.toLong))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          execs.synchronized(execs += (x.executionId -> x.description))
        case _ =>
      }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    val out = try body finally {
      ListenerBusDrain(sc)
      sc.removeSparkListener(l)
    }
    (out, JobLog(execs.toSeq, jobs.toSeq))
  }
}
