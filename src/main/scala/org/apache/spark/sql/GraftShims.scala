package org.apache.spark.sql

import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.LogicalRDD

/** The one `private[sql]` doorway graft's DSv1 streaming sink needs —
  * the same package-shim technique Delta and other external
  * connectors use.  `Sink.addBatch` hands the micro-batch behind a
  * STREAMING logical plan; any new query over it (the upsert's joins)
  * trips the batch-query checker, so it must be rebased onto a batch
  * `LogicalRDD` built from the ALREADY-PLANNED incremental execution —
  * exactly the conversion `ForeachBatchSink` applies before invoking
  * user code.  Nothing else in this repository lives outside the
  * `graft` namespace. */
object GraftShims {
  def streamingBatchToBatchDF(data: DataFrame): DataFrame = {
    val classic = data.asInstanceOf[ClassicDataset[Row]]
    ClassicDataset.ofRows(classic.sparkSession,
      LogicalRDD.fromDataset(classic.queryExecution.toRdd, classic,
        isStreaming = false))
  }

  /** The inverse doorway, for the DSv1 streaming SOURCE: a V1
    * `Source.getBatch` must return a DataFrame whose logical plan is
    * flagged streaming (the engine rejects batch plans inside a
    * streaming query), while the change-feed derivation itself is an
    * ordinary batch computation.  Rebase the planned batch execution
    * onto a streaming-flagged `LogicalRDD` — the exact construction
    * Spark's own V1 sources use. */
  def batchToStreamingDF(data: DataFrame): DataFrame = {
    val classic = data.asInstanceOf[ClassicDataset[Row]]
    ClassicDataset.ofRows(classic.sparkSession,
      LogicalRDD.fromDataset(classic.queryExecution.toRdd, classic,
        isStreaming = true))
  }

  /** DataFrame over an explicit logical plan (`Dataset.ofRows`) — how
    * the SQL DML commands (graft.sources.v2.GraftDml) run the source,
    * key and query plans they carry. */
  def ofRows(s: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    ClassicDataset.ofRows(
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Column over a raw Catalyst expression — the doorway the SQL DML
    * converter (graft.sources.v2.GraftDml) uses to hand parsed /
    * analyzed WHERE clauses and SET expressions to the library DML,
    * which speaks the public Column API. */
  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The registered catalog plugin under `name`, if any — used to
    * recognize `graft.&#96;/root&#96;` identifiers at parse level (the
    * maintenance grammar and MERGE ... WITH SCHEMA EVOLUTION). */
  def catalogOf(s: SparkSession, name: String)
      : Option[org.apache.spark.sql.connector.catalog.CatalogPlugin] =
    scala.util.Try(
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.catalogManager.catalog(name)).toOption
}
