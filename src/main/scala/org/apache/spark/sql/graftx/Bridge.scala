package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's classic Column internals (private[sql]),
  * used to wrap custom Catalyst Expressions as Columns in Spark 4's
  * connect-compatible Column API.  Lives under org.apache.spark.sql so
  * the private[sql] members resolve — the standard extension-library
  * technique; only public Spark behavior is relied upon. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Column -> EAGERLY converted catalyst Expression tree.
    * [[expression]] returns a lazy ColumnNodeExpression wrapper whose
    * children are still ColumnNodes — callers that pattern-match the
    * tree (predicate-bounds extraction) need the real conversion the
    * analyzer would perform. */
  def catalystExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Wrap a (resolved) logical plan as a DataFrame. */
  def dataFrame(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.classic.Dataset.ofRows(cs, plan)
  }

  /** The analyzed logical plan behind a DataFrame. */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan

  /** DataFrame from an RDD of InternalRow WITHOUT the external-Row
    * round-trip: createDataFrame(RDD[Row]) pays a per-row, per-field
    * CatalystTypeConverters pass in AND out; this is the zero-copy
    * internal path (LogicalRDD) the engine's partition-offset operators
    * (ScalableIndex / ScalablePrefix) use to keep their two narrow
    * passes allocation-light. Rows must be immutable snapshots (copy()
    * buffer-backed rows before handing them over). */
  def internalDataFrame(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.internalCreateDataFrame(rdd, schema, isStreaming = false)
  }
}
