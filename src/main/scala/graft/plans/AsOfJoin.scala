package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.types.LongType

/** Whole-operator as-of join as a first-class physical operator: logical
  * node + planner strategy + SparkPlan; `GraftExtensions` injects the
  * strategy (SparkSessionExtensions.injectPlannerStrategy).
  *
  * Semantics (reference: the epoch->latest-checkpoint consumption loop,
  * train_adapters/create_all_models.py:54-63): for each left row, the
  * value of the LATEST right row with the same key and right.time <=
  * left.time (inclusive), null when no such row exists.
  *
  * Physical contract: both children hash-clustered on the key and sorted
  * (key, time) — Catalyst's EnsureRequirements inserts exactly one
  * exchange per side; the join itself is a zero-allocation two-pointer
  * merge per partition holding ONE long of state (the current key's
  * latest value).  Versus the union+window formulation
  * (asof_join_latest_ref): same shuffle count, but no row widening, no
  * window buffer, and the probe side streams — the shape you want when
  * the 100 TB fact stream as-of-joins a checkpoint ledger.
  *
  * Keys, times and the carried value are constrained to LongType — the
  * operator is deliberately monomorphic so the merge loop stays on
  * primitives (and honest about what it supports).
  */
object AsOfJoin {

  /** Left as-of join `left` with `right`, carrying `rightValue` from the
    * latest right row at-or-before each left row's time. Planned on a
    * session that loads `GraftExtensions` (`graft.GraftSession`). */
  def latest(left: DataFrame, leftKey: String, leftTime: String,
      right: DataFrame, rightKey: String, rightTime: String,
      rightValue: String, outName: String): DataFrame = {
    val spark = left.sparkSession
    val lp = Bridge.logicalPlan(left)
    val rp = Bridge.logicalPlan(right)
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"column $n not found in ${p.output.map(_.name).mkString(",")}"))
    val cols = Seq(attr(lp, leftKey), attr(lp, leftTime), attr(rp, rightKey),
      attr(rp, rightTime), attr(rp, rightValue))
    cols.foreach(a => require(a.dataType == LongType,
      s"as-of join requires LongType columns, ${a.name} is ${a.dataType}"))
    val out = AttributeReference(outName, LongType, nullable = true)()
    Bridge.dataFrame(spark, AsOfJoinPlan(lp, rp, cols(0), cols(1), cols(2),
      cols(3), cols(4), out))
  }
}

/** Resolved logical as-of join; opaque to the optimizer except for child
  * transforms (references are declared, so column pruning keeps exactly
  * the key/time/value columns alive on each side). */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
    lKey: Attribute, lTime: Attribute, rKey: Attribute, rTime: Attribute,
    rValue: Attribute, outAttr: AttributeReference) extends BinaryNode {
  override def output: Seq[Attribute] = left.output :+ outAttr
  override def producedAttributes: AttributeSet = AttributeSet(outAttr)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] as [[AsOfJoinExec]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, lt, rk, rt, rv, out) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, lt, rk, rt, rv, out) :: Nil
    case _ => Nil
  }
}

/** Sorted two-pointer as-of merge: children arrive hash-clustered on the
  * key and sorted by (key, time); per partition the merge holds one
  * (key, value) pair of state and streams both sides once. */
case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    lKey: Attribute, lTime: Attribute, rKey: Attribute, rTime: Attribute,
    rValue: Attribute, outAttr: Attribute) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output :+ outAttr
  override def producedAttributes: AttributeSet = AttributeSet(outAttr)
  override def outputPartitioning: Partitioning = left.outputPartitioning

  // SQL metrics like the built-in joins expose: visible in the Spark UI
  // and to listeners, so a 1000-executor run can see match rates without
  // re-running anything (AsOfJoinExecSpec pins the accounting)
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext,
      "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext,
      "output rows with an as-of match"))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(lKey)), ClusteredDistribution(Seq(rKey)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(lKey, Ascending), SortOrder(lTime, Ascending)),
      Seq(SortOrder(rKey, Ascending), SortOrder(rTime, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(lKey, Ascending), SortOrder(lTime, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val outSchema = output
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      // bind as Expression: bindReference's generic return would cast
      // the produced BoundReference back to Attribute otherwise
      val lk = BindReferences.bindReference(lKey: Expression, lOut)
      val lt = BindReferences.bindReference(lTime: Expression, lOut)
      val rk = BindReferences.bindReference(rKey: Expression, rOut)
      val rt = BindReferences.bindReference(rTime: Expression, rOut)
      val rv = BindReferences.bindReference(rValue: Expression, rOut)
      val proj = UnsafeProjection.create(outSchema, lOut :+ outAttr)
      // one-row lookahead on the right side, decomposed to primitives
      var pendingValid = false
      var pk = 0L; var pt = 0L; var pv = 0L
      def fetch(): Unit =
        if (ri.hasNext) {
          val r = ri.next()
          pk = rk.eval(r).asInstanceOf[Long]
          pt = rt.eval(r).asInstanceOf[Long]
          pv = rv.eval(r).asInstanceOf[Long]
          pendingValid = true
        } else pendingValid = false
      fetch()
      var heldSet = false
      var heldKey = 0L
      var heldVal = 0L
      val valRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      li.map { lrow =>
        val k = lk.eval(lrow).asInstanceOf[Long]
        val t = lt.eval(lrow).asInstanceOf[Long]
        while (pendingValid && (pk < k || (pk == k && pt <= t))) {
          if (pk == k) { heldKey = k; heldVal = pv; heldSet = true }
          fetch()
        }
        if (heldSet && heldKey == k) {
          valRow.setLong(0, heldVal)
          numMatched += 1
        } else valRow.update(0, null)
        numOutputRows += 1
        proj(joined(lrow, valRow))
      }
    }
  }
}
