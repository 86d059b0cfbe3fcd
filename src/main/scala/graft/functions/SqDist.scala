package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, EvalMode, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, MathUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: integer squared L2 distance of two
  * array<long> columns, Σ (a_i - b_i)², in one loop with whole-stage
  * codegen (doGenCode) and the same loop for interpreted evaluation
  * (inside HOF lambdas).  It is the distance of every fixed-point
  * clustering, IVF and PQ query (`Vector2Queries.sqDist`).
  *
  * Same values as the HOF `aggregate(zip_with(a, b, (x, y) -> (x - y) *
  * (x - y)), 0L, (acc, x) -> acc + x)`, on the whole input domain:
  *  - NULL on a NULL array, on a NULL element and on a length mismatch
  *    (zip_with pads the shorter side with NULL and the fold carries it);
  *  - 0 on two empty arrays;
  *  - overflow follows `evalMode`, taken from the session conf the way
  *    Catalyst's `Add` takes it: under ANSI every difference, square and
  *    partial sum is checked and raises ARITHMETIC_OVERFLOW wherever the
  *    HOF raises (a square overflows even past a NULL element; a partial
  *    sum only before the first NULL), otherwise it wraps like the HOF's
  *    long arithmetic.  When several steps overflow, the error may name
  *    a different operator than the HOF's, which squares every pair
  *    before it sums.
  */
case class SqDist(left: Expression, right: Expression,
    evalMode: EvalMode.Value = EvalMode.fromSQLConf(SQLConf.get))
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def prettyName: String = "sq_dist"

  override def flatArguments: Iterator[Any] = Iterator(left, right)

  private def ansi: Boolean = evalMode == EvalMode.ANSI

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var sawNull = false
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) sawNull = true
      else {
        val x = a.getLong(i)
        val y = b.getLong(i)
        if (ansi) {
          val d = MathUtils.subtractExact(x, y)
          val p = MathUtils.multiplyExact(d, d)
          if (!sawNull) acc = MathUtils.addExact(acc, p)
        } else if (!sawNull) acc += (x - y) * (x - y)
      }
      i += 1
    }
    if (sawNull || a.numElements() != b.numElements()) null else acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val sawNull = ctx.freshName("sawNull")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val mu = "org.apache.spark.sql.catalyst.util.MathUtils"
      val step =
        if (ansi)
          s"""long $d = $mu.subtractExact($a.getLong($i), $b.getLong($i));
             |$d = $mu.multiplyExact($d, $d);
             |if (!$sawNull) $acc = $mu.addExact($acc, $d);""".stripMargin
        else
          s"""long $d = $a.getLong($i) - $b.getLong($i);
             |if (!$sawNull) $acc += $d * $d;""".stripMargin
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |boolean $sawNull = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |    $sawNull = true;
         |  } else {
         |    $step
         |  }
         |}
         |if ($sawNull || $a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
