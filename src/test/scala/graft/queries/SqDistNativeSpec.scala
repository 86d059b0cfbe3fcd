package graft.queries

import org.scalacheck.{Gen, Prop, Test}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The native integer squared-L2 kernel behind `Vector2Queries.sqDist`
  * must return what the HOF fold returns on the whole input domain —
  * empty arrays, length mismatches, NULL elements and NULL arrays, and
  * overflow (raising under ANSI, wrapping without it) — on both the
  * whole-stage codegen path (a plain projection) and the interpreted
  * path (the kernel inside a `transform` lambda). */
class SqDistNativeSpec extends SparkSpec {

  /** The reference: the HOF form sqDist had before the native kernel. */
  private def hof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)

  private type Arr = Option[Seq[Option[Long]]]

  private def arr(elem: Gen[Long]): Gen[Arr] = Gen.option(
    Gen.chooseNum(0, 3).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(6 -> elem.map(Some(_)), 1 -> None))))

  private def check(p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(6), p)
    assert(r.passed, r.status)
  }

  /** An RDD-backed frame, so the projection is not folded into a local
    * relation and really runs through whole-stage codegen. */
  private def frame(rows: Seq[(Arr, Arr)]): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(rows, 1).toDF("a", "b")
  }

  private def codegen(f: (Column, Column) => Column): Column =
    f(col("a"), col("b"))

  private def interpreted(f: (Column, Column) => Column): Column =
    element_at(transform(array(lit(0)), _ => f(col("a"), col("b"))), 1)

  /** Each row's value, or "overflow" when the query raised
    * ARITHMETIC_OVERFLOW. */
  private def outcome(df: DataFrame, c: Column): Either[String, Seq[Option[Long]]] =
    try Right(df.select(c).collect().toSeq
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))))
    catch {
      case e: Exception
          if Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .exists(t => String.valueOf(t.getMessage)
              .contains("ARITHMETIC_OVERFLOW")) =>
        Left("overflow")
    }

  /** Kernel and HOF agree on `rows`, on both evaluation paths. */
  private def agree(rows: Seq[(Arr, Arr)]): Boolean = {
    val df = frame(rows)
    val want = outcome(df, codegen(hof))
    Seq(codegen(Vector2Queries.sqDist), interpreted(Vector2Queries.sqDist))
      .forall(c => outcome(df, c) == want) &&
      outcome(df, interpreted(hof)) == want
  }

  test("the codegen path runs the native kernel inside whole-stage codegen") {
    val spans = frame(Seq((Some(Seq(Some(1L))), Some(Seq(Some(3L))))))
      .select(codegen(Vector2Queries.sqDist)).queryExecution.executedPlan
      .collect { case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w }
    assert(spans.exists(_.toString.contains("sq_dist")), spans.mkString("\n"))
  }

  test("random pairs: empty arrays, length mismatches and NULLs agree") {
    // a generated-code compile error must fail, not fall back
    withConf("spark.sql.codegen.fallback" -> "false") {
      val small = arr(Gen.chooseNum(-20L, 20L))
      val fixed = Seq[(Arr, Arr)](
        (Some(Nil), Some(Nil)),                       // 0
        (Some(Seq(Some(1L), Some(2L))), Some(Seq(Some(4L)))), // mismatch
        (Some(Seq(Some(1L), None)), Some(Seq(Some(1L), Some(5L)))), // NULL
        (None, Some(Seq(Some(1L)))))                  // NULL array
      assert(agree(fixed))
      assert(outcome(frame(fixed), codegen(Vector2Queries.sqDist)) ==
        Right(Seq(Some(0L), None, None, None)))
      check(Prop.forAll(Gen.listOfN(5, Gen.zip(small, small)))(agree))
    }
  }

  test("overflow raises in both under ANSI and wraps the same way without") {
    val big = arr(Gen.oneOf(1L << 32, -(1L << 32), 3000000000L,
      -3000000000L, 0L, Long.MaxValue, Long.MinValue))
    // (2^32 + 1)^2 = 2^64 + 2^33 + 1 overflows the square; 2 x (3e9)^2
    // overflows only the sum
    val square: (Arr, Arr) = (Some(Seq(Some(1L << 32))), Some(Seq(Some(-1L))))
    val sum: (Arr, Arr) = (Some(Seq(Some(3000000000L), Some(3000000000L))),
      Some(Seq(Some(0L), Some(0L))))
    withConf("spark.sql.ansi.enabled" -> "true") {
      Seq(square, sum).foreach { row =>
        assert(outcome(frame(Seq(row)), codegen(Vector2Queries.sqDist)) ==
          Left("overflow"))
        assert(agree(Seq(row)))
      }
      check(Prop.forAll(Gen.zip(big, big))(row => agree(Seq(row))))
    }
    withConf("spark.sql.ansi.enabled" -> "false") {
      assert(outcome(frame(Seq(square)), codegen(Vector2Queries.sqDist)) ==
        Right(Seq(Some((1L << 33) + 1))))
      assert(agree(Seq(square, sum)))
      check(Prop.forAll(Gen.listOfN(3, Gen.zip(big, big)))(agree))
    }
  }
}
