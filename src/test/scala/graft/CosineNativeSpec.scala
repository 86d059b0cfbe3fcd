package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.functions.{CosineSimilarity, RewriteCosineHof, VectorOps}

/** The native codegen cosine kernel must be bit-identical to the HOF
  * formulation (same sequential fold) — this is what carries the DuckDB
  * oracle parity over to the fast path. The shared session rewrites
  * the HOF form to the kernel, so the HOF reference is planned with
  * RewriteCosineHof excluded and checked to hold no kernel node. */
class CosineNativeSpec extends SparkSpec {

  /** `pairs` scored by the native kernel and by the HOF fold, the
    * latter planned without the rewrite, row for row. */
  private def nativeAndHof(pairs: DataFrame): (Array[Row], Array[Row]) = {
    val key = pairs.columns.filterNot(Set("ea", "eb")).map(col).toSeq
    def scored(c: org.apache.spark.sql.Column) =
      pairs.select(key :+ c.as("cos"): _*).orderBy(key: _*)
    val hof =
      withConf(SparkSpec.ExcludedRules -> RewriteCosineHof.ruleName) {
        val ref = scored(VectorOps.cosineHof(col("ea"), col("eb")))
        assert(optimizedExprs(ref) { case c: CosineSimilarity => c }.isEmpty)
        ref.collect()
      }
    (scored(VectorOps.cosine(col("ea"), col("eb"))).collect(), hof)
  }

  test("native kernel is bit-identical to the HOF fold on all pairs") {
    val e = Tables.embeddings(spark, sfDir).orderBy("vec_id").limit(60)
    val pairs = e.select(col("vec_id").as("a"), col("embedding").as("ea"))
      .crossJoin(e.select(col("vec_id").as("b"), col("embedding").as("eb")))
    val (native, hof) = nativeAndHof(pairs)
    assert(native.length === 3600)
    assert(native.toSeq === hof.toSeq) // exact, not approximate
  }

  test("interpreted eval path agrees too") {
    import spark.implicits._
    val df = Seq((0, Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f)))
      .toDF("i", "ea", "eb")
    val (Array(native), Array(hof)) = nativeAndHof(df)
    assert(native.getDouble(1) === hof.getDouble(1))
    assert(math.abs(native.getDouble(1) - 10.0 / 14.0) < 1e-12)
  }

  test("length mismatch yields NULL, matching the HOF null-padding") {
    import spark.implicits._
    val df = Seq((0, Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f)))
      .toDF("i", "ea", "eb")
    val (Array(native), Array(hof)) = nativeAndHof(df)
    assert(native.isNullAt(1) && hof.isNullAt(1))
    // codegen and interpreted paths agree on the mismatch too
    val interp = CosineSimilarity(
      org.apache.spark.sql.graftx.Bridge.expression(col("ea")),
      org.apache.spark.sql.graftx.Bridge.expression(col("eb")))
    assert(interp.nullable)
  }

  test("zero vector yields NULL from both native and HOF paths") {
    // Cosine is undefined on a zero-norm vector: the native kernel
    // null-guards the norms and the HOF formulation nullif-guards the
    // denominator, so both agree on NULL across the full input domain
    // (no ANSI DIVIDE_BY_ZERO, no NaN leaking into score thresholds).
    import spark.implicits._
    val df = Seq(
      (0, Array(0.0f, 0.0f), Array(1.0f, 2.0f)), // zero left
      (1, Array(1.0f, 2.0f), Array(0.0f, 0.0f)), // zero right
      (2, Array(0.0f, 0.0f), Array(0.0f, 0.0f))  // both zero
    ).toDF("i", "ea", "eb")
    val (native, hof) = nativeAndHof(df)
    assert(native.length === 3)
    (native ++ hof).foreach(r => assert(r.isNullAt(1)))
  }
}
