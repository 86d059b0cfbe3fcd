package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.JaroWinkler

/** Pins the JaroWinklerSimilarity native expression: classic literature
  * values, metric laws, SQL registration, and parity between the
  * whole-stage-codegen path and the static kernel. */
class JaroWinklerSpec extends SparkSpec {

  private def jw(a: String, b: String): Double =
    JaroWinkler.compute(UTF8String.fromString(a), UTF8String.fromString(b))

  test("classic Winkler reference pairs") {
    assert(jw("MARTHA", "MARHTA") === 0.9611111111111111)
    assert(jw("DIXON", "DICKSONX") === 0.8133333333333332)
    assert(jw("JELLYFISH", "SMELLYFISH") === 0.8962962962962964)
    // below the 0.7 boost threshold the prefix bonus must NOT apply
    assert(jw("spark", "sort") === 0.6333333333333333)
  }

  test("metric laws: identity, bounds, symmetry, empty-string edges") {
    val words = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " "))).distinct()
      .collect().map(_.getString(0))
    for (a <- words; b <- words) {
      val s = jw(a, b)
      assert(s >= 0.0 && s <= 1.0)
      assert(s === jw(b, a), s"asymmetric on ($a, $b)")
      if (a == b) assert(s === 1.0)
    }
    assert(jw("", "") === 1.0)
    assert(jw("a", "") === 0.0)
    assert(jw("", "abc") === 0.0)
  }

  test("codegen path equals the static kernel, and SQL registration works") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), substring(col("text"), 1, 50).as("k1"),
        substring(col("text"), 7, 50).as("k2"))
    val viaExpr = docs
      .select(col("doc_id"),
        JaroWinkler.jaroWinkler(col("k1"), col("k2")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val raw = docs.collect()
      .map(r => r.getLong(0) -> jw(r.getString(1), r.getString(2))).toMap
    assert(viaExpr === raw)
    val sqlVal = spark.sql(
      "SELECT jaro_winkler('MARTHA', 'MARHTA')").head().getDouble(0)
    assert(sqlVal === 0.9611111111111111)
    // null propagation
    val nulls = spark.sql(
      "SELECT jaro_winkler(CAST(NULL AS STRING), 'x')").head()
    assert(nulls.isNullAt(0))
  }
}
