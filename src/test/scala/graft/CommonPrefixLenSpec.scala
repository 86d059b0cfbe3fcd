package graft

import org.apache.spark.sql.functions._
import graft.functions.CommonPrefixLen.commonPrefixLen

/** Native LCP kernel invariants: exact parity with the HOF substring
  * count on the fixture and on adversarial edges (multi-byte code
  * points, prefix containment, empties, nulls), SQL registration, and
  * the codegen path staying inside whole-stage codegen. */
class CommonPrefixLenSpec extends SparkSpec {

  // The i <= length(a) guard matters: substring saturates past the
  // string end, so without it two EQUAL strings shorter than the cap
  // would count every position up to the cap — overstating their LCP.
  // (a is always the lexicographic min in the parity test, and a
  // prefix sorts before its extensions, so guarding on a suffices.)
  private def hofCapped(a: String, b: String, cap: Int) =
    expr(s"cast(size(filter(sequence(1, $cap), " +
      s"i -> i <= length($a) AND substring($a, 1, i) = substring($b, 1, i)" +
      s")) AS bigint)")

  test("bit parity with the capped HOF count on every fixture min/max " +
    "pair") {
    val g = Tables.documents(spark, sfDir)
      .groupBy(substring(col("text"), 1, 12).as("tpl"))
      .agg(min(col("text")).as("mn"), max(col("text")).as("mx"))
    val cmp = g.select(
      least(commonPrefixLen(col("mn"), col("mx")), lit(64L)).as("nat"),
      hofCapped("mn", "mx", 64).as("hof"))
    assert(cmp.filter(col("nat") =!= col("hof")).count() === 0L)
    assert(cmp.count() > 0L)
  }

  test("edge semantics: containment, divergence, empty, multi-byte, " +
    "null") {
    val rows = Seq(
      ("abc", "abcdef"),   // strict prefix: LCP = shorter length
      ("abcdef", "abc"),
      ("abc", "abd"),      // diverges at position 3
      ("", "anything"),    // empty side
      ("", ""),
      ("cafés", "caféx"),  // multi-byte é fully shared
      ("café", "cafü"),    // é vs ü: 2-byte points diverge
      ("same", "same"))
    val df = spark.createDataFrame(rows).toDF("a", "b")
      .select(commonPrefixLen(col("a"), col("b")).as("l"))
    assert(df.collect().map(_.getLong(0)).toSeq ===
      Seq(3L, 3L, 2L, 0L, 0L, 4L, 3L, 4L))
    val withNull = spark.createDataFrame(
        Seq((Option("x"), Option.empty[String])))
      .toDF("a", "b")
      .select(commonPrefixLen(col("a"), col("b")).as("l"))
    assert(withNull.collect().head.isNullAt(0))
  }

  test("interpreted eval matches codegen") {
    val rows = Seq(("hello world", "hello there"), ("éé", "é"))
    rows.foreach { case (a, b) =>
      val viaExpr = graft.functions.CommonPrefixLen(
        org.apache.spark.sql.catalyst.expressions.Literal.create(a),
        org.apache.spark.sql.catalyst.expressions.Literal.create(b))
        .eval(null).asInstanceOf[Long]
      val viaPlan = spark.createDataFrame(Seq((a, b))).toDF("a", "b")
        .select(commonPrefixLen(col("a"), col("b"))).collect().head.getLong(0)
      assert(viaExpr === viaPlan)
    }
  }

  test("registered SQL surface: common_prefix_len works in spark.sql") {
    val got = spark.sql(
      "SELECT common_prefix_len('prefix cache', 'prefix match') AS l")
      .collect().head.getLong(0)
    assert(got === 7L)
  }

  test("kernel stays inside whole-stage codegen") {
    val g = Tables.documents(spark, sfDir)
      .select(commonPrefixLen(col("text"), reverse(col("text"))).as("l"))
    // codegen'd stages print with the *(id) prefix
    val plan = g.queryExecution.executedPlan.toString
    assert(plan.contains("*("))
  }
}
