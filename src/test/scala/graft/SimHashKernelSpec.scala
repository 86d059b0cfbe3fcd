package graft

import org.apache.spark.sql.functions._
import graft.functions.SimHashKernel.simhash60

/** Native SimHash kernel: bit-parity against the declarative
  * explode/vote-agg formulation, SQL surface, and plan shape. */
class SimHashKernelSpec extends SparkSpec {

  private val Bits = 60

  /** The declarative pipeline the kernel replaced (independent
    * reference implementation, same shape the oracle SQL uses). */
  private def declarative = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("h",
        conv(substring(md5(col("tok")), 1, Bits / 4), 16, 10).cast("long"))
    val bitCols = (0 until Bits).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"b$j"))
    toks.groupBy(col("doc_id")).agg(bitCols.head, bitCols.tail: _*)
      .select(col("doc_id"),
        (0 until Bits).map(j =>
          when(col(s"b$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  test("kernel equals the declarative explode/vote formulation") {
    val native = Tables.documents(spark, sfDir)
      .select(col("doc_id"), simhash60(col("text")).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val decl = declarative.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native.keySet === decl.keySet)
    native.foreach { case (id, sh) =>
      assert(sh === decl(id), s"doc $id")
      assert(sh >= 0L && sh < (1L << Bits), s"doc $id out of range")
    }
  }

  test("similarity law: prefix-truncated text stays hamming-close") {
    import spark.implicits._
    val pairs = Tables.documents(spark, sfDir).limit(50)
      .select(col("text"),
        expr("substring(text, 1, (length(text) * 9) div 10)").as("near"))
      .select(simhash60(col("text")).as("a"), simhash60(col("near")).as("b"))
      .collect().map(r => java.lang.Long.bitCount(r.getLong(0) ^ r.getLong(1)))
    // 90%-prefix copies flip few of the 60 bits on average
    assert(pairs.sum.toDouble / pairs.length < 12.0,
      s"mean hamming ${pairs.sum.toDouble / pairs.length}")
    val empty = Seq("").toDF("text")
      .select(simhash60(col("text"))).head().getLong(0)
    // "" has one token (md5 of empty string) — deterministic signature
    assert(empty === Seq("").toDF("text")
      .select(simhash60(col("text"))).head().getLong(0))
  }

  test("SQL surface and scan-local plan") {
    val viaSql = spark.sql(
      "SELECT simhash60('a b c') AS s").head().getLong(0)
    import spark.implicits._
    val viaCol = Seq("a b c").toDF("text")
      .select(simhash60(col("text"))).head().getLong(0)
    assert(viaSql === viaCol)
    val plan = Tables.documents(spark, sfDir)
      .select(col("doc_id"), simhash60(col("text")).as("s"))
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("Exchange"), s"signature pass shuffles:\n$plan")
  }
}
