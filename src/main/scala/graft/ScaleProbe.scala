package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling-evidence harness: replicates the documents/embeddings fixture
  * xN into a scratch dir (ids offset per copy; each copy's text gets a
  * distinct leading token so copies are near- but not exact duplicates),
  * then times named queries at 1x and Nx so the growth CURVE — not just
  * the absolute number — backs the SCALE.md claims.
  *
  * Usage: ScaleProbe <sfDir> <scratchDir> <factor> <reps> <query ...>
  * documents/embeddings/events-backed queries are all valid targets:
  * copies offset doc/vec/event/user ids so cardinalities scale with the
  * data (the micros-timestamp events fixture round-trips through a plain
  * parquet rewrite; the old nanos fixture did not).
  */
object ScaleProbe {
  /** `factor` copies of the documents table: copy i offsets `doc_id`
    * by i·10⁷ and prefixes its text with `v$i ` (copy 0 is verbatim),
    * so copies are near- but not exact duplicates. */
  def replicateDocuments(docs: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { i =>
      docs.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        (if (i == 0) col("text") else concat(lit(s"v$i "), col("text")))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val base = args(0)
    val scratch = args(1)
    val factor = args(2).toInt
    val reps = args(3).toInt
    val names = args.drop(4).toSeq
    val spark = GraftSession()

    replicateDocuments(Tables.documents(spark, base), factor)
      .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    val emb = Tables.embeddings(spark, base)
    (0 until factor).map { i =>
      emb.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
        col("embedding"), col("label"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$scratch/embeddings.parquet")
    // Events: offset event ids (uniqueness) AND user ids (so the keyed-
    // state / sessionization key space scales with the data instead of
    // packing N times the events onto the same 150 users).
    val ev = Tables.events(spark, base)
    (0 until factor).map { i =>
      ev.select((col("event_id") + lit(i * 100000000L)).as("event_id"),
        col("ts"), (col("user_id") + lit(i * 10000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$scratch/events.parquet")
    // TPC-H star: replicate facts with offset keys (orderkey ties
    // lineitem<->orders copies together; custkey/partkey offset so the
    // dimension key spaces scale too); nation/region/supplier are
    // genuinely fixed-size dims and copy through unchanged.
    val off = 100000000L
    val li = Tables.lineitem(spark, base)
    (0 until factor).map { i =>
      // l_suppkey stays in the FIXED supplier key space: supplier copies
      // through unchanged below, so offsetting it would silently empty
      // every l_suppkey = s_suppkey join for copies i>0 and report an
      // "Nx" probe whose join output was still 1x.
      li.withColumn("l_orderkey", col("l_orderkey") + lit(i * off))
        .withColumn("l_partkey", col("l_partkey") + lit(i * off))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$scratch/lineitem.parquet")
    val ord = Tables.orders(spark, base)
    (0 until factor).map { i =>
      ord.withColumn("o_orderkey", col("o_orderkey") + lit(i * off))
        .withColumn("o_custkey", col("o_custkey") + lit(i * off))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$scratch/orders.parquet")
    val cust = Tables.customer(spark, base)
    (0 until factor).map { i =>
      cust.withColumn("c_custkey", col("c_custkey") + lit(i * off))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$scratch/customer.parquet")
    val part = Tables.part(spark, base)
    (0 until factor).map { i =>
      part.withColumn("p_partkey", col("p_partkey") + lit(i * off))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$scratch/part.parquet")
    Seq("supplier", "nation", "region").foreach { t =>
      Tables.table(spark, base, t)
        .write.mode("overwrite").parquet(s"$scratch/$t.parquet")
    }

    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    Seq(base -> "1x", scratch -> s"${factor}x").foreach { case (dir, tag) =>
      names.foreach { n =>
        val times = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          byName(n).fn(spark, dir).queryExecution.toRdd.count()
          val sec = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          sec
        }
        println(f"$tag%-4s $n%-28s ${times.map(t => f"$t%7.2f").mkString(" ")}")
      }
    }
    spark.stop()
  }
}
