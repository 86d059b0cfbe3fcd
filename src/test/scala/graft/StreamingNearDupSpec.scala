package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.functions.VectorOps
import graft.queries.DedupQueries
import graft.streaming.Streams

/** The streaming near-dup gate (Streams.nearDupLsh) against its batch
  * shadow: same 24-hyperplane bucket kernel, same cosine loop, so on
  * input whose buckets stay under the cap the emitted pair set must
  * EQUAL the batch bucketed self-join's — single-batch, and again when
  * the same vectors arrive split across two batches (members carry in
  * the bucket's ListState). The v2 operator requires the RocksDB state
  * store provider; set per-test and restored. */
class StreamingNearDupSpec extends SparkSpec {

  /** Bounded corpus + injected exact copies — the batch
    * dedup_embedding_cosine construction on a 200-vector slice. */
  private lazy val vectors: Seq[(Long, Array[Float])] = {
    val base = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .toSeq
    val copies = base.collect {
      case (id, emb) if id % 25 == 0 => (id + 10000L, emb)
    }
    base ++ copies
  }

  /** Batch shadow on the same input: bucket with the same kernel,
    * in-bucket a<b self-join, kernel cosine >= 0.999. */
  private lazy val expectedPairs: Set[(Long, Long, Long)] = {
    import spark.implicits._
    val df = vectors.toDF("vec_id", "embedding")
      .withColumn("bucket", DedupQueries.dBucket(col("embedding")))
    val pairs = df.as("x").join(df.as("y"),
        col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        VectorOps.cosine(col("x.embedding"), col("y.embedding")).as("cos"))
      .filter(col("cos") >= 0.999)
      .select(col("a"), col("b"),
        floor(col("cos") * 1000000).cast("bigint").as("cos_e6"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs.nonEmpty, "fixture produced no near-dup pairs — the " +
      "parity assertions below would be vacuous")
    pairs
  }

  /** No bucket on this slice may exceed the default cap, or the
    * batch/stream cap semantics legitimately diverge and the parity
    * tests compare apples to oranges. */
  test("fixture sanity: every bucket stays under the cap") {
    import spark.implicits._
    val maxBucket = vectors.toDF("vec_id", "embedding")
      .groupBy(DedupQueries.dBucket(col("embedding")))
      .count().agg(max(col("count"))).head().getLong(0)
    assert(maxBucket <= 64L, s"bucket of $maxBucket vectors exceeds cap")
  }

  private def runStream(batches: Seq[Seq[(Long, Array[Float])]],
      name: String, cap: Int = 64): Seq[(Long, Long, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withConf(SparkSpec.RocksDb) {
      val mem = MemoryStream[(Long, Array[Float])]
      val q = Streams.nearDupLsh(
          mem.toDS().toDF("vec_id", "embedding").repartition(8), cap)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try batches.foreach { b =>
        mem.addData(b: _*)
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
  }

  test("single batch emits exactly the batch shadow's pair set") {
    val got = runStream(Seq(vectors), "neardup_one")
    assert(got.size === got.toSet.size, "duplicate emissions")
    assert(got.toSet === expectedPairs)
  }

  test("pairs split across two batches still surface: state carries") {
    // copies arrive in batch 2, originals in batch 1 — every injected
    // exact-copy pair must be scored against a STORED member
    val (late, early) = vectors.partition(_._1 >= 10000L)
    val got = runStream(Seq(early, late), "neardup_two")
    assert(got.toSet === expectedPairs)
  }

  test("redelivered members are idempotent: no duplicate pairs, " +
    "no double membership") {
    // batch 2 redelivers every batch-1 vector alongside the late
    // copies — emissions must equal the clean two-batch run exactly
    val (late, early) = vectors.partition(_._1 >= 10000L)
    val got = runStream(Seq(early, early ++ late), "neardup_redeliver")
    assert(got.size === got.toSet.size, "duplicate emissions")
    assert(got.toSet === expectedPairs)
  }

  test("membership cap bounds comparisons and state") {
    // six identical vectors into one bucket with cap=3: arrivals 1-3
    // join the member list (0+1+2 pairs), arrivals 4-6 each score
    // against the 3 stored members but are not added (3 pairs each)
    val emb = vectors.head._2
    val six = (1L to 6L).map(i => (i, emb))
    val got = runStream(Seq(six), "neardup_cap", cap = 3)
    assert(got.size === (0 + 1 + 2 + 3 + 3 + 3))
    // arrivals past the cap only ever pair with the first 3 members
    val laterPartners = got.collect {
      case (a, b, _) if b >= 4L => a
    }
    assert(laterPartners.toSet === Set(1L, 2L, 3L))
  }
}
