package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.queries.Curation56Queries
import graft.streaming.Streams

/** Streaming ANN serving (Streams.serveAnn) against its batch shadow:
  * the ann_graph_hier_topk registry query and the serve path share
  * hierBeamSearch verbatim, so every micro-batch of query vectors must
  * produce exactly the batch answer rows for those queries — including
  * when the query panel arrives split across micro-batches (the index
  * is static; answers are per-query independent). */
class StreamingAnnServeSpec extends SparkSpec with TempDirs {

  private def queryPanel: Seq[(Long, Array[Float])] =
    Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .toSeq

  private lazy val expected: Set[(Long, Long, Long, Long)] =
    SparkEntry.registry.find(_.name == "ann_graph_hier_topk").get
      .fn(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  private def serve(batches: Seq[Seq[(Long, Array[Float])]])
      : Set[(Long, Long, Long, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outDir = tempDir("graft_serve_out")
    val chkDir = tempDir("graft_serve_chk")
    val corpus = Curation56Queries.hierCorpus(spark, sfDir)
    val und = Curation56Queries.hierAdjacency(spark, sfDir).persist()
    try {
      val mem = MemoryStream[(Long, Array[Float])]
      val q = Streams.serveAnn(
        mem.toDS().toDF("vec_id", "embedding")
          .select(col("vec_id").as("qid"), col("embedding").as("qe")),
        corpus, und, outDir, chkDir)
      try batches.foreach { b =>
        mem.addData(b: _*)
        q.processAllAvailable()
      } finally q.stop()
      spark.read.parquet(outDir)
        .select(col("qid"), col("cid"), col("rank"), col("score_e6"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    } finally spark.catalog.clearCache()
  }

  test("one micro-batch serves exactly the batch query's answers") {
    assert(expected.nonEmpty)
    assert(serve(Seq(queryPanel)) === expected)
  }

  test("queries split across micro-batches serve the same answers") {
    val (a, b) = queryPanel.partition(_._1 < 5)
    assert(serve(Seq(a, b)) === expected)
  }

  test("streaming inserts match the batch insert query edge for edge") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val newVecs = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") >= 300 && col("vec_id") < 320)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .toSeq
    val batchRows = SparkEntry.registry.find(_.name == "ann_index_insert")
      .get.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSet
    spark.catalog.clearCache()
    assert(batchRows.nonEmpty)
    val outDir = tempDir("graft_ins_out")
    val chkDir = tempDir("graft_ins_chk")
    val corpus = Curation56Queries.hierCorpus(spark, sfDir)
    val und = Curation56Queries.hierAdjacency(spark, sfDir).persist()
    val worst = Curation56Queries.worstEdges(spark, sfDir).persist()
    try {
      val mem = MemoryStream[(Long, Array[Float])]
      val q = Streams.insertAnn(
        mem.toDS().toDF("vec_id", "embedding")
          .select(col("vec_id").as("qid"), col("embedding").as("qe")),
        corpus, und, worst, outDir, chkDir)
      // two micro-batches: inserts are per-vector independent against
      // the static index, so the union must equal the batch run
      val (a, b) = newVecs.partition(_._1 < 310)
      try Seq(a, b).foreach { batch =>
        mem.addData(batch: _*)
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(outDir)
        .select(col("new_id"), col("dst"), col("rank"), col("score_e6"),
          col("displaced_e6"), col("back_inserted"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getBoolean(5))).toSet
      assert(got === batchRows)
    } finally spark.catalog.clearCache()
  }

  private var lastDeleteOut: String = _
  private var lastTombDir: String = _

  private def runDeletes(batches: Seq[Seq[Long]])
      : (Set[(Long, Long, Long, Long, Long)], Set[Long]) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outDir = tempDir("graft_del_out")
    lastDeleteOut = outDir
    val tombDir = tempDir("graft_del_tomb")
    lastTombDir = tombDir
    val chkDir = tempDir("graft_del_chk")
    val corpus = Curation56Queries.hierCorpus(spark, sfDir)
    val g = Curation56Queries.nnDescentEdges(spark, sfDir)
    val mem = MemoryStream[Long]
    val q = Streams.deleteAnn(mem.toDS().toDF("del"), corpus, g,
      outDir, tombDir, chkDir)
    try batches.foreach { b =>
      mem.addData(b: _*)
      q.processAllAvailable()
    } finally q.stop()
    val repairs = spark.read.parquet(outDir)
      .select(col("src"), col("new_dst"), col("fill_rank"),
        col("cos_e6"), col("n_lost"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val tombs = spark.read.parquet(tombDir)
      .collect().map(_.getLong(0)).toSet
    (repairs, tombs)
  }

  test("streaming deletes in one batch match the batch delete query") {
    val delSet = (0 until 300 by 50).map(_ + 3L) // the oracle's set
    val batchRows = SparkEntry.registry.find(_.name == "ann_index_delete")
      .get.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    spark.catalog.clearCache()
    val (got, tombs) = runDeletes(Seq(delSet))
    assert(tombs === delSet.toSet)
    assert(got === batchRows)
  }

  test("sequential deletes: later repairs avoid ALL tombstones and " +
    "the tombstone-filtered edge set never surfaces a deleted node") {
    val delSet = (0 until 300 by 50).map(_ + 3L)
    val (early, late) = delSet.partition(_ < 150L)
    val (got, tombs) = runDeletes(Seq(early, late))
    assert(tombs === delSet.toSet)
    assert(got.nonEmpty)
    // the LAST batch knows every tombstone, so its repairs must avoid
    // them all (an EARLY repair may legitimately touch a node the late
    // batch then deletes — that is the sequential semantics the
    // tombstone filter below exists for)
    val lateRepairs = spark.read.parquet(s"$lastDeleteOut/batch_id=1")
      .select(col("src"), col("new_dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(lateRepairs.forall { case (s2, d2) =>
      !tombs.contains(s2) && !tombs.contains(d2) })
    // serving reads (edges + repairs) MINUS tombstones on BOTH
    // endpoints: after the filter no deleted node survives anywhere
    val g = Curation56Queries.nnDescentEdges(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val repaired = (g ++ got.map { case (s2, d2, _, _, _) => (s2, d2) })
      .filterNot { case (s2, d2) =>
        tombs.contains(s2) || tombs.contains(d2) }
    assert(repaired.nonEmpty)
    assert(repaired.forall { case (s2, d2) =>
      !tombs.contains(s2) && !tombs.contains(d2) })
  }

  test("deletes are idempotent: in-batch duplicates do not inflate " +
    "n_lost and re-delivered ids emit no second repair") {
    val delSet = (0 until 300 by 50).map(_ + 3L)
    spark.catalog.clearCache()
    val (clean, _) = runDeletes(Seq(delSet))
    spark.catalog.clearCache()
    // each id delivered twice in the same batch, then the whole batch
    // re-delivered (at-least-once upstream)
    val (dup, tombs) = runDeletes(Seq(delSet ++ delSet, delSet))
    assert(tombs === delSet.toSet)
    assert(dup === clean,
      "duplicate delivery changed the repair edge set")
    // the redelivery batch must be a no-op (empty or absent output)
    val redelivered =
      try spark.read.parquet(s"$lastDeleteOut/batch_id=1").count()
      catch { case _: Throwable => 0L }
    assert(redelivered === 0L, "re-delivered ids emitted repairs again")
    // and the tombstone table holds each id exactly once
    val tombRows = spark.read.parquet(lastTombDir).count()
    assert(tombRows === delSet.size.toLong,
      s"tombstone table has $tombRows rows for ${delSet.size} ids")
  }
}
