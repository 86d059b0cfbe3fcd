package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.queries.{Curation56Queries, VectorQueries}
import graft.sources.VersionedTable
import graft.streaming.{Streams, VersionedSource}

/** The engine as a SYSTEM: one composed scenario running the flagship
  * retrieval pipeline (chunk -> embed -> index -> retrieve -> rank
  * metrics) on top of the versioned table and its change-feed
  * follower — every piece individually spec'd elsewhere, exercised
  * here as the deployment actually wires them:
  *
  *   1. INGEST a corpus version into the versioned table (v1).
  *   2. Chunk it with the shipping chunker, embed each chunk
  *      (deterministic feature-hash bag-of-words — the embedder seam
  *      a real deployment fills with a model), build the NN-descent
  *      graph index with the shipping construction, and evaluate
  *      retrieval: same-doc chunks are the relevance ground truth
  *      (overlapping chunks share 100 of 256 chars).
  *   3. COMMIT v2 (re-crawl: 3 docs updated, 2 inserted) and FOLLOW
  *      the change feed with update pairing: the follower re-embeds
  *      ONLY the changed docs' chunks — the incrementality that makes
  *      index maintenance affordable at 100 TB — and streams them
  *      through Streams.insertAnn into delta edge segments.
  *   4. SERVE from snapshot + symmetrized deltas: new content is
  *      retrievable without any rebuild.  (Old chunks of updated docs
  *      stay until consolidation — the segment/tombstone design the
  *      batch ann_index_consolidate/_delete queries own.)
  */
class ScenarioSpec extends SparkSpec with TempDirs {

  private val Dim = 256

  /** Deterministic feature-hash embedding of (doc_id, chunk_idx,
    * chunk): token BIGRAM -> md5 bin in a fixed Dim space, dense
    * counts.  Bigrams, not unigrams, because the fixture corpus draws
    * every doc from one ~30-word vocabulary: unigram bags collapse to
    * the corpus frequency signature (measured 294 permille brute-force
    * same-doc hit@3), while bigram bags make doc identity geometric
    * (1000 permille brute-force).  Position-insensitive bag shape, so
    * a re-crawled doc embeds near its original — the property step
    * 4's back-edge insertion relies on, as any real embedder's would. */
  private def embed(ch: DataFrame): DataFrame = {
    val toks = filter(split(col("chunk"), " "),
      t => length(t) > 0)
    val grams = when(size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - 2),
        i => concat_ws(" ",
          element_at(toks, i + 1), element_at(toks, i + 2))))
      .otherwise(toks) // degenerate one-token chunk: the token itself
    ch.select(col("doc_id"), col("chunk_idx"),
        explode(grams).as("tok"))
      .withColumn("bin", pmod(
        conv(substring(md5(col("tok")), 1, 6), 16, 10).cast("long"),
        lit(Dim)))
      .groupBy(col("doc_id"), col("chunk_idx"), col("bin"))
      .agg(count(lit(1)).cast("double").as("w"))
      .groupBy(col("doc_id"), col("chunk_idx"))
      .agg(map_from_entries(
        collect_list(struct(col("bin"), col("w")))).as("m"))
      .select(col("doc_id"), col("chunk_idx"),
        transform(sequence(lit(0), lit(Dim - 1)),
          d => coalesce(element_at(col("m"), d.cast("long")), lit(0.0))
            .cast("float")).as("ce"))
  }

  test("ingest -> chunk -> embed -> index -> retrieve, then follow a " +
    "commit's change feed into incremental index maintenance") {
    import spark.implicits._
    val dir = tempDir("graft_scenario")
    val corpusRoot = s"$dir/corpus"

    // ---- 1. ingest: the corpus of record is a VERSIONED table
    val docs = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 60)
      .select("doc_id", "text", "lang", "source", "n_chars")
    VersionedTable.append(spark, corpusRoot, docs, "doc_id", 2,
      op = "load")

    // ---- 2. chunk + embed the v1 SNAPSHOT (not the fixture: the
    // pipeline reads what the table serves), contiguous ids for the
    // graph build
    val emb1 = embed(VectorQueries.chunksOf(
      VersionedTable.read(spark, corpusRoot)))
    val chunkMap = emb1.withColumn("cid",
        row_number().over(Window.orderBy(col("doc_id"), col("chunk_idx")))
          .cast("long") - 1)
      .persist()
    val n = chunkMap.count()
    assert(n > 80, s"corpus produced only $n chunks")
    val corpus = chunkMap.select(col("cid"), col("ce"))
    val indexBase = s"$dir/index"
    Curation56Queries.nnDescentOver(spark, corpus, indexBase, n)
    val edges = spark.read.parquet(s"$indexBase/r4")
    val und = edges.unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().persist()

    // retrieval eval: queries are chunk 0 of multi-chunk docs; a hit
    // is ANOTHER chunk of the same doc in the top 3 (self excluded by
    // the search). Rank metrics in the avg_first_hit_rank shape.
    val multi = chunkMap.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nc")).filter(col("nc") >= 2)
    val q1 = chunkMap.join(multi.select(col("doc_id")), "doc_id")
      .filter(col("chunk_idx") === 0)
      .select(col("cid").as("qid"), col("ce").as("qe"))
    val nQueries = q1.count()
    assert(nQueries >= 20, s"only $nQueries multi-chunk query docs")
    val res1 = Curation56Queries.hierBeamSearch(q1, corpus, und, 3)
    val docOf = chunkMap.select(col("cid"), col("doc_id"))
    val firstHits = res1
      .join(docOf.select(col("cid").as("qid"),
        col("doc_id").as("qdoc")), "qid")
      .join(docOf.select(col("cid"), col("doc_id").as("cdoc")), "cid")
      .filter(col("qdoc") === col("cdoc"))
      .groupBy(col("qid")).agg(min(col("rank")).as("first_hit"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hitPermille = 1000L * firstHits.size / nQueries
    info(s"v1 retrieval: $nQueries queries, hit@3 $hitPermille permille, " +
      s"mean first-hit rank ${
        if (firstHits.isEmpty) -1.0
        else firstHits.values.sum.toDouble / firstHits.size}")
    // overlapping same-doc chunks share 100/256 chars: the index must
    // surface a sibling for most queries or the pipeline is broken
    assert(hitPermille >= 700L,
      s"same-doc hit rate $hitPermille permille")

    // ---- 3. commit v2 (a re-crawl: 3 docs rewritten with mostly the
    // same tokens, 2 near-duplicate new docs) and follow the feed
    val updated = VersionedTable.read(spark, corpusRoot)
      .filter(col("doc_id").isin(7L, 11L, 23L))
      .withColumn("text", concat(lit("recrawl pass two "), col("text")))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val inserted = VersionedTable.read(spark, corpusRoot)
      .filter(col("doc_id").isin(40L, 41L))
      .withColumn("doc_id", col("doc_id") + 1000L)
      .withColumn("text", concat(lit("mirror copy "), col("text")))
      .withColumn("n_chars", length(col("text")).cast("long"))
    VersionedTable.merge(spark, corpusRoot,
      updated.unionByName(inserted), "doc_id", 2)

    // the follower re-embeds ONLY changed docs and streams the new
    // vectors into delta edge segments via the shipping insert path
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Float])]
    val insOut = s"$dir/ins_out"
    // worst-edge table over the DIRECTED snapshot edges, as the batch
    // insert query defines it
    val worst = Curation56Queries.worstEdgesOf(corpus, edges)
    val insQ = Streams.insertAnn(
      mem.toDS().toDF("vec_id", "embedding")
        .select(col("vec_id").as("qid"), col("embedding").as("qe")),
      corpus, und, worst, insOut, s"$dir/ins_chk")
    var reembeddedDocs = -1L
    var reembeddedChunks = -1L
    val newIds = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Array[Float])] // cid, doc, chunk_idx, ce
    val follow = VersionedSource.followChanges(spark, corpusRoot,
      s"$dir/follow_chk", "scenario_follow",
      idCol = Some("doc_id")) { (feed, v) =>
      if (v > 1) {
        val changed = feed
          .filter(col("_change_type").isin("insert", "update_postimage"))
          .select(col("doc_id")).distinct()
        val touched = VersionedTable.read(spark, corpusRoot, Some(v))
          .join(changed, "doc_id")
        val newEmb = embed(VectorQueries.chunksOf(touched))
          .orderBy(col("doc_id"), col("chunk_idx"))
          .collect()
        reembeddedDocs = changed.count()
        reembeddedChunks = newEmb.length.toLong
        newEmb.zipWithIndex.foreach { case (r, i) =>
          newIds += ((n + i, r.getLong(0), r.getLong(1),
            r.getSeq[Float](2).toArray))
        }
        mem.addData(newIds.toSeq.map(t => (t._1, t._4)): _*)
        insQ.processAllAvailable()
      }
      ()
    }
    follow.processAllAvailable(); follow.stop(); insQ.stop()

    // incrementality: 5 changed docs, a small fraction of the corpus
    assert(reembeddedDocs === 5L)
    assert(reembeddedChunks < n / 4,
      s"re-embedded $reembeddedChunks of $n chunks — not incremental")
    assert(newIds.nonEmpty)

    // ---- 4. serve from snapshot + symmetrized deltas: the new docs
    // are retrievable with NO index rebuild
    val delta = spark.read.parquet(s"$insOut/batch_id=*")
      .select(col("new_id").as("src"), col("dst"))
    val und2 = und.unionByName(delta)
      .unionByName(delta.select(col("dst").as("src"),
        col("src").as("dst")))
      .distinct()
    val newVecsDf = newIds.toSeq.map(t => (t._1, t._4))
      .toDF("cid", "ce")
    val corpus2 = corpus.unionByName(newVecsDf)
    // query: each inserted doc's first chunk (fresh query ids)
    val insertedChunks = newIds.filter(_._2 >= 1000L)
    assert(insertedChunks.nonEmpty)
    val q2 = insertedChunks.map(t => (t._1 + 100000L, t._4)).toSeq
      .toDF("qid", "qe")
    val res2 = Curation56Queries.hierBeamSearch(q2, corpus2, und2, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val newIdSet = insertedChunks.map(_._1).toSet
    insertedChunks.foreach { t =>
      val got = res2.getOrElse(t._1 + 100000L, Set.empty)
      assert(got.exists(newIdSet.contains),
        s"inserted chunk cid=${t._1} (doc ${t._2}) not retrievable " +
          s"from snapshot+delta index; top-3 was $got")
    }
    // and the maintained index still serves the ORIGINAL corpus: the
    // v1 eval queries keep their same-doc hits
    val res3 = Curation56Queries.hierBeamSearch(q1, corpus2, und2, 3)
    val stillHit = res3
      .join(docOf.select(col("cid").as("qid"),
        col("doc_id").as("qdoc")), "qid")
      .join(docOf.select(col("cid"), col("doc_id").as("cdoc")), "cid")
      .filter(col("qdoc") === col("cdoc"))
      .select(col("qid")).distinct().count()
    assert(1000L * stillHit / nQueries >= 700L,
      "delta maintenance degraded serving of the original corpus")
    spark.catalog.clearCache()
    ()
  }
}
