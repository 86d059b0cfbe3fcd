package stagebench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.pipelines.CurationPipeline
import graft.sources.VersionedTable

/** One timed operation of a pass: a query call, or one versioned-table
  * call. `error` holds the exception class and message of a failure. */
final case class OpRec(name: String, kind: String, ms: Double,
    error: Option[String] = None)

/** What one pass hands back: its operations, and the result directories
  * the benchmark checks against the DuckDB oracle afterwards. */
final case class PassOut(ops: Seq[OpRec], results: Seq[(String, String)],
    extra: Map[String, Double] = Map.empty)

/** Seeded inputs. Every value is copied from the vendored fixture rows
  * (never recomputed), so a DuckDB oracle over the same files stays
  * exact. Sizes are fixed; the seed only picks which fixture rows fill
  * the part of a table that is not fixed, and the per-copy text prefix. */
object Inputs {
  val CopyRows = 500

  final case class Table(rows: Long, bytes: Long)

  /** Writes `copies` blocks of [[CopyRows]] rows of fixture `name` to
    * `dir/name.parquet`, keyed 0 until copies * CopyRows. The first
    * `fixed` rows of block 0 are the fixture's own first rows, so query
    * rubrics that select by low key stay put; every other row is a
    * seeded draw without replacement within its block, and the text of
    * later blocks starts with a seeded word, so copies are not exact
    * duplicates. */
  def replicate(spark: SparkSession, fixtures: String, dir: String,
      name: String, key: String, copies: Int, fixed: Int,
      seed: Long): Table = {
    val src = spark.read.parquet(s"$fixtures/$name.parquet")
    val rows = src.collect().sortBy(_.getAs[Long](key)).toSeq
    val fields = src.schema.fieldNames
    val rnd = new scala.util.Random(seed)
    val out = (0 until copies).flatMap { c =>
      val head = if (c == 0) rows.take(fixed) else Nil
      val pool = if (c == 0) rows.drop(fixed) else rows
      val prefix = if (c == 0) "" else rnd.alphanumeric.filter(_.isLower)
        .take(5).mkString + " "
      (head ++ rnd.shuffle(pool).take(CopyRows - head.size)).zipWithIndex
        .map { case (r, i) =>
          val v = r.toSeq.toArray
          v(fields.indexOf(key)) = c.toLong * CopyRows + i
          if (prefix.nonEmpty && fields.contains("text")) {
            val text = prefix + r.getAs[String]("text")
            v(fields.indexOf("text")) = text
            if (fields.contains("n_chars"))
              v(fields.indexOf("n_chars")) = text.length.toLong
          }
          Row.fromSeq(v.toSeq)
        }
    }
    write(spark, spark.createDataFrame(out.asJava, src.schema),
      s"$dir/$name.parquet")
  }

  def write(spark: SparkSession, df: DataFrame, path: String): Table = {
    df.coalesce(1).write.mode("overwrite").parquet(path)
    Table(spark.read.parquet(path).count(), Main.bytesUnder(path))
  }
}

trait Workload {
  def name: String
  /** Writes this workload's inputs under `dir`. */
  def inputs(spark: SparkSession, fixtures: String, dir: String,
      seed: Long): Map[String, Inputs.Table]
  /** One closed-loop pass over the inputs; `out` is this pass's own
    * output directory. */
  def pass(spark: SparkSession, inputs: String, out: String, seed: Long,
      t: Tracer): PassOut
}

/** A fixed list of registry queries run back to back, then, with
  * `curate`, one `CurationPipeline.run` over the same documents. Each
  * query's result is written as parquet (the complete result of the
  * call); it, the pipeline's partitioned output and the pipeline's stage
  * counts are compared afterwards against DuckDB oracles: the registry's
  * own `oracleSql`, and [[CurationOracle]]. */
final class QueryWorkload(val name: String, queries: Seq[String],
    copies: Int, fixedDocs: Int, fixedVecs: Int,
    curate: Boolean = false) extends Workload {
  private lazy val defs = {
    val reg = SparkEntry.registry.map(q => q.name -> q).toMap
    queries.map(reg)
  }
  /** Result-set oracles: name -> SQL, compared with the pass's result
    * directory of that name. */
  def oracles: Seq[(String, String)] = defs.map(q => q.name -> q.oracle.get) ++
    (if (curate) Seq(Curation -> CurationOracle.rows) else Nil)
  /** One-row oracles: each column is compared with the pass's `extra`
    * value of the same name. */
  def countOracles: Seq[(String, String)] =
    if (curate) Seq(Curation -> CurationOracle.counts) else Nil
  private val Curation = "curation_pipeline"

  def inputs(spark: SparkSession, fixtures: String, dir: String,
      seed: Long): Map[String, Inputs.Table] = Map(
    "documents" -> Inputs.replicate(spark, fixtures, dir, "documents",
      "doc_id", copies, fixedDocs, seed),
    "embeddings" -> Inputs.replicate(spark, fixtures, dir, "embeddings",
      "vec_id", copies, fixedVecs, seed + 1))

  def pass(spark: SparkSession, inputs: String, out: String, seed: Long,
      t: Tracer): PassOut = {
    val ops = defs.map { q =>
      val dst = s"$out/${q.name}"
      val t0 = System.nanoTime()
      val err = t.span("op", q.name) {
        try {
          val df = t.span("queries", "fn")(q.fn(spark, inputs))
          t.span("stages", "write")(df.write.mode("overwrite").parquet(dst))
          None
        } catch { case e: Throwable => Some(Main.describe(e)) }
      }
      // the caller owns clearCache() (QueryDef's cache contract)
      spark.catalog.clearCache()
      OpRec(q.name, "query", (System.nanoTime() - t0) / 1e6, err)
    }
    val curated = if (!curate) None else {
      val dst = s"$out/$Curation"
      val t0 = System.nanoTime()
      val r = t.span("op", Curation) {
        try Right(t.span("pipelines", "run")(
          CurationPipeline.run(spark, inputs, dst)))
        catch { case e: Throwable => Left(Main.describe(e)) }
      }
      spark.catalog.clearCache()
      Some(OpRec(Curation, "pipeline", (System.nanoTime() - t0) / 1e6,
        r.swap.toOption) -> r.toOption)
    }
    val all = ops ++ curated.map(_._1)
    PassOut(all,
      all.filter(_.error.isEmpty).map(o => o.name -> s"$out/${o.name}"),
      curated.flatMap(_._2).map { r => Map(
        "ingested" -> r.ingested.toDouble,
        "after_dedup" -> r.afterDedup.toDouble,
        "after_near_dup" -> r.afterNearDup.toDouble,
        "after_quality" -> r.afterQuality.toDouble,
        "after_k_anon" -> r.afterKAnon.toDouble,
        "written" -> r.written.toDouble) }.getOrElse(Map.empty))
  }
}

/** The harness-evaluation control loop on a fresh versioned table: an
  * adapter x epoch x task grid; each round reads the latest snapshot,
  * anti-joins it against the grid (skip-if-done), takes the next
  * [[Batch]] pending runs, scores them with a deterministic stub and
  * appends them. Every [[MergeEvery]]th round re-scores part of its
  * batch with a merge. The pass ends with the change feed over every
  * version and a best-epoch aggregation, and checks all three against
  * an in-memory model of the same loop. */
object EvalLedger extends Workload {
  val name = "eval_ledger"
  val Adapters = 6
  val Tasks = 6
  val Epochs = 4
  val Batch = 36
  val MergeEvery = 3
  val Rescore = 8

  val gridSchema = StructType(Seq(
    StructField("run_id", LongType, nullable = false),
    StructField("adapter", StringType), StructField("task", StringType),
    StructField("epoch", IntegerType), StructField("prio", LongType)))
  val ledgerSchema = StructType(Seq(
    StructField("run_id", LongType, nullable = false),
    StructField("adapter", StringType), StructField("task", StringType),
    StructField("epoch", IntegerType), StructField("score_e6", LongType),
    StructField("scored_round", IntegerType)))

  def score(seed: Long, runId: Long, round: Int): Long = {
    val h = scala.util.hashing.MurmurHash3.productHash((seed, runId, round))
    (h.toLong & 0x7fffffffL) % 1000000L
  }

  def inputs(spark: SparkSession, fixtures: String, dir: String,
      seed: Long): Map[String, Inputs.Table] = {
    val rnd = new scala.util.Random(seed)
    val ids = for (a <- 0 until Adapters; e <- 0 until Epochs;
      k <- 0 until Tasks) yield (a, e, k)
    val prio = rnd.shuffle(ids.indices.toList)
    val rows = ids.zip(prio).zipWithIndex.map { case (((a, e, k), p), i) =>
      Row(i.toLong, s"adapter_$a", s"task_$k", e, p.toLong)
    }
    Map("grid" -> Inputs.write(spark,
      spark.createDataFrame(rows.asJava, gridSchema), s"$dir/grid.parquet"))
  }

  def pass(spark: SparkSession, inputs: String, out: String, seed: Long,
      t: Tracer): PassOut = {
    val ops = Seq.newBuilder[OpRec]
    def timed[T](name: String)(body: => T): Option[T] = {
      val t0 = System.nanoTime()
      val r = try Right(t.span("sources", name)(body))
        catch { case e: Throwable => Left(Main.describe(e)) }
      ops += OpRec(name, name, (System.nanoTime() - t0) / 1e6, r.swap.toOption)
      r.toOption
    }
    val root = s"$out/ledger"
    val grid = spark.read.parquet(s"$inputs/grid.parquet")
    val model = scala.collection.mutable.Map.empty[Long, Row]
    var expectedChanges = 0L
    var round = 0
    var more = timed("create")(
      VersionedTable.create(spark, root, ledgerSchema, "run_id")).isDefined
    while (more) {
      round += 1
      val batch = t.span("op", s"round_$round") {
        timed("lookup") {
          val done = VersionedTable.read(spark, root).select("run_id")
          grid.join(done, Seq("run_id"), "left_anti")
            .orderBy("prio", "run_id").limit(Batch).collect().toSeq
        }.getOrElse(Seq.empty)
      }
      if (batch.isEmpty) more = false
      else t.span("op", s"commit_$round") {
        val scored = batch.map(r => Row(r.getLong(0), r.getString(1),
          r.getString(2), r.getInt(3), score(seed, r.getLong(0), 0), 0))
        timed("append")(VersionedTable.append(spark, root,
          spark.createDataFrame(scored.asJava, ledgerSchema), "run_id", 1))
        scored.foreach(r => model(r.getLong(0)) = r)
        expectedChanges += scored.size
        if (round % MergeEvery == 0) {
          val re = scored.take(Rescore).map(r => Row(r.getLong(0),
            r.getString(1), r.getString(2), r.getInt(3),
            score(seed, r.getLong(0), round), round))
          timed("merge")(VersionedTable.merge(spark, root,
            spark.createDataFrame(re.asJava, ledgerSchema), "run_id", 1))
          re.foreach(r => model(r.getLong(0)) = r)
          // an update reads as a pre-image and a post-image row
          expectedChanges += 2L * re.size
        }
      }
    }
    val latest = VersionedTable.latestVersion(spark, root).getOrElse(0)
    val changes = timed("changes")(
      VersionedTable.changes(spark, root, 1, latest, Some("run_id")).count())
    val best = timed("best_epoch") {
      VersionedTable.read(spark, root)
        .groupBy("adapter", "task")
        .agg(max(struct(col("score_e6"), col("epoch"))).as("b"))
        .select(col("adapter"), col("task"), col("b.epoch"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getInt(2))
        .toMap
    }
    val snap = timed("snapshot")(VersionedTable.read(spark, root)
      .collect().map(r => r.getLong(0) -> r).toMap)
    // check the table against the in-memory model of the same loop
    val problems = Seq.newBuilder[String]
    if (model.size != Adapters * Epochs * Tasks)
      problems += s"model holds ${model.size} runs, grid has ${Adapters * Epochs * Tasks}"
    snap.foreach { s =>
      if (s.keySet != model.keySet) problems += s"snapshot has ${s.size} runs, model ${model.size}"
      else model.foreach { case (k, r) =>
        if (s(k).toSeq != r.toSeq) problems += s"run $k: table ${s(k)} model $r"
      }
    }
    changes.foreach(c => if (c != expectedChanges)
      problems += s"changes(1, $latest) has $c rows, expected $expectedChanges")
    best.foreach { b =>
      val want = model.values.groupBy(r => (r.getString(1), r.getString(2)))
        .map { case (k, rs) =>
          k -> rs.maxBy(r => (r.getLong(4), r.getInt(3))).getInt(3) }
      if (b != want) problems += "best-epoch aggregation differs from the model"
    }
    val checked = OpRec("ledger_check", "check", 0.0,
      problems.result().headOption.map("model mismatch: " + _))
    // table-format sizes; a table that never committed has none
    val files = scala.util.Try(VersionedTable.snapshot(spark, root, latest).files)
      .getOrElse(Nil)
    PassOut(ops.result() :+ checked, Seq.empty, Map(
      "versions" -> latest.toDouble,
      "live_files" -> files.size.toDouble,
      "live_bytes" -> files.map(_.bytes).sum.toDouble,
      "data_bytes" -> Main.bytesUnder(s"$root/data").toDouble,
      "manifest_bytes" -> Main.bytesUnder(s"$root/_versions").toDouble))
  }
}

object Workloads {
  /** Iterative and dedup operators: eager per-round jobs inside `fn`
    * (the large-star/small-star CC fixpoint) and Scratch.materialize
    * parquet (winnow fingerprints), then the curation pipeline (exact and
    * winnow dedup, gates, a partitioned write and five recounts) over the
    * same documents. The embeddings are the fixture's own first rows for
    * every seed (the CC graph is the 300 lowest keys in any case); the
    * seed picks half of the documents. */
  val dedupIter = new QueryWorkload("dedup_iter", Seq(
    "connected_components_largestar", "winnow_overlap_pairs"),
    copies = 1, fixedDocs = Inputs.CopyRows / 2, fixedVecs = Inputs.CopyRows,
    curate = true)

  /** Retrieval evaluation on a 4-copy corpus, chunk -> embed -> top-k
    * -> rank metrics: the query rubric (the low keys) is fixed, the
    * candidate side is proportional to the corpus. */
  val ragEval = new QueryWorkload("rag_eval", Seq(
    "chunk_text_overlap", "mean_pool_embedding", "cosine_topk",
    "ivf_pq_topk", "retrieval_eval_detail"),
    copies = 4, fixedDocs = Inputs.CopyRows, fixedVecs = Inputs.CopyRows)

  val all: Map[String, Workload] =
    Seq(dedupIter, ragEval, EvalLedger).map(w => w.name -> w).toMap
}
