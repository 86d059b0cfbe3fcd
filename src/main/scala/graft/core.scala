package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One engine query: a Spark implementation plus (when SQL-expressible) a
  * DuckDB oracle over the same parquet tables. The driver hash-compares
  * the two at sf0.01 (see Verify.scala), so every query must be
  * deterministic: explicit ORDER BY, no floating-point aggregation whose
  * result depends on summation order (see [[Det]]).
  *
  * CACHE CONTRACT: a query's `fn` MAY `persist()` shared subtrees that
  * its returned plan references more than once (the dedup shingle
  * tables, the MMR candidate unroll, iterative CC labels) — that is
  * what makes those plans affordable — and those blocks intentionally
  * survive `fn`'s return so the CALLER's action reads them. The caller
  * MUST `spark.catalog.clearCache()` after consuming each result
  * (Verify, Bench, and the specs all do); without it, accumulated
  * storage across a registry sweep starves execution memory (measured
  * >5x on the full-run total at local[4]/8g). CacheContractSpec pins
  * that clearCache() fully drains every persisting query's blocks.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

/** Typed readers for the driver fixture tables (TESTDATA.md / FIXTURES.md).
  * Always read through these so column pruning + filter pushdown reach the
  * parquet scan (verify with .explain: PushedFilters / ReadSchema).
  */
object Tables {
  /** Schema memo, keyed by file path.  Every `spark.read.parquet` call
    * re-resolves the datasource — footer read + schema merge — which
    * at ~509 queries x several tables x 2 bench reps is the single
    * largest fixed driver-side cost of the registry sweep (measured
    * 100-400 ms of fn() build time per query, mostly here).  The
    * fixture files are immutable for the life of a process, so the
    * inferred schema is inferred ONCE per path and passed explicitly
    * thereafter — exactly what a production job does by declaring its
    * table schemas.  This memoizes METADATA only: every query still
    * scans and computes from the parquet data.  Keyed by full path so
    * different SF dirs never share an entry.
    *
    * Contract: a path read through [[table]] keeps its schema for the
    * life of the process.  The memo is never invalidated, so a writer
    * that rewrites such a path in-process with a different schema would
    * have later reads use the stale schema; write to a fresh path
    * instead (the specs write synthetic tables under new temp dirs). */
  private val schemaMemo = scala.collection.concurrent.TrieMap
    .empty[String, org.apache.spark.sql.types.StructType]

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = schemaMemo.getOrElseUpdate(path,
      spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** The events fixture's `ts` column has changed physical type across
    * driver versions, so dispatch on the scanned schema rather than assume:
    *
    *  - TIMESTAMP(NANOS) parquet (old fixtures): Spark rejects it
    *    (PARQUET_TYPE_ILLEGAL) unless read as long via
    *    `spark.sql.legacy.parquet.nanosAsLong` — set at SESSION BUILD
    *    time by `GraftSession`, never flipped here: a reader mutating a
    *    live session conf could be observed half-configured by a
    *    concurrent reader. The values are micro-precision so
    *    `ts div 1000` + timestamp_micros is lossless.
    *  - timestamp[us] parquet (current fixtures): Spark reads TIMESTAMP_NTZ
    *    (no tz in the file). Cast to TimestampType — all graft sessions pin
    *    `spark.sql.session.timeZone=UTC`, so the cast is value-identical and
    *    downstream window/as-of code keeps a single timestamp type.
    *
    * Either way callers see `ts: TimestampType` in UTC. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType =>
        raw
      case _ => // TIMESTAMP_NTZ (or date-like): normalize to TimestampType
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
}

/** Determinism helpers for the DuckDB-oracle hash compare.
  *
  * Floating-point SUM/AVG over a distributed dataset is order-dependent;
  * Spark's partial aggregation order differs from DuckDB's sequential scan.
  * We define such aggregates on a fixed-point grid instead: floor(x*scale)
  * is bit-identical in both engines, integer sums are exact and
  * order-independent, and the final division is a single deterministic
  * IEEE op. This is an engine *definition*, not a hack: at 100 TB the same
  * property (order-independent partial aggregation) is what makes the
  * result reproducible across cluster sizes / AQE re-plans.
  */
object Det {
  /** Exact, order-independent sum of a double expression at fixed scale. */
  def fixedSum(x: Column, scale: Double): Column =
    sum(floor(x * lit(scale))) / lit(scale)

  /** Matching DuckDB fragment for [[fixedSum]]. */
  def fixedSumSql(x: String, scale: String): String =
    s"sum(floor(($x) * $scale)) / $scale"

  /** Exact, order-independent mean of a double expression at fixed scale. */
  def fixedAvg(x: Column, scale: Double): Column =
    sum(floor(x * lit(scale))) / lit(scale) / count(lit(1))

  def fixedAvgSql(x: String, scale: String): String =
    s"sum(floor(($x) * $scale)) / $scale / count(*)"
}

/** The dedup test corpus: documents plus injected near-duplicates
  * (90%-prefix truncations) and exact duplicates, with shifted doc_ids.
  * Deterministic construction mirrored 1:1 in the oracle CTE so Spark and
  * DuckDB see the same corpus. Near-dup injection stands in for the
  * re-crawled / re-generated narratives the reference pipeline would see
  * (reference: data_generation/generate_narratives_from_data.py:95-96
  * derives per-record output names whose collisions are the only dedup
  * the reference performs).
  */
object Corpus {
  def withDups(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, sfDir).select($"doc_id", $"text", $"lang", $"source")
    val nearDups = d
      .filter(pmod($"doc_id", lit(50)) === 0)
      .select(
        ($"doc_id" + 1000000L).as("doc_id"),
        expr("substring(text, 1, (length(text)*9) div 10)").as("text"),
        $"lang", $"source")
    val exactDups = d
      .filter(pmod($"doc_id", lit(25)) === 0)
      .select(($"doc_id" + 2000000L).as("doc_id"), $"text", $"lang", $"source")
    d.unionByName(nearDups).unionByName(exactDups)
  }

  /** DuckDB CTE body equivalent to [[withDups]]. */
  val cte: String =
    """SELECT doc_id, text, lang, source FROM documents
      |UNION ALL SELECT doc_id + 1000000, substr(text, 1, (length(text)*9)//10), lang, source FROM documents WHERE doc_id % 50 = 0
      |UNION ALL SELECT doc_id + 2000000, text, lang, source FROM documents WHERE doc_id % 25 = 0""".stripMargin
}

/** Scratch-layout plumbing shared by every query that materializes a
  * derived table under java.io.tmpdir (the partition-pruning layouts in
  * ScaleQueries, the written NN-descent index in Curation56Queries).
  *
  *  - [[tag]] keys the path by an MD5 prefix of the dataset dir, not
  *    its 32-bit String.hashCode: two datasets colliding on hashCode
  *    within one application would silently SHARE a layout path (the
  *    memo map, keyed by the full string, would then serve one
  *    dataset's files to the other).
  *  - [[register]] records every created path and deletes them all in
  *    one JVM shutdown hook — app-unique paths are what make
  *    concurrent sessions safe, so without the hook every run leaks a
  *    parquet copy of its layouts into tmpdir permanently.
  *
  * Builders must run under the owning memo map's lock (both call sites
  * synchronize) so racing first-callers cannot overwrite-write the
  * same path concurrently.
  */
object Scratch {
  def tag(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString

  private val onceBuilt = scala.collection.concurrent.TrieMap
    .empty[(String, String, String), String]

  /** Materialize a scratch layout/table ONCE per (application, dataset,
    * kind) and return its path: the path embeds the applicationId plus
    * a dataset hash so concurrent sessions (separate JVMs) never
    * clobber each other, repeated executions in one app (bench
    * iterations, spec re-runs) re-read instead of re-paying the write,
    * and the shutdown hook removes it.  The builder runs under a lock —
    * TrieMap.getOrElseUpdate alone gives no once-only guarantee for a
    * side-effecting builder, and two first-callers racing the same key
    * would both overwrite-write the same path.  Shared by the
    * partition-layout queries (scale.scala), the NN-descent graph
    * build and the insert-delta side tables (curation56.scala). */
  def buildOnce(s: org.apache.spark.sql.SparkSession, d: String,
      kind: String)(write: String => Unit): String =
    onceBuilt.synchronized {
      onceBuilt.getOrElseUpdate((s.sparkContext.applicationId, d, kind), {
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_${kind}_" +
          s"${s.sparkContext.applicationId}_${tag(d)}"
        write(path)
        register(path)
      })
    }

  /** Spread a CPU-heavy scan across the session's full parallelism
    * when the file layout yields fewer input splits than cores — the
    * small-file / local-fixture case, where a per-row kernel pass
    * (md5-per-gram, winnow-per-character) otherwise runs inside ONE
    * scan task no matter how many cores the session has.  A
    * round-robin repartition of the NARROW pre-kernel input costs one
    * small exchange and buys kernel parallelism; the condition is
    * SCALE-ADAPTIVE, not a local tuning constant: a production-scale
    * scan already carries >= defaultParallelism splits, making this a
    * structural no-op there (guide §2: derive partitioning from input,
    * never hard-code either deployment).  Every caller's result is
    * partitioning-independent (aggregates/equi-joins/per-row kernels),
    * which the oracle re-checks.
    *
    * Measured r15: a WIN only where the kernel pass has no downstream
    * exchange to hide behind (winnow_fingerprints, a pure scan ->
    * kernel -> project path: 0.45-0.53 -> 0.20-0.28 s).  Everywhere a
    * shuffle already follows the kernel (the gram/shingle pipelines),
    * the extra stage + AQE re-plan COST MORE than the post-kernel-
    * optimization single-task pass it parallelized (e.g.
    * dup_kgram_spans 1.22-1.52 -> 1.44-1.76 s, dedup_recall_eval
    * 1.21-1.85 -> 2.57-2.99 s) — those sites were reverted; apply this
    * only to exchange-free kernel paths. */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  private val matCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Materialize `df` to a PER-INVOCATION scratch parquet and read it
    * back — the recompute boundary for corpus-scale intermediate
    * streams that feed multiple differently-keyed consumers (the
    * positional-gram and winnow-fingerprint streams, ~k x the corpus).
    * persist()/localCheckpoint pin such a stream in executor
    * storage/memory: at 100 TB that starves execution memory, and
    * localCheckpoint additionally truncates lineage without
    * replication (a lost executor kills the job).  A scratch parquet
    * spills to disk by construction, survives executor loss, and is
    * exactly where a cluster deployment would put the reliable
    * checkpoint.
    *
    * Unlike [[buildOnce]] this is deliberately NOT memoized: every
    * invocation recomputes and rewrites (no cross-invocation reuse of
    * intermediates — each bench/oracle run computes from the parquet
    * inputs).  Paths are app-unique + call-unique; the shutdown hook
    * reclaims them. */
  def materialize(s: org.apache.spark.sql.SparkSession,
      df: DataFrame, kind: String): DataFrame = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_mat_${kind}_" +
      s"${s.sparkContext.applicationId}_${matCounter.incrementAndGet()}"
    df.write.mode("overwrite").parquet(path)
    register(path)
    s.read.parquet(path)
  }

  private val created =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private lazy val hookOnce: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      created.forEach(p => rm(new java.io.File(p)))))

  def register(path: String): String = {
    hookOnce
    created.add(path)
    path
  }

  private def rm(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(rm)
    f.delete()
    ()
  }
}
