package graft.sources.v2

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.VersionedTable

/** `spark.read.format("graft-table")` — the versioned table as a
  * native Spark relation, built the way Delta builds its reads: a
  * [[HadoopFsRelation]] over Spark's own VECTORIZED parquet format
  * with a custom [[FileIndex]] that lists exactly one snapshot's
  * files and prunes them with the MANIFEST's metadata before Spark
  * plans a single task.  Nothing is re-implemented on the read path —
  * whole-stage codegen, vectorized decoding, parquet row-group
  * pushdown and column pruning are all the stock scan; what the
  * connector adds is the lakehouse layer: which files exist (snapshot
  * isolation), and which of those can be SKIPPED for this query's
  * filters (zone maps, column stats, string stats, blooms).
  *
  * Options: `versionAsOf` / `timestampAsOf` (same contract as
  * [[VersionedTable.readOptions]]).  Filter-driven skipping is
  * automatic: Catalyst hands `listFiles` the query's data filters,
  * and the index maps
  *   - key-column comparisons -> per-file minId/maxId zone maps
  *     (the key column name rides the `table.key` property),
  *   - long/timestamp comparisons -> per-file column stats,
  *   - string comparisons -> truncated string stats,
  *   - equality on bloom-enrolled columns -> bloom probes,
  *   - IS NULL / IS NOT NULL -> per-file null counts (and Spark
  *     injects IsNotNull under almost every comparison, so all-null
  *     files drop out of most scans for free),
  * all conservatively (a file without the stat is kept; every
  * comparison shape the index cannot prove stays with Spark's
  * row-level filters, which always still run — skipping is never
  * allowed to change an answer, only the file count).
  *
  * DELETION-VECTOR snapshots serve through [[GraftMaskedRelation]]
  * (a raw parquet scan cannot mask DV'd rows — Delta needed a custom
  * FileFormat for exactly this): the anti-join mask rides above the
  * vectorized inner scan, so the table stays readable with
  * outstanding merge-on-read deletes.  Schema comes from the manifest's
  * `table.schema` property in O(1) ([[VersionedTable.recordedSchema]]:
  * maintained by every row-adding commit and every DDL, widened on
  * evolution so older files surface added columns as null). */
class GraftTableSource extends RelationProvider
    with CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.StreamSourceProvider
    with DataSourceRegister {
  override def shortName(): String = "graft-table"

  /** STREAMING source half: `spark.readStream.format("graft-table")` —
    * the table's commit log as a pull-based stream, Delta's streaming
    * source contract.  Offsets ARE version numbers (the commit log is
    * the write-ahead log; nothing else to invent), so the engine's
    * offset tracking gives exactly-once delivery per version across
    * restarts for free.
    *
    * Two modes:
    *  - default: each APPEND commit streams its new rows (the feed
    *    reads ONLY the commit's added files, discovered from the
    *    manifest — no diff scan).  Row-preserving maintenance commits
    *    (optimize/cluster/zorder/purge) stream nothing.  An update/
    *    delete commit fails the stream loudly unless
    *    `ignoreChanges=true` (then: its added-side rows ship, deletes
    *    are silently dropped) — Delta's exact semantics.
    *  - `readChangeFeed=true`: every commit streams its row-level
    *    change feed tagged `_change_type` + `_commit_version`
    *    (update pre/post pairing via `idCol`, defaulting to the
    *    recorded table key).
    *
    * Options: `startingVersion` (default: earliest live version;
    * that version feeds as a full-snapshot insert batch),
    * `maxVersionsPerTrigger` (bounds catch-up per micro-batch),
    * `failOnDataLoss` (default true: a vacuumed-away parent manifest
    * mid-stream throws; false degrades the affected version to a
    * full-snapshot insert feed), `ignoreChanges`, `idCol`. */
  override def sourceSchema(ctx: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "graft-table streaming source derives its schema from the " +
        "table manifest; a user-specified schema is not supported")
    (shortName(), GraftTableSource.streamSchema(ctx.sparkSession,
      parameters))
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val s = ctx.sparkSession
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-table needs a path"))
    val cdf = parameters.get("readChangeFeed").exists(_.toBoolean)
    val idCol =
      if (!cdf) None
      else parameters.get("idCol").orElse(
        VersionedTable.latestVersion(s, root).flatMap(v =>
          VersionedTable.snapshot(s, root, v).props
            .get(VersionedTable.TableKeyProp)))
    require(!(parameters.contains("startingVersion") &&
      parameters.contains("startingTimestamp")),
      "startingVersion and startingTimestamp are mutually exclusive")
    val startV = parameters.get("startingVersion").map {
        // "latest" (Delta's contract): stream only commits that land
        // AFTER the query starts — the head itself does not replay
        case "latest" =>
          VersionedTable.latestVersion(s, root).getOrElse(0) + 1
        case n => n.toInt
      }
      .orElse(parameters.get("startingTimestamp").map { t =>
        // first commit at or after the probe (Delta's stream contract)
        val millis = scala.util.Try(t.toLong).getOrElse(
          java.time.Instant.parse(t).toEpochMilli)
        VersionedTable.versions(s, root)
          .find(v => VersionedTable.snapshot(s, root, v)
            .tsMillis >= millis)
          .getOrElse(throw new IllegalArgumentException(
            s"startingTimestamp $t is after the last commit of $root"))
      })
    new GraftTableStreamSource(s, root,
      GraftTableSource.streamSchema(s, parameters), cdf, idCol,
      startV,
      parameters.get("failOnDataLoss").forall(_.toBoolean),
      parameters.get("ignoreChanges").exists(_.toBoolean),
      parameters.get("maxVersionsPerTrigger").map(_.toInt),
      parameters.get("ignoreDeletes").exists(_.toBoolean))
  }

  /** STREAMING sink half: `df.writeStream.format("graft-table")` —
    * every micro-batch upserts as one table version, exactly-once
    * through the table's transaction ledger (txn id derived from the
    * CHECKPOINT location + batch id, so a restart from the same
    * checkpoint re-committing a batch is a no-op, while a different
    * query writing the same table keeps its own id space).  The first
    * batch on a fresh root loads the table; `orderCol` opts into
    * keep-last resolution of multi-event-per-key batches, exactly
    * [[graft.streaming.VersionedSink.upsertStream]]'s contract behind
    * the standard writeStream surface. */
  override def createSink(ctx: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-table needs a path"))
    val keyCol = parameters.getOrElse("keyCol",
      throw new IllegalArgumentException(
        "graft-table streaming sink needs option keyCol"))
    val numFiles = parameters.get("numFiles").map(_.toInt).getOrElse(8)
    val ns = parameters.getOrElse("checkpointLocation", root)
    new GraftStreamSink(root, keyCol, numFiles, ns,
      parameters.get("orderCol"),
      parameters.get("autoCompactEvery").map(_.toInt),
      parameters.get("autoCompactMinRows").map(_.toLong),
      cdc = parameters.get("cdc").exists(_.toBoolean),
      morDeletes = parameters.get("morDeletes").forall(_.toBoolean))
  }

  /** WRITE half: `df.write.format("graft-table").mode(...).save(root)`.
    * Append = [[VersionedTable.append]] (constraints enforced, stats/
    * blooms recorded, table.key self-described); Overwrite = a new
    * version whose file list REPLACES the head — the previous history
    * stays time-travelable, exactly Delta's overwrite; ErrorIfExists /
    * Ignore follow their SaveMode contracts against the table's
    * existence.  Options: `keyCol` (required for the FIRST write of a
    * table; later writes default to the recorded `table.key`) and
    * `numFiles` (default 8). */
  override def createRelation(ctx: SQLContext, mode: SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): BaseRelation = {
    val s = ctx.sparkSession
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-table needs a path"))
    val exists = VersionedTable.latestVersion(s, root).isDefined
    val keyCol = parameters.get("keyCol")
      .orElse(if (exists)
        VersionedTable.snapshot(s, root,
          VersionedTable.latestVersion(s, root).get)
          .props.get(VersionedTable.TableKeyProp)
      else None)
      .getOrElse(throw new IllegalArgumentException(
        "graft-table write needs option keyCol (none recorded yet)"))
    val numFiles = parameters.get("numFiles").map(_.toInt).getOrElse(8)
    // IDEMPOTENT writes (Delta's txnAppId/txnVersion): an application
    // that may retry a batch write tags it
    // .option("txnAppId", app).option("txnVersion", n) — the pair
    // becomes a table-ledger txn id, so a retried (or replayed) write
    // commits at most once.  Both or neither must be given.
    val txn: Option[String] =
      (parameters.get("txnAppId"), parameters.get("txnVersion")) match {
        case (Some(a), Some(v)) => Some(s"graft-write#$a#$v")
        case (None, None) => None
        case _ => throw new IllegalArgumentException(
          "txnAppId and txnVersion must be set together")
      }
    mode match {
      case SaveMode.Append =>
        VersionedTable.append(s, root, data, keyCol, numFiles,
          txnId = txn)
      // predicate-scoped overwrite (Delta's replaceWhere): only the
      // slice matching the SQL predicate is replaced, and the batch
      // must stay inside it
      case SaveMode.Overwrite if parameters.contains("replaceWhere") =>
        VersionedTable.replaceWhere(s, root,
          org.apache.spark.sql.functions.expr(
            parameters("replaceWhere")),
          data, keyCol, numFiles, txnId = txn)
      case SaveMode.Overwrite =>
        VersionedTable.overwrite(s, root, data, keyCol, numFiles,
          txnId = txn)
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"graft-table at $root already exists (SaveMode.ErrorIfExists)")
      case SaveMode.ErrorIfExists =>
        VersionedTable.append(s, root, data, keyCol, numFiles,
          txnId = txn)
      case SaveMode.Ignore =>
        if (!exists) VersionedTable.append(s, root, data, keyCol,
          numFiles, txnId = txn)
        else VersionedTable.latestVersion(s, root).get
    }
    createRelation(ctx, Map("path" -> root))
  }

  override def createRelation(ctx: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val s = ctx.sparkSession
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-table needs a path"))
    // CHANGE DATA FEED read: .option("readChangeFeed", "true") serves
    // the per-commit change window instead of a snapshot — Delta's
    // reader contract.  The feed is a computed diff (per-commit
    // multiset cancellation over only the files each commit touched),
    // not a file list, so it rides a TableScan relation handing Spark
    // the already-planned rows; snapshot reads below keep the
    // full vectorized-scan + file-skipping path.
    if (parameters.get("readChangeFeed").exists(_.toBoolean)) {
      require(!parameters.contains("versionAsOf") &&
        !parameters.contains("timestampAsOf"),
        "versionAsOf/timestampAsOf and readChangeFeed are mutually " +
          "exclusive")
      val opts = Seq("startingVersion", "endingVersion", "idCol",
          "startingTimestamp", "endingTimestamp")
        .flatMap(k => parameters.get(k).map(k -> _)).toMap +
        ("readChangeFeed" -> "true")
      val feed = VersionedTable.readOptions(s, root, opts)
      return new BaseRelation with org.apache.spark.sql.sources.TableScan {
        override def sqlContext: SQLContext = ctx
        override def schema: StructType = feed.schema
        // needConversion=false: hand back the InternalRow RDD the
        // planned feed already produces (the standard internal-rows
        // contract for relations that wrap a DataFrame)
        override def needConversion: Boolean = false
        override def buildScan()
            : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
          feed.queryExecution.toRdd
            .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
      }
    }
    val v = parameters.get("versionAsOf").map(_.toInt)
      .orElse(parameters.get("timestampAsOf").map(t =>
        resolveTs(s, root, t)))
      .orElse(VersionedTable.latestVersion(s, root))
      .getOrElse(throw new IllegalStateException(
        s"no committed version under $root"))
    val snap = VersionedTable.snapshot(s, root, v)
    // DELETION-VECTOR snapshots: a raw parquet scan cannot mask DV'd
    // rows (Delta needed a custom FileFormat for exactly this), so
    // they are served through a PrunedFilteredScan over the library's
    // masked read — column pruning and the common filter shapes still
    // reach the inner parquet scan through Catalyst, the DV anti-join
    // rides on top, and Spark re-evaluates every filter row-level
    // (unhandledFilters default), so partial translation is safe.
    // DV-free snapshots keep the vectorized HadoopFsRelation fast
    // path below.
    // COLUMN-MAPPED snapshots (active rename/drop metadata) need the
    // library's logical-surface read for the same reason DV snapshots
    // do: a raw parquet scan serves PHYSICAL column names.  Tables
    // without mapping (the overwhelmingly common case) keep the
    // vectorized fast path below; maintenance rewrites migrate mapped
    // tables' files toward physical==logical over time.
    if (snap.files.exists(_.dv.isDefined) ||
        snap.props.contains(VersionedTable.ColumnMappingProp) ||
        snap.props.contains(VersionedTable.DroppedColsProp))
      return new GraftMaskedRelation(ctx,
        VersionedTable.read(s, root, Some(v)), root)
    // schema: O(1) from the manifest's table.schema property (written
    // by every row-adding commit, widened on evolution)
    val index = new GraftFileIndex(s, root, snap)
    HadoopFsRelation(index, new StructType(),
      VersionedTable.recordedSchema(snap), None,
      new ParquetFileFormat(), Map.empty)(s)
  }

  private def resolveTs(s: SparkSession, root: String, t: String): Int = {
    val millis = scala.util.Try(t.toLong).getOrElse(
      java.time.Instant.parse(t).toEpochMilli)
    VersionedTable.versions(s, root)
      .filter(v => VersionedTable.snapshot(s, root, v).tsMillis <= millis)
      .lastOption.getOrElse(throw new IllegalArgumentException(
        s"timestampAsOf $t precedes the first kept commit of $root"))
  }
}

object GraftTableSource {
  /** The streaming source's declared schema: the manifest-recorded
    * logical schema (O(1)), plus the CDF tag columns in feed mode.
    * Fixed at query start; a mid-stream evolution's new columns appear
    * after a restart (Delta's contract), older commits' feeds
    * null-backfill. */
  private[v2] def streamSchema(s: SparkSession,
      parameters: Map[String, String]): StructType = {
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-table needs a path"))
    val v = VersionedTable.latestVersion(s, root).getOrElse(
      throw new IllegalStateException(
        s"graft-table streaming source needs an existing table at $root"))
    val base =
      VersionedTable.recordedSchema(VersionedTable.snapshot(s, root, v))
    require(base.nonEmpty, s"cannot derive a schema for $root: no " +
      "recorded table.schema")
    if (parameters.get("readChangeFeed").exists(_.toBoolean))
      base.add("_change_type", org.apache.spark.sql.types.StringType)
        .add("_commit_version", org.apache.spark.sql.types.IntegerType)
    else base
  }

  /** Commit ops that are row-preserving by construction: their feeds
    * are empty in append mode without any diff scan (Delta's
    * `dataChange = false` exemption). */
  private[v2] val RowPreservingOps =
    Set("optimize", "cluster", "zorder", "purge")
}

/** The pull-based V1 [[org.apache.spark.sql.execution.streaming.Source]]
  * over a versioned table's commit log.  Offsets are version numbers
  * ([[LongOffset]]); `getBatch(a, b)` feeds versions (a, b] in commit
  * order.  See [[GraftTableSource.createSource]] for the option
  * contract.  All feed derivation is manifest-driven: an append
  * commit's batch reads ONLY its added files; a CDF batch reads only
  * the files each commit touched (multiset cancellation inside
  * [[VersionedTable.diff]]) — per-trigger cost is proportional to the
  * commits' own writes, never to table size, which is what lets a
  * follower tail a 100 TB table from a laptop-sized driver. */
final class GraftTableStreamSource(s: SparkSession, root: String,
    override val schema: StructType, cdf: Boolean, idCol: Option[String],
    startingVersion: Option[Int], failOnDataLoss: Boolean,
    ignoreChanges: Boolean, maxVersionsPerTrigger: Option[Int],
    ignoreDeletes: Boolean = false)
    extends org.apache.spark.sql.execution.streaming.Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit}
  import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
  import org.apache.spark.sql.functions.{col, lit}

  // Trigger.AvailableNow (via SupportsAdmissionControl): the engine
  // calls prepareForTriggerAvailableNow once, then drains batches
  // until latestOffset stops advancing — the cap freezes "available"
  // at the head observed at query start, so a busy upstream cannot
  // keep the drain alive forever, and maxVersionsPerTrigger keeps
  // applying per batch (the fallback path the engine uses for plain
  // V1 sources is a SINGLE batch, which silently ignores the rate
  // limit's window boundaries — hence the real implementation).
  @volatile private var availableNowCap: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowCap = Some(
      VersionedTable.versions(s, root).lastOption.getOrElse(0))
    ()
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: OffsetV2, limit: ReadLimit)
      : OffsetV2 = {
    val live = VersionedTable.versions(s, root)
    if (live.isEmpty) null
    else {
      val first = startingVersion.getOrElse(live.min)
      val floor = Option(start).map(o => toV(o)).getOrElse(first - 1)
      val latest = availableNowCap
        .map(c => math.min(c, live.max)).getOrElse(live.max)
      val capped = maxVersionsPerTrigger match {
        case Some(n) => math.min(latest, floor + math.max(n, 1))
        case None => latest
      }
      lastPlanned = math.max(lastPlanned, capped)
      if (capped <= floor) null else LongOffset(capped.toLong)
    }
  }

  // rate-limiting floor: the highest version this source has planned
  // (getOffset) or replayed (getBatch).  After a restart it re-learns
  // from the first getBatch; until then a capped getOffset may lag the
  // engine's committed offset for a trigger or two, which only delays
  // — never duplicates or drops — versions (offset tracking is the
  // engine's, not ours).
  @volatile private var lastPlanned: Int = -1

  private def toV(
      o: org.apache.spark.sql.connector.read.streaming.Offset): Int =
    o match {
      case l: LongOffset => l.offset.toInt
      case ser: SerializedOffset => LongOffset(ser).offset.toInt
      case other => other.json.trim.toInt
    }

  override def getOffset: Option[org.apache.spark.sql.execution.streaming.Offset] = {
    val live = VersionedTable.versions(s, root)
    if (live.isEmpty) None
    else {
      val first = startingVersion.getOrElse(live.min)
      val latest = live.max
      if (latest < first) None
      else {
        val floor = if (lastPlanned >= 0) lastPlanned else first - 1
        val capped = maxVersionsPerTrigger match {
          case Some(n) => math.min(latest, floor + math.max(n, 1))
          case None => latest
        }
        lastPlanned = math.max(lastPlanned, capped)
        if (capped < first) None else Some(LongOffset(capped.toLong))
      }
    }
  }

  override def getBatch(
      start: Option[org.apache.spark.sql.execution.streaming.Offset],
      end: org.apache.spark.sql.execution.streaming.Offset): DataFrame = {
    val endV = toV(end)
    lastPlanned = math.max(lastPlanned, endV)
    val live = VersionedTable.versions(s, root)
    val liveSet = live.toSet
    val first = start.map(toV(_) + 1)
      .getOrElse(startingVersion.getOrElse(if (live.isEmpty) 1 else live.min))
    val freshStart = start.isEmpty
    val feeds = (first to endV).filter(liveSet.contains).map { v =>
      val isInitial = v == 1 ||
        (freshStart && v == first && !liveSet.contains(v - 1))
      val snap = VersionedTable.snapshot(s, root, v)
      def snapshotInserts(): DataFrame = {
        val full = VersionedTable.read(s, root, Some(v))
        if (cdf) full.withColumn("_change_type", lit("insert")) else full
      }
      val feed: DataFrame =
        if (isInitial) snapshotInserts()
        else if (!liveSet.contains(v - 1)) {
          if (failOnDataLoss) throw new IllegalStateException(
            s"graft-table stream data loss at $root: v${v - 1}'s " +
              s"manifest was reclaimed by vacuum mid-stream, so v$v's " +
              "true feed is unrecoverable. Raise vacuum retention " +
              "above the stream's lag, restart from a fresh " +
              "checkpoint, or set failOnDataLoss=false to accept a " +
              "full-snapshot insert feed.")
          snapshotInserts()
        } else if (cdf)
          VersionedTable.changeFeed(s, root, v - 1, v, idCol)
        else if (GraftTableSource.RowPreservingOps.contains(snap.op))
          // compaction/clustering: row-preserving, nothing to stream
          VersionedTable.read(s, root, Some(v)).filter(lit(false))
        else {
          // append mode: manifest-level append detection — every
          // parent file present with an unchanged DV pointer
          val parent = VersionedTable.snapshot(s, root, v - 1)
          val childIdent = snap.files
            .map(f => f.path -> f.dv.map(_.path)).toSet
          val appendOnly = parent.files
            .forall(f => childIdent((f.path, f.dv.map(_.path))))
          // delete-only at FILE granularity: the commit added no new
          // paths (entries vanished or their DV masks grew).  Delta's
          // ignoreDeletes covers exactly this shape; a copy-on-write
          // delete REWRITES survivors into new files and stays a
          // data-changing commit (shipping the rewrite would
          // re-deliver surviving rows).
          val parentPaths = parent.files.map(_.path).toSet
          val deleteOnly =
            snap.files.forall(f => parentPaths(f.path))
          if (appendOnly) {
            VersionedTable.readFilesOf(s, snap,
              snap.files.filterNot(f => parentPaths(f.path)))
          } else if (deleteOnly && ignoreDeletes)
            VersionedTable.read(s, root, Some(v)).filter(lit(false))
          else if (ignoreChanges)
            // Delta's ignoreChanges: the commit's added side ships
            // (updated rows re-deliver), its deletes drop silently
            VersionedTable.diff(s, root, v - 1, v)._1
          else throw new IllegalStateException(
            s"graft-table stream at $root: v$v is a data-changing " +
              s"'${snap.op}' commit (update/delete), which an " +
              "append-mode stream cannot represent. Use " +
              "readChangeFeed=true for row-level changes, " +
              "ignoreDeletes=true to skip delete-only commits, or " +
              "ignoreChanges=true to re-deliver updated rows and " +
              "drop deletes.")
        }
      if (cdf) feed.withColumn("_commit_version", lit(v)) else feed
    }
    val out =
      if (feeds.isEmpty)
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          schema)
      else {
        val unioned = feeds.reduce(
          _.unionByName(_, allowMissingColumns = true))
        // conform to the DECLARED schema: evolved columns a feed lacks
        // null-backfill; columns newer than the declared schema wait
        // for a restart (Delta's fixed-schema stream contract)
        val have = unioned.columns.toSet
        unioned.select(schema.fields.toIndexedSeq.map { f =>
          if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
          else lit(null).cast(f.dataType).as(f.name) }: _*)
      }
    org.apache.spark.sql.GraftShims.batchToStreamingDF(out)
  }

  override def stop(): Unit = ()
  override def toString: String =
    s"GraftTableStreamSource($root, cdf=$cdf)"
}

/** Deletion-vector snapshots through the connector: a
  * [[org.apache.spark.sql.sources.PrunedFilteredScan]] over the
  * library's DV-masked read.  Column pruning and translated filters
  * reach the INNER parquet scan via Catalyst (the anti-join mask sits
  * above them); untranslatable filters are simply not pushed — Spark
  * re-applies every filter row-level, so translation can never change
  * an answer. */
final class GraftMaskedRelation(ctx: SQLContext, df: DataFrame,
    val tableRoot: String) extends BaseRelation
    with org.apache.spark.sql.sources.PrunedFilteredScan {
  import org.apache.spark.sql.{functions => F, sources => sf}

  override def sqlContext: SQLContext = ctx
  override def schema: StructType = df.schema
  override def needConversion: Boolean = false

  private def toColumn(f: sf.Filter): Option[org.apache.spark.sql.Column] =
    f match {
      case sf.EqualTo(a, v) => Some(F.col(a) === F.lit(v))
      case sf.GreaterThan(a, v) => Some(F.col(a) > F.lit(v))
      case sf.GreaterThanOrEqual(a, v) => Some(F.col(a) >= F.lit(v))
      case sf.LessThan(a, v) => Some(F.col(a) < F.lit(v))
      case sf.LessThanOrEqual(a, v) => Some(F.col(a) <= F.lit(v))
      case sf.In(a, vs) => Some(F.col(a).isInCollection(vs.toSeq))
      case sf.IsNull(a) => Some(F.col(a).isNull)
      case sf.IsNotNull(a) => Some(F.col(a).isNotNull)
      case sf.StringStartsWith(a, v) => Some(F.col(a).startsWith(v))
      case sf.And(l, r) =>
        for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
      case _ => None // stays with Spark's row-level re-evaluation
    }

  override def buildScan(requiredColumns: Array[String],
      filters: Array[org.apache.spark.sql.sources.Filter])
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    val filtered = filters.flatMap(toColumn(_))
      .foldLeft(df)((acc, c) => acc.filter(c))
    // empty requiredColumns (COUNT(*)-shaped): a zero-field projection
    // still produces one InternalRow per surviving row
    val pruned =
      filtered.select(requiredColumns.map(F.col(_)).toIndexedSeq: _*)
    pruned.queryExecution.toRdd
      .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
  }
}

/** The per-batch commit half of the streaming sink: upsert the
  * micro-batch with a checkpoint-derived txn id, so Structured
  * Streaming's at-least-once replay meets the table's exactly-once
  * ledger — the same construction as
  * [[graft.streaming.VersionedSink.upsertStream]]. */
final class GraftStreamSink(root: String, keyCol: String,
    numFiles: Int, txnNamespace: String, orderCol: Option[String],
    autoCompactEvery: Option[Int] = None,
    autoCompactMinRows: Option[Long] = None,
    cdc: Boolean = false, morDeletes: Boolean = true)
    extends org.apache.spark.sql.execution.streaming.Sink {
  override def addBatch(batchId: Long,
      data: org.apache.spark.sql.DataFrame): Unit = {
    val s = data.sparkSession
    // `data` carries the micro-batch behind a STREAMING logical plan;
    // planning new queries over it (the merge's joins) would trip the
    // batch-query checker, so rebase the ALREADY-PLANNED execution
    // onto a batch LogicalRDD first — the same conversion
    // ForeachBatchSink applies before handing users their DataFrame
    val batch = org.apache.spark.sql.GraftShims
      .streamingBatchToBatchDF(data)
    val txn = Some(s"graft-table#$txnNamespace#$batchId")
    if (!batch.isEmpty) {
      if (cdc) {
        // CDC mode (`option("cdc", "true")`): `_change_type`-tagged
        // events apply as upserts + deletes with per-half txn ids —
        // the connector sink half of pure-connector replication
        // (readStream readChangeFeed -> writeStream cdc), sharing
        // VersionedSink.applyCdcStream's batch engine.  A CDF feed
        // carries `_commit_version`, which is exactly the keep-last
        // order a catch-up batch spanning several commits of one key
        // needs — default orderCol to it, so pure-connector
        // replication works without the user naming a column the
        // upstream invented (applyCdcBatch drops the bookkeeping
        // columns after dedupe, so the replica schema stays clean)
        val effOrder = orderCol.orElse(
          if (batch.columns.contains("_commit_version"))
            Some("_commit_version")
          else None)
        graft.streaming.VersionedSink.applyCdcBatch(batch, root,
          keyCol, numFiles, s"graft-table#$txnNamespace#$batchId",
          effOrder, morDeletes)
      }
      else if (VersionedTable.latestVersion(s, root).isEmpty)
        VersionedTable.append(s, root,
          VersionedTable.dedupeKeepLast(batch, keyCol, orderCol),
          keyCol, numFiles, op = "load", txnId = txn)
      else
        VersionedTable.merge(s, root, batch, keyCol, numFiles,
          txnId = txn, orderCol = orderCol)
      // AUTO-COMPACTION (Delta's autoCompact, opt-in): a steady
      // micro-batch trickle writes small files forever; every Nth
      // batch bin-packs files under the threshold back to the target
      // count.  Runs AFTER the batch's commit (never blocks its txn),
      // is itself a normal commit under the optimistic-concurrency
      // loop, and is idempotent by construction — optimize on an
      // already-compact table is a no-op that commits nothing.
      autoCompactEvery.foreach { n =>
        if (n > 0 && batchId % n == (n - 1))
          VersionedTable.optimize(s, root,
            autoCompactMinRows.getOrElse(1000L), keyCol, numFiles)
      }
      ()
    }
  }
  override def toString: String = s"GraftStreamSink($root)"
}

/** One snapshot's manifest as a [[FileIndex]]: `listFiles` receives
  * the query's data filters as Catalyst expressions and returns the
  * file subset the manifest cannot rule out. */
final class GraftFileIndex(s: SparkSession, root: String,
    snap: VersionedTable.Snapshot) extends FileIndex {

  /** The table root this index serves — how the SQL DML converter
    * recovers the table from an already-swapped v1 relation. */
  def tableRoot: String = root

  private val keyCol: Option[String] = snap.props.get(
    VersionedTable.TableKeyProp)

  // file lengths come from the MANIFEST (recorded at write time), so
  // relation build costs ZERO per-file filesystem RPCs; pre-feature
  // entries (bytes = 0) fall back to one memoized status probe each
  private lazy val statuses: Map[String, FileStatus] = {
    lazy val fs = FileSystem.get(new Path(root).toUri,
      s.sparkContext.hadoopConfiguration)
    snap.files.map { f =>
      f.path -> (if (f.bytes > 0L)
        new FileStatus(f.bytes, false, 1, 128L * 1024 * 1024, 0L,
          new Path(f.path))
      else fs.getFileStatus(new Path(f.path)))
    }.toMap
  }

  override def rootPaths: Seq[Path] = Seq(new Path(root))
  override def partitionSchema: StructType = new StructType()
  override def refresh(): Unit = ()
  override def inputFiles: Array[String] = snap.files.map(_.path).toArray
  override def sizeInBytes: Long = statuses.values.map(_.getLen).sum

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = VersionedTable.pruneWithBounds(snap, keyCol,
      GraftPruning.bounds(dataFilters))
    Seq(PartitionDirectory(InternalRow.empty,
      kept.map(f => statuses(f.path)).toArray))
  }
}

/** Catalyst-expression -> manifest-pruning translation, shared by the
  * connector and tests.  Lives here (not in VersionedTable) to keep
  * the core format free of execution-package imports. */
object GraftPruning {
  /** Extract (column, op, literal) conjuncts the manifest can act on. */
  def bounds(dataFilters: Seq[Expression])
      : Seq[(String, String, Any)] = dataFilters.flatMap {
    case EqualTo(a: Attribute, Literal(v, _)) => Seq((a.name, "=", v))
    case EqualTo(Literal(v, _), a: Attribute) => Seq((a.name, "=", v))
    case GreaterThan(a: Attribute, Literal(v, _)) => Seq((a.name, ">", v))
    case GreaterThan(Literal(v, _), a: Attribute) => Seq((a.name, "<", v))
    case GreaterThanOrEqual(a: Attribute, Literal(v, _)) =>
      Seq((a.name, ">=", v))
    case GreaterThanOrEqual(Literal(v, _), a: Attribute) =>
      Seq((a.name, "<=", v))
    case LessThan(a: Attribute, Literal(v, _)) => Seq((a.name, "<", v))
    case LessThan(Literal(v, _), a: Attribute) => Seq((a.name, ">", v))
    case LessThanOrEqual(a: Attribute, Literal(v, _)) =>
      Seq((a.name, "<=", v))
    case LessThanOrEqual(Literal(v, _), a: Attribute) =>
      Seq((a.name, ">=", v))
    case org.apache.spark.sql.catalyst.expressions.IsNotNull(
        a: Attribute) => Seq((a.name, "isnotnull", null))
    case org.apache.spark.sql.catalyst.expressions.IsNull(
        a: Attribute) => Seq((a.name, "isnull", null))
    case _ => Seq.empty // unsupported shape: Spark's row filter handles it
  }
}
