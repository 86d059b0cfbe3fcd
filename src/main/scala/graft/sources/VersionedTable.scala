package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A minimal snapshot-isolated multi-version table format over parquet —
  * the engine's answer to "how do 100 TB of curated training data get
  * UPDATED without a lake format dependency", built from the same two
  * primitives every production format (Delta, Iceberg, Hudi) reduces
  * to:
  *
  *  1. **Immutable data files + a manifest per version.** A commit
  *     never mutates a data file; it writes new files and a new
  *     manifest (`_versions/v%06d.json`) listing EVERY file in that
  *     snapshot with per-file (rows, min/max of the table key).  A
  *     reader resolves one manifest and reads exactly that file list —
  *     snapshot isolation with no locks, and time travel for free
  *     (read an old manifest).  The per-file key range doubles as a
  *     zone map: `read(..., idRange)` prunes whole files before Spark
  *     ever plans them, the same file-skipping mechanism as
  *     [[graft.sources.v2.GenomeZoneMap]].
  *
  *  2. **Compare-and-swap version allocation.** The manifest for
  *     version N+1 is claimed with `create(path, overwrite = false)` —
  *     atomic on HDFS/local (object stores use a conditional PUT, the
  *     same contract) — so two concurrent committers can never both
  *     win N+1: the loser re-reads the new latest snapshot, REBASES
  *     its carried-over file list on it, and retries at N+2.  Manifest
  *     CONTENT becomes visible atomically (write a temp file, then an
  *     overwrite-rename onto the claimed slot), so readers never parse
  *     a torn manifest.
  *
  * Copy-on-write mutation targets files, not the table: `merge`
  * (upsert: matched keys update, unmatched insert) and `delete` first
  * find the files that actually CONTAIN affected rows (one semi-join /
  * filter pass collecting `_metadata.file_path` — bounded driver state,
  * O(files); the same "find touched files" scan Delta's MERGE runs),
  * rewrite only those, and carry every untouched file into the new
  * manifest by reference.  A merge that touches 1 of 10^6 files
  * rewrites one file.  `vacuum` deletes data files referenced by no
  * kept manifest — space reclamation decoupled from commits, bounded
  * by the manifest union, never able to break a kept snapshot.
  *
  * Driver state is O(files-per-snapshot) manifest entries — the
  * documented ceiling shared by single-manifest Delta logs; the next
  * step at larger file counts is a two-level manifest (file groups),
  * which changes none of the commit protocol here.
  */
object VersionedTable {

  /** A deletion vector: a parquet sidecar listing, per data file, the
    * key values of rows DELETED from it without rewriting the file —
    * merge-on-read, the mechanism Delta's deletion vectors and
    * Iceberg's positional/equality delete files provide.  `path` is
    * the sidecar file, `rows` the count of masked rows in the OWNING
    * data file (so live counts stay manifest metadata), `key` the
    * table key column the masked values belong to. */
  final case class DvRef(path: String, rows: Long, key: String)

  /** `bytes` is the data file's on-disk size, recorded at write time
    * (0 for pre-feature manifests): split planning and the connector's
    * FileIndex need lengths, and reading them from the manifest is
    * O(0) filesystem RPCs where a per-file getFileStatus sweep is
    * O(files) round-trips — Delta records `size` per AddFile for the
    * same reason. */
  /** `nulls` records the NULL COUNT of every stats-eligible column at
    * write time (Iceberg's null_value_counts): `IS NOT NULL` prunes a
    * file whose count equals its rows, `IS NULL` one whose count is
    * zero — and since Spark injects IsNotNull under almost every
    * comparison, all-null files (pre-backfill evolution shapes) drop
    * out of most scans for free.  Absent entries (pre-feature
    * manifests) prune nothing. */
  final case class FileEntry(path: String, rows: Long, minId: Long,
      maxId: Long, dv: Option[DvRef] = None,
      stats: Map[String, (Long, Long)] = Map.empty,
      sstats: Map[String, (String, String)] = Map.empty,
      blooms: Map[String, IndexedSeq[Long]] = Map.empty,
      bytes: Long = 0L,
      nulls: Map[String, Long] = Map.empty) {
    /** Rows a reader actually sees: physical minus DV-masked. */
    def liveRows: Long = rows - dv.map(_.rows).getOrElse(0L)
  }

  /** Bloom geometry: 4096 bits (64 words) x 4 hashes per value — ~0.1%
    * false-positive rate at 500 rows/file, ~8% at 800; size the file
    * count so rows-per-file stays in that range for the columns you
    * bloom.  Encoded in the manifest as ~700 base64 chars per (file,
    * column): bounded, like the truncated string stats. */
  private val BloomBits = 4096
  private val BloomWords = BloomBits / 64
  private val BloomHashes = 4
  /** Table property naming the columns to bloom on every write. */
  val BloomColsProp = "bloom.cols"

  /** Table property recording the TABLE KEY column (written once by
    * the first append): per-file minId/maxId are this column's bounds,
    * and manifest-only readers need the name to use them. */
  val TableKeyProp = "table.key"

  /** Manifest FORMAT VERSION this engine reads and writes.  Every
    * commit stamps `format.version`; [[snapshot]] refuses manifests
    * declaring a HIGHER version — a reader that cannot know what a
    * future format means (new mask encodings, different stats
    * semantics) must fail loudly rather than serve a silent misread.
    * Delta's minReaderVersion/minWriterVersion protocol, collapsed to
    * the one dimension this format needs today. */
  val FormatVersionProp = "format.version"
  val SupportedFormatVersion = 1

  /** Table property carrying the table's LOGICAL SCHEMA as JSON,
    * maintained by every row-adding write (evolution widens it by
    * appending new fields, mergeSchema-style).  Manifest-only readers
    * — the graft-table connector above all — get the exact schema in
    * O(1) instead of a footer sweep over every data file; Delta keeps
    * the schema in its log for the same reason. */
  val TableSchemaProp = "table.schema"

  /** Widen the recorded schema with any fields `df` adds (never
    * narrows: a projection-shaped batch must not hide columns from
    * readers — old files still carry them).  Every read takes this
    * schema, so it must cover every live file the way a parquet
    * mergeSchema read would: fields a batch adds inside a struct (an
    * array's element, a map's key or value) are appended there too,
    * and a column the batch carries with another type is refused —
    * its files could not be read under either type.  With `replace`
    * (an overwrite: the batch's files replace every live file) a
    * top-level column the batch carries takes the batch's type. */
  private def schemaProp(inherited: Map[String, String],
      df: DataFrame, replace: Boolean = false): Map[String, String] = {
    import org.apache.spark.sql.types._
    // record the NULLABLE form: a parquet roundtrip reads every field
    // nullable (and evolution null-backfills old files), so this is
    // the schema readers actually observe
    def nullify(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = nullify(f.dataType), nullable = true)))
      case at: ArrayType =>
        ArrayType(nullify(at.elementType), containsNull = true)
      case mt: MapType =>
        MapType(nullify(mt.keyType), nullify(mt.valueType),
          valueContainsNull = true)
      case other => other
    }
    val incoming = nullify(df.schema).asInstanceOf[StructType]
    // a batch may never introduce a column whose name collides with a
    // RETIRED physical name (a renamed column's storage name, or a
    // dropped column still present in old files): widening the logical
    // schema with it would alias two unrelated columns in every
    // mixed-file read
    val retired: Set[String] = {
      val mapped = inherited.get(ColumnMappingProp).map { j =>
        val node = new ObjectMapper().readTree(j)
        import scala.jdk.CollectionConverters._
        node.fieldNames().asScala
          .map(k => k -> node.get(k).asText()).toMap
      }.getOrElse(Map.empty)
      // mapping KEYS are current logical names (re-added columns) —
      // never retired, even when a dropped physical shares the name
      (mapped.values.toSet ++
        inherited.get(DroppedColsProp).toSeq.flatMap(_.split(","))
          .map(_.trim).filter(_.nonEmpty)) -- mapped.keySet
    }
    val colliding = incoming.fieldNames.filter(retired)
    require(colliding.isEmpty,
      s"batch introduces column(s) ${colliding.mkString(", ")} that " +
        "collide with retired physical column names (renamed or " +
        "dropped); pick different names or ALTER TABLE ADD COLUMN " +
        "first")
    val merged = inherited.get(TableSchemaProp)
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .map { old =>
        val kept =
          if (!replace) old
          else StructType(old.fields.map(f => incoming.find(_.name == f.name)
            .fold(f)(g => f.copy(dataType = g.dataType))))
        widenType("", kept, incoming, (path, o, n) =>
          throw new IllegalArgumentException(
            s"column '$path' is ${o.simpleString} in the table but " +
              s"${n.simpleString} in the batch; cast the batch to the " +
              "table's type (only an overwrite may change it)"))
      }
      .getOrElse(incoming)
    inherited + (TableSchemaProp -> merged.json)
  }

  /** `o` widened by `n` the way a parquet mergeSchema read of both
    * sees them: fields `n` adds are appended, at every depth of
    * structs, arrays and maps; `o`'s fields keep their order,
    * nullability and metadata; decimals of one scale take the larger
    * precision.  Any other pair of differing types goes to `conflict`
    * with the column's dotted path, whose result stands in for it. */
  private def widenType(path: String,
      o: org.apache.spark.sql.types.DataType,
      n: org.apache.spark.sql.types.DataType,
      conflict: (String, org.apache.spark.sql.types.DataType,
        org.apache.spark.sql.types.DataType) =>
        org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    def at(name: String) = if (path.isEmpty) name else s"$path.$name"
    (o, n) match {
      case (os: StructType, ns: StructType) =>
        StructType(os.fields.map(f => ns.find(_.name == f.name).fold(f)(g =>
          f.copy(dataType = widenType(at(f.name), f.dataType, g.dataType,
            conflict)))) ++
          ns.fields.filterNot(g => os.fieldNames.contains(g.name)))
      case (oa: ArrayType, na: ArrayType) =>
        oa.copy(elementType = widenType(at("element"), oa.elementType,
          na.elementType, conflict))
      case (om: MapType, nm: MapType) =>
        om.copy(
          keyType = widenType(at("key"), om.keyType, nm.keyType, conflict),
          valueType = widenType(at("value"), om.valueType, nm.valueType,
            conflict))
      case (od: DecimalType, nd: DecimalType) if od.scale == nd.scale =>
        DecimalType(math.max(od.precision, nd.precision), od.scale)
      case _ if o == n => o
      case _ => conflict(path, o, n)
    }
  }

  /** Column `c` of type `from` as type `to`, which may carry struct
    * fields `from` lacks at any depth (NULL-filled; a plain cast only
    * converts structs of the same arity); everything else is cast. */
  private def conformCol(c: Column,
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case _ if from == to => c
      case (fs: StructType, ts: StructType) =>
        when(c.isNull, lit(null).cast(ts)).otherwise(struct(
          ts.fields.toIndexedSeq.map(f => fs.find(_.name == f.name)
            .fold(lit(null).cast(f.dataType))(g =>
              conformCol(c.getField(f.name), g.dataType, f.dataType))
            .as(f.name)): _*))
      case (fa: ArrayType, ta: ArrayType) =>
        transform(c, x => conformCol(x, fa.elementType, ta.elementType))
      case (fm: MapType, tm: MapType) if fm.keyType == tm.keyType =>
        transform_values(c, (_, v) =>
          conformCol(v, fm.valueType, tm.valueType))
      case _ => c.cast(to)
    }
  }

  /** COLUMN MAPPING (Delta's column-mapping nameMapping mode, one
    * dimension): a JSON object `{logicalName: physicalName}` carried
    * in the manifest props for every column whose current LOGICAL
    * name differs from the PHYSICAL name its data is stored under.
    * Physical names are immutable once assigned (a column's first
    * logical name, or a fresh generated name when a dropped name is
    * re-added), so RENAME and DROP are pure metadata commits — zero
    * files rewritten — and every snapshot reads with ITS OWN mapping,
    * which makes renames time-travel correctly for free.  Writers
    * rename logical -> physical at the last step of [[writeFiles]];
    * readers rename back in [[conformToSnapshot]]. */
  val ColumnMappingProp = "column.mapping"

  /** Physical names RETIRED by DROP COLUMN (comma-joined): data files
    * may still carry them, so a later ADD COLUMN of the same logical
    * name must bind a FRESH physical name (or the dropped values would
    * resurrect), and appends may never introduce a column that
    * collides with one. */
  val DroppedColsProp = "column.dropped"

  private def mappingOf(snap: Snapshot): Map[String, String] =
    snap.props.get(ColumnMappingProp).map { j =>
      val node = new ObjectMapper().readTree(j)
      import scala.jdk.CollectionConverters._
      node.fieldNames().asScala.map(k => k -> node.get(k).asText()).toMap
    }.getOrElse(Map.empty)

  private def droppedOf(snap: Snapshot): Set[String] =
    snap.props.get(DroppedColsProp).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet

  private def mappingJson(m: Map[String, String]): String = {
    val mapper = new ObjectMapper()
    val node = mapper.createObjectNode()
    m.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    mapper.writeValueAsString(node)
  }

  /** Conform a PHYSICAL-name frame to the snapshot's LOGICAL surface:
    * rename mapped physicals back to their logical names, drop
    * retired (dropped-column) physicals, project exactly the recorded
    * schema (absent columns null-fill) plus any `keep` bookkeeping
    * columns.  IDENTITY when the snapshot has no mapping and no
    * dropped columns — unmapped tables pay nothing and keep their
    * historical column order bit-for-bit. */
  private def conformToSnapshot(s: SparkSession, snap: Snapshot,
      df: DataFrame, keep: Seq[String] = Seq.empty): DataFrame = {
    val mapping = mappingOf(snap)
    val dropped = droppedOf(snap)
    if (mapping.isEmpty && dropped.isEmpty) return df
    val recorded = recordedSchema(snap)
    // ONE SIMULTANEOUS projection physical -> logical: every recorded
    // field selects its physical column (null-fill when an old file
    // predates it) aliased to the logical name.  Simultaneity makes
    // rename CHAINS and SWAPS order-independent — a sequential
    // rename fold here silently null-filled or served the WRONG
    // column's data after `score->tmp` + `txt->score` chains, because
    // each step's collision guard depended on what earlier steps had
    // already renamed.  DROPPED physicals are simply never selected
    // (a re-added logical binds a FRESH physical via the mapping), so
    // retired values cannot resurrect.
    val have = df.columns.toSet
    df.select((recorded.fields.toIndexedSeq.map { f =>
      val phys = mapping.getOrElse(f.name, f.name)
      (if (have(phys)) col(phys)
       else lit(null).cast(f.dataType)).as(f.name)
    } ++ keep.filter(have).map(col)): _*)
  }

  /** The snapshot's LOGICAL schema, as its manifest records it: every
    * commit that adds rows, and every DDL, keeps `table.schema`
    * current, so this is the one schema source for library reads and
    * the connector alike (Delta reads its schema from the log for the
    * same reason).  A snapshot without the property holds no files (a
    * table whose first commits were property-only); it reads as the
    * zero-column frame. */
  private[graft] def recordedSchema(snap: Snapshot)
      : org.apache.spark.sql.types.StructType =
    snap.props.get(TableSchemaProp)
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .getOrElse {
        require(snap.files.isEmpty, s"v${snap.version} lists " +
          s"${snap.files.size} data files but records no $TableSchemaProp")
        new org.apache.spark.sql.types.StructType()
      }

  /** The recorded schema with PHYSICAL field names — what the data
    * files actually carry. */
  private def physicalSchema(snap: Snapshot,
      recorded: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val mapping = mappingOf(snap)
    if (mapping.isEmpty) recorded
    else org.apache.spark.sql.types.StructType(recorded.fields.map(f =>
      f.copy(name = mapping.getOrElse(f.name, f.name))))
  }

  /** The schema every scan of the snapshot's data files reads with: its
    * [[physicalSchema]], so no read infers a schema from footers.  A
    * file that predates a column reads it as NULL.  EXISTS_DEFAULT is
    * left out of the field metadata: Spark's parquet reader would fill
    * it into such files, and this format never backfills on DDL. */
  private def readSchema(snap: Snapshot)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      physicalSchema(snap, recordedSchema(snap)).fields.map(f =>
        if (!f.metadata.contains("EXISTS_DEFAULT")) f
        else f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).remove("EXISTS_DEFAULT").build())))

  /** Table property opting into TWO-LEVEL manifests: entries per file
    * group (0/absent = classic single-level root listing).  Size it so
    * a typical commit touches few groups: with 10^6 files and groups
    * of 10^4, a 3-file merge rewrites one ~10^4-entry group and a
    * ~100-ref root instead of a 10^6-entry manifest. */
  val ManifestGroupSizeProp = "manifest.groupSize"

  /** File count above which a commit AUTO-ENABLES the two-level
    * layout when `manifest.groupSize` is unset: past ~8k entries a
    * single-level manifest is megabytes re-written on EVERY commit,
    * exactly the ceiling the grouped layout removes — a table that
    * grows into the regime gets the fix without anyone remembering a
    * property.  Set `manifest.groupSize=0` to pin single-level
    * explicitly; any positive value pins that size.  `var` only as a
    * test seam (specs lower it to probe the switch without writing 8k
    * real files). */
  private[graft] var AutoGroupFileThreshold: Int = 8192

  /** Group size the auto-enabled layout packs: ~700 bytes/entry makes
    * 4096-entry groups ~3 MB sidecars — large enough that a 10^6-file
    * snapshot is ~250 refs in the root, small enough that a commit
    * touching one group rewrites MBs, not the world.  `var` only as a
    * test seam (paired with [[AutoGroupFileThreshold]]). */
  private[graft] var AutoGroupSize: Int = 4096
  /** A reference to an immutable FILE GROUP: a sidecar under
    * `_versions/_groups/` listing up to `manifest.groupSize` manifest
    * entries.  The two-level layout (Iceberg's manifest-list over
    * manifests) bounds what a COMMIT writes: untouched groups carry
    * into the child manifest by reference — a merge touching 3 of 10^6
    * files rewrites 3 data files, ~1 group, and a root manifest of
    * group refs, instead of re-listing a million entries.  `rows`,
    * `minId`, `maxId` aggregate the group for future group-level
    * pruning; groups are content-immutable, so parses cache
    * process-wide like manifests. */
  final case class GroupRef(path: String, n: Int, rows: Long,
      minId: Long, maxId: Long)

  final case class Snapshot(version: Int, op: String, files: Seq[FileEntry],
      txnId: Option[String] = None,
      props: Map[String, String] = Map.empty,
      tsMillis: Long = 0L,
      groups: Seq[(GroupRef, Seq[FileEntry])] = Seq.empty) {
    /** LIVE rows of the snapshot (deletion-vector-masked rows do not
      * count — they are deleted, just not yet rewritten away). */
    def rows: Long = files.map(_.liveRows).sum
    /** CHECK constraints carried by this snapshot: name -> SQL
      * predicate, stored as `constraint.<name>` table properties (the
      * same encoding Delta uses: `delta.constraints.<name>`). */
    def constraints: Map[String, String] = props.collect {
      case (k, v) if k.startsWith(ConstraintPrefix) =>
        k.stripPrefix(ConstraintPrefix) -> v
    }
  }

  private val ConstraintPrefix = "constraint."

  private val VersionsDir = "_versions"

  private def fileSystem(s: SparkSession, root: String): FileSystem =
    FileSystem.get(new Path(root).toUri, s.sparkContext.hadoopConfiguration)

  private def manifestPath(root: String, v: Int): Path =
    new Path(s"$root/$VersionsDir", f"v$v%06d.json")

  /** Scheme-insensitive path identity (input_file_name says
    * `file:///x`, `_metadata.file_path` says `file:/x`).  MUST agree
    * with [[normPathCol]] on every URI spelling a store can produce —
    * merge/delete/deleteMoR compare plan-side-normalized
    * `__graft_file` / DV `path` values against THIS function's output,
    * and a disagreement (e.g. on an authority-bearing
    * `hdfs://nn:port/...`) makes touched-file detection silently match
    * nothing: merges duplicate keys, deletes no-op, DV folds resurrect
    * rows.  PathNormalizerSpec pins the agreement. */
  private[graft] def normPath(p: String): String = new Path(p).toUri.getPath

  /** Atomically claim a manifest slot WITH its full content already in
    * place: the manifest is written to a temp file first, and the claim
    * itself is an atomic no-overwrite publish of that temp file onto
    * the slot.  A committer killed at any instant therefore leaves
    * either no manifest (retryable by anyone) or a complete one — there
    * is no torn window where an empty claimed slot bricks the table.
    *
    * Hadoop's LocalFileSystem rename is check-then-act, so local paths
    * publish through NIO `createLink` (atomic on POSIX, fails with
    * FileAlreadyExistsException when the slot is taken).  Elsewhere the
    * publish is `FileContext.rename(Rename.NONE)` — atomic at the HDFS
    * NameNode.
    *
    * SUPPORTED FILESYSTEMS: local and HDFS (and any store whose
    * FileContext.rename is an atomic no-overwrite operation).  Plain
    * object stores (s3a and friends) implement rename as
    * copy+delete with a non-atomic existence check, so two racing
    * committers could BOTH believe they won a slot — the same reason
    * Delta requires a LogStore with `putIfAbsent` semantics there
    * (S3 conditional PUT / DynamoDB lock).  Running this table on an
    * object store requires routing this method through such a
    * conditional-PUT primitive; until then it must not be pointed at
    * an s3a/gs/abfs root with concurrent writers. */
  private def claimSlotWithContent(fs: FileSystem, s: SparkSession,
      root: String, target: Path, bytes: Array[Byte]): Boolean = {
    val tmp = new Path(s"$root/$VersionsDir",
      s".tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    out.write(bytes)
    out.close()
    // test seam (one-shot): fires with the FULL temp manifest on disk
    // but the slot not yet claimed — the exact window a crashed
    // committer leaves a .tmp- orphan that must never become visible
    locally {
      val hook = testBeforeClaim
      testBeforeClaim = () => ()
      hook()
    }
    val uri = target.toUri
    val won =
      if (uri.getScheme == null || uri.getScheme == "file") {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(uri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          // our tmp vanished under us (a concurrent sub-floor VACUUM's
          // tmp-GC, or an operator rm): NOT a claimed slot — report
          // "lost" so the CAS loop rewrites a fresh tmp and retries,
          // matching the HDFS branch's IOException handling
          case _: java.nio.file.NoSuchFileException => false
        }
      } else {
        try {
          FileContext.getFileContext(new Path(root).toUri,
            s.sparkContext.hadoopConfiguration)
            .rename(tmp, target, Options.Rename.NONE)
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.io.IOException => false // lost the race
        }
      }
    // local createLink leaves the tmp behind; rename consumed it on win
    if (uri.getScheme == null || uri.getScheme == "file" || !won)
      try fs.delete(tmp, false) catch { case _: java.io.IOException => () }
    won
  }

  /** All committed version numbers, ascending (empty for a fresh root). */
  def versions(s: SparkSession, root: String): Seq[Int] = {
    val fs = fileSystem(s, root)
    val dir = new Path(root, VersionsDir)
    if (!fs.exists(dir)) Seq.empty
    else {
      // v(\d+), not v\d{6}: %06d PADS to six digits but version
      // 1,000,000 prints as seven — a fixed-width match would make it
      // vanish from the listing and every later commit would re-claim
      // an occupied slot forever
      val V = "v(\\d+)\\.json".r
      fs.listStatus(dir).toSeq
        .map(_.getPath.getName)
        .collect { case V(digits) => digits.toInt }
        .sorted
    }
  }

  def latestVersion(s: SparkSession, root: String): Option[Int] =
    versions(s, root).lastOption

  /** Committed manifests are immutable, so parses cache process-wide;
    * this turns the O(versions) txn-ledger scan into one directory
    * listing plus cache hits.  Bounded defensively (manifests are tiny;
    * 64k entries is far past any single-process horizon). */
  private val snapCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Snapshot]()

  /** Test-only: drop every cached manifest parse — full snapshots,
    * root manifests AND group sidecars — so the next read re-lists
    * and re-parses from the filesystem exactly as a FRESH process
    * would (committed manifests are immutable, so outside tests the
    * caches can never serve stale state and never need clearing).
    * Clearing only snapCache would leave rootCache/groupCache warm
    * and silently flatter any "cold resolve" measurement. */
  private[graft] def clearSnapshotCacheForTest(): Unit = {
    snapCache.clear()
    rootCache.clear()
    groupCache.clear()
  }

  /** Parse one version's manifest.  The commit protocol publishes
    * manifests atomically with full content, so a listed version always
    * parses; a short retry tolerates rename visibility lag on
    * eventually-consistent stores.  A version ABSENT from the directory
    * listing fast-fails as [[java.util.NoSuchElementException]]
    * ("reclaimed or never committed") instead of spinning the retry
    * loop — restore/clone/changeFeed against a vacuumed-away version
    * must report WHAT happened, not "unreadable after 100 attempts"
    * two seconds later; the retry is reserved for versions that ARE
    * listed but whose content is still publishing. */
  def snapshot(s: SparkSession, root: String, v: Int): Snapshot = {
    val cached = snapCache.get((root, v))
    if (cached != null) return cached
    val fs = fileSystem(s, root)
    var node: com.fasterxml.jackson.databind.JsonNode = null
    var attempts = 0
    while ((node == null || node.get("files") == null) && attempts < 100) {
      if (attempts > 0) Thread.sleep(20)
      attempts += 1
      try {
        val in = fs.open(manifestPath(root, v))
        node = try new ObjectMapper().readTree(in) finally in.close()
      } catch {
        case _: java.io.FileNotFoundException =>
          // first miss only: not listed => PROBABLY gone for good
          // (vacuum deletes the manifest before anything could re-add
          // it; versions are never reused) — but on an eventually-
          // consistent store the LISTING can lag the same publish
          // rename the retry loop tolerates, so a just-committed
          // version must not be misreported as reclaimed: re-check the
          // listing once after a short delay and only fast-fail when
          // it misses twice.  Listed (either time) => publish lag,
          // fall through to the retry loop.
          if (attempts == 1 && !versions(s, root).contains(v)) {
            Thread.sleep(50)
            if (!versions(s, root).contains(v))
              throw new java.util.NoSuchElementException(
                s"version v$v of $root does not exist " +
                  "(reclaimed by vacuum or never committed)")
          }
      }
    }
    if (node == null || node.get("files") == null)
      throw new IllegalStateException(
        s"manifest v$v under $root unreadable after $attempts attempts")
    val filesNode = node.get("files")
    val loose = (0 until filesNode.size()).map(i =>
      parseEntry(filesNode.get(i)))
    val groups = Option(node.get("groups")).map { gn =>
      (0 until gn.size()).map { i =>
        val g = gn.get(i)
        val ref = GroupRef(g.get("path").asText(), g.get("n").asInt(),
          g.get("rows").asLong(), g.get("minId").asLong(),
          g.get("maxId").asLong())
        ref -> readGroup(s, root, ref.path)
      }.toSeq
    }.getOrElse(Seq.empty)
    val props = Option(node.get("props")).map { pn =>
      import scala.jdk.CollectionConverters._
      pn.fieldNames().asScala.map(k => k -> pn.get(k).asText()).toMap
    }.getOrElse(Map.empty[String, String])
    // FORMAT GATE: refuse manifests written under a newer format than
    // this engine understands — a silent misread of a future encoding
    // (different mask semantics, new stats meaning) is the one failure
    // a storage format must never allow.  Absent = 1 (pre-gate
    // history).
    val fv = props.get(FormatVersionProp)
      .flatMap(x => scala.util.Try(x.toInt).toOption).getOrElse(1)
    if (fv > SupportedFormatVersion)
      throw new IllegalStateException(
        s"v$v of $root declares format.version $fv, newer than this " +
          s"engine's $SupportedFormatVersion — upgrade the reader " +
          "(older versions of the table may still be readable by " +
          "time travel if they predate the format bump)")
    val snap = Snapshot(node.get("version").asInt(), node.get("op").asText(),
      loose ++ groups.flatMap(_._2),
      Option(node.get("txn")).map(_.asText()), props,
      Option(node.get("ts")).map(_.asLong()).getOrElse(0L), groups)
    if (snapCache.size() < 65536) snapCache.put((root, v), snap)
    snap
  }

  /** GROUP-LEVEL pruned snapshot resolution: parse the root manifest
    * and resolve ONLY the groups whose key-range aggregate intersects
    * `idRange` — the read-side payoff of the two-level layout.  A
    * key-sliced read of a 10^6-file table then opens the root plus
    * the few intersecting group sidecars instead of all ~100: driver
    * I/O proportional to the slice, not the table
    * (GroupedManifestSpec proves it by DELETING the irrelevant group
    * files and reading anyway).  Sound because a group's minId/maxId
    * bound every member's (writeGroup computes them from the
    * entries); files the slice cannot touch are simply absent from
    * the partial snapshot, exactly like file-level zone-map pruning.
    * The result is NOT cached (it is not the full snapshot). */
  /** The parsed ROOT of a manifest with group entries UNRESOLVED —
    * cached like snapshots (manifests are immutable), so repeated
    * sliced reads re-pay neither the root parse nor (via
    * [[groupCache]]) any group they already touched. */
  private final case class ManifestRoot(version: Int, op: String,
      loose: IndexedSeq[FileEntry], refs: IndexedSeq[GroupRef],
      txnId: Option[String], props: Map[String, String], tsMillis: Long)
  private val rootCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), ManifestRoot]()

  private def manifestRoot(s: SparkSession, root: String, v: Int)
      : ManifestRoot = {
    val cached = rootCache.get((root, v))
    if (cached != null) return cached
    val fs = fileSystem(s, root)
    val in = fs.open(manifestPath(root, v))
    val node = try new ObjectMapper().readTree(in) finally in.close()
    if (node == null || node.get("files") == null)
      // still publishing on a store without atomic rename visibility:
      // surface as not-found so the caller falls back to the RETRYING
      // full resolver rather than half-parsing
      throw new java.io.FileNotFoundException(
        s"manifest v$v of $root not fully visible yet")
    val filesNode = node.get("files")
    val loose = (0 until filesNode.size()).map(i =>
      parseEntry(filesNode.get(i)))
    val refs = Option(node.get("groups")).map { gn =>
      (0 until gn.size()).map { i =>
        val g = gn.get(i)
        GroupRef(g.get("path").asText(), g.get("n").asInt(),
          g.get("rows").asLong(), g.get("minId").asLong(),
          g.get("maxId").asLong())
      }
    }.getOrElse(IndexedSeq.empty)
    val props = Option(node.get("props")).map { pn =>
      import scala.jdk.CollectionConverters._
      pn.fieldNames().asScala.map(k => k -> pn.get(k).asText()).toMap
    }.getOrElse(Map.empty[String, String])
    val parsed = ManifestRoot(node.get("version").asInt(),
      node.get("op").asText(), loose, refs,
      Option(node.get("txn")).map(_.asText()), props,
      Option(node.get("ts")).map(_.asLong()).getOrElse(0L))
    if (rootCache.size() < 65536) rootCache.put((root, v), parsed)
    parsed
  }

  def snapshotPruned(s: SparkSession, root: String, v: Int,
      idLo: Long, idHi: Long): Snapshot = {
    // a fully-resolved cached snapshot filters for free
    val full = snapCache.get((root, v))
    if (full != null)
      return Snapshot(full.version, full.op,
        full.files.filter(f => f.maxId >= idLo && f.minId <= idHi),
        full.txnId, full.props, full.tsMillis,
        full.groups.collect {
          case (ref, entries) if ref.maxId >= idLo && ref.minId <= idHi =>
            ref -> entries.filter(f => f.maxId >= idLo && f.minId <= idHi)
        })
    val mr = manifestRoot(s, root, v)
    val loose = mr.loose.filter(f => f.maxId >= idLo && f.minId <= idHi)
    val groups = mr.refs.flatMap { ref =>
      if (ref.maxId >= idLo && ref.minId <= idHi)
        Some(ref -> readGroup(s, root, ref.path)
          .filter(f => f.maxId >= idLo && f.minId <= idHi))
      else None
    }
    Snapshot(mr.version, mr.op, loose ++ groups.flatMap(_._2),
      mr.txnId, mr.props, mr.tsMillis, groups.toSeq)
  }

  /** Parse one manifest/group file entry.  "dv", "stats", "sstats" and
    * "bloom" are optional: pre-feature manifests (and files never
    * touched by the respective feature) simply lack them. */
  private def parseEntry(f: com.fasterxml.jackson.databind.JsonNode)
      : FileEntry = {
    val dv = Option(f.get("dv")).map(d =>
      DvRef(d.get("path").asText(), d.get("rows").asLong(),
        d.get("key").asText()))
    val stats = Option(f.get("stats")).map { st =>
      import scala.jdk.CollectionConverters._
      st.fieldNames().asScala.map { c =>
        c -> (st.get(c).get("min").asLong(),
          st.get(c).get("max").asLong())
      }.toMap
    }.getOrElse(Map.empty[String, (Long, Long)])
    val sstats = Option(f.get("sstats")).map { st =>
      import scala.jdk.CollectionConverters._
      st.fieldNames().asScala.map { c =>
        c -> (st.get(c).get("min").asText(),
          st.get(c).get("max").asText())
      }.toMap
    }.getOrElse(Map.empty[String, (String, String)])
    val blooms = Option(f.get("bloom")).map { bn =>
      import scala.jdk.CollectionConverters._
      bn.fieldNames().asScala.map { c =>
        val bb = java.nio.ByteBuffer.wrap(
          java.util.Base64.getDecoder.decode(bn.get(c).asText()))
        c -> IndexedSeq.fill(BloomWords)(bb.getLong())
      }.toMap
    }.getOrElse(Map.empty[String, IndexedSeq[Long]])
    val nulls = Option(f.get("nulls")).map { nn =>
      import scala.jdk.CollectionConverters._
      nn.fieldNames().asScala.map(c => c -> nn.get(c).asLong()).toMap
    }.getOrElse(Map.empty[String, Long])
    FileEntry(f.get("path").asText(), f.get("rows").asLong(),
      f.get("minId").asLong(), f.get("maxId").asLong(), dv, stats,
      sstats, blooms,
      Option(f.get("bytes")).map(_.asLong()).getOrElse(0L), nulls)
  }

  /** Serialize one entry into a manifest/group "files" array. */
  private def writeEntry(
      arr: com.fasterxml.jackson.databind.node.ArrayNode,
      f: FileEntry): Unit = {
    val o = arr.addObject()
    o.put("path", f.path); o.put("rows", f.rows)
    o.put("minId", f.minId); o.put("maxId", f.maxId)
    if (f.bytes > 0L) o.put("bytes", f.bytes)
    f.dv.foreach { d =>
      val dn = o.putObject("dv")
      dn.put("path", d.path); dn.put("rows", d.rows)
      dn.put("key", d.key)
    }
    if (f.stats.nonEmpty) {
      val st = o.putObject("stats")
      f.stats.toSeq.sortBy(_._1).foreach { case (c, (mn, mx)) =>
        val cn = st.putObject(c); cn.put("min", mn); cn.put("max", mx)
      }
    }
    if (f.sstats.nonEmpty) {
      val st = o.putObject("sstats")
      f.sstats.toSeq.sortBy(_._1).foreach { case (c, (mn, mx)) =>
        val cn = st.putObject(c); cn.put("min", mn); cn.put("max", mx)
      }
    }
    if (f.blooms.nonEmpty) {
      val bn = o.putObject("bloom")
      f.blooms.toSeq.sortBy(_._1).foreach { case (c, words) =>
        val bb = java.nio.ByteBuffer.allocate(BloomWords * 8)
        words.foreach(bb.putLong)
        bn.put(c, java.util.Base64.getEncoder.encodeToString(bb.array()))
      }
    }
    if (f.nulls.nonEmpty) {
      val nn = o.putObject("nulls")
      f.nulls.toSeq.sortBy(_._1).foreach { case (c, n) => nn.put(c, n) }
    }
  }

  private def groupsDir(root: String): Path =
    new Path(s"$root/$VersionsDir", "_groups")

  /** Group parses cache process-wide: group files are content-
    * immutable (a new grouping writes NEW files), like manifests. */
  private val groupCache = new java.util.concurrent.ConcurrentHashMap[
    String, IndexedSeq[FileEntry]]()

  private def readGroup(s: SparkSession, root: String,
      path: String): IndexedSeq[FileEntry] = {
    val cached = groupCache.get(path)
    if (cached != null) return cached
    val fs = fileSystem(s, root)
    val in = fs.open(new Path(path))
    val node = try new ObjectMapper().readTree(in) finally in.close()
    val arr = node.get("entries")
    val entries = (0 until arr.size()).map(i => parseEntry(arr.get(i)))
    if (groupCache.size() < 65536) groupCache.put(path, entries)
    entries
  }

  /** Write one immutable group sidecar; plain create (unique name), no
    * atomicity needed — a group is referenced only by a manifest that
    * commits AFTER it is fully written, and an orphan from a lost CAS
    * race is reclaimed by vacuum's group GC. */
  private def writeGroup(s: SparkSession, root: String,
      entries: Seq[FileEntry]): GroupRef = {
    val fs = fileSystem(s, root)
    fs.mkdirs(groupsDir(root))
    val mapper = new ObjectMapper()
    val node = mapper.createObjectNode()
    val arr = node.putArray("entries")
    entries.foreach(writeEntry(arr, _))
    val p = new Path(groupsDir(root),
      s"g-${java.util.UUID.randomUUID()}.json")
    val out = fs.create(p, false)
    out.write(mapper.writeValueAsString(node).getBytes("UTF-8"))
    out.close()
    GroupRef(p.toString, entries.size, entries.map(_.liveRows).sum,
      entries.map(_.minId).min, entries.map(_.maxId).max)
  }

  /** The committed version carrying this transaction id, if any — the
    * idempotence ledger every exactly-once sink needs (Delta's
    * `txnAppId/txnVersion`, Iceberg's snapshot summary props play the
    * same role).  Scans newest-first: a retried micro-batch is near the
    * head, and the manifest cache makes repeat scans one listing.
    * Falls back to the compacted ledger file for txns whose manifests
    * vacuum has reclaimed — manifest retention and txn idempotence are
    * independent horizons (Delta keeps setTransaction entries through
    * checkpoints for the same reason): a stream restarting from an
    * older checkpoint must NOT re-apply a batch just because time
    * travel to its version is gone. */
  def findCommittedTxn(s: SparkSession, root: String,
      txnId: String): Option[Int] =
    versions(s, root).reverse.find(v =>
      snapshot(s, root, v).txnId.contains(txnId))
      .orElse(readTxnLedger(s, root).get(txnId))

  private def txnLedgerPath(root: String): Path =
    new Path(s"$root/$VersionsDir", "_txns.json")

  /** txn -> version entries harvested from vacuumed manifests.  Tiny
    * (one entry per retired streaming batch) and read only when a txn
    * probe misses every live manifest — i.e. once per NEW batch. */
  private def readTxnLedger(s: SparkSession, root: String)
      : Map[String, Int] = {
    val fs = fileSystem(s, root)
    val p = txnLedgerPath(root)
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      val node = try new ObjectMapper().readTree(in) finally in.close()
      val arr = node.get("txns")
      (0 until arr.size()).map { i =>
        val t = arr.get(i)
        t.get("txn").asText() -> t.get("version").asInt()
      }.toMap
    }
  }

  /** Replace the ledger file atomically (tmp write + rename-overwrite;
    * single-writer by contract — vacuum is a maintenance op, not a
    * concurrent commit path). */
  private def writeTxnLedger(s: SparkSession, root: String,
      entries: Map[String, Int]): Unit = {
    val fs = fileSystem(s, root)
    val mapper = new ObjectMapper()
    val node = mapper.createObjectNode()
    val arr = node.putArray("txns")
    entries.toSeq.sortBy(_._2).foreach { case (t, v) =>
      val o = arr.addObject(); o.put("txn", t); o.put("version", v)
    }
    val tmp = new Path(s"$root/$VersionsDir",
      s".tmp-ledger-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    out.write(mapper.writeValueAsString(node).getBytes("UTF-8"))
    out.close()
    val target = txnLedgerPath(root)
    val uri = target.toUri
    if (uri.getScheme == null || uri.getScheme == "file")
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(uri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    else
      FileContext.getFileContext(new Path(root).toUri,
        s.sparkContext.hadoopConfiguration)
        .rename(tmp, target, Options.Rename.OVERWRITE)
  }

  /** Has a commit carrying this transaction id already landed? */
  def txnCommitted(s: SparkSession, root: String, txnId: String): Boolean =
    findCommittedTxn(s, root, txnId).isDefined

  /** Read a snapshot (latest when version is None).  `idRange` prunes
    * whole files through the manifest's per-file key range BEFORE Spark
    * plans the scan; `ranges` does the same through the per-file
    * COLUMN stats (any numeric column the files carry bounds for) and
    * `strRanges` through the per-file STRING stats (a point predicate
    * `lang = 'fr'` is the range `("fr", "fr")`) — files without stats
    * for a named column are conservatively kept, so pre-stats history
    * stays readable.  The row-level filter must still be applied by
    * the caller; pruning only discards files that cannot contain the
    * range.  Column-stats pruning pays off when the layout is
    * clustered on the column — see [[optimizeClusterBy]] /
    * [[optimizeZOrderBy]].  `eqs` prunes through the per-file BLOOM
    * filters (for columns the `bloom.cols` property enrolls) — point
    * lookups skip files on ANY layout, no clustering needed; the
    * caller still applies the row filter. */
  def read(s: SparkSession, root: String, version: Option[Int] = None,
      idRange: Option[(Long, Long)] = None,
      ranges: Map[String, (Long, Long)] = Map.empty,
      strRanges: Map[String, (String, String)] = Map.empty,
      eqs: Map[String, Any] = Map.empty): DataFrame = {
    val v = version.orElse(latestVersion(s, root)).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    // a key-sliced read of a two-level table resolves only the GROUPS
    // the slice can touch (group refs carry key aggregates) — unless
    // the full snapshot is already parsed and cached, in which case
    // filtering the cache is free
    val snap = idRange match {
      case Some((lo, hi)) if snapCache.get((root, v)) == null =>
        // fall back to the retrying full resolver if the manifest is
        // still publishing (the pruned path is an I/O optimization,
        // never a change in read semantics)
        try snapshotPruned(s, root, v, lo, hi)
        catch { case _: java.io.FileNotFoundException =>
          snapshot(s, root, v) }
      case _ => snapshot(s, root, v)
    }
    // column mapping: pruning requests name LOGICAL columns, stats and
    // blooms are recorded under the files' PHYSICAL names — translate
    val mapping = mappingOf(snap)
    def phys[T](m: Map[String, T]): Map[String, T] =
      if (mapping.isEmpty) m
      else m.map { case (k, x) => mapping.getOrElse(k, k) -> x }
    val kept = bloomPrunedFiles(statsPrunedFiles(
      idRange match {
        case None => snap.files
        case Some((lo, hi)) =>
          snap.files.filter(f => f.maxId >= lo && f.minId <= hi)
      }, phys(ranges), phys(strRanges)), phys(eqs))
    // the EMPTY branch carries the recorded schema too: unions/writes
    // over sliced reads must not break on the empty slice
    if (kept.isEmpty) conformToSnapshot(s, snap, emptyLike(s, snap))
    else readFilesOf(s, snap, kept)
  }

  /** Column-stats file pruning: keep a file unless SOME requested
    * range provably excludes it (stats present and disjoint).  String
    * bounds compare lexicographically — sound against the truncated
    * upper bounds [[writeFiles]] records, because truncation only ever
    * WIDENS the recorded interval. */
  private[graft] def statsPrunedFiles(files: Seq[FileEntry],
      ranges: Map[String, (Long, Long)],
      strRanges: Map[String, (String, String)] = Map.empty)
      : Seq[FileEntry] =
    if (ranges.isEmpty && strRanges.isEmpty) files
    else files.filter { f =>
      ranges.forall { case (c, (lo, hi)) =>
        f.stats.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi }
      } &&
      strRanges.forall { case (c, (lo, hi)) =>
        f.sstats.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi }
      }
    }

  /** The driver-side twin of the plan-side position projection in
    * [[writeFiles]]: MUST compute the identical 4 positions for a
    * lookup value, so it evaluates the very same Catalyst expression —
    * `pmod(xxhash64(v, i), 4096)` — over literals (BloomSpec pins the
    * agreement through data).  Supported value types mirror the bloom
    * column types: String and Long. */
  private def bloomPositions(v: Any): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CLit, XxHash64}
    (0 until BloomHashes).map { i =>
      val h = new XxHash64(Seq(CLit(v), CLit(i)))
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        .asInstanceOf[Long]
      (((h % BloomBits) + BloomBits) % BloomBits).toInt
    }
  }

  /** Bloom file pruning for POINT-equality predicates: keep a file
    * unless some looked-up value's bloom provably excludes it (all
    * four positions must be set for the file to stay).  No false
    * negatives ever — a file containing the value always keeps all
    * its bits — so skipping is exact-sound; false positives only cost
    * an extra file read.  Files without a bloom for a named column
    * are conservatively kept (pre-property history stays readable).
    * This is the unclustered-point-lookup lever: zone maps need the
    * layout sorted by the column, a bloom answers `text = ?` /
    * `user_id = ?` on ANY layout at ~700 bytes of manifest per
    * (file, column). */
  private[graft] def bloomPrunedFiles(files: Seq[FileEntry],
      eqs: Map[String, Any]): Seq[FileEntry] =
    if (eqs.isEmpty) files
    else {
      val posByCol = eqs.map { case (c, v) =>
        require(v != null, s"bloom lookup of NULL on '$c' (null never " +
          "matches an equality predicate; filter it explicitly)")
        c -> bloomPositions(v)
      }
      files.filter { f =>
        posByCol.forall { case (c, ps) =>
          f.blooms.get(c).forall(words =>
            ps.forall(p => (words(p >> 6) & (1L << (p & 63))) != 0L))
        }
      }
    }

  /** Manifest pruning from COMPARISON CONJUNCTS `(column, op, value)`
    * with op in =, >, >=, <, <= and value a raw Catalyst literal
    * (UTF8String for strings, Long for longs AND timestamps — catalyst
    * timestamps are epoch micros, exactly what the stats record).
    * Each conjunct consults every structure that can rule a file out:
    * the key zone map (when `keyCol` names the conjunct's column),
    * long/timestamp column stats, truncated string stats, and — for
    * equality — bloom probes.  Unknown columns/missing stats keep the
    * file; the caller's row-level filter always still runs.  This is
    * the translation layer the graft-table connector's FileIndex feeds
    * with Catalyst data filters. */
  private[graft] def pruneWithBounds(snap: Snapshot,
      keyCol: Option[String],
      bounds: Seq[(String, String, Any)]): Seq[FileEntry] =
    snap.files.filter(entryMayMatch(keyCol, bounds))

  /** Whether `f` MAY contain a row satisfying the comparison
    * conjuncts, judged from manifest stats alone (false = provably
    * not).  The per-entry core of [[pruneWithBounds]]; also the
    * disjoint-writer rebase's test of interloper-ADDED files against
    * a predicate DML's read set. */
  private[graft] def entryMayMatch(keyCol: Option[String],
      bounds: Seq[(String, String, Any)])(f: FileEntry): Boolean = {
    def asLong(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case sh: Short => Some(sh.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }
    def asStr(v: Any): Option[String] = v match {
      case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
      case st: String => Some(st)
      case _ => None
    }
    def rangeOk(mn: Long, mx: Long, op: String, x: Long): Boolean =
      op match {
        case "=" => mn <= x && mx >= x
        case ">" => mx > x
        case ">=" => mx >= x
        case "<" => mn < x
        case "<=" => mn <= x
      }
    def srangeOk(mn: String, mx: String, op: String, x: String): Boolean =
      op match {
        case "=" => mn <= x && mx >= x
        case ">" => mx > x
        case ">=" => mx >= x
        case "<" => mn < x
        case "<=" => mn <= x
      }
    bounds.forall { case (c, op, v) =>
        val longV = asLong(v); val strV = asStr(v)
        val keyOk = longV match {
          case Some(x) if keyCol.contains(c) => rangeOk(f.minId, f.maxId, op, x)
          case _ => true
        }
        val statOk = longV match {
          case Some(x) =>
            f.stats.get(c).forall { case (mn, mx) => rangeOk(mn, mx, op, x) }
          case None => true
        }
        val sstatOk = strV match {
          case Some(x) =>
            f.sstats.get(c).forall { case (mn, mx) => srangeOk(mn, mx, op, x) }
          case None => true
        }
        val bloomOk =
          if (op == "=" && (strV.isDefined || longV.isDefined))
            f.blooms.get(c).forall { words =>
              bloomPositions(strV.map(x => x: Any).getOrElse(longV.get))
                .forall(p => (words(p >> 6) & (1L << (p & 63))) != 0L)
            }
          else true
        // null-count pruning: physical counts, so DV masks (which only
        // REMOVE rows) can never make a skip unsound
        val nullOk = op match {
          case "isnotnull" => f.nulls.get(c).forall(_ < f.rows)
          case "isnull" => f.nulls.get(c).forall(_ > 0L)
          case _ => true
        }
        keyOk && statOk && sstatOk && bloomOk && nullOk
    }
  }

  /** Comparison conjuncts of a DML condition, for the disjoint-writer
    * rebase's added-file read-set check: top-level ANDs split, each
    * `attr op literal` shape extracted ([[GraftPruning.bounds]]'s
    * grammar).  Shapes the extraction cannot see (ORs, casts,
    * functions) simply yield fewer conjuncts — they only NARROW the
    * read set, so proving disjointness from the extractable conjuncts
    * alone stays sound; an EMPTY result means "cannot bound the read
    * set" and the caller must treat every added file as a conflict. */
  private[graft] def condBounds(cond: Column): Seq[(String, String, Any)] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    // Columns built through the public DSL convert to UNRESOLVED
    // function nodes (`<`, `and`, ...) rather than catalyst comparison
    // classes — lower the operator names the DSL produces to the
    // catalyst shapes [[GraftPruning.bounds]] extracts; SQL-path
    // Columns (wrapped parsed expressions) already arrive as catalyst
    // nodes and pass through untouched.
    def lower(e: Expression): Expression = e match {
      case f: UnresolvedFunction
          if f.arguments.size == 2 && !f.isDistinct =>
        val a = f.arguments(0); val b = f.arguments(1)
        f.nameParts.map(_.toLowerCase) match {
          case Seq("<") => LessThan(a, b)
          case Seq("<=") => LessThanOrEqual(a, b)
          case Seq(">") => GreaterThan(a, b)
          case Seq(">=") => GreaterThanOrEqual(a, b)
          case Seq("=") | Seq("==") => EqualTo(a, b)
          case _ => e
        }
      case f: UnresolvedFunction if f.arguments.size == 1 =>
        f.nameParts.map(_.toLowerCase) match {
          case Seq("isnotnull") => IsNotNull(f.arguments.head)
          case Seq("isnull") => IsNull(f.arguments.head)
          case _ => e
        }
      case other => other
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case f: UnresolvedFunction
          if f.nameParts.map(_.toLowerCase) == Seq("and") &&
            f.arguments.size == 2 =>
        conjuncts(f.arguments(0)) ++ conjuncts(f.arguments(1))
      case other => Seq(lower(other))
    }
    graft.sources.v2.GraftPruning.bounds(conjuncts(
      org.apache.spark.sql.graftx.Bridge.catalystExpression(cond)))
  }

  /** Drop every conjunct whose literal's RUNTIME TYPE does not match
    * the recorded schema's column type.  [[condBounds]] extracts
    * PARSE-LEVEL literals that never saw the analyzer, so a
    * type-mismatched comparison the analyzer would have wrapped in a
    * Cast (`col("x") === "5"` through the DSL) arrives here as a
    * raw UTF8String — and probing a bloom built from longs with a
    * string hash makes every probe bit miss, falsely "proving" an
    * interloper-added file disjoint (the rebase would commit and a
    * racing append's matching rows silently survive the DML).
    * Dropping the conjunct is conservative: fewer bounds can only
    * WIDEN the may-match set, and an empty result falls back to
    * "any added file conflicts".  Columns absent from the recorded
    * schema, and column types outside the long-backed/string stat
    * families, drop for the same reason (a bloom enrolled on e.g. a
    * double column must never be probed with an Int literal's hash). */
  private def typedBounds(snap: Snapshot,
      bounds: Seq[(String, String, Any)]): Seq[(String, String, Any)] = {
    import org.apache.spark.sql.types._
    val recorded: Map[String, DataType] =
      recordedSchema(snap).fields.map(f => f.name -> f.dataType).toMap
    bounds.filter { case (c, op, v) =>
      // null-count conjuncts carry no literal — type-agnostic
      if (op == "isnull" || op == "isnotnull") recorded.contains(c)
      else recorded.get(c) match {
        case Some(ByteType | ShortType | IntegerType | LongType |
                  DateType | TimestampType | TimestampNTZType) =>
          v.isInstanceOf[Byte] || v.isInstanceOf[Short] ||
            v.isInstanceOf[Int] || v.isInstanceOf[Long]
        case Some(StringType) =>
          v.isInstanceOf[String] ||
            v.isInstanceOf[org.apache.spark.unsafe.types.UTF8String]
        case _ => false
      }
    }
  }

  /** Added-file conflict check for COND-scoped DML (update/delete and
    * their MoR twins, replaceWhere): the rebase may proceed iff every
    * interloper-added file PROVABLY contains no row satisfying `cond`
    * (stats-based, names translated logical -> physical through the
    * snapshot's column mapping; literals type-checked against the
    * recorded schema by [[typedBounds]] BEFORE any stats/bloom probe —
    * parse-level literals never saw the analyzer's Cast).  Unprovable
    * => recompute, the Delta added-files-vs-read-predicates
    * ConcurrentAppend check. */
  private def condReadSafe(snap: Snapshot, idCol: String,
      cond: Column): Seq[FileEntry] => Boolean = {
    val mapping = mappingOf(snap)
    val bounds = typedBounds(snap, condBounds(cond)).map {
      case (c, op, v) => (mapping.getOrElse(c, c), op, v) }
    if (bounds.isEmpty) added => added.isEmpty
    else added => added.forall(f =>
      !entryMayMatch(Some(idCol), bounds)(f))
  }

  /** Added-file conflict check for KEY-scoped reads (merge: matched
    * keys AND the not-matched EXISTENCE probe both read by key): the
    * rebase may proceed iff no source key falls inside any added
    * file's key zone map — one distributed `limit(1)` probe over the
    * (already persisted) source, sized by the interloper's commit,
    * never the table. */
  private def keysReadSafe(src: DataFrame, idCol: String)
      : Seq[FileEntry] => Boolean = added =>
    added.isEmpty || {
      val hit = added.map(f =>
        col(idCol).between(lit(f.minId), lit(f.maxId))).reduce(_ || _)
      src.filter(hit).limit(1).isEmpty
    }

  /** The plan-side twin of [[normPath]]: strip the URI scheme AND any
    * authority from a path column so `_metadata.file_path` values
    * (`file:/x`, `file:///x`, `hdfs://nn:port/x`, `s3a://bucket/x`)
    * all compare as the bare `/x` — exactly what `Path.toUri.getPath`
    * yields on the driver side.  The agreement is load-bearing, not
    * cosmetic: merge/delete compare plan-side values against
    * [[normPath]] output, so a normalizer that kept the authority
    * (the pre-r11 version stripped only `scheme:/+`) made touched-file
    * detection silently miss every file on an authority-bearing store.
    * Grammar: `scheme ":" [ "//" authority ] "/" rest` — the optional
    * group eats `//nn:port` / `//bucket` / the empty authority of
    * `file:///`, and the mandatory trailing `/` anchors the rewrite to
    * absolute paths (PathNormalizerSpec pins all spellings against
    * [[normPath]]). */
  private[graft] def normPathCol(c: Column): Column =
    regexp_replace(c, "^[A-Za-z][A-Za-z0-9+.\\-]*:(//[^/]*)?/", "/")

  /** Read a specific file subset live (DV-masked) on the snapshot's
    * logical column surface — what every rewrite, user-facing subset
    * read and the streaming source's added-files-only feeds use.  The
    * scan reads with the snapshot's [[readSchema]]: a snapshot can mix
    * files written before and after a column was added (schema
    * evolution), and a column a file does not carry (an ALTER TABLE
    * ADD COLUMN before any write included) reads as NULL, so a merge
    * right after it keeps its assignments to the new column; a
    * time-travel read of an older snapshot uses that snapshot's
    * narrower schema.  [[applyDv]] masks the deletion vectors. */
  private[graft] def readFilesOf(s: SparkSession, snap: Snapshot,
      files: Seq[FileEntry]): DataFrame =
    conformToSnapshot(s, snap, applyDv(s,
      s.read.schema(readSchema(snap)).parquet(files.map(_.path): _*), files))

  /** [[readFilesOf]] over all the snapshot's files plus a
    * `__graft_file` column carrying each row's
    * (normalized) source data file — the discovery handle merge /
    * delete use to find touched files.  Projected from `_metadata`
    * BEFORE the DV anti-join, because metadata columns bind to the
    * scan relation and do not survive a join.  Conformed to the
    * snapshot's logical surface (identity when unmapped), keeping the
    * bookkeeping column. */
  private def readLiveWithFile(s: SparkSession,
      snap: Snapshot): DataFrame = {
    val files = snap.files
    val raw = s.read.schema(readSchema(snap))
      .parquet(files.map(_.path): _*)
      .withColumn("__graft_file", normPathCol(col("_metadata.file_path")))
    conformToSnapshot(s, snap,
      applyDv(s, raw, files, fileColumn = Some("__graft_file")),
      keep = Seq("__graft_file"))
  }

  /** Apply the deletion vectors of `files` to an already-built scan of
    * exactly those files.  The mask is a per-(file, key) anti-join —
    * NOT a bare key anti-join, because a key deleted from file A may
    * have been re-inserted later into file B: masking by key alone
    * would wrongly erase the re-insert.  Sidecars are commit-sized (the
    * union of all live DVs is bounded by un-purged deletes), so AQE
    * broadcasts the build side; the scan side stays a single pass.
    * `fileColumn` names a pre-projected
    * normalized-path column when the caller already has one; otherwise
    * one is projected from `_metadata` here FIRST and dropped after —
    * the join itself must never reference `_metadata`, which both join
    * children (data scan and sidecar scan) expose ambiguously. */
  private def applyDv(s: SparkSession, raw: DataFrame,
      files: Seq[FileEntry], fileColumn: Option[String] = None)
      : DataFrame = {
    val dvPaths = files.flatMap(_.dv.map(_.path)).distinct
    if (dvPaths.isEmpty) return raw
    val keys = files.flatMap(_.dv.map(_.key)).distinct
    require(keys.size == 1,
      s"deletion vectors disagree on the table key: $keys")
    val key = keys.head
    val dv = readDv(s, dvPaths)
      .select(col("path").as("__graft_dv_path"),
        col("id").as("__graft_dv_id"))
    val fc = fileColumn.getOrElse("__graft_dv_probe")
    val side = fileColumn.map(_ => raw).getOrElse(
      raw.withColumn(fc, normPathCol(col("_metadata.file_path"))))
    val masked = side.join(dv,
      col(fc) === col("__graft_dv_path") &&
        col(key) === col("__graft_dv_id"),
      "left_anti")
    if (fileColumn.isDefined) masked else masked.drop(fc)
  }

  /** The fixed schema of a deletion-vector sidecar: (data file path,
    * masked key) — [[writeDv]] writes nothing else. */
  private val DvSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("path",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType)))

  private def readDv(s: SparkSession, paths: Seq[String]): DataFrame =
    s.read.schema(DvSchema).parquet(paths: _*)

  /** A zero-row DataFrame with the snapshot's physical [[readSchema]]
    * (a snapshot can legitimately list NO files: a delete that matched
    * every row, or a CREATEd-but-never-written table). */
  private def emptyLike(s: SparkSession, snap: Snapshot): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      readSchema(snap))

  /** The manifest-pruned file list for a key range (exposed so specs
    * and plans can assert how many files a pruned read touches). */
  def prunedFiles(s: SparkSession, root: String, v: Int,
      lo: Long, hi: Long): Seq[FileEntry] =
    snapshot(s, root, v).files.filter(f => f.maxId >= lo && f.minId <= hi)

  /** String-stat upper-bound truncation (the Iceberg
    * `truncateStringMax` construction): a plain prefix is a valid
    * LOWER bound (prefix <= original, and truncation is monotone under
    * lexicographic order) but NOT an upper one — a value can extend
    * past the cut — so when any value in the file was longer than the
    * cut, the truncated max is bumped by incrementing its last
    * incrementable UTF-16 unit and dropping the suffix.  Returns None
    * when nothing can be incremented (all ￿): the caller drops
    * the stat and pruning conservatively keeps the file. */
  private def truncUpper(sTrunc: String,
      wasTruncated: Boolean): Option[String] =
    if (!wasTruncated) Some(sTrunc)
    else {
      val chars = sTrunc.toCharArray
      var i = chars.length - 1
      while (i >= 0 && chars(i) == Char.MaxValue) i -= 1
      if (i < 0) None
      else Some(new String(chars, 0, i) + (chars(i) + 1).toChar)
    }

  /** Cut length for recorded string bounds: long document text must
    * not bloat the manifest, and 64 UTF-16 units discriminate any
    * metadata-shaped column (lang, source, domain) exactly. */
  private val StrStatLen = 64

  /** Write `df` as `numFiles` parquet files under a fresh commit dir and
    * return their manifest entries — rows + key min/max per file, PLUS
    * per-file min/max of every other long-typed column, truncated
    * min/max of every string column and null counts, all taken from
    * the files' parquet footers on the driver ([[entriesFromDir]]):
    * no job reads back what was just written unless the table blooms
    * a column or stores INT96 timestamps.  Those column stats are the
    * zone maps [[read]]'s `ranges` / `strRanges` pruning and
    * [[optimizeClusterBy]] trade on — the same per-column bounds
    * Iceberg manifests and Delta's Add-file stats carry, with
    * Iceberg's truncate-and-bump rule keeping string bounds sound at
    * bounded manifest size ([[truncUpper]]).
    * `partitionCol` overrides the range-partitioning column
    * (clustering); key min/max per file is always the TABLE KEY's,
    * whatever the layout.  `replace` marks an overwrite's batch, which
    * may change a column's type ([[schemaProp]]). */
  private def writeFiles(s: SparkSession, root: String, df: DataFrame,
      idCol: String, numFiles: Int,
      partitionCol: Option[String] = None,
      partitionExpr: Option[Column] = None,
      replace: Boolean = false): Seq[FileEntry] = {
    val dir = s"$root/data/${java.util.UUID.randomUUID().toString}"
    // partitionExpr (a pure layout key, e.g. a Morton interleave) is
    // only ever an exchange key — it is never materialized into the
    // written files' schema
    val pcol = partitionExpr.getOrElse(col(partitionCol.getOrElse(idCol)))
    // sortWithinPartitions: rows inside each file arrive ordered by
    // the layout key, so parquet's OWN per-row-group min/max (which
    // the vectorized scan consults below our file-level skipping) get
    // tight ranges too — file skipping prunes files, row-group stats
    // then prune WITHIN the survivors.  Cost: one in-memory sort per
    // task over data it already holds
    // COLUMN MAPPING: the last step before bytes hit disk renames
    // mapped logical columns to their immutable PHYSICAL names, so
    // files stay uniformly physical whatever renames happened (the
    // rename is a projection above the exchange — layout unaffected).
    // A batch [[schemaProp]] would refuse at commit (a RETIRED
    // physical name, which the rename would collide with, or a column
    // of another type than the table's) is refused here, before the
    // write: clearer and cheaper.
    val headSnap = latestVersion(s, root).map(v => snapshot(s, root, v))
    headSnap.foreach(h => schemaProp(h.props, df, replace))
    val headMapping = headSnap.map(mappingOf).getOrElse(Map.empty)
    val prepared = df.repartitionByRange(numFiles, pcol)
      .sortWithinPartitions(pcol)
    // ONE SIMULTANEOUS projection logical -> physical (the inverse of
    // [[conformToSnapshot]]'s read projection): a sequential rename
    // fold could transiently create DUPLICATE column names under
    // swapped mappings (`{a->b, b->a}` after a rename cycle through a
    // temp) and corrupt the written file; a single select is
    // order-independent by construction.  Project ABOVE the exchange +
    // sort: layout unaffected.
    val physical =
      if (headMapping.isEmpty) prepared
      else prepared.select(prepared.columns.toIndexedSeq.map(c =>
        col(c).as(headMapping.getOrElse(c, c))): _*)
    physical.write.parquet(dir)
    // bloom.cols names LOGICAL columns; the written files carry
    // physical names — translate through the head mapping
    val bloomCols = headSnap.map(_.props.getOrElse(BloomColsProp, ""))
      .getOrElse("").split(",").map(_.trim).filter(_.nonEmpty)
      .map(n => headMapping.getOrElse(n, n)).toSet
    entriesFromDir(s, dir, idCol, physical.schema, bloomCols)
  }

  /** One column's statistics folded over a file's row groups: `known`
    * is false when some row group holds values but records no min/max
    * (parquet-mr keeps none for INT96 and drops binary bounds above its
    * 4 KB stats limit), `bounds` is None when every value is NULL, and
    * `nulls` is None when some row group records no null count. */
  private final case class FooterStat[T](known: Boolean,
      bounds: Option[(T, T)], nulls: Option[Long])

  private def footerStat[T](
      chunks: Seq[(Long, Option[org.apache.parquet.column.statistics.Statistics[_]])],
      value: org.apache.parquet.column.statistics.Statistics[_] => (T, T))(
      implicit ord: Ordering[T]): FooterStat[T] =
    chunks.foldLeft(FooterStat[T](known = true, None, Some(0L))) {
      // a file without the column holds it as NULL in every row
      case (acc, (rows, None)) => acc.copy(nulls = acc.nulls.map(_ + rows))
      case (acc, (rows, Some(st))) =>
        val n = if (st.isNumNullsSet) Some(st.getNumNulls) else None
        val nulls = for (a <- acc.nulls; b <- n) yield a + b
        if (st.hasNonNullValue) {
          val (mn, mx) = value(st)
          FooterStat(acc.known, Some(acc.bounds.fold((mn, mx)) {
            case (a, b) => (ord.min(a, mn), ord.max(b, mx)) }), nulls)
        } else FooterStat(acc.known && n.contains(rows), acc.bounds, nulls)
    }

  /** Manifest entries for every parquet file directly under `dir`,
    * whose Spark schema is `schema`.  Rows, the key's min/max, long and
    * timestamp min/max, truncated string min/max and null counts come
    * from each file's parquet FOOTER (row-group statistics folded per
    * file), read on the driver — O(files) footer reads, no job; sizes
    * come from the one directory listing.  A readback job over the
    * files runs only for what a footer cannot give: bloom words of the
    * `bloomCols` (physical names) and min/max of INT96 timestamps
    * (Spark's default timestamp encoding, which parquet-mr keeps no
    * bounds for) — a table with neither runs none.  A string column
    * whose footer carries no bounds (values past parquet-mr's 4 KB stats
    * limit) records no string stats, which keeps the file in every
    * pruned read.  Files without rows get no entry.  Shared by
    * [[writeFiles]] (for files the engine just wrote) and [[convert]]
    * (for files imported IN PLACE from a plain parquet directory). */
  private def entriesFromDir(s: SparkSession, dir: String, idCol: String,
      schema: org.apache.spark.sql.types.StructType,
      bloomCols: Set[String]): Seq[FileEntry] = {
    import org.apache.parquet.column.statistics.{BinaryStatistics,
      LongStatistics}
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.spark.sql.types.{LongType, StringType, TimestampType}
    import scala.jdk.CollectionConverters._
    val conf = s.sparkContext.hadoopConfiguration
    val dirPath = new Path(dir)
    val files = dirPath.getFileSystem(conf).listStatus(dirPath).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
    // the read options built ONCE: left to build them per file from
    // the Hadoop conf, an open costs ~6 ms instead of ~0.2 ms (1000 small
    // files, 4-core VM, local disk)
    val readOpts = org.apache.parquet.HadoopReadOptions.builder(conf).build()
    val footers = files.map { st =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf),
        readOpts)
      try st -> r.getFooter.getBlocks.asScala.toSeq finally r.close()
    }
    // long columns record raw values; timestamp columns record epoch
    // MICROS in the same long stats map — a `ranges` prune on a
    // timestamp column takes micros
    val longCols = schema.fields.toIndexedSeq.filter(f => f.name != idCol &&
      (f.dataType == LongType || f.dataType == TimestampType))
    val strCols = schema.fields.toIndexedSeq
      .filter(f => f.name != idCol && f.dataType == StringType).map(_.name)
    val blooms = schema.fields.toIndexedSeq.filter(f => bloomCols(f.name) &&
      (f.dataType == StringType || f.dataType == LongType)).map(_.name)
    type Chunks = Seq[(Long,
      Option[org.apache.parquet.column.statistics.Statistics[_]])]
    def chunks(blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
        c: String): Chunks =
      blocks.map(b => b.getRowCount -> b.getColumns.asScala
        .find(_.getPath.toArray.toSeq == Seq(c)).map(_.getStatistics))
    // INT64 bounds in epoch micros (plain longs and MICROS timestamps
    // as stored, MILLIS scaled); None = the footer cannot bound this
    // column (INT96, NANOS), so the readback must
    def longStat(cs: Chunks): Option[FooterStat[Long]] = {
      val types = cs.flatMap(_._2).map(_.`type`()).distinct
      val scale = types match {
        case Seq() => Some(1L)
        case Seq(t) if t.getPrimitiveTypeName == PrimitiveTypeName.INT64 =>
          t.getLogicalTypeAnnotation match {
            case null => Some(1L)
            case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              ts.getUnit match {
                case LogicalTypeAnnotation.TimeUnit.MICROS => Some(1L)
                case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(1000L)
                case _ => None
              }
            case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
                if i.isSigned => Some(1L)
            case _ => None
          }
        case _ => None
      }
      scale.map(k => footerStat[Long](cs, st => {
        val l = st.asInstanceOf[LongStatistics]
        (l.getMin * k, l.getMax * k)
      })).filter(_.known)
    }
    implicit val unsignedBytes: Ordering[Array[Byte]] =
      (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b)
    val perFile = footers.map { case (st, blocks) =>
      val key = longStat(chunks(blocks, idCol))
      val longs = longCols.map(f => f.name -> longStat(chunks(blocks, f.name)))
      val strs = strCols.map(c => c -> footerStat[Array[Byte]](
        chunks(blocks, c), x => {
          val b = x.asInstanceOf[BinaryStatistics]
          (b.genericGetMin.getBytes, b.genericGetMax.getBytes)
        }))
      (st, blocks.map(_.getRowCount).sum, key, longs, strs)
    }.filter(_._2 > 0)
    // the readback: bloom words, the bounds and null counts of every
    // long/timestamp column some footer cannot bound, and the key when
    // a footer lacks it (never for files the engine writes)
    val boundCols =
      (if (perFile.exists(_._3.isEmpty)) Seq(idCol) else Seq.empty) ++
        longCols.map(_.name).filter(c =>
          perFile.exists(_._4.exists(l => l._1 == c && l._2.isEmpty)))
    val backCols = (boundCols ++ blooms).distinct
    val back: Map[String, org.apache.spark.sql.Row] =
      if (backCols.isEmpty || perFile.isEmpty) Map.empty
      else {
        val backSchema = org.apache.spark.sql.types.StructType(
          backCols.map(schema(_)))
        val raw = s.read.schema(backSchema)
          .parquet(perFile.map(_._1.getPath.toString): _*)
        def asLong(c: String): Column =
          if (schema(c).dataType == TimestampType) unix_micros(col(c))
          else col(c)
        val boundAggs = boundCols.flatMap(c => Seq(
          min(asLong(c)).as(s"__mn_$c"), max(asLong(c)).as(s"__mx_$c"),
          count(col(c)).as(s"__cnt_$c")))
        // per-file BLOOM FILTERS for the columns the `bloom.cols` table
        // property names (string/long only): point-predicate file
        // skipping without clustering — the role of Delta's bloom index
        // / parquet's bloom pages.  Positions are projected ONCE per row
        // (4 xxhash64 calls), then the 64 word aggregates are plain bit
        // arithmetic over those positions.
        val enriched = blooms.foldLeft(raw) { (acc, c) =>
          (0 until BloomHashes).foldLeft(acc) { (a, i) =>
            // null contributes no bits (a null can never be looked up);
            // -1 falls outside every word comparison below
            a.withColumn(s"__pos_${c}_$i",
              when(col(c).isNull, lit(-1L))
                .otherwise(pmod(xxhash64(col(c), lit(i)),
                  lit(BloomBits.toLong))))
          }
        }
        val bloomAggs = blooms.flatMap { c =>
          (0 until BloomWords).map { w =>
            val contrib = (0 until BloomHashes).map { i =>
              when(shiftright(col(s"__pos_${c}_$i"), 6) === lit(w.toLong),
                expr(s"shiftleft(1L, cast(__pos_${c}_$i % 64 as int))"))
                .otherwise(lit(0L))
            }.reduce(_ bitwiseOR _)
            bit_or(contrib).as(s"__bf_${c}_$w")
          }
        }
        enriched.groupBy(input_file_name().as("path"))
          .agg(count(lit(1)).as("rows"), boundAggs ++ bloomAggs: _*)
          .collect().map(r => normPath(r.getAs[String]("path")) -> r).toMap
      }
    def backLong(r: Option[org.apache.spark.sql.Row], c: String)
        : Option[(Long, Long)] = r.flatMap { row =>
      val mn = row.getAs[Any](s"__mn_$c"); val mx = row.getAs[Any](s"__mx_$c")
      if (mn == null || mx == null) None
      else Some((mn.asInstanceOf[Long], mx.asInstanceOf[Long]))
    }
    perFile.map { case (st, rows, key, longs, strs) =>
      val path = st.getPath.toUri.toString
      val r = back.get(normPath(path))
      // an all-null key records (0, 0), as an aggregate's null bound did
      val (minId, maxId) = key match {
        case Some(k) => k.bounds.getOrElse((0L, 0L))
        case None => backLong(r, idCol).getOrElse((0L, 0L))
      }
      // an all-null column has no bounds: no stats entry (pruning then
      // keeps the file — conservative)
      val longStats = longs.flatMap {
        case (c, Some(fs)) => fs.bounds.map(c -> _)
        case (c, None) => backLong(r, c).map(c -> _)
      }.toMap
      // min/max of the values cut to StrStatLen code points: the cut is
      // monotone, so cut(min) and cut(max) bound the cut values; the max
      // takes the bump when the max itself was cut
      def cut(v: String): String =
        if (v.codePointCount(0, v.length) <= StrStatLen) v
        else v.substring(0, v.offsetByCodePoints(0, StrStatLen))
      val sstats = strs.flatMap { case (c, fs) =>
        fs.bounds.filter(_ => fs.known).flatMap { case (mnB, mxB) =>
          val mn = new String(mnB, java.nio.charset.StandardCharsets.UTF_8)
          val mx = new String(mxB, java.nio.charset.StandardCharsets.UTF_8)
          truncUpper(cut(mx), cut(mx).length < mx.length)
            .map(up => c -> (cut(mn), up))
        }
      }.toMap
      // null counts for every stats-eligible column (Iceberg's
      // null_value_counts)
      val nulls = (longs.flatMap {
        case (c, Some(fs)) => fs.nulls.map(c -> _)
        case (c, None) => r.map(row => c -> (rows - row.getAs[Long](s"__cnt_$c")))
      } ++ strs.flatMap { case (c, fs) => fs.nulls.map(c -> _) }).toMap
      val bloomWords = blooms.map { c =>
        // an all-null column leaves an empty filter: every lookup
        // would prune the file, which is CORRECT (no value matches)
        c -> (0 until BloomWords).map { w =>
          val x = r.map(_.getAs[Any](s"__bf_${c}_$w")).orNull
          if (x == null) 0L else x.asInstanceOf[Long]
        }
      }.toMap
      FileEntry(path, rows, minId, maxId, None, longStats, sstats,
        bloomWords, st.getLen, nulls)
    }.sortBy(_.path)
  }

  /** Commit `newFiles ++ carryOver(parent)` as the next version via the
    * CAS protocol.  `carryOver` is re-evaluated against the CURRENT
    * latest snapshot on every attempt, so a committer that loses the
    * race rebases (e.g. an append carries the winner's files too).
    * Returns the committed version number. */
  /** `propsOf` derives the new version's table properties from the
    * parent observed on EACH CAS attempt (default: inherit verbatim —
    * properties follow the head lineage through every op, including
    * restore: rolling content back does not roll policy back).  Like
    * `carryOver` it may throw [[java.util.ConcurrentModificationException]]
    * when the parent's properties no longer match what the caller
    * validated against — the metadata-conflict detection every lake
    * format runs so a write racing an ADD CONSTRAINT cannot slip
    * unvalidated rows in. */
  /** DISJOINT-WRITER REBASE metric (observability + spec pin): commits
    * that landed on a moved head WITHOUT a full file-set recompute,
    * because the intervening commits touched none of their rewrite
    * set (see `rebaseKeep`). */
  private[graft] val rebaseCommits =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Test seam: invoked once at the first CAS attempt of the next
    * commit — lets a spec interleave a concurrent commit between a
    * DML's file-set derivation and its CAS, deterministically. */
  private[graft] var testBeforeCommit: () => Unit = () => ()

  /** Test seam: invoked once inside the next slot claim, AFTER the
    * temp manifest is fully on disk and BEFORE the atomic publish —
    * the window a killed committer leaves a `.tmp-` orphan.  Lets the
    * crash-recovery spec halt a child JVM at exactly that instant. */
  private[graft] var testBeforeClaim: () => Unit = () => ()

  private def commitManifest(s: SparkSession, root: String, op: String,
      newFiles: Seq[FileEntry],
      carryOver: Option[Snapshot] => Seq[FileEntry],
      txnId: Option[String] = None,
      requireParent: Option[Int] = None,
      propsOf: Option[Snapshot] => Map[String, String] =
        parent => parent.map(_.props).getOrElse(Map.empty),
      rebaseKeep: Option[Set[String]] = None,
      rebaseAddedOk: Seq[FileEntry] => Boolean = _.isEmpty): Int = {
    val fs = fileSystem(s, root)
    fs.mkdirs(new Path(root, VersionsDir))
    val mapper = new ObjectMapper()
    var committed = -1
    var attempts = 0
    while (committed < 0) {
      attempts += 1
      if (attempts > 100)
        throw new IllegalStateException(
          s"commit to $root lost the version race $attempts times " +
            "(or the claim create keeps failing for a non-race reason)")
      if (attempts == 1) {
        val hook = testBeforeCommit
        testBeforeCommit = () => ()
        hook()
      }
      // exactly-once: if this transaction already committed (a retried
      // micro-batch, a racing duplicate of ourselves), return its
      // version instead of applying twice; our orphaned data files are
      // vacuum's problem, by design
      txnId.foreach { t =>
        findCommittedTxn(s, root, t).foreach(v => return v)
      }
      val parent = latestVersion(s, root).map(snapshot(s, root, _))
      // a carry list computed against a specific parent snapshot is
      // only valid on TOP of that snapshot: if someone else committed
      // first, the files we'd carry may no longer exist in the head
      // (e.g. the winner rewrote them), so surface the conflict and
      // let the caller re-derive its file sets against the new head.
      //
      // DISJOINT-WRITER FAST PATH (`rebaseKeep`): when the caller's
      // rewrite set is known, a moved head does NOT force a recompute
      // if (a) every rewrite-set entry is present in the head
      // IDENTICAL to the derived-against parent's entry (same DV
      // pointer, stats, everything — FileEntry equality), so the rows
      // we rewrote are exactly the rows the head still holds there,
      // and (b) the head's properties equal the derived parent's
      // (no constraint/schema/mapping landed that our validation
      // missed).  The commit then serializes AFTER the interloper:
      // carryOver(head) re-derives the carry list from the head, so
      // the interloper's files survive.  This is Delta's logical
      // conflict check — two UPDATEs on disjoint file sets commit
      // with one recompute between them instead of two.
      requireParent.foreach { expected =>
        if (!parent.map(_.version).contains(expected)) {
          val disjoint = rebaseKeep.exists { rewriteSet =>
            parent.exists { head =>
              val expSnap =
                try snapshot(s, root, expected)
                catch { case _: Throwable => null }
              expSnap != null && head.props == expSnap.props && {
                val expBy = expSnap.files.iterator
                  .map(f => normPath(f.path) -> f).toMap
                val headBy = head.files.iterator
                  .map(f => normPath(f.path) -> f).toMap
                rewriteSet.forall(p =>
                  expBy.get(p).exists(e => headBy.get(p).contains(e))) &&
                // files the interloper ADDED may hold rows inside OUR
                // READ set even though they touch none of our rewrite
                // files — e.g. two insert-only MERGEs sharing a source
                // key would both anti-join against the OLD snapshot
                // and commit a duplicate (non-serializable).  Each DML
                // supplies the check proving its read set disjoint
                // from the additions (stats for predicate DML, a
                // source-key probe for merge); the conservative
                // default is "no additions at all".
                rebaseAddedOk(head.files.filterNot(f =>
                  expBy.contains(normPath(f.path))))
              }
            }
          }
          if (!disjoint)
            throw new java.util.ConcurrentModificationException(
              s"table $root moved past v$expected " +
                s"(head is v${parent.map(_.version).getOrElse(0)})")
          rebaseCommits.incrementAndGet()
          ()
        }
      }
      val v = parent.map(_.version + 1).getOrElse(1)
      val files = (carryOver(parent) ++ newFiles).sortBy(_.path)
      // every manifest declares the FORMAT VERSION it was written
      // under (inherited explicitly, stamped on first commit): the
      // reader-side gate in snapshot() turns "a newer engine wrote
      // this table" into a clear refusal instead of a silent misread —
      // Delta's protocol action
      val props = {
        val p0 = propsOf(parent)
        if (p0.contains(FormatVersionProp)) p0
        else p0 + (FormatVersionProp -> SupportedFormatVersion.toString)
      }
      // TWO-LEVEL layout when `manifest.groupSize` is set: reuse every
      // parent group whose entries ALL survive unchanged (FileEntry
      // equality includes the DV pointer, stats and blooms, so any
      // mutation of a member forces its group to rewrite), pack the
      // rest into fresh groups, and keep a sub-group remainder loose
      // in the root.  What a commit WRITES is then O(touched groups +
      // new files), not O(all files) — the manifest-size ceiling the
      // single-level layout documented.
      // explicit property wins (an unparsable explicit value reads as
      // 0 — the pre-auto-enable behavior — never as a silent auto
      // opt-in); absent, auto-group past the threshold WITH hysteresis:
      // once a lineage is grouped, it stays grouped down to half the
      // threshold, so a file count oscillating around the boundary
      // (ingest appends up, compaction down) cannot flip the whole
      // layout — and pay the full re-pack — on every commit
      val groupSize = props.get(ManifestGroupSizeProp) match {
        case Some(x) => scala.util.Try(x.toInt).getOrElse(0)
        case None =>
          val parentGrouped = parent.exists(_.groups.nonEmpty)
          if (files.size >= AutoGroupFileThreshold ||
            (parentGrouped && files.size >= AutoGroupFileThreshold / 2))
            AutoGroupSize
          else 0
      }
      val (looseOut, groupsOut) =
        if (groupSize <= 0) (files, Seq.empty[GroupRef])
        else {
          val fileSet = files.toSet
          val reused = parent.map(_.groups).getOrElse(Seq.empty)
            .filter { case (_, entries) =>
              entries.nonEmpty && entries.forall(fileSet.contains) }
          val covered = reused.flatMap(_._2).toSet
          val rest = files.filterNot(covered.contains)
          val (full, partial) = rest.grouped(groupSize).toSeq
            .partition(_.size == groupSize)
          (partial.flatten,
            reused.map(_._1) ++ full.map(g => writeGroup(s, root, g)))
        }
      val node = mapper.createObjectNode()
      node.put("version", v); node.put("op", op)
      // commit wall-clock: powers DESCRIBE HISTORY and time-based
      // retention; advisory (clock skew across writers is possible),
      // never used for correctness decisions
      node.put("ts", System.currentTimeMillis())
      txnId.foreach(node.put("txn", _))
      if (props.nonEmpty) {
        val pn = node.putObject("props")
        props.toSeq.sortBy(_._1).foreach { case (k, pv) => pn.put(k, pv) }
      }
      val arr = node.putArray("files")
      looseOut.foreach(writeEntry(arr, _))
      if (groupsOut.nonEmpty) {
        val gn = node.putArray("groups")
        groupsOut.foreach { g =>
          val o = gn.addObject()
          o.put("path", g.path); o.put("n", g.n); o.put("rows", g.rows)
          o.put("minId", g.minId); o.put("maxId", g.maxId)
        }
      }
      val target = manifestPath(root, v)
      if (claimSlotWithContent(fs, s, root, target,
          mapper.writeValueAsString(node).getBytes("UTF-8")))
        committed = v
      // not claimed: loop — latestVersion now sees the winner, carryOver
      // rebases on it
    }
    committed
  }

  /** Append: new files join the parent snapshot's files untouched.
    * Concurrency-safe without conflict detection — the carry list is
    * re-derived from the CURRENT head on every CAS attempt.  `txnId`
    * makes the commit idempotent (a retry of the same transaction
    * returns the already-committed version instead of appending twice). */
  /** REPLACE WHERE (predicate-scoped overwrite, Delta's
    * `option("replaceWhere", ...)` semantics): one commit that deletes
    * every current row matching `cond` and inserts `df` — the
    * idempotent reload unit for a partition-shaped slice ("rebuild
    * yesterday's crawl", "re-redact source X") that a full overwrite
    * would turn into a table rewrite.  Every INCOMING row must itself
    * satisfy `cond` (validated in one aggregation before anything is
    * written — Delta's constraint): otherwise a retried reload could
    * leak rows outside the slice it claims to own, and two
    * slice-owners could silently overwrite each other.  Copy-on-write
    * at file granularity: files with no matching row carry by
    * reference; a NULL condition keeps the row (SQL semantics, as in
    * [[delete]]).  CHECK constraints gate `df`.  Same optimistic-
    * concurrency + txn idempotence contract as [[merge]]. */
  def replaceWhere(s: SparkSession, root: String, cond: Column,
      df: DataFrame, idCol: String, numFiles: Int,
      txnId: Option[String] = None): Int = {
    txnId.foreach(t => findCommittedTxn(s, root, t).foreach(v => return v))
    // outside-slice guard: one job, before the conflict loop (the
    // batch never changes across retries)
    val outside = df.agg(sum(when(!coalesce(cond, lit(false)), 1L)
      .otherwise(0L)).as("n")).head().getAs[Any]("n")
    val nOutside =
      if (outside == null) 0L else outside.asInstanceOf[Long]
    require(nOutside == 0L,
      s"replaceWhere: $nOutside incoming rows do not satisfy the " +
        "replacement predicate — the batch would write outside the " +
        "slice it replaces")
    retryingConflicts(root) { () =>
      txnId.foreach(t => findCommittedTxn(s, root, t).foreach(v => return v))
      val parentV = latestVersion(s, root).getOrElse(
        throw new IllegalStateException("replaceWhere on empty table"))
      val snap = snapshot(s, root, parentV)
      enforceConstraints(df, snap.constraints, s"replaceWhere on $root")
      val current = readLiveWithFile(s, snap)
      val touched = current.filter(coalesce(cond, lit(false)))
        .select(col("__graft_file").as("f")).distinct()
        .collect().map(_.getString(0)).toSet
      val (rewrite, _) =
        snap.files.partition(f => touched.contains(normPath(f.path)))
      val survivors =
        if (rewrite.isEmpty) df
        else readFilesOf(s, snap, rewrite)
          .filter(!coalesce(cond, lit(false)))
          .unionByName(df, allowMissingColumns = true)
      val newFiles = writeFiles(s, root, survivors, idCol, numFiles)
      // carry derives from the CURRENT head (not the captured list):
      // under the disjoint-writer rebase an interloper's files must
      // survive our commit
      commitManifest(s, root, "replace-where", newFiles,
        p => p.map(_.files).getOrElse(Seq.empty)
          .filterNot(f => touched.contains(normPath(f.path))),
        txnId, requireParent = Some(parentV),
        propsOf = p => schemaProp(
          p.map(_.props).getOrElse(Map.empty), df),
        rebaseKeep = Some(touched),
        rebaseAddedOk = condReadSafe(snap, idCol, cond))
    }
  }

  /** CONVERT TO GRAFT: adopt a plain parquet DIRECTORY as version 1
    * of a table IN PLACE — zero rows copied or rewritten, the
    * onboarding move Delta ships as `CONVERT TO DELTA`.  The schema is
    * the directory's inferred parquet schema (one footer job), and
    * [[entriesFromDir]] records the same per-file metadata a native
    * write would (row counts, key zone map, long/timestamp/string
    * column stats, file sizes) from the files' footers, plus a
    * readback for INT96 timestamp bounds when the files carry any,
    * so time travel, stats-pruned reads, the connector,
    * DML and the streaming source all work immediately; every later
    * commit is ordinary.  The imported files live wherever they
    * already are (typically outside `root/data`), which keeps them
    * out of vacuum's reclaim set — OPTIMIZE/cluster rewrites migrate
    * rows into engine-managed files over time, after which the
    * originals are simply no longer referenced.  `root` may be the
    * directory itself (`convert(s, dir, dir, key)`) for a true
    * in-place adoption.  Fails if `root` already has commits. */
  def convert(s: SparkSession, root: String, dir: String,
      idCol: String): Int = {
    require(latestVersion(s, root).isEmpty,
      s"convert target $root already has commits")
    val foreign = s.read.parquet(dir)
    val entries = entriesFromDir(s, dir, idCol, foreign.schema, Set.empty)
    require(entries.nonEmpty, s"no parquet part files under $dir")
    commitManifest(s, root, "convert", entries, _ => Seq.empty, None,
      propsOf = parent => {
        val inherited = parent.map(_.props).getOrElse(Map.empty)
        schemaProp(inherited + (TableKeyProp -> idCol), foreign)
      })
  }

  /** CREATE TABLE: commit VERSION 1 as a pure-metadata manifest — no
    * data files — recording the table SCHEMA, KEY and any properties
    * (including `constraint.<name>` CHECK predicates), so a SQL-only
    * lifecycle can bootstrap a table before its first INSERT (the one
    * verb the catalog previously lacked; Delta's CreateDeltaTable).
    * The empty table reads as zero rows WITH the recorded schema, and
    * every subsequent write validates against it exactly as against a
    * connector-seeded table.  Refuses a root that already holds a
    * committed table. */
  def create(s: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType, keyCol: String,
      props: Map[String, String] = Map.empty): Int = {
    require(schema.fieldNames.contains(keyCol),
      s"table.key '$keyCol' is not a column of the declared schema " +
        s"(${schema.fieldNames.mkString(", ")})")
    require(schema(keyCol).dataType ==
      org.apache.spark.sql.types.LongType,
      s"table.key '$keyCol' must be BIGINT (key zone maps are long " +
        s"bounds); got ${schema(keyCol).dataType.simpleString}")
    props.keys.find(k => k == TableSchemaProp || k == TableKeyProp ||
        k == ColumnMappingProp || k == DroppedColsProp).foreach(k =>
      throw new IllegalArgumentException(
        s"property '$k' is engine-managed; declare schema/key through " +
          "the CREATE TABLE statement itself"))
    // validate constraint predicates parse before committing them
    props.collect { case (k, v) if k.startsWith(ConstraintPrefix) =>
      (k.stripPrefix(ConstraintPrefix), v) }.foreach { case (n, p) =>
      require(n.nonEmpty && !n.contains("."),
        s"constraint name must be non-empty and dot-free, got '$n'")
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(p)
    }
    def refuse(parent: Option[Snapshot]): Unit = parent.foreach { p =>
      throw new IllegalStateException(
        s"CREATE TABLE: $root already holds a committed table " +
          s"(head v${p.version}); drop/clear the directory or use " +
          "INSERT/ALTER on the existing table")
    }
    commitManifest(s, root, "create", Seq.empty,
      parent => { refuse(parent); Seq.empty },
      propsOf = parent => {
        refuse(parent)
        val empty = s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        schemaProp(props + (TableKeyProp -> keyCol), empty)
      })
  }

  /** TRUNCATE TABLE: one metadata commit whose file list is EMPTY —
    * no scan, no rewrite (a predicate delete would read every row to
    * keep none).  History stays time-travelable; properties follow
    * head lineage like every commit. */
  def truncate(s: SparkSession, root: String): Int = {
    require(latestVersion(s, root).isDefined,
      s"TRUNCATE on empty table $root")
    commitManifest(s, root, "truncate", Seq.empty, _ => Seq.empty)
  }

  def append(s: SparkSession, root: String, df: DataFrame,
      idCol: String, numFiles: Int, op: String = "append",
      txnId: Option[String] = None): Int = {
    // pre-check before the expensive write; commitManifest re-checks
    // under the CAS loop for racing duplicates
    txnId.foreach(t => findCommittedTxn(s, root, t).foreach(v => return v))
    // CHECK constraints gate the batch BEFORE the expensive write
    // (zero actions when the table has none); if an ADD CONSTRAINT
    // lands between validation and our commit winning the CAS, the
    // propsOf hook below sees the changed set on that attempt's parent
    // and re-validates — no row slips past a racing constraint
    var validated = constraints(s, root)
    enforceConstraints(df, validated, s"append to $root")
    val newFiles = writeFiles(s, root, df, idCol, numFiles)
    commitManifest(s, root, op, newFiles,
      parent => parent.map(_.files).getOrElse(Seq.empty), txnId,
      propsOf = parent => {
        val pc = parent.map(_.constraints).getOrElse(Map.empty)
        if (pc != validated) {
          enforceConstraints(df, pc, s"append to $root (constraints " +
            "changed mid-commit; re-validated)")
          validated = pc
        }
        val inherited = parent.map(_.props).getOrElse(Map.empty)
        // self-describing manifests: record the table key once so
        // readers that only see the root (the graft-table connector's
        // FileIndex) can map key predicates onto minId/maxId pruning,
        // and keep the logical schema current (widened on evolution)
        schemaProp(
          if (inherited.contains(TableKeyProp)) inherited
          else inherited + (TableKeyProp -> idCol), df)
      })
  }

  /** INSERT OVERWRITE: commit a version whose file list REPLACES the
    * head's entirely — previous versions stay time-travelable and
    * vacuum-governed, exactly Delta's overwrite mode.  CHECK
    * constraints validate the incoming batch the same way [[append]]
    * does (an overwrite is still a row-adding write); table properties
    * follow head lineage, so policy survives the content swap. */
  def overwrite(s: SparkSession, root: String, df: DataFrame,
      idCol: String, numFiles: Int,
      txnId: Option[String] = None): Int = {
    txnId.foreach(t => findCommittedTxn(s, root, t).foreach(v => return v))
    var validated = constraints(s, root)
    enforceConstraints(df, validated, s"overwrite of $root")
    val newFiles = writeFiles(s, root, df, idCol, numFiles, replace = true)
    commitManifest(s, root, "overwrite", newFiles, _ => Seq.empty, txnId,
      propsOf = parent => {
        val pc = parent.map(_.constraints).getOrElse(Map.empty)
        if (pc != validated) {
          enforceConstraints(df, pc, s"overwrite of $root (constraints " +
            "changed mid-commit; re-validated)")
          validated = pc
        }
        val inherited = parent.map(_.props).getOrElse(Map.empty)
        schemaProp(
          if (inherited.contains(TableKeyProp)) inherited
          else inherited + (TableKeyProp -> idCol), df, replace = true)
      })
  }

  /** Re-run `op` (which derives file sets against the head snapshot)
    * until its commit lands on the parent it was derived from — the
    * optimistic-concurrency loop every lake format runs for mutations
    * whose carry list is only valid on top of a specific snapshot. */
  private def retryingConflicts(root: String)(op: () => Int): Int = {
    var out = -1
    var attempts = 0
    while (out < 0) {
      attempts += 1
      if (attempts > 20) throw new IllegalStateException(
        s"mutation of $root kept conflicting after $attempts attempts")
      try out = op()
      catch { case _: java.util.ConcurrentModificationException => () }
    }
    out
  }

  /** One aggregation pass counting, per CHECK constraint, the incoming
    * rows that VIOLATE it — the predicate evaluates to FALSE; a NULL
    * (unknown) predicate PASSES, the SQL-standard CHECK semantics
    * Delta's constraints follow too (`NOT NULL` is therefore spelled
    * `col IS NOT NULL`, which never evaluates to unknown).  Throws
    * with per-constraint counts when any row violates.  ZERO Spark
    * actions when the constraint set is empty — unconstrained tables
    * pay nothing.  Scale: one distributed aggregation over the batch
    * being written (never the table), all constraints folded into a
    * single pass. */
  private def enforceConstraints(df: DataFrame,
      cs: Map[String, String], what: String): Unit = if (cs.nonEmpty) {
    val names = cs.keys.toSeq.sorted
    // a constraint may reference a column this batch does not carry
    // (a pre-evolution-shaped append to a table whose constraint names
    // an evolved column): the column reads as NULL for these rows, so
    // the predicate is UNKNOWN and PASSES — null-fill the missing
    // references instead of throwing AnalysisException, matching what
    // the same rows evaluate to after they land
    val referenced = names.flatMap(n =>
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(cs(n)).references.map(_.name)).distinct
    val present = df.columns.toSet
    val padded = referenced.filterNot(present).foldLeft(df)(
      (acc, c) => acc.withColumn(c, lit(null)))
    val aggs = names.map { n =>
      sum(when(!coalesce(expr(cs(n)).cast("boolean"), lit(true)), 1L)
        .otherwise(0L)).as(s"__viol_$n")
    }
    val r = padded.agg(aggs.head, aggs.tail: _*).collect().head
    val bad = names.flatMap { n =>
      val c = r.getAs[Any](s"__viol_$n")
      val cnt = if (c == null) 0L else c.asInstanceOf[Long]
      if (cnt > 0) Some(s"$n [${cs(n)}]: $cnt rows") else None
    }
    if (bad.nonEmpty) throw new IllegalStateException(
      s"CHECK constraint violation on $what: ${bad.mkString("; ")}")
  }

  /** The head snapshot's CHECK constraints (empty for a fresh root). */
  def constraints(s: SparkSession, root: String): Map[String, String] =
    latestVersion(s, root)
      .map(v => snapshot(s, root, v).constraints).getOrElse(Map.empty)

  /** ALTER TABLE ADD CONSTRAINT ... CHECK (predicate): versioned table
    * metadata, enforced on every row-adding write from this commit on
    * ([[append]], [[merge]], and everything routed through them —
    * streaming upserts, CDC ingest, replication).  Existing LIVE rows
    * are validated first, in one aggregation pass (the same full-scan
    * validation Delta's ADD CONSTRAINT runs) — a table that already
    * violates the predicate rejects the constraint, loudly.  The
    * validation + commit run under the optimistic-concurrency loop
    * with a parent pin: data committed between validation and the
    * constraint landing is re-validated on retry, so no row ever
    * slips in unchecked.  Constraints ride the manifest `props`
    * (`constraint.<name>`), so they time-travel, clone, and survive
    * restore with head-lineage semantics (rolling CONTENT back does
    * not roll POLICY back). */
  /** ALTER TABLE ADD COLUMN: a METADATA-ONLY commit that widens the
    * recorded logical schema with a new nullable column — no file is
    * touched, and until data arrives every reader (library and
    * connector both serve the recorded schema) sees NULL, exactly the
    * mergeSchema semantics an evolved append would produce.  The
    * column must not already exist; the op rebases onto whatever head
    * wins the CAS (pure metadata conflicts with nothing).  Delta's
    * ALTER TABLE ADD COLUMNS. */
  /** `defaultSql`, when given, records CURRENT_DEFAULT on the new
    * field exactly as [[setColumnDefault]] would — FUTURE inserts
    * omitting the column fill it; EXISTING rows keep reading NULL
    * (this is deliberately NOT SQL's ADD-COLUMN-with-DEFAULT
    * existence-default contract, which is why the SQL DDL surface
    * rejects the DEFAULT spelling and callers of this API opt into
    * the future-inserts-only semantics knowingly).  `comment` lands
    * in the field metadata under Spark's standard "comment" key. */
  def addColumn(s: SparkSession, root: String, name: String,
      dataType: org.apache.spark.sql.types.DataType,
      defaultSql: Option[String] = None,
      comment: Option[String] = None): Int = {
    require(latestVersion(s, root).isDefined,
      s"addColumn on empty table $root")
    // validate the DEFAULT expression up front (same gate as
    // setColumnDefault) so a broken SQL text fails the DDL, not some
    // later INSERT
    defaultSql.foreach(t =>
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(t))
    commitManifest(s, root, "add-column", Seq.empty,
      parent => parent.map(_.files).getOrElse(Seq.empty),
      propsOf = parent => {
        val inherited = parent.map(_.props).getOrElse(Map.empty)
        val pSnap = parent.getOrElse(
          throw new IllegalStateException(s"addColumn on empty $root"))
        val exists = inherited.get(TableSchemaProp).exists(j =>
          org.apache.spark.sql.types.DataType.fromJson(j)
            .asInstanceOf[org.apache.spark.sql.types.StructType]
            .fieldNames.contains(name))
        require(!exists, s"column '$name' already exists on $root")
        // RE-ADD of a retired name (dropped earlier, or the storage
        // name of a renamed column): old files still carry data under
        // that physical name, so the new logical column binds a FRESH
        // physical name via the mapping — the retired values can never
        // resurrect into it
        val mapping = mappingOf(pSnap)
        val retired = droppedOf(pSnap) ++ mapping.values
        val nextV = pSnap.version + 1
        // ADD COLUMN ... DEFAULT records CURRENT_DEFAULT exactly the
        // way setColumnDefault does: FUTURE inserts omitting the
        // column fill the default; existing rows keep reading NULL
        // (SET DEFAULT semantics — this format never rewrites data on
        // DDL, so there is no EXISTS_DEFAULT backfill)
        val meta = {
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
          defaultSql.foreach(mb.putString("CURRENT_DEFAULT", _))
          comment.foreach(mb.putString("comment", _))
          mb.build()
        }
        val (field, extraProps) =
          if (!retired.contains(name))
            (org.apache.spark.sql.types.StructField(name, dataType,
              nullable = true, metadata = meta),
              Map.empty[String, String])
          else {
            val phys = s"${name}__p$nextV"
            (org.apache.spark.sql.types.StructField(name, dataType,
              nullable = true, metadata = meta),
              Map(ColumnMappingProp ->
                mappingJson(mapping + (name -> phys))))
          }
        val dummy = s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(field)))
        // bypass schemaProp's retired-name collision guard for the
        // re-add case: the fresh physical mapping makes it safe
        val widened = {
          val old = inherited.get(TableSchemaProp)
            .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
              .asInstanceOf[org.apache.spark.sql.types.StructType])
            .getOrElse(new org.apache.spark.sql.types.StructType())
          org.apache.spark.sql.types.StructType(
            old.fields :+ field).json
        }
        inherited ++ extraProps + (TableSchemaProp -> widened)
      })
  }

  /** ALTER TABLE ALTER COLUMN ... SET/DROP DEFAULT: a METADATA-ONLY
    * commit rewriting the column's CURRENT_DEFAULT field metadata in
    * the recorded schema.  Only FUTURE inserts observe the change
    * (existing rows written without the column keep reading NULL —
    * SQL's SET DEFAULT never rewrites data), which is why
    * EXISTS_DEFAULT is left untouched. */
  def setColumnDefault(s: SparkSession, root: String, name: String,
      sqlText: Option[String]): Int = {
    sqlText.foreach(t =>
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(t))
    commitManifest(s, root, "set-default", Seq.empty,
      parent => parent.map(_.files).getOrElse(Seq.empty),
      propsOf = parent => {
        val pSnap = parent.getOrElse(throw new IllegalStateException(
          s"setColumnDefault on empty table $root"))
        val inherited = pSnap.props
        val recorded = inherited.get(TableSchemaProp)
          .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
          .getOrElse(throw new IllegalStateException(
            s"setColumnDefault needs a recorded table.schema on $root"))
        require(recorded.fieldNames.contains(name),
          s"no column '$name' on $root")
        val updated = org.apache.spark.sql.types.StructType(
          recorded.fields.map { f =>
            if (f.name != name) f
            else {
              val mb = new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
              sqlText match {
                case Some(t) => mb.putString("CURRENT_DEFAULT", t)
                case None => mb.remove("CURRENT_DEFAULT")
              }
              f.copy(metadata = mb.build())
            }
          })
        inherited + (TableSchemaProp -> updated.json)
      })
  }

  /** ALTER TABLE RENAME COLUMN: a METADATA-ONLY commit — zero files
    * rewritten.  The column's PHYSICAL storage name never changes
    * (Delta's column-mapping invariant), so old files keep reading;
    * the manifest records `logical -> physical` and every reader
    * renames on the way out, every writer on the way in.  Time travel
    * is automatically correct: each snapshot carries its own mapping,
    * so a pre-rename version still reads under the old name.  The
    * table KEY and constraint-referenced columns refuse to rename
    * (zone maps, DV sidecars and predicate texts bind their names). */
  def renameColumn(s: SparkSession, root: String, from: String,
      to: String): Int = {
    require(from != to, "rename to the same name")
    commitManifest(s, root, "rename-column", Seq.empty,
      parent => parent.map(_.files).getOrElse(Seq.empty),
      propsOf = parent => {
        val pSnap = parent.getOrElse(throw new IllegalStateException(
          s"renameColumn on empty table $root"))
        val inherited = pSnap.props
        val recorded = inherited.get(TableSchemaProp)
          .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
          .getOrElse(throw new IllegalStateException(
            s"renameColumn needs a recorded table.schema on $root"))
        require(recorded.fieldNames.contains(from),
          s"no column '$from' on $root")
        require(!recorded.fieldNames.contains(to),
          s"column '$to' already exists on $root")
        require(!inherited.get(TableKeyProp).contains(from),
          s"cannot rename the table key '$from' (zone maps and " +
            "deletion vectors bind its name)")
        val referencing = pSnap.constraints.filter { case (_, p) =>
          org.apache.spark.sql.catalyst.parser.CatalystSqlParser
            .parseExpression(p).references.exists(_.name == from) }
        require(referencing.isEmpty,
          s"cannot rename '$from': referenced by constraint(s) " +
            s"${referencing.keys.mkString(", ")} — drop them first")
        val mapping = mappingOf(pSnap)
        val phys = mapping.getOrElse(from, from)
        val mapping2 = (mapping - from) ++
          (if (to == phys) Map.empty[String, String]
           else Map(to -> phys))
        val renamed = org.apache.spark.sql.types.StructType(
          recorded.fields.map(f =>
            if (f.name == from) f.copy(name = to) else f))
        // bloom enrollment follows the logical name
        val bloomed = inherited.get(BloomColsProp).map(v =>
          v.split(",").map(_.trim).filter(_.nonEmpty)
            .map(n => if (n == from) to else n).mkString(","))
        val base = inherited +
          (TableSchemaProp -> renamed.json)
        val withMap =
          if (mapping2.isEmpty) base - ColumnMappingProp
          else base + (ColumnMappingProp -> mappingJson(mapping2))
        bloomed.map(b => withMap + (BloomColsProp -> b))
          .getOrElse(withMap)
      })
  }

  /** ALTER TABLE DROP COLUMN: a METADATA-ONLY commit — the recorded
    * schema narrows, readers stop projecting the column, files are
    * untouched (maintenance rewrites physically shed the data over
    * time).  The physical name is RETIRED (`column.dropped`), so a
    * later ADD COLUMN of the same name binds a fresh physical name
    * and old values can never resurrect; appends introducing the
    * retired name are rejected.  Key and constraint-referenced
    * columns refuse to drop. */
  def dropColumn(s: SparkSession, root: String, name: String): Int =
    commitManifest(s, root, "drop-column", Seq.empty,
      parent => parent.map(_.files).getOrElse(Seq.empty),
      propsOf = parent => {
        val pSnap = parent.getOrElse(throw new IllegalStateException(
          s"dropColumn on empty table $root"))
        val inherited = pSnap.props
        val recorded = inherited.get(TableSchemaProp)
          .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
          .getOrElse(throw new IllegalStateException(
            s"dropColumn needs a recorded table.schema on $root"))
        require(recorded.fieldNames.contains(name),
          s"no column '$name' on $root")
        require(!inherited.get(TableKeyProp).contains(name),
          s"cannot drop the table key '$name'")
        val referencing = pSnap.constraints.filter { case (_, p) =>
          org.apache.spark.sql.catalyst.parser.CatalystSqlParser
            .parseExpression(p).references.exists(_.name == name) }
        require(referencing.isEmpty,
          s"cannot drop '$name': referenced by constraint(s) " +
            s"${referencing.keys.mkString(", ")} — drop them first")
        val mapping = mappingOf(pSnap)
        val phys = mapping.getOrElse(name, name)
        val narrowed = org.apache.spark.sql.types.StructType(
          recorded.fields.filterNot(_.name == name))
        val dropped2 = droppedOf(pSnap) + phys
        val mapping2 = mapping - name
        val bloomed = inherited.get(BloomColsProp).map(v =>
          v.split(",").map(_.trim).filter(_.nonEmpty)
            .filterNot(_ == name).mkString(","))
        val base = inherited +
          (TableSchemaProp -> narrowed.json) +
          (DroppedColsProp -> dropped2.toSeq.sorted.mkString(","))
        val withMap =
          if (mapping2.isEmpty) base - ColumnMappingProp
          else base + (ColumnMappingProp -> mappingJson(mapping2))
        bloomed.map(b => withMap + (BloomColsProp -> b))
          .getOrElse(withMap)
      })

  def addConstraint(s: SparkSession, root: String, name: String,
      predicate: String): Int = {
    require(name.nonEmpty && !name.contains("."),
      s"constraint name must be non-empty and dot-free, got '$name'")
    retryingConflicts(root) { () =>
      val parentV = latestVersion(s, root).getOrElse(
        throw new IllegalStateException(
          s"cannot add constraint to empty table $root"))
      val snap = snapshot(s, root, parentV)
      enforceConstraints(readFilesOf(s, snap, snap.files),
        Map(name -> predicate), s"existing rows of $root")
      commitManifest(s, root, "set-constraint", Seq.empty,
        _ => snap.files, requireParent = Some(parentV),
        propsOf = p => p.map(_.props).getOrElse(Map.empty) +
          (ConstraintPrefix + name -> predicate))
    }
  }

  /** ALTER TABLE DROP CONSTRAINT: removes the named constraint from
    * this commit on (older snapshots keep it — metadata is versioned
    * like everything else).  Dropping an absent name is a no-op
    * commit-wise only if absent at commit time. */
  def dropConstraint(s: SparkSession, root: String, name: String): Int =
    commitManifest(s, root, "drop-constraint", Seq.empty,
      p => p.map(_.files).getOrElse(Seq.empty),
      propsOf = p => p.map(_.props).getOrElse(Map.empty) -
        (ConstraintPrefix + name))

  /** SET TBLPROPERTIES (one key): generic versioned table metadata —
    * the carrier constraints ride on, exposed for table-level knobs
    * (comments, owner tags, retention hints).  Keys under
    * `constraint.` are reserved for [[addConstraint]], which validates
    * data; setting them here is rejected. */
  def setProperty(s: SparkSession, root: String, key: String,
      value: String): Int = {
    require(!key.startsWith(ConstraintPrefix),
      s"'$key' is a constraint — use addConstraint, which validates")
    commitManifest(s, root, "set-property", Seq.empty,
      p => p.map(_.files).getOrElse(Seq.empty),
      propsOf = p => p.map(_.props).getOrElse(Map.empty) + (key -> value))
  }

  /** UNSET TBLPROPERTIES (one key).  Constraints go through
    * [[dropConstraint]]; the LOAD-BEARING content/metadata properties
    * (schema, key, mapping, format version) refuse removal — unsetting
    * them would corrupt every reader's view of the table. */
  def removeProperty(s: SparkSession, root: String, key: String): Int = {
    require(!key.startsWith(ConstraintPrefix),
      s"'$key' is a constraint — use dropConstraint")
    val protected0 = Set(TableSchemaProp, TableKeyProp,
      ColumnMappingProp, DroppedColsProp, FormatVersionProp)
    require(!protected0.contains(key),
      s"'$key' is a structural table property and cannot be unset")
    commitManifest(s, root, "unset-property", Seq.empty,
      p => p.map(_.files).getOrElse(Seq.empty),
      propsOf = p => p.map(_.props).getOrElse(Map.empty) - key)
  }

  /** Enforce merge's one-update-row-per-key contract.  With `orderCol`:
    * keep-last per key (greatest orderCol wins; ties fall to a full-row
    * content hash so the choice is deterministic under retries and
    * repartitioning).  Without: assert distinctness and throw — a batch
    * carrying two rows for a key would otherwise anti-join the old row
    * away and union BOTH in, silently breaking upsert semantics.
    *
    * Scale: the window / count partitions by key over the UPDATE BATCH
    * only, never the table — a batch-sized shuffle, the same cost
    * Delta pays for its multiple-match detection. */
  /** Spark's hash expressions reject MapType (map iteration order is
    * undefined, so a map hash would be non-deterministic — exactly what
    * a tiebreak must not be); nested maps poison structs/arrays too. */
  private def hashableType(dt: org.apache.spark.sql.types.DataType)
      : Boolean = dt match {
    case _: org.apache.spark.sql.types.MapType => false
    case st: org.apache.spark.sql.types.StructType =>
      st.fields.forall(f => hashableType(f.dataType))
    case at: org.apache.spark.sql.types.ArrayType =>
      hashableType(at.elementType)
    case _ => true
  }

  private[graft] def dedupeKeepLast(updates: DataFrame, idCol: String,
      orderCol: Option[String]): DataFrame = orderCol match {
    case Some(oc) =>
      // tiebreak over the HASHABLE columns only: a CDC batch carrying a
      // map column must not make the whole merge throw AnalysisException
      // when orderCol alone resolves its duplicates.  Rows identical on
      // every hashable column but differing inside a map tie-break
      // arbitrarily-but-stably on the hash of what IS hashable — still
      // deterministic under retries and repartitioning, which is all
      // the contract promises.
      val hashableCols = updates.schema.fields.toIndexedSeq
        .filter(f => hashableType(f.dataType)).map(_.name).sorted.map(col)
      val tiebreak =
        if (hashableCols.isEmpty) lit(0L) else xxhash64(hashableCols: _*)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(idCol)).orderBy(col(oc).desc, tiebreak.asc)
      updates.withColumn("__graft_rn", row_number().over(w))
        .filter(col("__graft_rn") === 1).drop("__graft_rn")
    case None =>
      // aliased count: a batch carrying its own `count` column must not
      // make the distinctness probe ambiguous
      val dup = updates.groupBy(col(idCol))
        .agg(count(lit(1)).as("__graft_cnt"))
        .filter(col("__graft_cnt") > 1).limit(1).collect()
      if (dup.nonEmpty)
        throw new IllegalArgumentException(
          s"merge updates carry multiple rows for $idCol=" +
            s"${dup.head.get(0)}; dedupe the batch or pass orderCol " +
            "for keep-last resolution")
      updates
  }

  /** MERGE INTO (upsert): rows of `updates` whose key matches a current
    * row replace it; unmatched keys insert.  Copy-on-write at file
    * granularity: one semi-join pass finds the files that CONTAIN a
    * matched key (`_metadata.file_path` collect — O(files) driver
    * state), only those are rewritten (their unmatched rows ++ all of
    * `updates`), and every untouched file carries over by reference.
    * If another commit lands first, the whole derivation re-runs
    * against the new head (optimistic concurrency); with `txnId` the
    * merge is exactly-once under retries.
    *
    * UPSERT requires AT MOST ONE update row per key — otherwise the
    * anti-join removes the old row once and the union inserts BOTH
    * update rows, silently corrupting one-row-per-key semantics.  With
    * `orderCol` the merge resolves duplicates itself, keep-last: the
    * row with the greatest `orderCol` value per key wins (ties broken
    * by a content hash, so the outcome is deterministic under retries
    * and repartitioning) — the natural mode for a CDC micro-batch that
    * can carry several events for one key.  Without `orderCol` the
    * merge ASSERTS key-distinctness and throws on violation, exactly
    * as Delta's MERGE errors on multiple source matches: loud beats
    * silently wrong. */
  def merge(s: SparkSession, root: String, updates: DataFrame,
      idCol: String, numFiles: Int,
      txnId: Option[String] = None,
      orderCol: Option[String] = None): Int = {
    txnId.foreach(t => findCommittedTxn(s, root, t).foreach(v => return v))
    // hoisted above the conflict-retry loop: the batch never changes
    // between retries, so the duplicate-key scan runs once, not per
    // attempt
    val upserts = dedupeKeepLast(updates, idCol, orderCol)
    // across conflict retries, re-validate only when the constraint
    // set actually changed (the requireParent pin makes the validated
    // set exactly the committed-against set)
    var validatedCs: Option[Map[String, String]] = None
    retryingConflicts(root) { () =>
      txnId.foreach(t => findCommittedTxn(s, root, t).foreach(v => return v))
      val parentV = latestVersion(s, root).getOrElse(
        throw new IllegalStateException("merge into empty table"))
      val snap = snapshot(s, root, parentV)
      if (!validatedCs.contains(snap.constraints)) {
        enforceConstraints(upserts, snap.constraints, s"merge into $root")
        validatedCs = Some(snap.constraints)
      }
      // LIVE rows only (DV-masked rows are deleted: a masked key
      // matching an upsert is an INSERT, and must not force a rewrite
      // of the file that merely still physically holds the dead row)
      val current = readLiveWithFile(s, snap)
      val keys = upserts.select(col(idCol)).distinct()
      val touched = current
        .select(col(idCol), col("__graft_file").as("f"))
        .join(broadcast(keys), Seq(idCol), "left_semi")
        .select(col("f")).distinct()
        .collect().map(r => r.getString(0)).toSet
      val (rewrite, _) =
        snap.files.partition(f => touched.contains(normPath(f.path)))
      val survivors =
        if (rewrite.isEmpty) upserts
        // readFilesOf: rewriting a DV-carrying file MATERIALIZES its
        // deletions — the fresh file carries no DV
        else readFilesOf(s, snap, rewrite)
          .join(broadcast(keys), Seq(idCol), "left_anti")
          // allowMissingColumns: an upsert batch may ADD columns (schema
          // evolution) — surviving old rows carry null for them
          .unionByName(upserts, allowMissingColumns = true)
      val newFiles = writeFiles(s, root, survivors, idCol, numFiles)
      commitManifest(s, root, "merge", newFiles,
        p => p.map(_.files).getOrElse(Seq.empty)
          .filterNot(f => touched.contains(normPath(f.path))),
        txnId, requireParent = Some(parentV),
        // an evolved upsert batch widens the recorded schema
        propsOf = p => schemaProp(
          p.map(_.props).getOrElse(Map.empty), upserts),
        rebaseKeep = Some(touched),
        // merge READS by key everywhere (matched rows AND the
        // unmatched-existence probe) — an interloper-added file
        // holding one of our source keys defeats the rebase
        rebaseAddedOk = keysReadSafe(upserts, idCol))
    }
  }

  /** One WHEN clause of a conditional [[mergeInto]].  Conditions and
    * assignment/insert values are Columns over the merge's joined row,
    * where the target side is aliased `t` and the source side `s` —
    * write `col("t.n_chars")` / `col("s.text")`.  A clause with no
    * condition always applies when its match class is reached; within
    * a class, FIRST MATCH WINS (SQL:2003 / Delta MERGE semantics). */
  sealed trait MergeClause { def cond: Option[Column] }
  /** WHEN MATCHED [AND cond] THEN UPDATE SET ...  Unassigned columns
    * keep their target values. */
  final case class MatchedUpdate(set: Map[String, Column],
      cond: Option[Column] = None) extends MergeClause
  /** WHEN MATCHED [AND cond] THEN DELETE. */
  final case class MatchedDelete(cond: Option[Column] = None)
      extends MergeClause
  /** WHEN NOT MATCHED [AND cond] THEN INSERT ...  Columns absent from
    * `values` insert as NULL (give every column for INSERT *). */
  final case class NotMatchedInsert(values: Map[String, Column],
      cond: Option[Column] = None) extends MergeClause
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET ...
    * (conditions/values here may reference only `t.*` — the source
    * side is absent by definition, so `s.*` reads NULL). */
  final case class NotMatchedBySourceUpdate(set: Map[String, Column],
      cond: Option[Column] = None) extends MergeClause
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE. */
  final case class NotMatchedBySourceDelete(cond: Option[Column] = None)
      extends MergeClause

  /** Conditional MERGE INTO — the full SQL:2003 / Delta clause surface
    * over the versioned table, of which [[merge]] is the pure-upsert
    * special case:
    *
    * {{{
    * mergeInto(s, root, source, "doc_id", Seq(
    *   MatchedUpdate(Map("text" -> col("s.text")),
    *     cond = Some(col("s.n_chars") > col("t.n_chars"))),
    *   MatchedDelete(cond = Some(col("t.lang") === "de")),
    *   NotMatchedInsert(srcCols),
    *   NotMatchedBySourceDelete(cond = Some(col("t.stale")))), 4)
    * }}}
    *
    * Semantics (all standard):
    *  - rows join on key equality (`t.idCol = s.idCol`);
    *  - per match class, clauses evaluate in the given order and the
    *    FIRST whose condition holds (conditions are three-valued: NULL
    *    = not taken) decides the row; no clause hit = target rows keep,
    *    source rows drop;
    *  - a target row matched by MORE THAN ONE source row is an error
    *    (Delta's `DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW` —
    *    which source row wins would be nondeterministic; pre-aggregate
    *    the source, or use [[merge]] with `orderCol` for keep-last);
    *    with a compound ON (`onExtra`) the guard counts pairs under
    *    the FULL condition — key-sharing source rows whose residual
    *    selects at most one per target row are legal;
    *  - CAVEAT (standard SQL MERGE, but worth naming): with a
    *    compound ON plus a NOT MATCHED INSERT clause, a source row
    *    that key-matches a live target row but FAILS the residual is
    *    unmatched and INSERTS — the table can then legitimately hold
    *    several rows per key.  Key-unique tables (CDC replication
    *    targets, [[merge]] upsert flows) should not combine residual
    *    ONs with insert clauses;
    *  - output schema is exactly the target schema (insert/update
    *    values are cast to it); use [[merge]] for evolving upserts.
    *
    * Scale shape: copy-on-write at FILE granularity.  Without
    * NOT-MATCHED-BY-SOURCE clauses the rewrite set is only the files
    * that contain a matched key (one semi-join collecting file paths —
    * O(files) driver state, the same touched-file discovery Delta's
    * MERGE runs); WITH them every file is in scope, necessarily — any
    * row anywhere may change, which is why Delta docs tell you to add
    * a `t`-side prune condition, and ours can ride the same clause
    * conditions.  The source is never collected; all clause logic is
    * one full-outer join evaluated as when/otherwise chains inside
    * whole-stage codegen.  CHECK constraints gate the post-images of
    * changed/inserted rows before anything is written.  Same
    * optimistic-concurrency + txn idempotence contract as [[merge]].
    * Returns the committed version. */
  def mergeInto(s: SparkSession, root: String, source: DataFrame,
      idCol: String, clauses: Seq[MergeClause], numFiles: Int,
      txnId: Option[String] = None,
      onExtra: Option[Column] = None): Int = {
    require(clauses.nonEmpty, "mergeInto needs at least one clause")
    require(source.columns.contains(idCol),
      s"merge source must carry the key column '$idCol'")
    clauses.foreach {
      case MatchedUpdate(set, _) => require(!set.contains(idCol),
        s"MERGE UPDATE must not assign the table key '$idCol' — a key " +
          "change is a delete + insert")
      case NotMatchedBySourceUpdate(set, _) => require(!set.contains(idCol),
        s"MERGE UPDATE must not assign the table key '$idCol'")
      case _ => ()
    }
    val matchedIdx = clauses.zipWithIndex.collect {
      case (c: MatchedUpdate, i) => (c.cond, i + 1)
      case (c: MatchedDelete, i) => (c.cond, i + 1) }
    val insertIdx = clauses.zipWithIndex.collect {
      case (c: NotMatchedInsert, i) => (c.cond, i + 1) }
    val nmbsIdx = clauses.zipWithIndex.collect {
      case (c: NotMatchedBySourceUpdate, i) => (c.cond, i + 1)
      case (c: NotMatchedBySourceDelete, i) => (c.cond, i + 1) }
    val dropActs = clauses.zipWithIndex.collect {
      case (_: MatchedDelete, i) => i + 1
      case (_: NotMatchedBySourceDelete, i) => i + 1 }
    // first-match-wins chain: when(c1, i1).otherwise(when(c2, i2)...)
    def chainOf(pairs: Seq[(Option[Column], Int)], dflt: Int): Column =
      pairs.foldRight(lit(dflt)) { case ((c, i), acc) =>
        when(c.getOrElse(lit(true)), lit(i)).otherwise(acc) }
    txnId.foreach(t => findCommittedTxn(s, root, t).foreach(v => return v))
    val src = source.persist() // keys pass, dup guard, join: one scan
    try retryingConflicts(root) { () =>
      txnId.foreach(t => findCommittedTxn(s, root, t).foreach(v => return v))
      val parentV = latestVersion(s, root).getOrElse(
        throw new IllegalStateException("merge into empty table"))
      val snap = snapshot(s, root, parentV)
      // INSERT-ONLY merge (no WHEN MATCHED / BY SOURCE clause — Delta's
      // insert-only shape): no clause can change a target row, so
      // matched target files are NOT rewritten and target rows never
      // flow through a join.  The new rows are the source anti-joined
      // against the table's key set (a column-pruned scan), run through
      // the insert-clause chain, and APPENDED — which also removes the
      // silent-duplication hazard the dup guard below exists for
      // (duplicate UNMATCHED source keys legitimately insert once per
      // source row, exactly SQL MERGE's semantics).
      if (matchedIdx.isEmpty && nmbsIdx.isEmpty) {
        val tgtSchema = readFilesOf(s, snap, snap.files).schema
        // with a residual ON predicate the match test needs target
        // columns beyond the key: anti-join on the FULL condition over
        // aliased frames (Catalyst prunes the target scan to the
        // referenced columns); the bare-key shape keeps the cheaper
        // key-only column-pruned anti-join
        val fresh = onExtra match {
          case None => src.alias("s").join(
            readFilesOf(s, snap, snap.files).select(col(idCol)),
            Seq(idCol), "left_anti")
          case Some(extra) => src.alias("s").join(
            readFilesOf(s, snap, snap.files).alias("t"),
            col(s"t.$idCol") === col(s"s.$idCol") && extra, "left_anti")
        }
        def insVal(f: org.apache.spark.sql.types.StructField): Column = {
          val cases: Seq[(Int, Column)] = clauses.zipWithIndex.collect {
            case (NotMatchedInsert(vs, _), i) =>
              (i + 1, vs.getOrElse(f.name,
                if (f.name == idCol) col(s"s.$idCol") else lit(null))
                .cast(f.dataType))
          }
          cases.foldRight(lit(null).cast(f.dataType): Column) {
            case ((i, v), acc) =>
              when(col("__graft_act") === i, v).otherwise(acc)
          }.as(f.name)
        }
        val inserts = fresh
          .withColumn("__graft_act", chainOf(insertIdx, -1))
          .filter(col("__graft_act") =!= -1)
          .select(tgtSchema.fields.toIndexedSeq.map(insVal): _*)
        enforceConstraints(inserts, snap.constraints, s"merge into $root")
        val newFiles = writeFiles(s, root, inserts, idCol, numFiles)
        // append-shaped: rewrite set is EMPTY, so any head movement
        // with unchanged props rebases without a recompute
        return commitManifest(s, root, "merge", newFiles,
          p => p.map(_.files).getOrElse(Seq.empty),
          txnId, requireParent = Some(parentV),
          rebaseKeep = Some(Set.empty),
          // the anti-join read the table's KEY SET: a racing
          // insert-only merge that added one of our source keys must
          // defeat the rebase, or both commit the key (duplicate under
          // any serial order)
          rebaseAddedOk = keysReadSafe(src, idCol))
      }
      val current = readLiveWithFile(s, snap)
      // multiple-source-rows-per-matched-target guard (see Scaladoc).
      // Runs for EVERY remaining clause shape, not just WHEN MATCHED:
      // with only NOT MATCHED BY SOURCE clauses the matched target
      // files still rewrite through the full-outer join, where a
      // target row matched by 2+ source rows joins once per source
      // row, each copy gets act=0 (keep), and the row would silently
      // write twice — the loud error here is the guard's whole point.
      locally {
        // With a residual ON, two key-sharing source rows are
        // Delta-legal as long as the FULL condition (key equality AND
        // residual) selects at most one of them per target row — the
        // key-only count threw loud false positives on compound-ON
        // merges.  The table key IS row identity in this format (zone
        // maps, DV sidecars and CDC pairing all hang off it), so
        // counting matching pairs per target key is counting per
        // target row.
        val dup = onExtra match {
          case None =>
            src.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
              .filter(col("__n") > 1).select(col(idCol))
              .join(current.select(col(idCol)), Seq(idCol), "left_semi")
              .limit(1).collect()
          case Some(extra) =>
            current.alias("t").join(src.alias("s"),
                col(s"t.$idCol") === col(s"s.$idCol") && extra, "inner")
              .groupBy(col(s"t.$idCol").as(idCol))
              .agg(count(lit(1)).as("__n"))
              .filter(col("__n") > 1).select(col(idCol))
              .limit(1).collect()
        }
        if (dup.nonEmpty) throw new IllegalArgumentException(
          s"mergeInto: multiple source rows match target $idCol=" +
            s"${dup.head.get(0)} — nondeterministic; de-duplicate the " +
            "source or use merge(orderCol) for keep-last upserts")
      }
      val touched: Set[String] =
        if (nmbsIdx.nonEmpty) snap.files.map(f => normPath(f.path)).toSet
        else current.select(col(idCol), col("__graft_file").as("f"))
          .join(src.select(col(idCol)).distinct(), Seq(idCol), "left_semi")
          .select(col("f")).distinct()
          .collect().map(_.getString(0)).toSet
      val (rewrite, _) =
        snap.files.partition(f => touched.contains(normPath(f.path)))
      val tgtSchema = current.drop("__graft_file").schema
      val tgtRows =
        if (rewrite.isEmpty)
          current.drop("__graft_file").filter(lit(false))
        else readFilesOf(s, snap, rewrite)
      // residual ON predicates ride the SAME equi-join: Catalyst
      // plans the key equality as the shuffle/broadcast hash key and
      // evaluates the residual as the join's non-equi condition — a
      // row pair failing it is UNMATCHED on both sides (standard
      // MERGE ON semantics), never a fallback to a cartesian shape
      val j = tgtRows.withColumn("__t", lit(true)).alias("t")
        .join(src.withColumn("__s", lit(true)).alias("s"),
          onExtra.foldLeft(col(s"t.$idCol") === col(s"s.$idCol"))(
            _ && _), "full_outer")
      val tHere = coalesce(col("t.__t"), lit(false))
      val sHere = coalesce(col("s.__s"), lit(false))
      // 0 = keep target row unchanged; -1 = drop; >0 = clause index
      val act = when(tHere && sHere, chainOf(matchedIdx, 0))
        .when(tHere, chainOf(nmbsIdx, 0))
        .otherwise(chainOf(insertIdx, -1))
      def finalVal(f: org.apache.spark.sql.types.StructField): Column = {
        val cases: Seq[(Int, Column)] = clauses.zipWithIndex.collect {
          case (MatchedUpdate(set, _), i) if set.contains(f.name) =>
            (i + 1, set(f.name).cast(f.dataType))
          case (NotMatchedInsert(vs, _), i) =>
            // an unlisted KEY defaults to the source key, never NULL —
            // a null-key insert would fall outside every zone map and
            // break row identity for CDC pairing
            (i + 1, vs.getOrElse(f.name,
              if (f.name == idCol) col(s"s.$idCol") else lit(null))
              .cast(f.dataType))
          case (NotMatchedBySourceUpdate(set, _), i)
              if set.contains(f.name) =>
            (i + 1, set(f.name).cast(f.dataType))
        }
        cases.foldRight(col(s"t.${f.name}")) { case ((i, v), acc) =>
          when(col("__graft_act") === i, v).otherwise(acc) }.as(f.name)
      }
      val outCols = tgtSchema.fields.toIndexedSeq.map(finalVal)
      val kept = j.withColumn("__graft_act", act)
        .filter(col("__graft_act") =!= -1 &&
          (if (dropActs.isEmpty) lit(true)
           else !col("__graft_act").isInCollection(dropActs)))
      enforceConstraints(
        kept.filter(col("__graft_act") > 0).select(outCols: _*),
        snap.constraints, s"merge into $root")
      val survivors = kept.select(outCols: _*)
      val newFiles = writeFiles(s, root, survivors, idCol, numFiles)
      commitManifest(s, root, "merge", newFiles,
        p => p.map(_.files).getOrElse(Seq.empty)
          .filterNot(f => touched.contains(normPath(f.path))),
        txnId, requireParent = Some(parentV),
        rebaseKeep = Some(touched),
        // WITH not-matched-by-source clauses EVERY target row is in
        // the read set, so any interloper addition defeats the rebase
        // (the default); otherwise the read set is key-scoped as in
        // [[merge]]
        rebaseAddedOk =
          if (nmbsIdx.nonEmpty) _.isEmpty
          else keysReadSafe(src, idCol))
    } finally { src.unpersist(); () }
  }

  /** DELETE WHERE: files containing no matching row carry over by
    * reference; the rest are rewritten without the matching rows.
    * Same optimistic-concurrency + txn idempotence contract as
    * [[merge]]. */
  def delete(s: SparkSession, root: String, cond: Column,
      idCol: String, numFiles: Int,
      txnId: Option[String] = None): Int =
    // SQL DELETE semantics on the keep side: only rows where cond is
    // TRUE go; a NULL condition keeps the row (plain !cond would also
    // drop NULLs, and only in rewritten files — co-location-dependent
    // data loss)
    deleteWhere(s, root, _.filter(cond),
      _.filter(!coalesce(cond, lit(false))), idCol, numFiles, txnId,
      addedOk = snap => condReadSafe(snap, idCol, cond))

  /** DELETE by KEY SET, copy-on-write, JOIN-BASED: the twin of
    * [[delete]] for bulk deletes whose key list must never pass
    * through the driver (a replicated GDPR purge, a retention sweep —
    * millions of keys in one commit).  `keys` stays a distributed
    * DataFrame end to end: touched-file discovery and the rewrite's
    * keep side are semi/anti joins against it, so driver state remains
    * O(files), never O(keys) — where an `isin` literal predicate would
    * blow both the driver and the expression tree. */
  def deleteKeys(s: SparkSession, root: String, keys: DataFrame,
      idCol: String, numFiles: Int, txnId: Option[String] = None): Int = {
    val k = keys.select(col(idCol)).distinct()
    deleteWhere(s, root, _.join(k, Seq(idCol), "left_semi"),
      _.join(k, Seq(idCol), "left_anti"), idCol, numFiles, txnId,
      addedOk = _ => keysReadSafe(k, idCol))
  }

  /** The shared copy-on-write DELETE engine: `matchRows` selects the
    * doomed rows (touched-file discovery), `keepRows` the survivors of
    * a rewritten file — the two must be complements over non-null
    * keys.  Files containing no match carry over by reference. */
  private def deleteWhere(s: SparkSession, root: String,
      matchRows: DataFrame => DataFrame,
      keepRows: DataFrame => DataFrame,
      idCol: String, numFiles: Int,
      txnId: Option[String],
      addedOk: Snapshot => Seq[FileEntry] => Boolean =
        _ => _.isEmpty): Int = retryingConflicts(root) { () =>
    txnId.foreach(t => findCommittedTxn(s, root, t).foreach(v => return v))
    val parentV = latestVersion(s, root).getOrElse(
      throw new IllegalStateException("delete from empty table"))
    val snap = snapshot(s, root, parentV)
    val current = readLiveWithFile(s, snap)
    val touched = matchRows(current)
      .select(col("__graft_file").as("f")).distinct()
      .collect().map(r => r.getString(0)).toSet
    val (rewrite, _) =
      snap.files.partition(f => touched.contains(normPath(f.path)))
    def carryFromHead(p: Option[Snapshot]): Seq[FileEntry] =
      p.map(_.files).getOrElse(Seq.empty)
        .filterNot(f => touched.contains(normPath(f.path)))
    if (rewrite.isEmpty)
      commitManifest(s, root, "delete", Seq.empty, carryFromHead, txnId,
        requireParent = Some(parentV), rebaseKeep = Some(touched),
        rebaseAddedOk = addedOk(snap))
    else {
      // readFilesOf: the rewrite also materializes any existing DVs
      val survivors = keepRows(readFilesOf(s, snap, rewrite))
      val newFiles = writeFiles(s, root, survivors, idCol, numFiles)
      commitManifest(s, root, "delete", newFiles, carryFromHead, txnId,
        requireParent = Some(parentV), rebaseKeep = Some(touched),
        rebaseAddedOk = addedOk(snap))
    }
  }

  /** Write a commit's deletion-vector sidecar as ONE parquet file
    * (rows: `path` = owning data file, normalized; `id` = deleted key
    * value) and return its path.  A DV is bounded by the commit's
    * deleted rows plus the prior DVs of the files it touches — KBs to
    * MBs against a 100 TB table — so one file suffices; the heavy end
    * of the spectrum is what [[purgeDeletes]] is for. */
  private def writeDv(s: SparkSession, root: String,
      rows: DataFrame): String = {
    val dir = s"$root/data/${java.util.UUID.randomUUID().toString}-dv"
    rows.repartition(1).write.parquet(dir)
    val fs = fileSystem(s, root)
    fs.listStatus(new Path(dir)).map(_.getPath)
      .find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(
        s"deletion-vector write under $dir produced no part file"))
      .toString
  }

  /** DELETE WHERE, merge-on-read: instead of rewriting every file that
    * contains a matching row (copy-on-write [[delete]] — O(touched
    * data) write amplification), commit a DELETION VECTOR: a sidecar
    * parquet listing the (file, key) pairs now masked, referenced from
    * the touched files' manifest entries.  Readers anti-join the
    * sidecar at scan time; every data file carries over BY REFERENCE.
    * Deleting 0.1% of a 100 TB table is a KB-scale sidecar write plus
    * one manifest — not a rewrite of every touched file — which is
    * exactly why Delta's deletion vectors and Iceberg's delete files
    * exist.  The read-side cost (one broadcast-sized anti-join) grows
    * with un-purged deletes; [[purgeDeletes]] rewrites heavily-masked
    * files back to plain ones and restores it.
    *
    * Each touched file's manifest entry points at the NEW sidecar,
    * which carries the UNION of the file's prior DV rows and this
    * commit's matches — a DV ref is always self-contained, so old
    * sidecars age out with the manifests that reference them (vacuum
    * treats DV files exactly like data files).  `idCol` must be the
    * table key and must agree with any existing DVs.  Same optimistic
    * concurrency + txn idempotence contract as [[merge]].
    *
    * Crossover guidance: merge-on-read wins when the deleted fraction
    * is small (the steady trickle of takedowns / quality culls a
    * curated corpus absorbs).  A MASS delete — a large fraction of
    * many files — should use copy-on-write [[delete]] instead: its
    * rewrite cost approaches what [[purgeDeletes]] would pay anyway,
    * without growing a table-sized sidecar first (the sidecar is
    * written as one file, sized by deleted keys). */
  def deleteMoR(s: SparkSession, root: String, cond: Column,
      idCol: String, txnId: Option[String] = None): Int =
    deleteMoRWhere(s, root, _.filter(cond), idCol, txnId,
      addedOk = snap => condReadSafe(snap, idCol, cond))

  /** DELETE by KEY SET, merge-on-read, JOIN-BASED: the twin of
    * [[deleteMoR]] for bulk deletes whose key list must never pass
    * through the driver (a replicated purge commit, a retention sweep
    * — millions of keys in one commit).  `keys` stays a distributed
    * DataFrame: the match set is a semi-join against it, the DV
    * sidecar is written straight from that join, and driver state
    * remains O(files) per-file counts — where an `isin` literal
    * predicate would blow both the driver and the expression tree.
    * This is the path [[graft.streaming.Replication]] and
    * [[graft.streaming.VersionedSink.applyCdcStream]] route deletes
    * through. */
  def deleteMoRKeys(s: SparkSession, root: String, keys: DataFrame,
      idCol: String, txnId: Option[String] = None,
      residual: Option[Column] = None): Int = {
    val k = keys.select(col(idCol)).distinct()
    // a residual conjunct (the `WHERE key IN (...) AND ...` remainder,
    // target-qualified) gates the masked rows exactly as a MERGE
    // DELETE's WHEN MATCHED condition would: NULL keeps the row (SQL
    // three-valued semantics).  The alias lets `t.`-qualified refs
    // from the SQL translation resolve against the live scan.
    deleteMoRWhere(s, root, df => {
      val base = df.alias("t").join(k, Seq(idCol), "left_semi")
      residual.map(r => base.filter(coalesce(r, lit(false))))
        .getOrElse(base)
    }, idCol, txnId, addedOk = _ => keysReadSafe(k, idCol))
  }

  /** The shared merge-on-read DELETE engine: `matchRows` selects the
    * rows to mask out of the live scan. */
  private def deleteMoRWhere(s: SparkSession, root: String,
      matchRows: DataFrame => DataFrame, idCol: String,
      txnId: Option[String],
      addedOk: Snapshot => Seq[FileEntry] => Boolean =
        _ => _.isEmpty): Int =
    retryingConflicts(root) { () =>
      txnId.foreach(t => findCommittedTxn(s, root, t).foreach(v => return v))
      val parentV = latestVersion(s, root).getOrElse(
        throw new IllegalStateException("delete from empty table"))
      val snap = snapshot(s, root, parentV)
      snap.files.flatMap(_.dv.map(_.key)).distinct.foreach { k =>
        require(k == idCol,
          s"existing deletion vectors key on '$k', not '$idCol'")
      }
      // LIVE rows: a row already masked must not re-enter the DV
      // (its file's count would double-subtract).  persist(): the
      // match set feeds two actions (per-file counts, sidecar write)
      // and must not scan the table twice
      val live = readLiveWithFile(s, snap)
      val matches = matchRows(live)
        .select(col("__graft_file").as("path"), col(idCol).as("id"))
        .persist()
      try {
        val perFile = matches.groupBy(col("path"))
          .agg(count(lit(1)).as("n")).collect()
          .map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
        if (perFile.isEmpty)
          commitManifest(s, root, "delete-mor", Seq.empty,
            p => p.map(_.files).getOrElse(Seq.empty),
            txnId, requireParent = Some(parentV),
            rebaseKeep = Some(Set.empty),
            rebaseAddedOk = addedOk(snap))
        else {
          val (touched, _) = snap.files.partition(f =>
            perFile.contains(normPath(f.path)))
          // prior DV rows of the touched files fold into the new
          // sidecar (semi-join on the touched paths: a shared sidecar
          // may also carry rows for files this commit does not touch)
          val oldDvPaths = touched.flatMap(_.dv.map(_.path)).distinct
          val dvRows =
            if (oldDvPaths.isEmpty) matches
            else {
              import s.implicits._
              val touchedPaths = touched.map(f => normPath(f.path))
                .toDF("path")
              matches.unionByName(
                readDv(s, oldDvPaths)
                  .join(broadcast(touchedPaths), Seq("path"), "left_semi"))
            }
          val dvPath = writeDv(s, root, dvRows)
          val touchedPaths = touched.map(f => normPath(f.path)).toSet
          val touchedEntries = touched.map { f =>
            val total =
              f.dv.map(_.rows).getOrElse(0L) + perFile(normPath(f.path))
            f.copy(dv = Some(DvRef(dvPath, total, idCol)))
          }
          // disjoint-writer rebase: the untouched half derives from
          // the CURRENT head; the touched entries' DV fold is valid
          // iff the head still carries them unchanged (rebaseKeep)
          commitManifest(s, root, "delete-mor", Seq.empty,
            p => p.map(_.files).getOrElse(Seq.empty)
              .filterNot(f => touchedPaths.contains(normPath(f.path))) ++
              touchedEntries,
            txnId, requireParent = Some(parentV),
            rebaseKeep = Some(touchedPaths),
            rebaseAddedOk = addedOk(snap))
        }
      } finally { matches.unpersist(); () }
    }

  /** Apply SQL UPDATE assignment semantics to `df`: rows where `cond`
    * is TRUE take the `set` expressions, every other row (FALSE *and*
    * NULL — SQL three-valued semantics) stays verbatim.  Every
    * assignment sees the PRE-update row (one `select`, not chained
    * `withColumn`s — `SET a = b, b = a` swaps, as SQL requires), and
    * the result must keep the schema: UPDATE never evolves a table. */
  private def applyAssignments(df: DataFrame, cond: Column,
      set: Map[String, Column]): DataFrame = {
    val missing = set.keySet.diff(df.columns.toSet)
    require(missing.isEmpty,
      s"UPDATE assigns to unknown column(s) $missing " +
        s"(table columns: ${df.columns.mkString(", ")})")
    val out = df.select(df.schema.fields.toIndexedSeq.map { f =>
      set.get(f.name) match {
        case Some(v) => when(coalesce(cond, lit(false)),
          v.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
        case None => col(f.name)
      }
    }: _*)
    out
  }

  /** UPDATE ... SET ... WHERE, copy-on-write: rows where `cond` is
    * TRUE get the `set` assignments applied (each value expression may
    * reference any pre-update column of the row); files containing no
    * such row carry over by reference, so write amplification is
    * O(touched files) like [[delete]] — never O(table).  A NULL
    * condition leaves the row alone (SQL UPDATE semantics).
    *
    * The table KEY cannot be assigned: key identity is what zone maps,
    * deletion vectors and the CDC pairing contract all hang off — a
    * key rewrite is a delete + insert and should be expressed as one
    * (or as a [[merge]]).  CHECK constraints are enforced on the
    * POST-image of the updated rows only, before anything is written
    * (untouched rows already passed at their own write time).  Same
    * optimistic-concurrency + txn idempotence contract as [[merge]].
    * Returns the committed version. */
  def update(s: SparkSession, root: String, cond: Column,
      set: Map[String, Column], idCol: String, numFiles: Int,
      txnId: Option[String] = None): Int = {
    require(!set.contains(idCol),
      s"UPDATE must not assign the table key '$idCol' — a key change " +
        "is a delete + insert (or a merge), not an in-place update")
    require(set.nonEmpty, "UPDATE needs at least one assignment")
    txnId.foreach(t => findCommittedTxn(s, root, t).foreach(v => return v))
    retryingConflicts(root) { () =>
      txnId.foreach(t => findCommittedTxn(s, root, t).foreach(v => return v))
      val parentV = latestVersion(s, root).getOrElse(
        throw new IllegalStateException("update of empty table"))
      val snap = snapshot(s, root, parentV)
      val current = readLiveWithFile(s, snap)
      val touched = current.filter(coalesce(cond, lit(false)))
        .select(col("__graft_file").as("f")).distinct()
        .collect().map(_.getString(0)).toSet
      val (rewrite, _) =
        snap.files.partition(f => touched.contains(normPath(f.path)))
      def carryFromHead(p: Option[Snapshot]): Seq[FileEntry] =
        p.map(_.files).getOrElse(Seq.empty)
          .filterNot(f => touched.contains(normPath(f.path)))
      if (rewrite.isEmpty)
        commitManifest(s, root, "update", Seq.empty, carryFromHead,
          txnId, requireParent = Some(parentV),
          rebaseKeep = Some(touched),
          rebaseAddedOk = condReadSafe(snap, idCol, cond))
      else {
        // readFilesOf: rewriting a DV-carrying file materializes its
        // deletions, exactly as merge/delete rewrites do.  The match
        // marker is computed BEFORE assignments apply — the condition
        // references pre-update values, and an assignment may change
        // the very column the condition reads (SET n = n + 100 WHERE
        // n < 100: filtering post-images by the raw condition would
        // miss every updated row, and the constraint check with it)
        val marked = readFilesOf(s, snap, rewrite)
          .withColumn("__graft_upd", coalesce(cond, lit(false)))
        val updatedM = applyAssignments(marked, col("__graft_upd"), set)
        enforceConstraints(
          updatedM.filter(col("__graft_upd")).drop("__graft_upd"),
          snap.constraints, s"update of $root")
        val updated = updatedM.drop("__graft_upd")
        val newFiles = writeFiles(s, root, updated, idCol, numFiles)
        commitManifest(s, root, "update", newFiles, carryFromHead,
          txnId, requireParent = Some(parentV),
          rebaseKeep = Some(touched),
          rebaseAddedOk = condReadSafe(snap, idCol, cond))
      }
    }
  }

  /** UPDATE, merge-on-read: instead of rewriting every touched file
    * ([[update]] — O(touched data) write amplification), mask the
    * matched rows behind a deletion-vector sidecar and append their
    * POST-images as fresh files — one commit, O(updated rows) total
    * I/O, zero data files rewritten.  This is Delta's DV-based UPDATE
    * / Hudi's merge-on-read upsert economics: updating 0.01% of a
    * 100 TB table writes KBs of sidecar plus the new rows.  The change
    * feed sees the masked and re-added key on both diff sides, so CDC
    * consumers get proper update_preimage/update_postimage pairs with
    * no knowledge of the encoding.  Read-side cost (the DV anti-join)
    * grows with un-purged masks; [[purgeDeletes]] bounds it, exactly
    * as for [[deleteMoR]].  Same key-assignment prohibition as
    * [[update]], same optimistic-concurrency + txn contract. */
  def updateMoR(s: SparkSession, root: String, cond: Column,
      set: Map[String, Column], idCol: String, numFiles: Int = 1,
      txnId: Option[String] = None): Int =
    updateMoRWhere(s, root, _.filter(coalesce(cond, lit(false))), set,
      idCol, numFiles, txnId,
      addedOk = snap => condReadSafe(snap, idCol, cond))

  /** UPDATE by KEY SET, merge-on-read, JOIN-BASED: the twin of
    * [[updateMoR]] for `UPDATE ... WHERE key IN (SELECT ...)` shapes —
    * the key set stays a distributed DataFrame end to end (the match
    * set is a semi-join against it), so driver state remains O(files),
    * never O(keys), and a sparse update of a mor table pays the DV
    * mask + post-image economics instead of a full touched-file
    * rewrite.  An optional `residual` conjunct (target-qualified, the
    * `AND ...` remainder of the WHERE) further gates the matched rows;
    * NULL keeps the row.  This is the path the SQL
    * `GraftUpdateKeysCommand` routes through when `dml.mode=mor`. */
  def updateMoRKeys(s: SparkSession, root: String, keys: DataFrame,
      set: Map[String, Column], idCol: String, numFiles: Int = 1,
      txnId: Option[String] = None,
      residual: Option[Column] = None): Int = {
    val k = keys.select(col(idCol)).distinct()
    updateMoRWhere(s, root, df => {
      val base = df.alias("t").join(k, Seq(idCol), "left_semi")
      residual.map(r => base.filter(coalesce(r, lit(false))))
        .getOrElse(base)
    }, set, idCol, numFiles, txnId,
      addedOk = _ => keysReadSafe(k, idCol))
  }

  /** The shared merge-on-read UPDATE engine: `matchRows` selects the
    * rows to mask-and-reappend out of the live scan. */
  private def updateMoRWhere(s: SparkSession, root: String,
      matchRows: DataFrame => DataFrame,
      set: Map[String, Column], idCol: String, numFiles: Int,
      txnId: Option[String],
      addedOk: Snapshot => Seq[FileEntry] => Boolean): Int = {
    require(!set.contains(idCol),
      s"UPDATE must not assign the table key '$idCol'")
    require(set.nonEmpty, "UPDATE needs at least one assignment")
    txnId.foreach(t => findCommittedTxn(s, root, t).foreach(v => return v))
    retryingConflicts(root) { () =>
      txnId.foreach(t => findCommittedTxn(s, root, t).foreach(v => return v))
      val parentV = latestVersion(s, root).getOrElse(
        throw new IllegalStateException("update of empty table"))
      val snap = snapshot(s, root, parentV)
      snap.files.flatMap(_.dv.map(_.key)).distinct.foreach { k =>
        require(k == idCol,
          s"existing deletion vectors key on '$k', not '$idCol'")
      }
      // LIVE rows only: an already-masked row must not re-enter the DV
      // (double-subtracted live counts) nor produce a post-image
      val matched = matchRows(readLiveWithFile(s, snap)).persist()
      try {
        val perFile = matched.groupBy(col("__graft_file"))
          .agg(count(lit(1)).as("n")).collect()
          .map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
        if (perFile.isEmpty)
          commitManifest(s, root, "update-mor", Seq.empty,
            p => p.map(_.files).getOrElse(Seq.empty),
            txnId, requireParent = Some(parentV),
            rebaseKeep = Some(Set.empty),
            rebaseAddedOk = addedOk(snap))
        else {
          val post = applyAssignments(
            matched.drop("__graft_file"), lit(true), set)
          enforceConstraints(post, snap.constraints,
            s"update-mor of $root")
          val masks = matched.select(
            col("__graft_file").as("path"), col(idCol).as("id"))
          val (touched, _) = snap.files.partition(f =>
            perFile.contains(normPath(f.path)))
          // prior DV rows of the touched files fold into the new
          // sidecar so every DV ref stays self-contained (same law as
          // deleteMoRWhere)
          val oldDvPaths = touched.flatMap(_.dv.map(_.path)).distinct
          val dvRows =
            if (oldDvPaths.isEmpty) masks
            else {
              import s.implicits._
              val touchedPaths = touched.map(f => normPath(f.path))
                .toDF("path")
              masks.unionByName(
                readDv(s, oldDvPaths)
                  .join(broadcast(touchedPaths), Seq("path"), "left_semi"))
            }
          val dvPath = writeDv(s, root, dvRows)
          val touchedPaths = touched.map(f => normPath(f.path)).toSet
          val touchedEntries = touched.map { f =>
            val total =
              f.dv.map(_.rows).getOrElse(0L) + perFile(normPath(f.path))
            f.copy(dv = Some(DvRef(dvPath, total, idCol)))
          }
          val newFiles = writeFiles(s, root, post, idCol, numFiles)
          // same disjoint-writer rebase as deleteMoRWhere
          commitManifest(s, root, "update-mor", newFiles,
            p => p.map(_.files).getOrElse(Seq.empty)
              .filterNot(f => touchedPaths.contains(normPath(f.path))) ++
              touchedEntries,
            txnId, requireParent = Some(parentV),
            rebaseKeep = Some(touchedPaths),
            rebaseAddedOk = addedOk(snap))
        }
      } finally { matched.unpersist(); () }
    }
  }

  /** PURGE: rewrite every file whose deletion-vector dead fraction is
    * at least `minDeadRatio` into plain (DV-free) files, materializing
    * the deletes — the maintenance op that bounds merge-on-read's
    * read-side cost, the same job Delta's `REORG TABLE ... APPLY
    * (PURGE)` does.  Row-preserving on LIVE rows by construction, so
    * the new version reads identically.  Files below the threshold
    * (or with no DV) carry over by reference.  Returns the committed
    * version (the parent unchanged when nothing qualifies). */
  def purgeDeletes(s: SparkSession, root: String, idCol: String,
      numFiles: Int, minDeadRatio: Double = 0.0): Int =
    retryingConflicts(root) { () =>
      val parentV = latestVersion(s, root).getOrElse(
        throw new IllegalStateException("purge of empty table"))
      val snap = snapshot(s, root, parentV)
      val (dead, carry) = snap.files.partition(f =>
        f.dv.exists(_.rows.toDouble >= minDeadRatio * f.rows))
      if (dead.isEmpty) parentV
      else {
        val newFiles = writeFiles(s, root, readFilesOf(s, snap, dead), idCol,
          numFiles)
        commitManifest(s, root, "purge", newFiles, _ => carry,
          requireParent = Some(parentV))
      }
    }

  /** OPTIMIZE (small-file compaction): every current file whose row
    * count is below `minRows` is coalesced into `numFiles` fresh
    * range-partitioned files; files already big enough carry over by
    * reference.  Row-preserving by construction (pure rewrite, no
    * predicate), so the new version reads identically — this is the
    * maintenance op a streaming upsert table needs, because each
    * micro-batch commit lands one small file set and scan efficiency
    * decays with file count.  Same optimistic-concurrency contract as
    * [[merge]].  Returns the committed version. */
  def optimize(s: SparkSession, root: String, minRows: Long,
      idCol: String, numFiles: Int): Int = retryingConflicts(root) { () =>
    val parentV = latestVersion(s, root).getOrElse(
      throw new IllegalStateException("optimize of empty table"))
    val snap = snapshot(s, root, parentV)
    val (small, carry) = snap.files.partition(_.rows < minRows)
    if (small.size <= 1)
      // nothing to compact — don't grow the version history with a
      // no-op manifest (a scheduled maintenance loop calls this often)
      parentV
    else {
      // readFilesOf: compacting a DV-carrying small file materializes its
      // deletions — the packed files start DV-free
      val packed = readFilesOf(s, snap, small)
      val newFiles = writeFiles(s, root, packed, idCol, numFiles)
      commitManifest(s, root, "optimize", newFiles, _ => carry,
        requireParent = Some(parentV))
    }
  }

  /** OPTIMIZE ... CLUSTER BY (1-D): rewrite the CURRENT files
    * range-partitioned on `clusterCol` instead of the table key — the
    * single-dimension form of Delta's `OPTIMIZE ... ZORDER BY`.
    * Afterwards each file covers a narrow `clusterCol` slice, so the
    * per-file column stats (recorded on every write) turn a
    * `ranges = Map(clusterCol -> (lo, hi))` read into an O(matching
    * files) scan — file skipping on a NON-KEY predicate, the lever
    * that makes "scan last week's shard of 100 TB" cheap when the
    * cluster column is the one queries filter on.  Row-preserving on
    * LIVE rows (DVs materialize, like [[optimize]]); key min/max per
    * file stays exact (now wide — key-range pruning degrades as
    * cluster-column pruning takes over, the usual layout trade).
    * Same optimistic-concurrency contract as [[merge]]. */
  /** OPTIMIZE by SIZE: bin-pack every current file smaller than
    * `minBytes` into ~`targetBytes` outputs, using the manifest's
    * RECORDED sizes (zero filesystem RPCs to plan) — the byte-domain
    * twin of [[optimize]]'s row-count form, and the more faithful one
    * at scale: a streaming table's files vary in row width, and what
    * scan efficiency actually cares about is bytes per task.  Files at
    * or above the threshold (or with no recorded size) carry by
    * reference; a single small file is left alone (rewriting it buys
    * nothing).  Row-preserving; DVs of rewritten files materialize.
    * Same optimistic-concurrency contract as [[merge]]. */
  def optimizeBySize(s: SparkSession, root: String, minBytes: Long,
      idCol: String, targetBytes: Long): Int =
    retryingConflicts(root) { () =>
      val parentV = latestVersion(s, root).getOrElse(
        throw new IllegalStateException("optimize of empty table"))
      val snap = snapshot(s, root, parentV)
      val (small, carry) = snap.files.partition(f =>
        f.bytes > 0L && f.bytes < minBytes)
      if (small.size < 2) parentV
      else {
        val total = small.map(_.bytes).sum
        val n = math.max(1L,
          (total + targetBytes - 1L) / targetBytes).toInt
        val newFiles = writeFiles(s, root, readFilesOf(s, snap, small), idCol, n)
        commitManifest(s, root, "optimize", newFiles, _ => carry,
          requireParent = Some(parentV))
      }
    }

  def optimizeClusterBy(s: SparkSession, root: String,
      clusterCol: String, idCol: String, numFiles: Int): Int =
    retryingConflicts(root) { () =>
      val parentV = latestVersion(s, root).getOrElse(
        throw new IllegalStateException("cluster of empty table"))
      val snap = snapshot(s, root, parentV)
      val newFiles = writeFiles(s, root, readFilesOf(s, snap, snap.files), idCol,
        numFiles, partitionCol = Some(clusterCol))
      commitManifest(s, root, "cluster", newFiles, _ => Seq.empty,
        requireParent = Some(parentV))
    }

  /** INCREMENTAL re-clustering: restore a pairwise-DISJOINT layout on
    * `clusterCol` by rewriting only the connected components of the
    * file-interval overlap graph that hold more than one file; every
    * file already disjoint from all others carries by reference.
    *
    * This is the maintenance shape a clustered 100 TB table actually
    * needs: [[optimizeClusterBy]] is a FULL rewrite (right once, at
    * layout adoption), but the steady state is a trickle of appended
    * batches, each overlapping a handful of resident files' ranges —
    * re-clustering must cost O(overlapping files), not O(table)
    * (Iceberg's rewrite_data_files binpack/sort with min-input-files,
    * Databricks' incremental OPTIMIZE).  Components are computed on
    * the manifest's recorded per-file bounds (key zone map when
    * `clusterCol` is the key, long/timestamp column stats, else the
    * truncated string stats), sorted-sweep, O(files log files) driver
    * work.  Each multi-file component rewrites range-partitioned on
    * `clusterCol` into ceil(liveRows / targetRowsPerFile) files;
    * component hulls are disjoint by construction, so the
    * post-condition holds globally.  A file with NO recorded bound for
    * `clusterCol` (all-null, pre-stats history) could overlap
    * anything: the pass degrades, conservatively, to one full rewrite.
    *
    * Row-preserving (pure layout; DVs of rewritten files materialize,
    * carried files keep their masks), commits op "cluster" (streams
    * treat it as no data change), and is a NO-OP returning the parent
    * version when the layout is already disjoint — so it is idempotent
    * for numeric/timestamp/key cluster columns.  String columns
    * compare at the recorded [[StrStatLen]]-truncated resolution:
    * files whose bounds tie on a shared 64-char prefix read as
    * overlapping and may re-merge; prefer numeric keys for clustering.
    * Same optimistic-concurrency contract as [[merge]]. */
  def optimizeClusterIncremental(s: SparkSession, root: String,
      clusterCol: String, idCol: String,
      targetRowsPerFile: Long = 1000000L): Int =
    retryingConflicts(root) { () =>
      val parentV = latestVersion(s, root).getOrElse(
        throw new IllegalStateException("cluster of empty table"))
      val snap = snapshot(s, root, parentV)

      def componentsOf[T](ranges: Seq[(FileEntry, Option[(T, T)])])(
          implicit ord: Ordering[T]): Seq[Seq[FileEntry]] =
        if (ranges.exists(_._2.isEmpty))
          // unbounded file: could overlap anything — full rewrite
          Seq(ranges.map(_._1))
        else {
          val sorted = ranges
            .map { case (f, r) => (f, r.get._1, r.get._2) }
            .sortBy(t => (t._2, t._3))
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(scala.collection.mutable.ArrayBuffer[FileEntry], T)]
          sorted.foreach { case (f, lo, hi) =>
            if (out.nonEmpty && ord.lteq(lo, out.last._2)) {
              out.last._1 += f
              if (ord.lt(out.last._2, hi))
                out(out.size - 1) = (out.last._1, hi)
            } else out += ((
              scala.collection.mutable.ArrayBuffer(f), hi))
          }
          out.map(_._1.toSeq).toSeq
        }

      val comps: Seq[Seq[FileEntry]] =
        if (clusterCol == idCol)
          componentsOf(snap.files.map(f =>
            f -> Option((f.minId, f.maxId))))
        else if (snap.files.exists(_.stats.contains(clusterCol)))
          componentsOf(snap.files.map(f => f -> f.stats.get(clusterCol)))
        else
          componentsOf(snap.files.map(f => f -> f.sstats.get(clusterCol)))

      val rewriteComps = comps.filter(_.size > 1)
      if (rewriteComps.isEmpty) parentV // already disjoint: no commit
      else {
        val carry = comps.filter(_.size == 1).flatten
        val newFiles = rewriteComps.flatMap { comp =>
          val rows = math.max(1L, comp.map(_.liveRows).sum)
          val n = ((rows + targetRowsPerFile - 1L) / targetRowsPerFile)
            .toInt.max(1)
          writeFiles(s, root, readFilesOf(s, snap, comp), idCol, n,
            partitionCol = Some(clusterCol))
        }
        commitManifest(s, root, "cluster", newFiles, _ => carry,
          requireParent = Some(parentV))
      }
    }

  /** Per-row 6-bit grid cell (0..63) for a numeric/timestamp column,
    * min-max quantized over the live data.  Quantization runs in
    * DOUBLE precision: the long form `(c - lo) * 64 / range` overflows
    * the multiply for column ranges wider than Long.MaxValue/64 —
    * row-preserving (the cell is exchange-only) but the clustering and
    * its stats-pruning payoff silently break — while a double's 52-bit
    * mantissa holds a 6-bit cell exactly for any bounds. */
  private def numericCell(c: Column, lo: Double, hi: Double): Column = {
    val range = math.max(1.0, hi - lo + 1.0)
    least(lit(63L),
      floor((c.cast("double") - lit(lo)) * 64.0 / lit(range)).cast("long"))
  }

  /** Per-row 6-bit cell for a STRING column: rank-bucket against up to
    * 63 sorted split points drawn from the column's distinct values —
    * LEXICOGRAPHIC buckets, not hashes, so each written file covers a
    * narrow dictionary slice and its per-file string min/max stats
    * (see [[writeFiles]]) prune string predicates.  Bounded driver
    * state: distinct values are sampled down to <=16384 before
    * collecting — exact for the low-cardinality metadata columns
    * (lang, source, domain) string Z-order exists for, quantile-
    * approximate above that (the same sampling trade RangePartitioner
    * makes).  The cell expression is a fold of <=63 comparisons —
    * plain codegen, no UDF, no join. */
  private def stringCell(live: DataFrame, c: String): Column = {
    val distinctVals = live.select(col(c)).na.drop().distinct()
    val nd = distinctVals.count()
    val capped =
      if (nd <= 16384) distinctVals
      else distinctVals.sample(withReplacement = false, 16384.0 / nd, 42L)
    val vals = capped.orderBy(col(c)).collect()
      .map(_.get(0).toString).toIndexedSeq
    if (vals.size <= 1) lit(0L)
    else {
      val splits =
        if (vals.size <= 64) vals.drop(1)
        else (1 until 64).map(i => vals((i * vals.size) / 64)).distinct
      val rank = splits.foldLeft(lit(0L))((acc, b) =>
        acc + when(col(c) >= lit(b), 1L).otherwise(0L))
      // scale ranks across the FULL 0..63 cell range: a low-cardinality
      // column (5 langs -> ranks 0..4) must still reach the high
      // interleave bits, or its dimension never influences how the
      // range partitioner splits files and its pruning payoff vanishes
      (rank * lit(64L)) / lit((splits.size + 1).toLong)
    }
  }

  /** OPTIMIZE ... ZORDER BY (two columns) — see [[optimizeZOrderBy]]. */
  def optimizeZOrder(s: SparkSession, root: String, c1: String,
      c2: String, idCol: String, numFiles: Int): Int =
    optimizeZOrderBy(s, root, Seq(c1, c2), idCol, numFiles)

  /** OPTIMIZE ... ZORDER BY (N columns, N <= 10): rewrite the current
    * files range-partitioned on the MORTON INTERLEAVE of each column's
    * 6-bit grid cell, so every file covers a compact hyper-rectangle
    * of the N-dimensional space.  The payoff is the Z-order property:
    * a narrow range on ANY single column prunes to a strict fraction
    * of the files through the per-file column stats, where 1-D
    * clustering serves one column perfectly and the others not at all
    * — the multi-predicate layout Delta's OPTIMIZE ZORDER BY exists
    * for.  Numeric and timestamp columns quantize against their live
    * min/max in one aggregation pass ([[numericCell]]); STRING columns
    * are admitted via lexicographic rank-buckets ([[stringCell]]), so
    * `lang = 'fr'`-shaped predicates prune through the string stats.
    * Nulls cluster in cell 0.  Key min/max and all column stats are
    * recorded per file as on every write.  Row-preserving on live rows
    * (DVs materialize).  The interleave key is an exchange-only
    * expression — it is never written into the files. */
  def optimizeZOrderBy(s: SparkSession, root: String, cols: Seq[String],
      idCol: String, numFiles: Int): Int = {
    // 6 bits per column, interleaved below bit 63: ten dims max
    require(cols.nonEmpty && cols.size <= 10,
      s"Z-order supports 1..10 columns, got ${cols.size}")
    retryingConflicts(root) { () =>
      val parentV = latestVersion(s, root).getOrElse(
        throw new IllegalStateException("zorder of empty table"))
      val snap = snapshot(s, root, parentV)
      if (snap.rows == 0L)
        // empty table (manifest metadata — no scan): nothing to lay out
        return parentV
      val live = readFilesOf(s, snap, snap.files)
      import org.apache.spark.sql.types._
      val fieldType = live.schema.fields.map(f => f.name -> f.dataType).toMap
      val numCols = cols.filter(c => fieldType.get(c) match {
        case Some(_: NumericType) | Some(TimestampType) => true
        case _ => false
      })
      // all numeric bounds in ONE aggregation pass over the live rows
      val bounds: Map[String, (Double, Double)] =
        if (numCols.isEmpty) Map.empty
        else {
          val aggs = numCols.flatMap(c => Seq(
            min(col(c).cast("double")).as(s"__lo_$c"),
            max(col(c).cast("double")).as(s"__hi_$c")))
          val r = live.agg(aggs.head, aggs.tail: _*).collect().head
          numCols.flatMap { c =>
            val lo = r.getAs[Any](s"__lo_$c"); val hi = r.getAs[Any](s"__hi_$c")
            if (lo == null || hi == null) None
            else Some(c ->
              (lo.asInstanceOf[Double], hi.asInstanceOf[Double]))
          }.toMap
        }
      val cellCols: Seq[Column] = cols.map { c =>
        fieldType.get(c) match {
          case Some(StringType) => stringCell(live, c)
          case Some(_: NumericType) | Some(TimestampType) =>
            val (lo, hi) = bounds.getOrElse(c, (0.0, 0.0))
            numericCell(col(c), lo, hi)
          case other => throw new IllegalArgumentException(
            s"Z-order on '$c': unsupported type $other (numeric, " +
              "timestamp and string columns are supported)")
        }
      }.map(cc => coalesce(cc, lit(0L)))
      val n = cols.size
      val z = (0 until 6).flatMap { i =>
        cellCols.zipWithIndex.map { case (cc, j) =>
          shiftright(cc, i).bitwiseAND(lit(1L)) * lit(1L << (i * n + j))
        }
      }.reduce(_ + _)
      val newFiles = writeFiles(s, root, live, idCol, numFiles,
        partitionExpr = Some(z))
      commitManifest(s, root, "zorder", newFiles, _ => Seq.empty,
        requireParent = Some(parentV))
    }
  }

  /** RESTORE: make the table head the exact content of an older
    * version, committed as a NEW version (op "restore") whose file list
    * IS the target snapshot's — no data is copied or rewritten, and the
    * intermediate history stays readable (Delta's RESTORE TABLE ...
    * VERSION AS OF has the same shape: roll forward by rolling back).
    * Requires the target version's manifest to still exist (i.e. not
    * vacuumed past); the restored files are guaranteed live because
    * vacuum only deletes files referenced by NO kept manifest.
    *
    * Conflict contract: the restore commits AGAINST the head observed
    * at entry.  A commit racing in between would otherwise be silently
    * erased from the head (its committer got a success return, its
    * rows vanish) — so unlike merge/delete, whose retry re-derives the
    * same semantics against the new head, restore SURFACES the race as
    * [[java.util.ConcurrentModificationException]]: erasing a commit
    * nobody has seen is a decision only the caller can make (re-issue
    * the restore to make it, now knowing about the racer). */
  def restore(s: SparkSession, root: String, toVersion: Int,
      txnId: Option[String] = None): Int = {
    txnId.foreach(t => findCommittedTxn(s, root, t).foreach(v => return v))
    val head = latestVersion(s, root).getOrElse(
      throw new IllegalStateException(s"restore of empty table $root"))
    restoreFrom(s, root, toVersion, head, txnId)
  }

  /** RESTORE to the state as of a TIMESTAMP (ISO-8601 instant or
    * epoch millis) — resolves the latest commit at or before the
    * probe, then restores to it; Delta's `RESTORE ... TO TIMESTAMP AS
    * OF`.  Same conflict/txn contract as [[restore]]. */
  def restoreToTimestamp(s: SparkSession, root: String, t: String,
      txnId: Option[String] = None): Int =
    restore(s, root, versionAtTimestamp(s, root, t), txnId)

  /** The commit half of [[restore]] against an explicitly observed
    * head — split out so the conflict contract is testable without a
    * thread race: a commit landing after `observedHead` was read makes
    * this throw, never silently erase. */
  private[graft] def restoreFrom(s: SparkSession, root: String,
      toVersion: Int, observedHead: Int,
      txnId: Option[String] = None): Int = {
    val target = snapshot(s, root, toVersion)
    commitManifest(s, root, "restore", Seq.empty, _ => target.files, txnId,
      requireParent = Some(observedHead),
      // POLICY follows the head lineage (constraints, bloom enrollment,
      // properties survive the rollback), but the recorded SCHEMA
      // describes CONTENT, and the content is now the target's — keep
      // the head's wider schema and a restore past an evolution would
      // serve phantom null columns forever (Delta's RESTORE rolls the
      // schema back with the data for the same reason)
      propsOf = parent => {
        val inherited = parent.map(_.props).getOrElse(Map.empty)
        // the column mapping and retired-physical set are part of the
        // CONTENT description, exactly like the schema: they roll back
        // with it (a restore past a rename must read under the old
        // logical names; past a drop must serve the column again)
        def roll(m: Map[String, String], k: String) =
          target.props.get(k) match {
            case Some(v) => m + (k -> v)
            case None => m - k
          }
        Seq(TableSchemaProp, ColumnMappingProp, DroppedColsProp)
          .foldLeft(inherited)(roll)
      })
  }

  private def clonesDir(root: String): Path =
    new Path(s"$root/$VersionsDir", "_clones")

  /** Register a clone back-reference at the SOURCE: one tiny JSON file
    * per clone under `_versions/_clones/` (per-clone files, so two
    * concurrent clones never read-modify-write a shared ledger).
    * [[vacuum]] resolves these to the files each clone still
    * references and refuses to reclaim them. */
  private def registerClone(s: SparkSession, srcRoot: String,
      dstRoot: String): Unit = {
    val fs = fileSystem(s, srcRoot)
    fs.mkdirs(clonesDir(srcRoot))
    val out = fs.create(new Path(clonesDir(srcRoot),
      s"clone-${java.util.UUID.randomUUID()}.json"), false)
    val node = new ObjectMapper().createObjectNode()
    node.put("dst", dstRoot)
    out.write(new ObjectMapper().writeValueAsString(node).getBytes("UTF-8"))
    out.close()
  }

  /** The clone back-references registered at `root`, as
    * (entryFile, dstRoot) pairs. */
  private def readClones(s: SparkSession, root: String)
      : Seq[(Path, String)] = {
    val fs = fileSystem(s, root)
    val dir = clonesDir(root)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.startsWith("clone-"))
      .map { st =>
        val in = fs.open(st.getPath)
        val node = try new ObjectMapper().readTree(in) finally in.close()
        st.getPath -> node.get("dst").asText()
      }
  }

  /** Shallow (zero-copy) CLONE: initialize `dstRoot` with a v1 manifest
    * referencing the SOURCE version's data files by absolute path —
    * nothing is copied, so cloning a 100 TB table is one manifest
    * write.  The clone then evolves independently: its copy-on-write
    * commits land new files under ITS root, and its vacuum only lists
    * its own data dir, so source files can never be deleted from the
    * clone side.  The shared-fate hazard of Delta/Iceberg shallow
    * clones — vacuuming the SOURCE reclaiming files a clone still
    * references — is closed here by a clone BACK-REFERENCE registered
    * at the source ([[registerClone]]): the source's [[vacuum]]
    * resolves each registered clone's live manifests and keeps every
    * file they still reference, so a source vacuum can never break a
    * reachable clone (a clone whose root was deleted garbage-collects
    * its back-reference on the next source vacuum). */
  def cloneShallow(s: SparkSession, srcRoot: String, dstRoot: String,
      version: Option[Int] = None): Int = {
    val v = version.orElse(latestVersion(s, srcRoot)).getOrElse(
      throw new IllegalStateException(s"no committed version at $srcRoot"))
    val src = snapshot(s, srcRoot, v)
    // emptiness is enforced INSIDE the CAS loop (the carryOver callback
    // sees the current parent on every attempt), not by a check-then-act
    // pre-read — a commit racing onto dstRoot must surface as this
    // exception, never as a clone manifest that silently drops it
    val committed = commitManifest(s, dstRoot, "clone", src.files, {
      case Some(p) => throw new IllegalStateException(
        s"clone target $dstRoot not empty (head v${p.version})")
      case None => Seq.empty
    }, propsOf = _ => src.props) // clones inherit source table policy
    // registered AFTER the clone commit wins: a failed clone leaves no
    // back-reference pinning source files forever
    registerClone(s, srcRoot, dstRoot)
    committed
  }

  /** Row-level change data feed between two versions, tagged
    * `_change_type`.  Without `idCol`: the diff's multisets as
    * 'insert' / 'delete' — an UPDATE surfaces as its delete+insert
    * pair, the minimal CDC encoding every downstream incremental
    * consumer can fold.  With `idCol` (the table key): the pair is
    * RESOLVED — a key present on both sides of one version's diff is
    * an update, emitted as 'update_preimage' (the old row) and
    * 'update_postimage' (the new row), matching Delta's change-data-
    * feed contract; keys on one side only stay 'insert' / 'delete'.
    * Downstream aggregate maintenance needs the pairing: fold
    * `+post − pre + insert − delete` and any distributive aggregate
    * stays exact without rescanning the table.
    *
    * Pairing assumes `idCol` is the table's key (at most one row per
    * key per snapshot) — the same precondition [[merge]] enforces; on
    * a multiset table a key recurring on both sides marks ALL its
    * occurrences as update images.
    *
    * Reads only files the two manifests do not share, like [[diff]];
    * the pairing join runs over the commit-sized diff, never the
    * table. */
  def changeFeed(s: SparkSession, root: String, vFrom: Int,
      vTo: Int, idCol: Option[String] = None): DataFrame = {
    val (toSide, fromSide, isEmpty) = diffSides(s, root, vFrom, vTo)
    if (isEmpty)
      return toSide.withColumn("_change_type", lit("insert"))
    fusedFeed(Seq((vTo, toSide, fromSide)), idCol).drop("_commit_version")
  }

  /** CHANGES BETWEEN two versions as PER-COMMIT feeds: every version
    * in [startingVersion, endingVersion] contributes its change feed
    * vs its parent, tagged `_commit_version` — Delta's `readChangeFeed`
    * window contract (inclusive bounds), where [[changeFeed]] alone
    * gives the NET diff of two snapshots.  Version 1 (when included)
    * feeds as the initial load's pure inserts.  Every commit's sides
    * are aligned to the window's union schema, so a schema evolution
    * inside the window reads as nulls on the pre-evolution commits'
    * rows. */
  def changes(s: SparkSession, root: String, startingVersion: Int,
      endingVersion: Int, idCol: Option[String] = None): DataFrame = {
    require(startingVersion >= 1 && startingVersion <= endingVersion,
      s"bad CHANGES BETWEEN window [$startingVersion, $endingVersion]")
    // FUSED window feed: because every commit's signed-multiset diff
    // is computed over DISJOINT groups once `_commit_version` joins the
    // grouping key, the whole window is ONE union + ONE groupBy + ONE
    // pairing window partitioned by (version, id) — per-commit
    // semantics, one exchange instead of one per commit.
    // version 1, when in the window, is one more commit whose
    // from-side is empty: the initial load's pure inserts
    val initial = if (startingVersion > 1) Seq.empty else {
      val v1 = read(s, root, Some(1))
      Seq((1, (v1, v1.filter(lit(false)), false)))
    }
    val sides = initial ++ (math.max(2, startingVersion) to endingVersion)
      .map(v => (v, diffSides(s, root, v - 1, v)))
    // the window's union schema over EVERY commit's sides, no-op
    // commits included (an ADD COLUMN commit contributes its column),
    // in first-seen order; a name whose type changed across the window
    // (drop and re-add) takes the newest commit's type
    val union = sides.flatMap { case (_, (to, from, _)) =>
      Seq(to.schema, from.schema) }
      .foldLeft(new org.apache.spark.sql.types.StructType())((acc, st) =>
        widenType("", acc, st, (_, _, newer) => newer)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
    // every side aligned to the union by name AND type before tagging,
    // so one fused feed covers a window straddling a schema evolution:
    // a commit that predates a column (or a struct field) reads it as
    // NULL
    def align(df: DataFrame): DataFrame =
      df.select(union.fields.toIndexedSeq.map(f =>
        df.schema.find(_.name == f.name)
          .fold(lit(null).cast(f.dataType))(g =>
            conformCol(col(f.name), g.dataType, f.dataType))
          .as(f.name)): _*)
    val parts = sides.collect { case (v, (to, from, false)) =>
      (v, align(to), align(from)) }
    // the columns come in the order CHANGES BETWEEN has always served
    // (a by-name union of per-commit feeds gave it): the first changed
    // commit's columns, the tags, then the columns later commits add
    val lead = sides.collectFirst { case (_, (to, _, false)) => to.columns }
      .getOrElse(sides.head._2._1.columns).toSeq
    val order = lead ++ Seq("_change_type", "_commit_version") ++
      union.fieldNames.filterNot(lead.contains)
    val feed =
      if (parts.nonEmpty) fusedFeed(parts, idCol)
      // every commit in the window was a no-op: an empty feed with the
      // window's schema
      else align(sides.head._2._1)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(sides.head._1))
        .filter(lit(false))
    feed.select(order.map(col): _*)
  }

  /** One-pass signed-multiset diff over the (version, to, from) sides
    * of one or more commits, which must share one schema.  The sides
    * are unioned ONCE with a +1/-1 marker and the signed count taken
    * per (row value, version): delta = #to − #from, so delta > 0 emits
    * that many 'insert'-side rows and delta < 0 that many 'delete'-side
    * rows — exactly exceptAll's max(count difference, 0) on each side —
    * in ONE exchange, with each side scanned once.  With `idCol` the
    * pre/post-image pairing is a min/max window over (version, key):
    * a key with rows on both sides of one commit's diff is an update.
    * `_commit_version` in the grouping key and the window partition
    * keeps each commit's groups disjoint, so a whole CDF window fuses
    * into one plan. */
  private def fusedFeed(parts: Seq[(Int, DataFrame, DataFrame)],
      idCol: Option[String]): DataFrame = {
    val dataCols = parts.head._2.columns.toSeq
    val tagged = parts.map { case (v, to, from) =>
      to.withColumn("_graft_side", lit(1L))
        .withColumn("_commit_version", lit(v))
        .unionByName(from.withColumn("_graft_side", lit(-1L))
          .withColumn("_commit_version", lit(v)))
    }.reduce(_.unionByName(_))
    val delta = tagged
      .groupBy((dataCols :+ "_commit_version").map(col): _*)
      .agg(sum(col("_graft_side")).as("_graft_delta"))
      .filter(col("_graft_delta") =!= 0L)
    val diffRows = delta
      .withColumn("_graft_i",
        explode(sequence(lit(1L), abs(col("_graft_delta")))))
      .withColumn("_graft_side",
        when(col("_graft_delta") > 0, 1).otherwise(-1))
      .drop("_graft_delta", "_graft_i")
    val taggedRows = idCol match {
      case None =>
        diffRows.withColumn("_change_type",
          when(col("_graft_side") > 0, "insert").otherwise("delete"))
      case Some(id) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("_commit_version"), col(id))
        diffRows
          .withColumn("_graft_lo", min(col("_graft_side")).over(w))
          .withColumn("_graft_hi", max(col("_graft_side")).over(w))
          .withColumn("_change_type",
            when(col(id).isNotNull &&
                col("_graft_lo") < col("_graft_hi"),
              when(col("_graft_side") > 0, "update_postimage")
                .otherwise("update_preimage"))
              .otherwise(when(col("_graft_side") > 0, "insert")
                .otherwise("delete")))
          .drop("_graft_lo", "_graft_hi")
    }
    // data columns, then _change_type, then _commit_version
    taggedRows.drop("_graft_side")
      .select((dataCols :+ "_change_type" :+ "_commit_version")
        .map(col): _*)
  }

  /** The DataFrameReader-shaped OPTION surface over the table — the
    * thin `VERSION AS OF` / `CHANGES BETWEEN` reader that rounds out
    * SQL-parity with Delta's reader options:
    *
    *   readOptions(s, root)                                   — head
    *   readOptions(s, root, Map("versionAsOf" -> "3"))        — time travel
    *   readOptions(s, root, Map("readChangeFeed" -> "true",
    *     "startingVersion" -> "2", "endingVersion" -> "4",
    *     "idCol" -> "doc_id"))                                — CDF window
    *
    * `endingVersion` defaults to the head; `idCol` opts into update
    * pre/post-image pairing ([[changeFeed]]).  Unknown options THROW —
    * silently ignoring a misspelled "versionAsof" would read the wrong
    * snapshot, the failure mode option-string surfaces exist to
    * avoid. */
  def readOptions(s: SparkSession, root: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val known = Set("versionAsOf", "timestampAsOf", "readChangeFeed",
      "startingVersion", "endingVersion", "idCol",
      "startingTimestamp", "endingTimestamp")
    val unknown = options.keySet.diff(known)
    require(unknown.isEmpty,
      s"unknown reader options $unknown (known: $known)")
    if (options.get("readChangeFeed").exists(_.toBoolean)) {
      require(!options.contains("versionAsOf") &&
        !options.contains("timestampAsOf"),
        "versionAsOf/timestampAsOf and readChangeFeed are mutually " +
          "exclusive")
      require(!(options.contains("startingVersion") &&
        options.contains("startingTimestamp")),
        "startingVersion and startingTimestamp are mutually exclusive")
      require(!(options.contains("endingVersion") &&
        options.contains("endingTimestamp")),
        "endingVersion and endingTimestamp are mutually exclusive")
      val from = options.get("startingVersion").map(_.toInt)
        // Delta's CDF timestamp bound: the FIRST commit at or after
        .orElse(options.get("startingTimestamp").map(t =>
          versionAtOrAfter(s, root, t)))
        .getOrElse(throw new IllegalArgumentException(
          "readChangeFeed requires startingVersion or " +
            "startingTimestamp"))
      val to = options.get("endingVersion").map(_.toInt)
        .orElse(options.get("endingTimestamp").map(t =>
          versionAtTimestamp(s, root, t)))
        .orElse(latestVersion(s, root)).getOrElse(
          throw new IllegalStateException(
            s"no committed version under $root"))
      changes(s, root, from, to, options.get("idCol"))
    } else {
      require(!options.contains("startingVersion") &&
        !options.contains("endingVersion") &&
        !options.contains("startingTimestamp") &&
        !options.contains("endingTimestamp") &&
        !options.contains("idCol"),
        "starting/ending bounds and idCol require readChangeFeed=true")
      require(!(options.contains("versionAsOf") &&
        options.contains("timestampAsOf")),
        "versionAsOf and timestampAsOf are mutually exclusive")
      val v = options.get("versionAsOf").map(_.toInt)
        .orElse(options.get("timestampAsOf").map(t =>
          versionAtTimestamp(s, root, t)))
      read(s, root, v)
    }
  }

  /** TIMESTAMP AS OF resolution: the latest version committed at or
    * before `t` (ISO-8601 instant like `2026-08-15T12:00:00Z`, or
    * epoch millis) — Delta's contract.  Versions from before commit
    * timestamps existed (ts = 0) resolve only for a genuinely ancient
    * probe, which is the conservative reading of an unknown commit
    * time.  Throws when the timestamp precedes the first kept commit —
    * the caller asked for state this table cannot reconstruct. */
  private def versionAtTimestamp(s: SparkSession, root: String,
      t: String): Int = {
    val millis = scala.util.Try(t.toLong).getOrElse(
      java.time.Instant.parse(t).toEpochMilli)
    val vs = versions(s, root)
    vs.filter(v => snapshot(s, root, v).tsMillis <= millis)
      .lastOption.getOrElse(throw new IllegalArgumentException(
        s"timestampAsOf $t precedes the first kept commit of $root " +
          s"(earliest: v${vs.headOption.getOrElse(0)})"))
  }

  /** `startingTimestamp` resolution for CDF windows: the FIRST kept
    * commit at or after `t` — the lower-bound dual of
    * [[versionAtTimestamp]], Delta's contract.  Throws when `t` lies
    * beyond the last commit (the requested window is empty and the
    * caller should know, not silently read nothing). */
  private def versionAtOrAfter(s: SparkSession, root: String,
      t: String): Int = {
    val millis = scala.util.Try(t.toLong).getOrElse(
      java.time.Instant.parse(t).toEpochMilli)
    versions(s, root)
      .find(v => snapshot(s, root, v).tsMillis >= millis)
      .getOrElse(throw new IllegalArgumentException(
        s"startingTimestamp $t is after the last commit of $root"))
  }

  /** Snapshot diff as (added, removed) row multisets, manifest-aware:
    * files shared by both manifests are carried by REFERENCE, so their
    * rows cancel exactly and never need scanning — with snapshots
    * v_a = S + A and v_b = S + B (S the shared files), v_b minus v_a =
    * B minus A as multisets.  Only the differing files are read: a
    * 10^6-file table whose commit rewrote 3 files diffs by scanning 6,
    * which is what makes incremental downstream refresh (re-embed only
    * changed docs) affordable at 100 TB. */
  def diff(s: SparkSession, root: String, vFrom: Int, vTo: Int)
      : (DataFrame, DataFrame) = {
    val (toSide, fromSide, isEmpty) = diffSides(s, root, vFrom, vTo)
    if (isEmpty) (toSide, fromSide)
    else (toSide.exceptAll(fromSide), fromSide.exceptAll(toSide))
  }

  /** The aligned per-side reads every diff consumer starts from: the
    * files only in `vTo` / only in `vFrom` (DV-masked, schema-aligned,
    * conformed to the logical surface), plus the no-difference flag.
    * Factored out of [[diff]] so [[changeFeed]] can fuse the two
    * multiset differences into one pass instead of paying
    * exceptAll twice over the same union. */
  private def diffSides(s: SparkSession, root: String, vFrom: Int,
      vTo: Int): (DataFrame, DataFrame, Boolean) = {
    val from = snapshot(s, root, vFrom)
    val to = snapshot(s, root, vTo)
    // file identity includes the DV pointer: a merge-on-read delete
    // carries every data file by reference but changes the touched
    // entries' DVs, and those files' LIVE row sets differ — they must
    // be scanned (both sides, live), while (path, dv)-identical
    // entries still cancel by reference
    def ident(f: FileEntry): (String, Option[String]) =
      (f.path, f.dv.map(_.path))
    val fromIds = from.files.map(ident).toSet
    val toIds = to.files.map(ident).toSet
    val onlyFrom = from.files.filterNot(f => toIds(ident(f)))
    val onlyTo = to.files.filterNot(f => fromIds(ident(f)))
    // column mapping: files carry PHYSICAL names — read with the
    // physical form of the schema, then conform both sides to the
    // LOGICAL surface (identity for unmapped tables).  The newer
    // snapshot's mapping governs: it maps every physical either side
    // can reference.
    val (mapSnap, other) =
      if (to.version >= from.version) (to, from) else (from, to)
    if (onlyFrom.isEmpty && onlyTo.isEmpty) {
      val e = conformToSnapshot(s, mapSnap, emptyLike(s, mapSnap))
      return (e, e, true)
    }
    // one schema over both recorded schemas, applied to BOTH sides:
    // across a schema-evolution boundary (or a schema-rolling restore)
    // the sides would otherwise disagree on columns (exceptAll
    // AnalysisException) or silently cancel rows differing only in the
    // evolved column.  A file missing a schema column reads it as null
    // — exactly the evolution semantics of read().
    val schema = {
      val newer = readSchema(mapSnap)
      org.apache.spark.sql.types.StructType(newer.fields ++
        readSchema(other).fields.filterNot(f =>
          newer.fieldNames.contains(f.name)))
    }
    def readAligned(entries: Seq[FileEntry]): DataFrame =
      if (entries.isEmpty)
        conformToSnapshot(s, mapSnap, s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
      else conformToSnapshot(s, mapSnap, applyDv(s,
        s.read.schema(schema).parquet(entries.map(_.path): _*), entries))
    val fromSide = readAligned(onlyFrom)
    val toSide = readAligned(onlyTo)
    (toSide, fromSide, false)
  }

  /** Remove data files referenced by NO manifest with version >=
    * keepFrom, and the manifests below keepFrom.  Returns
    * (dataFilesBefore, dataFilesDeleted).
    *
    * `retainMs` is the safety horizon against in-flight commits: a
    * writer that has finished `writeFiles` but not yet won its CAS has
    * data files referenced by no committed manifest, and a concurrent
    * vacuum would otherwise delete them and let the writer commit a
    * manifest pointing at nothing.  Files younger than `retainMs` are
    * never touched (Delta's retention-check plays the same role); the
    * default comfortably exceeds any commit's write-to-CAS window.
    * Tests pass 0 for determinism in a single-process world. */
  /** [[fsck]]'s findings: manifest references whose backing storage
    * is gone.  `missingData` = data files the head references that the
    * filesystem no longer holds; `missingDv` = deletion-vector
    * sidecars likewise (their files' masks are unreconstructable). */
  final case class FsckReport(missingData: Seq[String],
      missingDv: Seq[String]) {
    def clean: Boolean = missingData.isEmpty && missingDv.isEmpty
  }

  /** FSCK: audit the HEAD snapshot's storage integrity — does every
    * referenced data file and deletion-vector sidecar still exist?
    * (Delta's `FSCK REPAIR TABLE` diagnosis half.)  External deletion
    * of a referenced file — an aggressive lifecycle rule, a fat-
    * fingered rm, an eventual-consistency hole — otherwise surfaces
    * only as a task-time FileNotFound deep inside a scan.  ONE
    * recursive listing of the data directory (O(files) driver work,
    * zero per-file RPCs) is diffed against the resolved manifest. */
  def fsck(s: SparkSession, root: String): FsckReport = {
    val v = latestVersion(s, root).getOrElse(
      throw new IllegalStateException(s"fsck of empty table $root"))
    val snap = snapshot(s, root, v)
    val fs = fileSystem(s, root)
    val dataDir = new Path(root, "data")
    val present = scala.collection.mutable.HashSet.empty[String]
    if (fs.exists(dataDir)) {
      val it = fs.listFiles(dataDir, true)
      while (it.hasNext) present += normPath(it.next().getPath.toString)
    }
    val dataPrefix = normPath(dataDir.toString) + "/"
    // CONVERTed files live outside root/data: probe those individually
    // (bounded by the import, and only until maintenance rewrites
    // migrate their rows into engine-managed files)
    def missing(p: String): Boolean = {
      val n = normPath(p)
      if (n.startsWith(dataPrefix)) !present(n)
      else !fs.exists(new Path(p))
    }
    FsckReport(
      snap.files.map(_.path).filter(missing),
      snap.files.flatMap(_.dv.map(_.path)).distinct.filter(missing))
  }

  /** FSCK REPAIR: commit a new version that drops every head entry
    * whose data file is gone, and every entry whose deletion-vector
    * sidecar is gone (the mask cannot be reconstructed, and serving
    * the file unmasked would RESURRECT deleted rows — losing the
    * file's live rows loudly beats silently un-deleting; the report
    * names them).  Returns the parent version unchanged when the
    * audit is clean.  History stays intact: older manifests still
    * reference the lost files and their reads fail exactly as before
    * — repair fixes the HEAD, vacuum governs the past. */
  def fsckRepair(s: SparkSession, root: String): Int =
    retryingConflicts(root) { () =>
      val parentV = latestVersion(s, root).getOrElse(
        throw new IllegalStateException(s"fsck of empty table $root"))
      val report = fsck(s, root)
      if (report.clean) parentV
      else {
        val badData = report.missingData.map(normPath).toSet
        val badDv = report.missingDv.map(normPath).toSet
        val snap = snapshot(s, root, parentV)
        val keep = snap.files.filter(f =>
          !badData(normPath(f.path)) &&
            f.dv.forall(d => !badDv(normPath(d.path))))
        commitManifest(s, root, "fsck", Seq.empty, _ => keep,
          requireParent = Some(parentV))
      }
    }

  /** VACUUM DRY RUN: the exact file set a [[vacuum]] with the same
    * arguments would reclaim, deleting nothing — the look-before-you-
    * leap half of Delta's `VACUUM ... DRY RUN`.  An operator checks
    * the list (count, bytes, anything referenced by an out-of-band
    * consumer) before committing to the real pass. */
  def vacuumDryRun(s: SparkSession, root: String, keepFrom: Int,
      retainMs: Long = 24L * 3600 * 1000): Seq[String] =
    vacuumDoomed(s, root, keepFrom, retainMs)._2.map(_.toString)

  /** The reclaim set shared by [[vacuum]] and [[vacuumDryRun]]: every
    * file under `root/data` referenced by no kept manifest (own or
    * registered clones') and older than the retention horizon. */
  private def vacuumDoomed(s: SparkSession, root: String, keepFrom: Int,
      retainMs: Long): (Int, Seq[Path]) = {
    val fs = fileSystem(s, root)
    // DV sidecars are referenced files too: reclaiming one would break
    // every kept snapshot whose entries point at it (masked rows would
    // resurrect) — they live and die with the manifests, like data
    val ownRefs = versions(s, root).filter(_ >= keepFrom)
      .flatMap(v => snapshot(s, root, v).files
        .flatMap(f => f.path +: f.dv.map(_.path).toSeq))
      .map(p => new Path(p).toUri.getPath).toSet
    // clone back-references: every file a REGISTERED shallow clone's
    // kept manifests still point at is protected too — without this,
    // vacuuming the source silently bricks its clones (the Delta/
    // Iceberg shared-fate hazard).  A clone whose root no longer has a
    // version log is gone: its back-reference file is garbage-collected
    // here and pins nothing.  Driver cost is O(clone manifests).
    val cloneRefs = readClones(s, root).flatMap { case (entry, dst) =>
      val dstVersions =
        try versions(s, dst) catch { case _: java.io.IOException => Seq.empty }
      if (dstVersions.isEmpty) {
        try fs.delete(entry, false)
        catch { case _: java.io.IOException => () }
        Seq.empty
      } else dstVersions.flatMap(v =>
        snapshot(s, dst, v).files
          .flatMap(f => f.path +: f.dv.map(_.path).toSeq)
          .map(p => new Path(p).toUri.getPath))
    }.toSet
    val referenced = ownRefs ++ cloneRefs
    val dataDir = new Path(root, "data")
    if (!fs.exists(dataDir)) return (0, Seq.empty)
    val horizon = System.currentTimeMillis() - retainMs
    val all = scala.collection.mutable.ArrayBuffer.empty[Path]
    val young = scala.collection.mutable.Set.empty[String]
    val it = fs.listFiles(dataDir, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && !st.getPath.getName.startsWith("_")
        && !st.getPath.getName.startsWith(".")) {
        all += st.getPath
        if (st.getModificationTime > horizon)
          young += st.getPath.toUri.getPath
      }
    }
    (all.size, all.filterNot { p =>
      val norm = p.toUri.getPath
      referenced.contains(norm) || young.contains(norm)
    }.toSeq)
  }

  def vacuum(s: SparkSession, root: String, keepFrom: Int,
      retainMs: Long = 24L * 3600 * 1000): (Int, Int) = {
    val fs = fileSystem(s, root)
    if (!fs.exists(new Path(root, "data"))) return (0, 0)
    val horizon = System.currentTimeMillis() - retainMs
    val (nAll, doomed) = vacuumDoomed(s, root, keepFrom, retainMs)
    doomed.foreach(p => fs.delete(p, false))
    val doomedVersions = versions(s, root).filter(_ < keepFrom)
    // Manifests about to be reclaimed may carry txn ids; compact them
    // into the ledger FIRST (crash between the two steps leaves a txn
    // in both places — benign) so a stream restarting from an older
    // checkpoint still sees its batch as committed.  Without this,
    // vacuum silently broke VersionedSink's exactly-once guarantee.
    val harvest = doomedVersions
      .flatMap(v => snapshot(s, root, v).txnId.map(_ -> v)).toMap
    if (harvest.nonEmpty)
      writeTxnLedger(s, root, readTxnLedger(s, root) ++ harvest)
    doomedVersions.foreach { v =>
      fs.delete(manifestPath(root, v), false)
      snapCache.remove((root, v))
      rootCache.remove((root, v))
    }
    // TMP-MANIFEST GC: a committer killed between its temp-manifest
    // write and the atomic claim leaves a `.tmp-` orphan in _versions
    // forever (the happy path deletes its own; the ledger writer's
    // `.tmp-ledger-` has the same crash window).  Reclaim orphans
    // older than the retain horizon — an in-flight committer's tmp
    // lives milliseconds between write and claim, the horizon hours,
    // so the age gate makes yanking a live one practically impossible
    // (and a yanked claim would fail LOUDLY and retry, never corrupt).
    val vdir = new Path(root, VersionsDir)
    if (fs.exists(vdir)) {
      fs.listStatus(vdir).foreach { st =>
        if (st.isFile && st.getPath.getName.startsWith(".tmp-") &&
          st.getModificationTime <= horizon) {
          try { fs.delete(st.getPath, false); () }
          catch { case _: java.io.IOException => () }
        }
      }
    }
    // GROUP GC: a group sidecar referenced by no kept manifest (its
    // manifests were reclaimed above, or it was orphaned by a lost CAS
    // race) is dead weight.  Same retainMs guard as data files — a
    // committer that wrote groups but has not yet won its CAS must not
    // lose them under its feet.  Clone manifests reference only their
    // OWN roots' groups (cloning re-groups at the destination), so the
    // kept-manifest union here is complete.
    val gdir = groupsDir(root)
    if (fs.exists(gdir)) {
      val keptGroups = versions(s, root)
        .flatMap(v => snapshot(s, root, v).groups.map(_._1.path))
        .map(p => new Path(p).toUri.getPath).toSet
      fs.listStatus(gdir).foreach { st =>
        val norm = st.getPath.toUri.getPath
        if (st.isFile && st.getPath.getName.startsWith("g-") &&
          !keptGroups.contains(norm) &&
          st.getModificationTime <= horizon) {
          fs.delete(st.getPath, false)
          groupCache.remove(st.getPath.toString)
          ()
        }
      }
    }
    (nAll, doomed.size)
  }

  /** DESCRIBE HISTORY: one row per kept version — (version, ts, op,
    * txn, num_files, num_live_rows, num_constraints).  Built from the
    * manifests alone (O(versions) driver work over cached parses, no
    * data scan); `ts` is the commit's wall-clock, null for manifests
    * written before commit timestamps existed.  The audit surface
    * Delta's DESCRIBE HISTORY provides: what changed the table, when,
    * and under which transaction. */
  /** DESCRIBE HISTORY's schema — shared with the SQL command surface
    * (the command must declare its output at ANALYSIS time). */
  val HistorySchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("ts", TimestampType, nullable = true),
      StructField("op", StringType, nullable = false),
      StructField("txn", StringType, nullable = true),
      StructField("num_files", LongType, nullable = false),
      StructField("num_live_rows", LongType, nullable = false),
      StructField("num_constraints", LongType, nullable = false)))
  }

  def history(s: SparkSession, root: String): DataFrame = {
    val rows = versions(s, root).map { v =>
      val sn = snapshot(s, root, v)
      org.apache.spark.sql.Row(sn.version,
        if (sn.tsMillis == 0L) null
        else new java.sql.Timestamp(sn.tsMillis),
        sn.op, sn.txnId.orNull, sn.files.size.toLong, sn.rows,
        sn.constraints.size.toLong)
    }
    s.createDataFrame(
      s.sparkContext.parallelize(rows, 1), HistorySchema)
  }

  /** DESCRIBE DETAIL: one row about the HEAD snapshot — version, op,
    * file/row counts, total bytes (summed from the manifest's recorded
    * sizes — no filesystem sweep), the table key, group count, and
    * constraint cardinality.  Manifest metadata only, O(1) data I/O,
    * like [[history]]. */
  /** DESCRIBE DETAIL's schema — shared with the SQL command surface. */
  val DetailSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("op", StringType, nullable = false),
      StructField("num_files", LongType, nullable = false),
      StructField("num_live_rows", LongType, nullable = false),
      StructField("size_bytes", LongType, nullable = false),
      StructField("key_col", StringType, nullable = true),
      StructField("num_groups", LongType, nullable = false),
      StructField("num_constraints", LongType, nullable = false)))
  }

  def detail(s: SparkSession, root: String): DataFrame = {
    val v = latestVersion(s, root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val sn = snapshot(s, root, v)
    s.createDataFrame(
      s.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
        sn.version, sn.op, sn.files.size.toLong, sn.rows,
        sn.files.map(_.bytes).sum,
        sn.props.get(TableKeyProp).orNull,
        sn.groups.size.toLong, sn.constraints.size.toLong)), 1),
      DetailSchema)
  }

  /** TIME-BASED retention vacuum: reclaim history older than
    * `retentionMs`, keeping (a) every version whose commit timestamp
    * is inside the horizon, (b) always the head (a quiet table must
    * stay readable forever), and (c) pre-timestamp manifests only via
    * the head rule — the `VACUUM ... RETAIN n HOURS` contract, mapped
    * onto [[vacuum]]'s version cutoff.  Commit timestamps are
    * single-writer-advisory (clock skew shifts the horizon by the
    * skew, never breaks a snapshot — vacuum's own referenced-file
    * union is what protects data). */
  def vacuumRetain(s: SparkSession, root: String, retentionMs: Long,
      retainMs: Long = 24L * 3600 * 1000): (Int, Int) = {
    val vs = versions(s, root)
    if (vs.isEmpty) return (0, 0)
    vacuum(s, root, retentionKeepFrom(s, root, retentionMs), retainMs)
  }

  /** The version cutoff a `RETAIN`-style retention maps onto: the
    * first version committed inside the horizon, or the head when
    * every commit is older (a quiet table stays readable forever).
    * Shared by [[vacuumRetain]] and the SQL `VACUUM ... DRY RUN`. */
  private[graft] def retentionKeepFrom(s: SparkSession, root: String,
      retentionMs: Long): Int = {
    val vs = versions(s, root)
    val horizon = System.currentTimeMillis() - retentionMs
    vs.filter(v => snapshot(s, root, v).tsMillis >= horizon)
      .headOption.getOrElse(vs.last)
  }
}
