package graft.sources.v2

import java.util
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.VersionedTable

/** The SQL face of the versioned table — a path-based
  * [[TableCatalog]], Delta's `delta.`/path/to/table`` architecture:
  *
  * {{{
  *   val spark = graft.GraftSession(4) // registers this catalog as `graft`
  *   spark.sql("SELECT * FROM graft.`/data/corpus`")
  *   spark.sql("SELECT * FROM graft.`/data/corpus` VERSION AS OF 3")
  *   spark.sql("SELECT * FROM graft.`/data/corpus` TIMESTAMP AS OF
  *     '2026-08-15 12:00:00'")
  * }}}
  *
  * The identifier IS the table root (one backquoted name part, no
  * namespaces — a lakehouse table is its directory).  `loadTable`
  * returns a thin [[GraftSqlTable]] carrying the root and any
  * time-travel pin; [[GraftSqlResolution]] (injected by
  * `graft.functions.GraftExtensions`) then swaps the analyzer's
  * `DataSourceV2Relation` over it for the SAME V1
  * `HadoopFsRelation` the `graft-table` connector serves — stock
  * vectorized parquet scan under a manifest-backed FileIndex with
  * zone-map/stats/bloom file skipping — preserving the v2 relation's
  * output attribute ids so references above the swap stay resolved.
  * This is exactly how Delta bridges its catalog to a v1 relation;
  * SQL time travel rides the engine's own `VERSION AS OF` /
  * `TIMESTAMP AS OF` parse, which hands the catalog
  * `loadTable(ident, version)` / `loadTable(ident, timestampMicros)`.
  *
  * The FULL lifecycle is SQL-addressable: CREATE TABLE / CTAS commit
  * through [[VersionedTable.create]] (schema + `table.key` + inline
  * CHECK constraints), INSERT/UPDATE/DELETE/MERGE convert to library
  * DML ([[GraftDmlRule]], which also converts `df.writeTo(...)`),
  * ALTER TABLE covers columns, properties and constraints — every path
  * one manifest commit. */
class GraftCatalog extends TableCatalog {
  private var catalogName: String = "graft"

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = { catalogName = name }
  override def name(): String = catalogName

  private def rootOf(ident: Identifier): String = {
    require(ident.namespace().isEmpty,
      s"$catalogName catalog identifiers are bare backquoted table " +
        s"roots like $catalogName.`/path/to/table`; got namespace " +
        s"[${ident.namespace().mkString(".")}]")
    ident.name()
  }

  private def tableAt(ident: Identifier,
      opts: Map[String, String]): Table = {
    // Only the genuinely-not-a-table shapes map to the catalog-standard
    // NoSuchTableException: a namespaced identifier (this catalog has
    // no namespaces, so nothing can exist there) and a missing
    // directory / no committed version (latestVersion returns None for
    // both, it never throws for them).  Everything else — filesystem
    // IO errors, a corrupt manifest, the format.version reader gate —
    // PROPAGATES: wrapping it in "table not found" would mask real
    // failures, including the fail-loudly contract of the format gate.
    if (ident.namespace().nonEmpty) throw new NoSuchTableException(ident)
    val exists = VersionedTable.latestVersion(SparkSession.active,
      rootOf(ident)).isDefined
    if (!exists) throw new NoSuchTableException(ident)
    new GraftSqlTable(rootOf(ident), opts)
  }

  override def loadTable(ident: Identifier): Table =
    tableAt(ident, Map.empty)
  /** SQL `VERSION AS OF v`. */
  override def loadTable(ident: Identifier, version: String): Table =
    tableAt(ident, Map("versionAsOf" -> version))
  /** SQL `TIMESTAMP AS OF ts` — Spark hands epoch MICROseconds. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    tableAt(ident, Map("timestampAsOf" -> (timestamp / 1000L).toString))

  override def tableExists(ident: Identifier): Boolean =
    VersionedTable.latestVersion(SparkSession.active,
      rootOf(ident)).isDefined

  // path-based: tables are directories, not an enumerable namespace
  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty
  /** SQL `ALTER TABLE graft.`/root`` — the DDL quartet maps straight
    * onto the library's versioned-metadata commits (zero files
    * touched; history time-travels the schema like everything else):
    *   ADD COLUMNS        -> [[VersionedTable.addColumn]]
    *   RENAME COLUMN      -> [[VersionedTable.renameColumn]] (column
    *                         mapping: the physical name never changes)
    *   DROP COLUMN        -> [[VersionedTable.dropColumn]]
    *   SET TBLPROPERTIES  -> [[VersionedTable.setProperty]]
    *   UNSET TBLPROPERTIES-> [[VersionedTable.removeProperty]]
    * Works on ANY session — the catalog API needs no analyzer rules.
    * Nested-field changes are rejected (top-level columns only). */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val s = SparkSession.active
    val root = rootOf(ident)
    def topLevel(fieldNames: Array[String], what: String): String = {
      require(fieldNames.length == 1,
        s"graft ALTER TABLE $what supports top-level columns only, " +
          s"got ${fieldNames.mkString(".")}")
      fieldNames.head
    }
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.isNullable,
          "graft ADD COLUMNS are nullable by construction (existing " +
            "rows read NULL)")
        // FIRST/AFTER would silently append at the end (the recorded
        // schema widens by appending) — reject rather than diverge
        // from what the user asked for
        require(a.position() == null,
          "graft ADD COLUMNS appends at the end of the schema; " +
            "FIRST/AFTER column positions are not supported")
        // ADD COLUMN ... DEFAULT is REJECTED (Delta's choice, for the
        // same reason): SQL's contract gives EXISTING rows the default
        // (an existence default captured at ADD time), but this format
        // never rewrites data on DDL, so existing rows would silently
        // read NULL while the statement claimed 7 — a silent
        // divergence worse than a refusal.  The supported spelling is
        // the two-step with well-defined semantics: ADD COLUMN, then
        // ALTER COLUMN ... SET DEFAULT (future inserts only).
        require(a.defaultValue() == null,
          "graft ADD COLUMN with DEFAULT is not supported: existing " +
            "rows would read NULL, not the default (DDL never " +
            "rewrites data). Run ADD COLUMN, then ALTER TABLE ... " +
            "ALTER COLUMN ... SET DEFAULT (applies to future inserts).")
        // COMMENT rides the widened field's metadata
        VersionedTable.addColumn(s, root,
          topLevel(a.fieldNames(), "ADD COLUMNS"), a.dataType(),
          comment = Option(a.comment()).filter(_.nonEmpty))
        ()
      case r: TableChange.RenameColumn =>
        VersionedTable.renameColumn(s, root,
          topLevel(r.fieldNames(), "RENAME COLUMN"), r.newName())
        ()
      case d: TableChange.DeleteColumn =>
        val name = topLevel(d.fieldNames(), "DROP COLUMN")
        // existence decides the IF EXISTS shortcut; real refusals
        // (key column, constraint-referenced) must still propagate
        val exists = new GraftSqlTable(root, Map.empty)
          .schema().fieldNames.contains(name)
        if (exists) { VersionedTable.dropColumn(s, root, name); () }
        else if (!Option(d.ifExists()).exists(_.booleanValue()))
          throw new IllegalArgumentException(
            s"no column '$name' on $root")
      case p: TableChange.SetProperty =>
        VersionedTable.setProperty(s, root, p.property(), p.value())
        ()
      case p: TableChange.RemoveProperty =>
        VersionedTable.removeProperty(s, root, p.property())
        ()
      // ALTER COLUMN ... SET/DROP DEFAULT: metadata-only rewrite of
      // the recorded schema's CURRENT_DEFAULT; future inserts observe
      case u: TableChange.UpdateColumnDefaultValue =>
        VersionedTable.setColumnDefault(s, root,
          topLevel(u.fieldNames(), "ALTER COLUMN ... DEFAULT"),
          Option(u.newCurrentDefault()).map(_.getSql)
            .filter(t => t != null && t.nonEmpty))
        ()
      // ALTER TABLE ... ADD CONSTRAINT c CHECK (...): maps onto the
      // library constraint commit — existing rows validate first, and
      // every subsequent write (SQL or API) enforces it
      case a: TableChange.AddConstraint => a.constraint() match {
        case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
          VersionedTable.addConstraint(s, root, c.name(),
            c.predicateSql())
          ()
        case other => throw new UnsupportedOperationException(
          s"unsupported constraint kind for graft tables: $other " +
            "(CHECK constraints only)")
      }
      case d: TableChange.DropConstraint =>
        val have = VersionedTable.latestVersion(s, root)
          .map(v => VersionedTable.snapshot(s, root, v).constraints)
          .getOrElse(Map.empty)
        if (have.contains(d.name())) {
          VersionedTable.dropConstraint(s, root, d.name()); ()
        } else if (!d.ifExists())
          throw new IllegalArgumentException(
            s"no constraint '${d.name()}' on $root " +
              s"(have: ${have.keys.toSeq.sorted.mkString(", ")})")
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change for graft tables: $other " +
          "(use the VersionedTable API for optimize/layout)")
    }
    tableAt(ident, Map.empty)
  }
  /** Declares native CHECK-constraint DDL support (Spark 4 routes
    * `ALTER TABLE ... ADD CONSTRAINT` / CREATE TABLE constraints to
    * catalogs that claim it). */
  override def capabilities(): util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      // column DEFAULT values: the analyzer encodes them as
      // CURRENT_DEFAULT/EXISTS_DEFAULT field metadata, which rides the
      // recorded table.schema JSON verbatim — INSERTs with column
      // lists fill them (analyzer-side on extension sessions,
      // GraftInsertCommand's alignment on the parse path)
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** CREATE TABLE / CTAS: commit a v1 metadata-only manifest carrying
    * the declared schema, the `table.key` property (REQUIRED — every
    * graft write and DML keys on it) and any CHECK constraints, so a
    * SQL-only lifecycle can bootstrap a table:
    *
    * {{{
    *   CREATE TABLE graft.`/data/t` (id BIGINT, txt STRING)
    *     TBLPROPERTIES ('table.key'='id')
    *   CREATE TABLE graft.`/data/t2` TBLPROPERTIES ('table.key'='id')
    *     AS SELECT id, txt FROM src        -- CTAS: create + V1 write
    * }}} */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: util.Map[String, String]): Table =
    createGraft(ident, schema, partitions, properties, Array.empty)

  /** The Spark-4 canonical variant — also carries declared
    * constraints (`CREATE TABLE ... (..., CONSTRAINT c CHECK (...))`). */
  override def createTable(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table =
    createGraft(ident, info.schema(), info.partitions(),
      info.properties(), info.constraints())

  private def createGraft(ident: Identifier, schema: StructType,
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: util.Map[String, String],
      constraints: Array[
        org.apache.spark.sql.connector.catalog.constraints.Constraint])
      : Table = {
    val s = SparkSession.active
    val root = rootOf(ident)
    require(partitions.isEmpty,
      "graft tables use clustering + file stats instead of hive-style " +
        "partitions; PARTITIONED BY is not supported (OPTIMIZE ZORDER " +
        "BY / clusterBy gives the layout)")
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    import scala.jdk.CollectionConverters._
    val raw = properties.asScala.toMap
    val key = raw.getOrElse(VersionedTable.TableKeyProp,
      throw new IllegalArgumentException(
        "CREATE TABLE on the graft catalog requires TBLPROPERTIES " +
          "('table.key'='<bigint column>') — every graft write and " +
          "DML keys on it"))
    // Spark-managed bookkeeping props are not table metadata
    val reserved = Set(TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_LOCATION, TableCatalog.PROP_OWNER,
      TableCatalog.PROP_COMMENT, TableCatalog.PROP_EXTERNAL,
      TableCatalog.PROP_IS_MANAGED_LOCATION)
    val user = (raw -- reserved) - VersionedTable.TableKeyProp
    val cProps = constraints.map {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
        s"constraint.${c.name}" -> c.predicateSql()
      case other => throw new UnsupportedOperationException(
        s"unsupported constraint kind for graft tables: $other " +
          "(CHECK constraints only)")
    }.toMap
    VersionedTable.create(s, root, schema, key, user ++ cProps)
    new GraftSqlTable(root, Map.empty)
  }

  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(
      "DROP via SQL is not supported; a graft table is its directory")
  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "RENAME via SQL is not supported; a graft table is its directory")
}

/** One resolved (root, time-travel pin) — enough for
  * [[GraftSqlResolution]] to build the V1 relation before any
  * planning happens, so the table object itself stays a thin
  * descriptor (Delta's DeltaTableV2 plays the same role). */
final class GraftSqlTable(val root: String,
    val readOpts: Map[String, String]) extends Table
    with org.apache.spark.sql.connector.catalog.SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.TruncatableTable {

  /** `TRUNCATE TABLE graft.`/root``: one EMPTY-file-list commit — no
    * scan, no rewrite; history stays time-travelable. */
  override def truncateTable(): Boolean = {
    VersionedTable.truncate(SparkSession.active, root)
    true
  }

  /** Never called on a correctly-configured session: analysis requires
    * the SupportsRead TRAIT (hence this implementation), but the
    * relation is swapped for the V1 vectorized-scan relation by
    * [[GraftSqlResolution]] before any scan is built.  Reaching here
    * means the resolution rule is not installed. */
  override def newScanBuilder(
      options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    throw new UnsupportedOperationException(
      s"graft.`$root` resolves through GraftSqlResolution; build the " +
        "session with graft.GraftSession (or set spark.sql.extensions=" +
        "graft.functions.GraftExtensions) so the catalog relation is " +
        "served by the graft-table vectorized scan")

  /** Never called on a correctly-configured session: [[GraftDmlRule]]
    * converts SQL INSERT, CTAS's write and `df.writeTo` during
    * analysis into the library append/overwrite, so no write reaches
    * the connector.  SupportsWrite is implemented only so analysis
    * accepts the v2 write target before the rule runs. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    throw new UnsupportedOperationException(
      s"graft.`$root` writes convert in GraftDmlRule; build the session " +
        "with graft.GraftSession (or set spark.sql.extensions=" +
        "graft.functions.GraftExtensions)")

  override def name(): String = s"graft.`$root`"

  override def schema(): StructType = {
    val s = SparkSession.active
    val v = readOpts.get("versionAsOf").map(_.toInt)
      .orElse(readOpts.get("timestampAsOf").map(t =>
        GraftSqlTable.versionAt(s, root, t.toLong)))
      .orElse(VersionedTable.latestVersion(s, root))
      .getOrElse(throw new IllegalStateException(
        s"no committed version under $root"))
    VersionedTable.recordedSchema(VersionedTable.snapshot(s, root, v))
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  /** `SHOW TBLPROPERTIES graft.`/root``: the pinned snapshot's
    * manifest properties, verbatim — constraints, schema, key,
    * mapping, format version, user properties.  Time-travel pins
    * show THAT version's properties (metadata is versioned like
    * everything else). */
  override def properties(): util.Map[String, String] = {
    val s = SparkSession.active
    val v = readOpts.get("versionAsOf").map(_.toInt)
      .orElse(readOpts.get("timestampAsOf").map(t =>
        GraftSqlTable.versionAt(s, root, t.toLong)))
      .orElse(VersionedTable.latestVersion(s, root))
      .getOrElse(throw new IllegalStateException(
        s"no committed version under $root"))
    val out = new util.HashMap[String, String]()
    VersionedTable.snapshot(s, root, v).props
      .foreach { case (k, pv) => out.put(k, pv) }
    out
  }
}

object GraftSqlTable {
  private[v2] def versionAt(s: SparkSession, root: String,
      millis: Long): Int =
    VersionedTable.versions(s, root)
      .filter(v => VersionedTable.snapshot(s, root, v).tsMillis <= millis)
      .lastOption.getOrElse(throw new IllegalArgumentException(
        s"TIMESTAMP AS OF $millis precedes the first kept commit of " +
          root))
}

/** Analyzer rule (injected via `GraftExtensions`): replace the
  * `DataSourceV2Relation` the catalog resolution produced over a
  * [[GraftSqlTable]] with the V1 `HadoopFsRelation` the `graft-table`
  * connector builds — keeping the v2 relation's OUTPUT attribute ids,
  * so every reference already resolved against it stays valid (the
  * same swap Delta's `DeltaAnalysis.fromV2Relation` performs). */
final case class GraftSqlResolution(session: SparkSession)
    extends Rule[LogicalPlan] {

  private def swap(rel: DataSourceV2Relation,
      t: GraftSqlTable): LogicalPlan = {
    val v1 = new GraftTableSource().createRelation(
      session.sqlContext, t.readOpts + ("path" -> t.root))
    // positional NAME + TYPE agreement, not just arity: the catalog
    // schema and the connector schema are derived independently, and a
    // drift between them would silently misbind every column to the
    // wrong attribute id — fail loudly instead
    val drift = v1.schema.fields.length != rel.output.length ||
      v1.schema.fields.iterator.zip(rel.output.iterator).exists {
        case (f, a) => f.name != a.name || f.dataType != a.dataType }
    require(!drift,
      s"graft SQL relation schema drift for ${t.root}: catalog " +
        s"[${rel.output.map(a => s"${a.name}:${a.dataType.simpleString}")
          .mkString(",")}] vs connector " +
        s"[${v1.schema.fields.map(f =>
          s"${f.name}:${f.dataType.simpleString}").mkString(",")}]")
    new LogicalRelation(v1,
      rel.output.map(_.asInstanceOf[AttributeReference]),
      None, false, None)
  }

  /** Relations that are the TARGET of a DML/write statement must stay
    * v2 until [[GraftDmlRule]] converts the statement — swapping them
    * early would let InsertIntoStatement fall through to
    * InsertIntoHadoopFsRelationCommand, which writes parquet with NO
    * manifest commit.  Collected by object identity, since the same
    * table legitimately appears as an ordinary read elsewhere in the
    * plan (e.g. MERGE's source). */
  private def writeTargets(plan: LogicalPlan)
      : java.util.IdentityHashMap[LogicalPlan, Boolean] = {
    val m = new java.util.IdentityHashMap[LogicalPlan, Boolean]()
    def relOf(p: LogicalPlan): Unit = p match {
      case a: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        relOf(a.child)
      case r: DataSourceV2Relation => m.put(r, true); ()
      case _ => ()
    }
    plan.foreach {
      case i: org.apache.spark.sql.catalyst.plans.logical
          .InsertIntoStatement => relOf(i.table)
      case u: org.apache.spark.sql.catalyst.plans.logical.UpdateTable =>
        relOf(u.table)
      case d: org.apache.spark.sql.catalyst.plans.logical
          .DeleteFromTable => relOf(d.table)
      case mg: org.apache.spark.sql.catalyst.plans.logical
          .MergeIntoTable => relOf(mg.targetTable)
      // v2 write nodes a not-yet-finished analyzer iteration may still
      // carry (unresolved outputs, or an overwrite shape GraftDmlRule's
      // patterns don't convert): swapping THEIR target to a v1
      // LogicalRelation would produce an invalid plan or a parquet
      // write that bypasses the manifest commit
      case ad: org.apache.spark.sql.catalyst.plans.logical.AppendData =>
        relOf(ad.table)
      case ow: org.apache.spark.sql.catalyst.plans.logical
          .OverwriteByExpression => relOf(ow.table)
      case op: org.apache.spark.sql.catalyst.plans.logical
          .OverwritePartitionsDynamic => relOf(op.table)
      case _ => ()
    }
    m
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val targets = writeTargets(plan)
    plan.resolveOperatorsUp {
      case rel @ DataSourceV2Relation(t: GraftSqlTable, _, _, _, _, _)
          if !targets.containsKey(rel) =>
        swap(rel, t)
    }
  }
}
