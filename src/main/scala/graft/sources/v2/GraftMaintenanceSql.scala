package graft.sources.v2

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
import org.apache.spark.sql.GraftShims
import graft.sources.VersionedTable

/** The MAINTENANCE half of the SQL surface — the statements standard
  * Spark SQL has no grammar for, which Delta ships via a delegating
  * parser extension; graft does the same (GraftExtensions injects
  * [[GraftSqlParser]], so plain `spark.sql` takes this mini-grammar):
  *
  *   DESCRIBE HISTORY graft.`/root`
  *   DESCRIBE DETAIL  graft.`/root`
  *   OPTIMIZE graft.`/root`                       — size bin-pack
  *   OPTIMIZE graft.`/root` ZORDER BY (c1, c2)    — N-dim re-layout
  *   VACUUM graft.`/root` [RETAIN n HOURS]        — default 168h
  *   VACUUM graft.`/root` [RETAIN n HOURS] DRY RUN
  *
  * Everything else delegates verbatim, so the extension is invisible
  * to ordinary SQL.  The identifier must name a registered
  * [[GraftCatalog]] (checked, not assumed): a `DESCRIBE HISTORY
  * delta.`/x`` on a session that also has Delta falls through to the
  * delegate untouched. */
object GraftMaintenanceSql {

  // <catalog> . `<root>` — the only identifier shape the catalog
  // itself accepts; the catalog NAME is whatever the session bound
  private val Ident = "(\\w+)\\s*\\.\\s*`([^`]+)`"
  private val DescHistory =
    s"(?is)^\\s*DESCRIBE\\s+HISTORY\\s+$Ident\\s*;?\\s*$$".r
  private val DescDetail =
    s"(?is)^\\s*DESCRIBE\\s+DETAIL\\s+$Ident\\s*;?\\s*$$".r
  private val Optimize =
    s"(?is)^\\s*OPTIMIZE\\s+$Ident\\s*;?\\s*$$".r
  private val OptimizeZ =
    s"(?is)^\\s*OPTIMIZE\\s+$Ident\\s+ZORDER\\s+BY\\s*\\(([^)]+)\\)\\s*;?\\s*$$".r
  private val Vacuum =
    s"(?is)^\\s*VACUUM\\s+$Ident(\\s+RETAIN\\s+(\\d+)\\s+HOURS)?(\\s+DRY\\s+RUN)?\\s*;?\\s*$$".r
  private val RestoreV =
    s"(?is)^\\s*RESTORE\\s+TABLE\\s+$Ident\\s+TO\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)\\s*;?\\s*$$".r
  private val RestoreT =
    s"(?is)^\\s*RESTORE\\s+TABLE\\s+$Ident\\s+TO\\s+TIMESTAMP\\s+AS\\s+OF\\s+'([^']+)'\\s*;?\\s*$$".r
  private val Fsck =
    s"(?is)^\\s*FSCK\\s+REPAIR\\s+TABLE\\s+$Ident(\\s+DRY\\s+RUN)?\\s*;?\\s*$$".r
  // ALTER TABLE ... ADD/DROP CONSTRAINT intercept: Spark 4 parses
  // these natively but routes ADD through its own validation scan,
  // re-checking what the library's addConstraint already validates —
  // the mini-grammar maps them straight onto the constraint commits
  // (the library validates existing rows once and names the
  // constraint in violations)
  private val AddConstr =
    s"(?is)^\\s*ALTER\\s+TABLE\\s+$Ident\\s+ADD\\s+CONSTRAINT\\s+(\\w+)\\s+CHECK\\s*\\((.+)\\)\\s*;?\\s*$$".r
  private val DropConstr =
    s"(?is)^\\s*ALTER\\s+TABLE\\s+$Ident\\s+DROP\\s+CONSTRAINT\\s+(IF\\s+EXISTS\\s+)?(\\w+)\\s*;?\\s*$$".r

  private def graftRoot(s: SparkSession, cat: String, root: String)
      : Option[String] =
    GraftShims.catalogOf(s, cat)
      .filter(_.isInstanceOf[GraftCatalog]).map(_ => root)

  /** Some(command) when `text` is a graft maintenance statement. */
  def fromText(s: SparkSession, text: String): Option[LogicalPlan] =
    text match {
      case DescHistory(cat, root) =>
        graftRoot(s, cat, root).map(GraftDescribeHistoryCommand(_))
      case DescDetail(cat, root) =>
        graftRoot(s, cat, root).map(GraftDescribeDetailCommand(_))
      case OptimizeZ(cat, root, cols) =>
        graftRoot(s, cat, root).map(r => GraftOptimizeCommand(r,
          cols.split(",").map(_.trim.stripPrefix("`").stripSuffix("`"))
            .filter(_.nonEmpty).toIndexedSeq))
      case Optimize(cat, root) =>
        graftRoot(s, cat, root).map(GraftOptimizeCommand(_, Seq.empty))
      case Vacuum(cat, root, _, hours, dry) =>
        val retentionMs = Option(hours).map(_.toLong * 3600 * 1000)
          .getOrElse(168L * 3600 * 1000) // Delta's 7-day default
        graftRoot(s, cat, root).map { r =>
          if (dry != null) GraftVacuumDryRunCommand(r, retentionMs)
          else GraftVacuumCommand(r, retentionMs)
        }
      case AddConstr(cat, root, name, predicate) =>
        graftRoot(s, cat, root)
          .map(GraftAddConstraintCommand(_, name, predicate.trim))
      case DropConstr(cat, root, ifExists, name) =>
        graftRoot(s, cat, root)
          .map(GraftDropConstraintCommand(_, name, ifExists != null))
      case RestoreV(cat, root, v) =>
        graftRoot(s, cat, root)
          .map(GraftRestoreCommand(_, Left(v.toInt)))
      case RestoreT(cat, root, ts) =>
        graftRoot(s, cat, root)
          .map(GraftRestoreCommand(_, Right(ts)))
      case Fsck(cat, root, dry) =>
        graftRoot(s, cat, root)
          .map(GraftFsckCommand(_, dryRun = dry != null))
      case _ => None
    }

  private[v2] def attrsOf(schema: StructType): Seq[Attribute] =
    schema.fields.toIndexedSeq.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable)())
}

/** `DESCRIBE HISTORY graft.`/root``. */
final case class GraftDescribeHistoryCommand(root: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    GraftMaintenanceSql.attrsOf(VersionedTable.HistorySchema)
  override def run(s: SparkSession): Seq[Row] =
    VersionedTable.history(s, root).collect().toIndexedSeq
}

/** `DESCRIBE DETAIL graft.`/root``. */
final case class GraftDescribeDetailCommand(root: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    GraftMaintenanceSql.attrsOf(VersionedTable.DetailSchema)
  override def run(s: SparkSession): Seq[Row] =
    VersionedTable.detail(s, root).collect().toIndexedSeq
}

/** `OPTIMIZE graft.`/root` [ZORDER BY (cols)]`: plain form bin-packs
  * files under 128 MB toward 128 MB outputs (Delta's OPTIMIZE
  * contract); the ZORDER form re-lays the table out on the given
  * columns at the current file count.  Returns (version,
  * files_before, files_after). */
final case class GraftOptimizeCommand(root: String,
    zorderCols: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    GraftMaintenanceSql.attrsOf(StructType(Seq(
      org.apache.spark.sql.types.StructField("version", IntegerType,
        nullable = false),
      org.apache.spark.sql.types.StructField("num_files_before",
        LongType, nullable = false),
      org.apache.spark.sql.types.StructField("num_files_after",
        LongType, nullable = false))))
  override def run(s: SparkSession): Seq[Row] = {
    val key = GraftDml.keyOf(s, root)
    val before = VersionedTable.latestVersion(s, root)
      .map(v => VersionedTable.snapshot(s, root, v).files.size.toLong)
      .getOrElse(0L)
    val target = 128L * 1024 * 1024
    val v =
      if (zorderCols.isEmpty)
        VersionedTable.optimizeBySize(s, root, target, key, target)
      else VersionedTable.optimizeZOrderBy(s, root, zorderCols, key,
        math.max(1L, before).toInt)
    val after =
      VersionedTable.snapshot(s, root, v).files.size.toLong
    Seq(Row(v, before, after))
  }
}

/** `VACUUM graft.`/root` [RETAIN n HOURS]` — reclaim history older
  * than the retention (default 168 h).  Returns (files_before,
  * files_deleted). */
final case class GraftVacuumCommand(root: String, retentionMs: Long)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    GraftMaintenanceSql.attrsOf(StructType(Seq(
      org.apache.spark.sql.types.StructField("data_files_before",
        LongType, nullable = false),
      org.apache.spark.sql.types.StructField("data_files_deleted",
        LongType, nullable = false))))
  override def run(s: SparkSession): Seq[Row] = {
    // minimum-retention guard (Delta's retentionDurationCheck):
    // `RETAIN 0 HOURS` would reclaim every non-head version and the
    // files only they reference, breaking concurrent readers of
    // recent snapshots and in-flight writers derived against them.
    // Refuse below the 168 h default unless the table explicitly
    // opted out via `vacuum.retentionCheck=false`.
    val floor = 168L * 3600 * 1000
    if (retentionMs < floor) {
      val checkOn = VersionedTable.latestVersion(s, root)
        .map(v => VersionedTable.snapshot(s, root, v))
        .flatMap(_.props.get("vacuum.retentionCheck"))
        .forall(_.toLowerCase != "false")
      require(!checkOn,
        s"VACUUM RETAIN ${retentionMs / 3600000} HOURS is below the " +
          "168-hour safety floor; concurrent readers/writers of " +
          "recent snapshots could break. Set the table property " +
          "vacuum.retentionCheck=false to override deliberately.")
    }
    // RETAIN n HOURS is the retention in BOTH senses Delta gives it:
    // the version-history horizon AND the file-age safety guard (a
    // file younger than the retention is never reclaimed)
    val (before, deleted) =
      VersionedTable.vacuumRetain(s, root, retentionMs,
        retainMs = retentionMs)
    Seq(Row(before.toLong, deleted.toLong))
  }
}

/** `VACUUM ... DRY RUN`: the exact reclaim list, deleting nothing. */
final case class GraftVacuumDryRunCommand(root: String,
    retentionMs: Long) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    GraftMaintenanceSql.attrsOf(StructType(Seq(
      org.apache.spark.sql.types.StructField("path", StringType,
        nullable = false))))
  override def run(s: SparkSession): Seq[Row] = {
    if (VersionedTable.versions(s, root).isEmpty) return Seq.empty
    VersionedTable.vacuumDryRun(s, root,
      VersionedTable.retentionKeepFrom(s, root, retentionMs),
      retainMs = retentionMs)
      .sorted.map(Row(_))
  }
}

/** `RESTORE TABLE graft.`/root` TO VERSION|TIMESTAMP AS OF ...` —
  * the head rolls back to the target state as a NEW commit (history
  * intact, Delta's RESTORE).  Returns (restored_to, new_version). */
final case class GraftRestoreCommand(root: String,
    target: Either[Int, String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    GraftMaintenanceSql.attrsOf(StructType(Seq(
      org.apache.spark.sql.types.StructField("restored_to",
        IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("new_version",
        IntegerType, nullable = false))))
  override def run(s: SparkSession): Seq[Row] = {
    val v = target match {
      case Left(x) => x
      case Right(ts) =>
        // latest commit at-or-before the probe (the same contract
        // restoreToTimestamp applies internally).  Accepted spellings:
        // epoch millis, ISO-8601 instant, and the conventional SQL
        // timestamp 'yyyy-MM-dd HH:mm:ss[.f...]' (session-zone-free:
        // interpreted as the JVM default zone, like
        // java.sql.Timestamp.valueOf)
        val millis = scala.util.Try(ts.toLong)
          .orElse(scala.util.Try(
            java.time.Instant.parse(ts).toEpochMilli))
          .orElse(scala.util.Try(
            java.sql.Timestamp.valueOf(ts).getTime))
          .orElse(scala.util.Try(
            java.sql.Timestamp.valueOf(
              java.time.LocalDate.parse(ts).atStartOfDay()).getTime))
          .getOrElse(throw new IllegalArgumentException(
            s"RESTORE ... TIMESTAMP AS OF: cannot parse '$ts' — give " +
              "epoch millis, an ISO-8601 instant " +
              "(2026-01-02T03:04:05Z), a SQL timestamp " +
              "('2026-01-02 03:04:05') or a date ('2026-01-02')"))
        VersionedTable.versions(s, root)
          .filter(x =>
            VersionedTable.snapshot(s, root, x).tsMillis <= millis)
          .lastOption.getOrElse(throw new IllegalArgumentException(
            s"RESTORE TIMESTAMP AS OF $ts precedes the first kept " +
              s"commit of $root"))
    }
    Seq(Row(v, VersionedTable.restore(s, root, v)))
  }
}

/** `FSCK REPAIR TABLE graft.`/root` [DRY RUN]` — audit the head's
  * storage integrity; DRY RUN lists missing references (kind, path),
  * the real form commits a head that drops broken entries. */
final case class GraftFsckCommand(root: String, dryRun: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    GraftMaintenanceSql.attrsOf(StructType(Seq(
      org.apache.spark.sql.types.StructField("kind", StringType,
        nullable = false),
      org.apache.spark.sql.types.StructField("path", StringType,
        nullable = false))))
  override def run(s: SparkSession): Seq[Row] = {
    val report = VersionedTable.fsck(s, root)
    if (!dryRun) { VersionedTable.fsckRepair(s, root); () }
    (report.missingData.sorted.map(Row("missing-data", _)) ++
      report.missingDv.sorted.map(Row("missing-dv", _))).toIndexedSeq
  }
}

/** Delegating parser (Delta's DeltaSqlParser construction): the
  * maintenance mini-grammar first, everything else verbatim to the
  * session's ordinary parser — parameterized `spark.sql(text, args)`
  * included: the interface's default `parsePlanWithParameters` drops
  * the parameters, so it is forwarded explicitly. */
final class GraftSqlParser(session: SparkSession,
    delegate: ParserInterface) extends ParserInterface {
  @throws[ParseException]
  override def parsePlan(sqlText: String): LogicalPlan =
    graftPlan(sqlText, delegate.parsePlan(sqlText))

  @throws[ParseException]
  override def parsePlanWithParameters(sqlText: String,
      params: ParameterContext): LogicalPlan =
    graftPlan(sqlText, delegate.parsePlanWithParameters(sqlText, params))

  private def graftPlan(sqlText: String, parse: => LogicalPlan)
      : LogicalPlan = {
    GraftMaintenanceSql.fromText(session, sqlText)
      .foreach(cmd => return cmd)
    val parsed = parse
    // MERGE ... WITH SCHEMA EVOLUTION over a graft target is the one
    // DML statement converted BEFORE analysis: the analyzer's
    // assignment resolution throws on the source-born column (it
    // cannot resolve against the not-yet-widened target) before any
    // resolution rule could fire, so mergeCommand attributes its
    // references by alias and schema here.  Every other DML statement
    // converts in GraftDmlRule on the analyzed plan.
    parsed match {
      case m: org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable
          if m.withSchemaEvolution =>
        GraftDml.target(session, m.targetTable)
          .map { case (root, alias) =>
            GraftDml.mergeCommand(session, root, alias, m) }
          .getOrElse(parsed)
      case _ => parsed
    }
  }
  @throws[ParseException]
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  @throws[ParseException]
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  @throws[ParseException]
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  @throws[ParseException]
  override def parseFunctionIdentifier(
      sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  @throws[ParseException]
  override def parseMultipartIdentifier(
      sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  @throws[ParseException]
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  @throws[ParseException]
  override def parseDataType(sqlText: String)
      : org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  @throws[ParseException]
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

/** `ALTER TABLE graft.`/root` ADD CONSTRAINT name CHECK (predicate)`
  * — maps onto [[VersionedTable.addConstraint]]: existing rows
  * validate in one aggregation before the metadata commit, and every
  * subsequent write (SQL or API) enforces the predicate, naming the
  * constraint in violations (Delta's ADD CONSTRAINT contract). */
final case class GraftAddConstraintCommand(root: String, name: String,
    predicate: String) extends LeafRunnableCommand {
  override def run(s: SparkSession): Seq[Row] = {
    VersionedTable.addConstraint(s, root, name, predicate)
    Seq.empty
  }
}

/** `ALTER TABLE graft.`/root` DROP CONSTRAINT [IF EXISTS] name`. */
final case class GraftDropConstraintCommand(root: String, name: String,
    ifExists: Boolean) extends LeafRunnableCommand {
  override def run(s: SparkSession): Seq[Row] = {
    val have = VersionedTable.latestVersion(s, root)
      .map(v => VersionedTable.snapshot(s, root, v).constraints)
      .getOrElse(Map.empty[String, String])
    if (have.contains(name)) { VersionedTable.dropConstraint(s, root, name); () }
    else if (!ifExists) throw new IllegalArgumentException(
      s"no constraint '$name' on $root " +
        s"(have: ${have.keys.toSeq.sorted.mkString(", ")})")
    Seq.empty
  }
}
