package graft.sources.v2

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, AttributeSet, EqualTo, Expression, InSubquery, ListQuery, Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{BooleanType, StructType}
import org.apache.spark.sql.GraftShims
import graft.sources.VersionedTable
import graft.sources.VersionedTable.{MatchedDelete, MatchedUpdate, MergeClause, NotMatchedBySourceDelete, NotMatchedBySourceUpdate, NotMatchedInsert}

/** The SQL WRITE/DML face of the versioned table — the half the
  * round-11 catalog left out.  `INSERT INTO` / `INSERT OVERWRITE` /
  * `UPDATE` / `DELETE FROM` / `MERGE INTO` over `graft.`/root``
  * identifiers convert, during analysis, into [[LeafRunnableCommand]]s
  * that run the library DML (`append` / `overwrite` / `update` /
  * `delete` / `mergeInto`) — the same construction Delta uses
  * (DeltaAnalysis turning DeleteFromTable/UpdateTable/MergeIntoTable
  * into Delta commands), so every SQL write gets the manifest commit
  * protocol, CHECK constraints, stats/bloom recording and the
  * optimistic-concurrency loop for free.  Nothing row-level is
  * re-implemented here: this file is pure plan translation.
  *
  * Every statement is plain `spark.sql` text.  [[GraftDmlRule]],
  * injected via `graft.functions.GraftExtensions` (which every
  * `graft.GraftSession` loads), converts RESOLVED DML nodes: the
  * analyzer has already bound column references against the catalog
  * relation.  The one exception is MERGE ... WITH SCHEMA EVOLUTION:
  * its assignments name source-born columns the not-yet-widened
  * target cannot resolve, so [[GraftSqlParser]] converts it at PARSE
  * level through [[GraftDml.mergeCommand]], which then attributes
  * references by alias qualifier and schema lookup.
  *
  * Scale: identical to the library DML the commands delegate to —
  * driver state is O(files touched), the key set of a MERGE source
  * stays distributed, and INSERT inherits append's stats/bloom
  * recording pass. */
object GraftDml {

  /** Table property selecting the SQL UPDATE/DELETE encoding:
    * "cow" (default — copy-on-write rewrite of touched files) or
    * "mor" (merge-on-read: deletion-vector mask + post-image append,
    * O(changed rows) I/O — Delta's DV-based DML economics; bound the
    * read-side mask cost with purgeDeletes/OPTIMIZE as usual). */
  val DmlModeProp = "dml.mode"

  /** The fill value for a column an INSERT column list omits: its
    * declared DEFAULT (the analyzer records the SQL text as
    * CURRENT_DEFAULT field metadata at CREATE TABLE) when present,
    * NULL otherwise — SQL-standard column-default semantics. */
  private[v2] def defaultOrNull(
      f: org.apache.spark.sql.types.StructField): Column = {
    val cur = "CURRENT_DEFAULT"
    if (f.metadata.contains(cur))
      org.apache.spark.sql.functions.expr(f.metadata.getString(cur))
        .cast(f.dataType)
    else lit(null).cast(f.dataType)
  }

  /** (root, alias) when `p` references a graft table, at ANY
    * resolution stage: the unresolved `graft.`/x`` identifier, the
    * catalog's v2 relation, or the v1 relation
    * [[GraftSqlResolution]] may already have swapped in. */
  def target(s: SparkSession, p: LogicalPlan)
      : Option[(String, Option[String])] = p match {
    case sa: SubqueryAlias =>
      target(s, sa.child).map { case (r, _) =>
        (r, Some(sa.identifier.name)) }
    case r: DataSourceV2Relation => r.table match {
      case t: GraftSqlTable =>
        // a time-travel-pinned relation is never a DML target (the
        // parser cannot produce one, but stay defensive)
        if (t.readOpts.isEmpty) Some((t.root, None)) else None
      case _ => None
    }
    case lr: LogicalRelation => lr.relation match {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        h.location match {
          case i: GraftFileIndex => Some((i.tableRoot, None))
          case _ => None
        }
      case m: GraftMaskedRelation => Some((m.tableRoot, None))
      case _ => None
    }
    case u: UnresolvedRelation
        if u.multipartIdentifier.length == 2 &&
          GraftShims.catalogOf(s, u.multipartIdentifier.head)
            .exists(_.isInstanceOf[GraftCatalog]) =>
      Some((u.multipartIdentifier(1), None))
    case _ => None
  }

  /** The table's recorded key column — every graft write records it,
    * and SQL DML and maintenance are meaningless without one. */
  private[v2] def keyOf(s: SparkSession, root: String): String =
    keyAndMor(s, root)._1

  /** The table's recorded logical schema (the same derivation the
    * catalog's `GraftSqlTable.schema()` uses). */
  private def tableSchema(s: SparkSession, root: String): StructType =
    new GraftSqlTable(root, Map.empty).schema()

  /** The key and whether the head carries `dml.mode=mor`, from one
    * head read — ONE resolution shared by every SQL UPDATE/DELETE
    * command so the copy-on-write vs deletion-vector routing can never
    * drift between them. */
  private[v2] def keyAndMor(s: SparkSession, root: String)
      : (String, Boolean) = {
    val props = VersionedTable.latestVersion(s, root)
      .map(v => VersionedTable.snapshot(s, root, v).props)
      .getOrElse(Map.empty[String, String])
    val key = props.getOrElse(VersionedTable.TableKeyProp,
      throw new IllegalArgumentException(
        s"graft SQL on $root needs a recorded table.key property " +
          "(create the table with one, or write it through the " +
          "graft-table connector or the library API first)"))
    (key, props.get(DmlModeProp).contains("mor"))
  }

  private def noSubquery(e: Expression, what: String): Unit =
    require(!e.exists(_.isInstanceOf[SubqueryExpression]),
      s"graft SQL $what does not support subqueries in this release; " +
        "compute the subquery into a column or use the library API")

  /** Expression -> Column for single-table DML (UPDATE / DELETE):
    * resolved attribute references rewrite to bare by-name references,
    * which the library DML resolves against its own scan of the
    * table. */
  private def singleTableColumn(e: Expression, what: String): Column = {
    noSubquery(e, what)
    GraftShims.columnOf(e.transform {
      case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
    })
  }

  /** Expression -> Column with every reference QUALIFIED to the merge
    * TARGET alias `t` — the form residual predicates and assignment
    * values take when an IN-subquery DML rewrites to a key-join merge
    * (the joined frame carries both sides, so bare names could be
    * ambiguous with the source's key column). */
  private def targetQualified(e: Expression, what: String): Column = {
    noSubquery(e, what)
    GraftShims.columnOf(e.transform {
      case a: AttributeReference => UnresolvedAttribute(Seq("t", a.name))
    })
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** Detect the `key IN (SELECT ...)` DML-condition shape (the top-3
    * real-world DELETE/UPDATE form — e.g. the reference pipeline's
    * decontamination delete): Some((subqueryPlan, residualConjuncts))
    * when the condition is a conjunction containing EXACTLY one
    * uncorrelated IN-subquery testing the table key; None when the
    * condition is subquery-free; throws (with the supported grammar)
    * for every other subquery shape. */
  private def keyInSubquery(s: SparkSession, root: String, cond: Expression)
      : Option[(LogicalPlan, Seq[Expression])] = {
    val cs = conjuncts(cond)
    val (subs, plain) =
      cs.partition(_.exists(_.isInstanceOf[SubqueryExpression]))
    if (subs.isEmpty) return None
    require(subs.size == 1,
      "graft SQL DML supports at most ONE IN-subquery conjunct in a " +
        "condition")
    val key = keyOf(s, root)
    subs.head match {
      case InSubquery(Seq(v), lq: ListQuery) =>
        val name = v match {
          case a: AttributeReference => a.name
          case other => throw new IllegalArgumentException(
            s"IN-subquery must test a top-level column, got ${other.sql}")
        }
        require(name == key,
          s"graft SQL DML IN-subqueries must test the table key " +
            s"`$key` (got `$name`); rewrite as a MERGE for other join " +
            "shapes")
        require(lq.outerAttrs.isEmpty,
          "correlated IN-subqueries are not supported in graft SQL DML")
        Some((lq.plan, plain))
      case other => throw new IllegalArgumentException(
        s"unsupported subquery shape in graft SQL DML condition: " +
          s"${other.sql} — supported: `<table key> IN (SELECT ...)` " +
          "(optionally AND-ed with plain predicates)")
    }
  }

  /** An assignment's target as a FIELD PATH: head = top-level column,
    * tail = nested struct fields (`SET props.f = ...`, resolved to a
    * GetStructField chain).  The single-element case is the ordinary
    * top-level assignment. */
  private def assignPath(e: Expression): Seq[String] = e match {
    case a: AttributeReference => Seq(a.name)
    case gs: org.apache.spark.sql.catalyst.expressions.GetStructField =>
      assignPath(gs.child) :+
        gs.name.getOrElse(gs.childSchema(gs.ordinal).name)
    case other => throw new IllegalArgumentException(
      s"graft SQL DML assignment target must be a column or nested " +
        s"field, got ${other.sql}")
  }

  /** Assignments -> the per-top-level-column SET map the library
    * update executes.  Nested-field targets (`SET props.f = v`)
    * rebuild their struct via `withField` over the PRE-update struct
    * (the lakehouse-standard struct-update shape); several fields of
    * one struct chain; a struct assigned BOTH whole and per-field is
    * ambiguous and rejected. */
  private def buildSetMap(assignments: Seq[Assignment],
      valueOf: Expression => Column): Map[String, Column] = {
    val parsed: Seq[(Seq[String], Column)] = assignments.map(a =>
      (assignPath(a.key), valueOf(a.value)))
    require(parsed.map(_._1).distinct.size == parsed.size,
      "duplicate assignment targets in UPDATE")
    val (tops, nested) = parsed.partition(_._1.length == 1)
    val topNames = tops.map(_._1.head)
    require(topNames.distinct.size == topNames.size,
      "duplicate assignment targets in UPDATE")
    val nestedSet: Map[String, Column] =
      nested.groupBy(_._1.head).map { case (st, as) =>
        require(!topNames.contains(st),
          s"UPDATE assigns both the whole column `$st` and its " +
            "nested field(s) — ambiguous")
        st -> as.foldLeft(col(st)) { case (acc, (path, v)) =>
          acc.withField(path.tail.mkString("."), v) }
      }
    tops.map { case (p, v) => p.head -> v }.toMap ++ nestedSet
  }

  /** An assignment's target must be a top-level column. */
  private def assignName(e: Expression): String = e match {
    case a: AttributeReference => a.name
    case other => throw new IllegalArgumentException(
      s"graft SQL DML assignment target must be a top-level column, " +
        s"got ${other.sql}")
  }

  private[v2] def updateCommand(s: SparkSession, root: String,
      assignments: Seq[Assignment], cond: Option[Expression])
      : LeafRunnableCommand = {
    require(assignments.nonEmpty, "UPDATE needs at least one assignment")
    cond.flatMap(keyInSubquery(s, root, _)) match {
      case Some((subPlan, residual)) =>
        // UPDATE ... WHERE key IN (SELECT ...) [AND residual] rewrites
        // to a key-join MERGE: the subquery stays a distributed frame
        // end to end (never an isin literal list), the residual and
        // the SET expressions ride the joined row target-qualified
        val set = assignments.map(a =>
          assignName(a.key) -> targetQualified(a.value, "UPDATE")).toMap
        require(set.size == assignments.size,
          "duplicate assignment targets in UPDATE")
        GraftUpdateKeysCommand(root, set, subPlan,
          residual.map(targetQualified(_, "UPDATE")).reduceOption(_ && _))
      case None =>
        val set = buildSetMap(assignments, singleTableColumn(_, "UPDATE"))
        GraftUpdateCommand(root, set,
          cond.map(singleTableColumn(_, "UPDATE")))
    }
  }

  private[v2] def deleteCommand(s: SparkSession, root: String,
      cond: Expression): LeafRunnableCommand =
    keyInSubquery(s, root, cond) match {
      case Some((subPlan, residual)) =>
        // DELETE ... WHERE key IN (SELECT ...): the library's
        // join-based deleteKeys (no residual) or a key-join MERGE
        // DELETE (residual) — the decontamination shape, distributed
        GraftDeleteKeysCommand(root, subPlan,
          residual.map(targetQualified(_, "DELETE")).reduceOption(_ && _))
      case None =>
        GraftDeleteCommand(root, cond match {
          case Literal(true, BooleanType) => lit(true)
          case c => singleTableColumn(c, "DELETE")
        })
    }

  private[v2] def insertCommand(s: SparkSession, root: String,
      i: InsertIntoStatement): GraftInsertCommand = {
    require(i.partitionSpec.isEmpty,
      "graft tables use clustering + file stats instead of hive-style " +
        "partitions; INSERT ... PARTITION is not supported")
    require(!i.ifPartitionNotExists,
      "IF NOT EXISTS on INSERT is not supported for graft tables")
    GraftInsertCommand(root, i.query, i.overwrite,
      i.userSpecifiedCols, i.byName, preAligned = false)
  }

  // ------------------------------------------------------------- MERGE

  /** Convert a MergeIntoTable.  `resolvedMode` decides how column
    * references are attributed to a side: by attribute identity when
    * the analyzer already bound them ([[GraftDmlRule]]), by alias
    * qualifier + schema lookup at parse level ([[GraftSqlParser]]'s
    * WITH SCHEMA EVOLUTION branch). */
  private[v2] def mergeCommand(s: SparkSession, root: String,
      tAlias: Option[String], m: MergeIntoTable): GraftMergeCommand = {
    val resolvedMode =
      m.targetTable.resolved && m.sourceTable.resolved
    // the source plan the command will execute, analyzed
    val srcPlan: LogicalPlan =
      if (resolvedMode) m.sourceTable
      else GraftShims.ofRows(s, m.sourceTable).queryExecution.analyzed
    val sAlias: Option[String] = m.sourceTable match {
      case sa: SubqueryAlias => Some(sa.identifier.name)
      case _ => None
    }
    val tCols: Set[String] =
      if (resolvedMode) m.targetTable.output.map(_.name).toSet
      else tableSchema(s, root).fieldNames.toSet
    // WITH SCHEMA EVOLUTION: source-only columns widen the target at
    // EXECUTION time (one addColumn metadata commit each, then the
    // merge — Delta's autoMerge order).  Filled after the ON parse
    // (the source-key name must not become a column); consulted only
    // by tgtName/starSet, which run when clauses build, later.
    var evolveCols: Seq[org.apache.spark.sql.types.StructField] = Nil
    def tgtCols(n: String): Boolean =
      tCols(n) || evolveCols.exists(_.name == n)
    val sCols: Set[String] = srcPlan.output.map(_.name).toSet
    val tSet: AttributeSet = if (resolvedMode)
      m.targetTable.outputSet else AttributeSet.empty
    val sSet: AttributeSet = if (resolvedMode)
      m.sourceTable.outputSet else AttributeSet.empty

    // which side does a reference belong to? -> ("t"|"s", bare name)
    def side(e: Expression): Option[(String, String)] = e match {
      case a: AttributeReference if resolvedMode =>
        if (tSet.contains(a)) Some(("t", a.name))
        else if (sSet.contains(a)) Some(("s", a.name))
        else None
      case u: UnresolvedAttribute => u.nameParts match {
        case Seq(q, n) if tAlias.contains(q) => Some(("t", n))
        case Seq(q, n) if sAlias.contains(q) => Some(("s", n))
        case Seq(n) =>
          val inT = tCols(n); val inS = sCols(n)
          if (inT && inS) throw new IllegalArgumentException(
            s"ambiguous column `$n` in MERGE (exists on both sides); " +
              "qualify it with the target/source alias")
          else if (inS) Some(("s", n))
          else if (inT) Some(("t", n))
          else None
        case _ => None
      }
      case _ => None
    }
    def sideColumn(e: Expression, what: String): Column = {
      noSubquery(e, what)
      GraftShims.columnOf(e.transform {
        case a: AttributeReference =>
          val (q, n) = side(a).getOrElse(throw new IllegalArgumentException(
            s"cannot attribute `${a.name}` to the MERGE target or source"))
          UnresolvedAttribute(Seq(q, n))
        case u: UnresolvedAttribute =>
          val (q, n) = side(u).getOrElse(throw new IllegalArgumentException(
            s"cannot attribute `${u.nameParts.mkString(".")}` to the " +
              "MERGE target or source (qualify with an alias, top-level " +
              "columns only)"))
          UnresolvedAttribute(Seq(q, n))
      })
    }
    // assignment target: a target-side top-level column.  Unqualified
    // names resolve against the TARGET directly — SQL's UPDATE SET /
    // INSERT column lists always name target columns, so the
    // both-sides ambiguity rule for VALUE expressions does not apply.
    def tgtName(e: Expression): String = e match {
      case a: AttributeReference if resolvedMode && tSet.contains(a) =>
        a.name
      case u: UnresolvedAttribute => u.nameParts match {
        case Seq(n) if tgtCols(n) => n
        case Seq(q, n) if tAlias.contains(q) && tgtCols(n) => n
        case _ => throw new IllegalArgumentException(
          s"MERGE assignment target `${u.nameParts.mkString(".")}` " +
            "must be a column of the target table")
      }
      case other => throw new IllegalArgumentException(
        s"MERGE assignment target must be a top-level column, got " +
          other.sql)
    }

    val key = keyOf(s, root)
    // the ON clause must CONTAIN one equality binding the table key to
    // a source column (the equi-join the library merge shuffles on);
    // every other conjunct becomes a RESIDUAL join predicate — a pair
    // failing it is unmatched on both sides, standard MERGE ON
    // semantics (Delta's compound-ON shape)
    def conjunctsOf(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjunctsOf(l) ++ conjunctsOf(r)
      case other => Seq(other)
    }
    val conjuncts = conjunctsOf(m.mergeCondition)
    def keyEq(e: Expression): Option[(String, String)] = e match {
      case EqualTo(l, r) => (side(l), side(r)) match {
        case (Some(("t", tn)), Some(("s", sn))) if tn == key =>
          Some((tn, sn))
        case (Some(("s", sn)), Some(("t", tn))) if tn == key =>
          Some((tn, sn))
        case _ => None
      }
      case _ => None
    }
    val keyIdx = conjuncts.indexWhere(c => keyEq(c).isDefined)
    require(keyIdx >= 0,
      s"MERGE ON must include an equality binding the table key " +
        s"`$key` to a source column (got: ${m.mergeCondition.sql})")
    val (tKeyName, sKeyName) = keyEq(conjuncts(keyIdx)).get
    if (m.withSchemaEvolution) {
      val base = tableSchema(s, root).fieldNames.toSet
      evolveCols = srcPlan.output
        .filter(a => !base.contains(a.name) && a.name != sKeyName)
        .map(a => org.apache.spark.sql.types.StructField(
          a.name, a.dataType, nullable = true))
    }
    val onExtra: Option[Column] = {
      val rest = conjuncts.zipWithIndex.collect {
        case (c, i) if i != keyIdx => sideColumn(c, "MERGE ON") }
      rest.reduceOption(_ && _)
    }

    def starSet(exceptKey: Boolean): Map[String, Column] = {
      val names = (tableSchema(s, root).fieldNames.toSeq ++
          evolveCols.map(_.name))
        .filter(n => !exceptKey || n != key)
      val missing = names.filterNot(n =>
        sCols(n) || n == sKeyName || (n == key))
      require(missing.isEmpty,
        s"MERGE * needs every target column on the source; missing: " +
          missing.mkString(", "))
      names.map { n =>
        val sn = if (n == key) sKeyName else n
        n -> col(s"s.$sn")
      }.toMap
    }
    def assignMap(as: Seq[Assignment]): Map[String, Column] = {
      val set = as.map(a =>
        tgtName(a.key) -> sideColumn(a.value, "MERGE")).toMap
      require(set.size == as.size, "duplicate MERGE assignment targets")
      set
    }
    val matched: Seq[MergeClause] = m.matchedActions.map {
      case u: UpdateAction =>
        MatchedUpdate(assignMap(u.assignments),
          u.condition.map(sideColumn(_, "MERGE")))
      case u: UpdateStarAction =>
        MatchedUpdate(starSet(exceptKey = true),
          u.condition.map(sideColumn(_, "MERGE")))
      case d: DeleteAction =>
        MatchedDelete(d.condition.map(sideColumn(_, "MERGE")))
      case other => throw new IllegalArgumentException(
        s"unsupported WHEN MATCHED action: $other")
    }
    val notMatched: Seq[MergeClause] = m.notMatchedActions.map {
      case i: InsertAction =>
        NotMatchedInsert(assignMap(i.assignments),
          i.condition.map(sideColumn(_, "MERGE")))
      case i: InsertStarAction =>
        NotMatchedInsert(starSet(exceptKey = false),
          i.condition.map(sideColumn(_, "MERGE")))
      case other => throw new IllegalArgumentException(
        s"unsupported WHEN NOT MATCHED action: $other")
    }
    val nmbs: Seq[MergeClause] = m.notMatchedBySourceActions.map {
      case u: UpdateAction =>
        NotMatchedBySourceUpdate(assignMap(u.assignments),
          u.condition.map(sideColumn(_, "MERGE")))
      case d: DeleteAction =>
        NotMatchedBySourceDelete(d.condition.map(sideColumn(_, "MERGE")))
      case other => throw new IllegalArgumentException(
        s"unsupported WHEN NOT MATCHED BY SOURCE action: $other")
    }
    GraftMergeCommand(root, key, sKeyName, srcPlan,
      matched ++ notMatched ++ nmbs, onExtra, evolveCols)
  }

  /** REPLACE WHERE condition -> Column (bare by-name references; the
    * library replaceWhere evaluates it over BOTH the table scan and
    * the incoming batch for the inside-slice guard). */
  private[v2] def replaceCondColumn(e: Expression): Column =
    singleTableColumn(e, "REPLACE WHERE")
}

/** Analyzer rule (injected via `GraftExtensions`, BEFORE the read
  * swap): convert resolved SQL DML over graft catalog relations into
  * runnable commands.  Fires only when the referenced expressions are
  * resolved, so column binding is the analyzer's, not ours. */
final case class GraftDmlRule(session: SparkSession)
    extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case UpdateTable(t, assigns, cond)
          if GraftDml.target(session, t).isDefined &&
            assigns.forall(a => a.key.resolved && a.value.resolved) &&
            cond.forall(_.resolved) =>
        val (root, _) = GraftDml.target(session, t).get
        GraftDml.updateCommand(session, root, assigns, cond)

      case DeleteFromTable(t, cond)
          if GraftDml.target(session, t).isDefined && cond.resolved =>
        val (root, _) = GraftDml.target(session, t).get
        GraftDml.deleteCommand(session, root, cond)

      case m: MergeIntoTable
          if GraftDml.target(session, m.targetTable).isDefined &&
            m.targetTable.resolved && m.sourceTable.resolved &&
            m.mergeCondition.resolved &&
            (m.matchedActions ++ m.notMatchedActions ++
              m.notMatchedBySourceActions).forall(actionResolved) =>
        val (root, alias) = GraftDml.target(session, m.targetTable).get
        GraftDml.mergeCommand(session, root, alias, m)

      // AppendData / OverwriteByExpression (the writes of CTAS and
      // `df.writeTo`): the analyzer has already reconciled the query
      // to the table schema (casts + positional names), so the
      // command skips its own alignment
      case a @ AppendData(r: DataSourceV2Relation, query, _, _, _, _)
          if r.table.isInstanceOf[GraftSqlTable] && a.query.resolved &&
            a.outputResolved =>
        GraftInsertCommand(r.table.asInstanceOf[GraftSqlTable].root,
          query, overwrite = false, Nil, byName = false,
          preAligned = true)

      case o @ OverwriteByExpression(r: DataSourceV2Relation,
          Literal(true, BooleanType), query, _, _, _, _)
          if r.table.isInstanceOf[GraftSqlTable] && o.query.resolved &&
            o.outputResolved =>
        GraftInsertCommand(r.table.asInstanceOf[GraftSqlTable].root,
          query, overwrite = true, Nil, byName = false,
          preAligned = true)

      // INSERT INTO ... REPLACE WHERE cond: a predicate-scoped
      // overwrite — Delta's replaceWhere as SQL text.  The library
      // command validates the batch lies INSIDE the slice before
      // anything is written
      case o @ OverwriteByExpression(r: DataSourceV2Relation,
          cond, query, _, _, _, _)
          if r.table.isInstanceOf[GraftSqlTable] && o.query.resolved &&
            o.outputResolved && cond.resolved =>
        val root = r.table.asInstanceOf[GraftSqlTable].root
        GraftReplaceWhereCommand(root, GraftDml.replaceCondColumn(cond),
          query)

      // SQL INSERT INTO / INSERT OVERWRITE convert here, from the
      // InsertIntoStatement: GraftInsertCommand aligns the query by
      // position or column list.  The statement must NOT fall through
      // to InsertIntoHadoopFsRelationCommand, which would write parquet
      // without a manifest commit
      case i: InsertIntoStatement
          if GraftDml.target(session, i.table).isDefined &&
            i.query.resolved =>
        val (root, _) = GraftDml.target(session, i.table).get
        GraftDml.insertCommand(session, root, i)
    }

  private def actionResolved(a: MergeAction): Boolean =
    a.condition.forall(_.resolved) && (a match {
      case u: UpdateAction =>
        u.assignments.forall(x => x.key.resolved && x.value.resolved)
      case i: InsertAction =>
        i.assignments.forall(x => x.key.resolved && x.value.resolved)
      case _ => true
    })
}

/** `INSERT INTO` / `INSERT OVERWRITE`: the query's rows append to /
  * overwrite the table through the library write path (constraints,
  * stats, blooms, manifest commit). */
final case class GraftInsertCommand(root: String, query: LogicalPlan,
    overwrite: Boolean, userCols: Seq[String], byName: Boolean,
    preAligned: Boolean) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(query)

  override def run(s: SparkSession): Seq[Row] = {
    val df0 = GraftShims.ofRows(s, query)
    val schema = new GraftSqlTable(root, Map.empty).schema()
    val key = GraftDml.keyOf(s, root)
    val out: DataFrame =
      if (preAligned) df0
      else if (byName || userCols.nonEmpty) {
        val names =
          if (userCols.nonEmpty) userCols else df0.columns.toSeq
        require(names.length == df0.columns.length,
          s"INSERT column list names ${names.length} columns but the " +
            s"query produces ${df0.columns.length}")
        require(names.distinct.length == names.length,
          "duplicate columns in INSERT column list")
        val known = schema.fieldNames.toSet
        val unknown = names.filterNot(known)
        require(unknown.isEmpty,
          s"INSERT names unknown columns: ${unknown.mkString(", ")}")
        require(names.contains(key),
          s"INSERT must provide the table key column `$key`")
        val named = df0.toDF(names: _*)
        named.select(schema.fields.toIndexedSeq.map { f =>
          if (names.contains(f.name)) col(f.name).cast(f.dataType)
            .as(f.name)
          else GraftDml.defaultOrNull(f).as(f.name)
        }: _*)
      } else {
        require(df0.columns.length == schema.length,
          s"INSERT by position needs ${schema.length} columns " +
            s"(${schema.fieldNames.mkString(", ")}), got " +
            df0.columns.length)
        df0.toDF(schema.fieldNames.toIndexedSeq: _*)
          .select(schema.fields.toIndexedSeq.map(f =>
            col(f.name).cast(f.dataType).as(f.name)): _*)
      }
    if (overwrite) VersionedTable.overwrite(s, root, out, key, 8)
    else VersionedTable.append(s, root, out, key, 8)
    Seq.empty
  }
}

/** SQL `UPDATE graft.`/root`` — delegates to the copy-on-write
  * library update (same semantics as `UPDATE` on any lakehouse). */
final case class GraftUpdateCommand(root: String,
    set: Map[String, Column], cond: Option[Column])
    extends LeafRunnableCommand {
  override def run(s: SparkSession): Seq[Row] = {
    val (key, mor) = GraftDml.keyAndMor(s, root)
    // `dml.mode=mor` routes SQL UPDATE through the merge-on-read twin
    // (DV mask + post-image append, O(updated rows) total I/O, zero
    // files rewritten) — the economics Delta's DV-based UPDATE gives
    // a 100 TB table where 0.01% of rows change; default stays
    // copy-on-write (read-side cost bounded at zero outstanding masks)
    if (mor)
      VersionedTable.updateMoR(s, root, cond.getOrElse(lit(true)),
        set, key)
    else
      VersionedTable.update(s, root, cond.getOrElse(lit(true)), set,
        key, 8)
    Seq.empty
  }
}

/** SQL `DELETE FROM graft.`/root`` — `dml.mode=mor` masks instead of
  * rewriting, as for UPDATE. */
final case class GraftDeleteCommand(root: String, cond: Column)
    extends LeafRunnableCommand {
  override def run(s: SparkSession): Seq[Row] = {
    val (key, mor) = GraftDml.keyAndMor(s, root)
    if (mor)
      VersionedTable.deleteMoR(s, root, cond, key)
    else VersionedTable.delete(s, root, cond, key, 8)
    Seq.empty
  }
}

/** SQL `MERGE INTO graft.`/root`` — conditions and assignments carry
  * `t.`/`s.`-qualified by-name references matching the library
  * merge's internal aliases; the source plan executes as-is and, when
  * its key column is named differently from the table key, gains the
  * table-key name before the merge. */
final case class GraftMergeCommand(root: String, key: String,
    sourceKeyName: String, source: LogicalPlan,
    clauses: Seq[MergeClause],
    onExtra: Option[Column] = None,
    evolve: Seq[org.apache.spark.sql.types.StructField] = Nil)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(s: SparkSession): Seq[Row] = {
    // WITH SCHEMA EVOLUTION: widen first (metadata-only commits; a
    // column that appeared since conversion is skipped), then merge —
    // surviving old rows read NULL for the new columns
    evolve.foreach { f =>
      val have = new GraftSqlTable(root, Map.empty).schema().fieldNames
      if (!have.contains(f.name)) {
        VersionedTable.addColumn(s, root, f.name, f.dataType); ()
      }
    }
    var src = GraftShims.ofRows(s, source)
    if (sourceKeyName != key) {
      require(!src.columns.contains(key),
        s"MERGE source carries a column named `$key` that is not the " +
          s"join key (`$sourceKeyName` is); rename one of them")
      src = src.withColumn(key, col(sourceKeyName))
    }
    VersionedTable.mergeInto(s, root, src, key, clauses, 8,
      onExtra = onExtra)
    Seq.empty
  }
}

/** `DELETE FROM graft.`/root` WHERE key IN (SELECT ...) [AND ...]` —
  * the subquery plans as a distributed DataFrame; without a residual
  * it routes to the library's join-based [[VersionedTable.deleteKeys]]
  * (driver state O(files), never O(keys)); with one it becomes a
  * key-join MERGE DELETE whose residual gates WHEN MATCHED. */
final case class GraftDeleteKeysCommand(root: String,
    keys: LogicalPlan, residual: Option[Column])
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(keys)
  override def run(s: SparkSession): Seq[Row] = {
    val (key, mor) = GraftDml.keyAndMor(s, root)
    val kdf0 = GraftShims.ofRows(s, keys)
    require(kdf0.columns.length == 1,
      s"the IN-subquery must produce exactly one column (the table " +
        s"key), got ${kdf0.columns.length}")
    val kdf = kdf0.toDF(key).distinct()
    // dml.mode=mor routes BOTH shapes through the DV-masking twin —
    // the residual gates the masked rows exactly like a MERGE DELETE's
    // WHEN MATCHED condition, so a sparse decontamination delete on a
    // mor table pays O(deleted rows), never a touched-file rewrite
    residual match {
      case None if mor =>
        VersionedTable.deleteMoRKeys(s, root, kdf, key)
      case None => VersionedTable.deleteKeys(s, root, kdf, key, 8)
      case Some(r) if mor =>
        VersionedTable.deleteMoRKeys(s, root, kdf, key, residual = Some(r))
      case Some(r) => VersionedTable.mergeInto(s, root, kdf, key,
        Seq(VersionedTable.MatchedDelete(Some(r))), 8)
    }
    Seq.empty
  }
}

/** `UPDATE graft.`/root` SET ... WHERE key IN (SELECT ...) [AND ...]`
  * — a key-join MERGE UPDATE: assignments and residual evaluate over
  * the matched pre-update row (target-qualified), unmatched rows keep. */
final case class GraftUpdateKeysCommand(root: String,
    set: Map[String, Column], keys: LogicalPlan,
    residual: Option[Column]) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(keys)
  override def run(s: SparkSession): Seq[Row] = {
    val (key, mor) = GraftDml.keyAndMor(s, root)
    val kdf0 = GraftShims.ofRows(s, keys)
    require(kdf0.columns.length == 1,
      s"the IN-subquery must produce exactly one column (the table " +
        s"key), got ${kdf0.columns.length}")
    val kdf = kdf0.toDF(key).distinct()
    // dml.mode=mor: DV mask + post-image append (O(updated rows)),
    // consistent with GraftUpdateCommand's routing — a sparse
    // `UPDATE ... WHERE key IN (SELECT ...)` on a mor table must not
    // silently pay a full touched-file copy-on-write rewrite
    if (mor)
      VersionedTable.updateMoRKeys(s, root, kdf, set, key,
        residual = residual)
    else
      VersionedTable.mergeInto(s, root, kdf, key,
        Seq(VersionedTable.MatchedUpdate(set, residual)), 8)
    Seq.empty
  }
}

/** `INSERT INTO graft.`/root` REPLACE WHERE cond SELECT ...` —
  * predicate-scoped overwrite through [[VersionedTable.replaceWhere]]:
  * one commit deletes the matching slice and inserts the batch, the
  * batch is VALIDATED to lie inside the slice, untouched files carry
  * by reference (Delta's replaceWhere as SQL text). */
final case class GraftReplaceWhereCommand(root: String, cond: Column,
    query: LogicalPlan) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(query)
  override def run(s: SparkSession): Seq[Row] = {
    // the analyzer's OverwriteByExpression already reconciled the
    // query to the table schema (casts + positional names)
    VersionedTable.replaceWhere(s, root, cond, GraftShims.ofRows(s, query),
      GraftDml.keyOf(s, root), 8)
    Seq.empty
  }
}
