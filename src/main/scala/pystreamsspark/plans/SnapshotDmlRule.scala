package pystreamsspark.plans

import org.apache.spark.sql.{GraftSqlShims, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import pystreamsspark.io.{SnapshotSql, SnapshotTable, SnapshotV2Table}

/** Analyzer rule (injected by GraftExtensions via injectResolutionRule)
  * that makes plain `spark.sql("MERGE INTO / UPDATE / DELETE / INSERT
  * …")` work against [[pystreamsspark.io.GraftCatalog]] tables: once the
  * analyzer has resolved the target to a `DataSourceV2Relation` over a
  * [[SnapshotV2Table]] (and the source/query subtree is resolved), the
  * DML node is replaced with an eagerly-executed command that routes
  * into the SAME executors as the parsed-plan path
  * ([[pystreamsspark.io.SnapshotSql]]) — so both entry points share one
  * semantics and the same stats-pruned file-granular copy-on-write
  * plans. Matching happens during the fixed-point resolution batch,
  * before Spark's own row-level rewrite rules would reject the table
  * for not implementing SupportsRowLevelOperations. */
object SnapshotDmlRule extends Rule[LogicalPlan] {

  private object GraftRel {
    def unapply(plan: LogicalPlan): Option[SnapshotV2Table] = plan match {
      case SubqueryAlias(_, child) => unapply(child)
      case r: DataSourceV2Relation => r.table match {
        case t: SnapshotV2Table => Some(t)
        case _ => None
      }
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case DeleteFromTable(GraftRel(t), cond) =>
      SnapshotDmlCommand("delete", t.dir,
        condSql = Some(SnapshotSql.renderCond(cond)))
    case UpdateTable(GraftRel(t), assignments, cond)
        if assignments.forall(_.childrenResolved) =>
      SnapshotDmlCommand("update", t.dir,
        condSql = cond.map(SnapshotSql.renderCond),
        sets = assignments.map(a =>
          (SnapshotSql.renderCond(a.key).stripPrefix("`").stripSuffix("`"),
            SnapshotSql.renderCond(a.value))))
    case m: MergeIntoTable if m.sourceTable.resolved =>
      m.targetTable match {
        case GraftRel(t) =>
          // the ONE classification both routes share (SnapshotSql) —
          // the two entry points can never pick different executors
          SnapshotSql.classifyMergeDispatch(t.dir, m) match {
            case SnapshotSql.FastDelete(keys) =>
              SnapshotDmlCommand("merge", t.dir, keyCols = keys,
                source = Some(m.sourceTable), matchedDelete = true,
                evolve = m.withSchemaEvolution)
            case SnapshotSql.FastUpsert(keys) =>
              SnapshotDmlCommand("merge", t.dir, keyCols = keys,
                source = Some(m.sourceTable),
                evolve = m.withSchemaEvolution)
            // the general path renders resolved attributes, so wait for
            // the whole node to resolve (the fixed point keeps
            // iterating until then)
            case SnapshotSql.GeneralPath if m.resolved =>
              val (keys, onSql, ma, nm, nmbs) = SnapshotSql.generalMergeArgs(
                t.dir, m, m.sourceTable.output.map(_.name))
              SnapshotDmlCommand("merge_general", t.dir, keyCols = keys,
                source = Some(m.sourceTable), onSql = Some(onSql),
                mergeMatched = ma, mergeNotMatched = nm, mergeNmbs = nmbs,
                evolve = m.withSchemaEvolution)
            case _ => m
          }
        case _ => m
      }
    case i: InsertIntoStatement if i.query.resolved =>
      i.table match {
        case GraftRel(t) =>
          SnapshotDmlCommand("insert", t.dir,
            source = Some(i.query), userCols = i.userSpecifiedCols,
            overwrite = i.overwrite, byName = i.byName,
            hasPartitionSpec = i.partitionSpec.nonEmpty)
        case _ => i
      }
    // ResolveInsertInto may convert the statement to V2 write nodes in
    // the same fixed-point iteration that resolves the relation — accept
    // those shapes too (byName/byPosition already normalized by Spark)
    case a: AppendData if a.query.resolved =>
      a.table match {
        case GraftRel(t) =>
          SnapshotDmlCommand("insert", t.dir, source = Some(a.query),
            byName = a.isByName)
        case _ => a
      }
    case o: OverwriteByExpression if o.query.resolved =>
      o.table match {
        case GraftRel(t) =>
          SnapshotDmlCommand("insert", t.dir, source = Some(o.query),
            overwrite = true, byName = o.isByName)
        case _ => o
      }
    case other => other
  }
}

/** Eagerly-executed DML command over a snapshot table directory; `kind`
  * dispatches to the shared [[SnapshotSql]] executors. Carrying the
  * SOURCE plan (not a DataFrame) keeps the command serializable-free and
  * lets run() analyze it in the session that executes. */
case class SnapshotDmlCommand(kind: String, dir: String,
                              condSql: Option[String] = None,
                              sets: Seq[(String, String)] = Nil,
                              keyCols: Seq[String] = Nil,
                              source: Option[LogicalPlan] = None,
                              matchedDelete: Boolean = false,
                              userCols: Seq[String] = Nil,
                              overwrite: Boolean = false,
                              byName: Boolean = false,
                              hasPartitionSpec: Boolean = false,
                              onSql: Option[String] = None,
                              mergeMatched: Seq[SnapshotTable.MergeClause] = Nil,
                              mergeNotMatched: Seq[SnapshotTable.MergeClause] = Nil,
                              mergeNmbs: Seq[SnapshotTable.MergeClause] = Nil,
                              evolve: Boolean = false)
  extends LeafRunnableCommand {

  override def output: Seq[Attribute] = Nil
  override def innerChildren: Seq[LogicalPlan] = source.toSeq

  override def run(spark: SparkSession): Seq[Row] = {
    kind match {
      case "delete" =>
        SnapshotTable.delete(spark, dir, condSql.getOrElse("true"))
      case "update" =>
        SnapshotTable.update(spark, dir, condSql.getOrElse("true"), sets)
      case "merge" =>
        val src = GraftSqlShims.ofRows(spark, source.get)
        // MERGE WITH SCHEMA EVOLUTION: the evolve commit happens at RUN
        // time (analysis must stay side-effect-free); idempotent, and
        // compensated if the merge then fails (withMergeEvolution)
        SnapshotSql.withMergeEvolution(dir, src.schema, evolve) {
          if (matchedDelete)
            SnapshotSql.runMergeDelete(spark, dir, src, keyCols)
          else SnapshotSql.runMergeUpsert(spark, dir, src, keyCols)
        }
      case "merge_general" =>
        val src = GraftSqlShims.ofRows(spark, source.get)
        SnapshotSql.withMergeEvolution(dir, src.schema, evolve) {
          SnapshotTable.generalMerge(spark, dir, src, keyCols, onSql.get,
            mergeMatched, mergeNotMatched, mergeNmbs)
        }
      case "insert" =>
        SnapshotSql.runInsert(spark, dir,
          GraftSqlShims.ofRows(spark, source.get), userCols, overwrite,
          byName, hasPartitionSpec)
      case other => throw new IllegalStateException(s"unknown DML $other")
    }
    Nil
  }
}
