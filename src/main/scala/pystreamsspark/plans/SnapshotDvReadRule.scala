package pystreamsspark.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import pystreamsspark.io.{SnapshotTable, SnapshotV2Table}

/** Analyzer rule (injected by GraftExtensions) that makes SQL READS of
  * merge-on-read and COLUMN-MAPPED snapshot tables work: a V2 catalog
  * scan is a raw file read and can apply neither the deletion-vector
  * anti-join nor the logical-name projection of a renamed table, so a
  * [[DataSourceV2Relation]] over a [[SnapshotV2Table]] whose snapshot
  * carries live DVs or a column mapping is rewritten into the logical
  * plan of [[SnapshotTable.read]] (parquet scan + broadcast anti-join
  * on (file, pos) + physical→logical projection), exprId-aligned to the
  * relation's output so the rest of the query is untouched. Plain
  * snapshots keep the fully native V2 scan (pushdown/pruning/
  * bucketing); on sessions WITHOUT extensions the scan builder still
  * refuses DV'd/mapped snapshots loudly.
  *
  * A statement containing a DML whose TARGET is (or may still resolve
  * to) a graft table is skipped entirely: that target must remain a
  * relation for [[SnapshotDmlRule]] to intercept, and every graft DML
  * executor already reads DV-aware internally (the shared entry
  * reader); its SOURCE subquery re-analyzes inside the executor as a
  * standalone SELECT, where this rule applies normally. A DML whose
  * resolved target is FOREIGN (a non-graft table) gets its graft
  * source relations rewritten like any read — so `INSERT INTO
  * plain_tbl SELECT … FROM graft_mor_t` works instead of hitting the
  * scan-builder refusal. */
object SnapshotDvReadRule extends Rule[LogicalPlan] {

  private def graftTarget(plan: LogicalPlan): Boolean = plan match {
    case SubqueryAlias(_, c) => graftTarget(c)
    case r: DataSourceV2Relation => r.table.isInstanceOf[SnapshotV2Table]
    // not yet resolved — could still become a graft relation; stay out
    // of the way until the fixed point settles it
    case _: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation => true
    case _ => false
  }

  private def hasGraftDml(plan: LogicalPlan): Boolean = plan.exists {
    case d: DeleteFromTable     => graftTarget(d.table)
    case u: UpdateTable         => graftTarget(u.table)
    case m: MergeIntoTable      => graftTarget(m.targetTable)
    case i: InsertIntoStatement => graftTarget(i.table)
    case a: AppendData          => graftTarget(a.table)
    case o: OverwriteByExpression => graftTarget(o.table)
    case _: SnapshotDmlCommand  => true
    case _ => false
  }

  /** The raw V2 scan also cannot serve a COLUMN-MAPPED snapshot (files
    * store physical names; the read needs the logical projection) — the
    * same rewrite covers it, since SnapshotTable.read projects through
    * the mapping internally. Both are fields of the snapshot the table
    * resolved at load: no file system call per analyzer iteration. */
  private def needsPlanRead(t: SnapshotV2Table): Boolean =
    t.snapshot.hasDeletionVectors || t.snapshot.colmap.nonEmpty

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (hasGraftDml(plan)) plan
    else plan.transformUp {
      case r: DataSourceV2Relation => r.table match {
        case t: SnapshotV2Table if needsPlanRead(t) =>
          // the version the relation was loaded at, so the rewritten
          // read is the snapshot the query was analyzed against
          val dvPlan = SnapshotTable
            .read(SparkSession.active, t.dir, Some(t.snapshot.version))
            .queryExecution.analyzed
          // re-key the DV-aware plan's columns onto the relation's
          // output ids so references above the relation stay valid
          Project(r.output.map { out =>
            val in = dvPlan.output.find(_.name == out.name).getOrElse(
              throw new IllegalStateException(
                s"DV-aware read of ${t.dir} misses column ${out.name}"))
            Alias(in, out.name)(exprId = out.exprId)
          }, dvPlan)
        case _ => r
      }
    }
}
