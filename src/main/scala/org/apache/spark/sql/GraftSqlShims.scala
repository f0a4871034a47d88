/* Shim into Spark's `private[sql]` surface — the standard extension
 * technique (a tiny object in the org.apache.spark.sql package tree) for
 * the hooks a DML executor cannot reach through the public API:
 * turning an analyzed/unresolved LogicalPlan into a DataFrame, the
 * active classic session, a nullable copy of a schema, and the session's
 * Hadoop configuration. Nothing else lives here; all engine logic stays
 * in pystreamsspark.*. */
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

object GraftSqlShims {
  /** `Dataset.ofRows`: analyze `plan` in `spark` and wrap it as a
    * DataFrame — how a MERGE/INSERT source subquery becomes a frame the
    * snapshot-table machinery can consume. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The active session as the classic implementation (what Spark's own
    * file-source tables take). */
  def activeClassic(): classic.SparkSession = classic.SparkSession.active

  /** `StructType.asNullable` — the data schema a file table scans with
    * (every column nullable), as `FileTable.dataSchema` builds it. */
  def asNullable(schema: types.StructType): types.StructType =
    schema.asNullable

  /** A fresh Hadoop configuration carrying the session's settings, as
    * file scans take it (`sessionState.newHadoopConf`): a copy of the
    * context's loaded configuration, not a re-parse of Hadoop's XML
    * resources. */
  def newHadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()
}
