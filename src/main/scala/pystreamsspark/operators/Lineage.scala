package pystreamsspark.operators

import org.apache.spark.sql.DataFrame

/** Lineage truncation for DataFrames that iterative loops re-read or
  * multi-way self-joins reference many times (CC rounds, PageRank/BFS
  * adjacency, triangle wedges): without it every reference recomputes
  * the whole upstream pipeline.
  *
  * Dispatch: a RELIABLE `df.checkpoint()` when the job has configured a
  * checkpoint dir (`sparkContext.setCheckpointDir` — HDFS/S3 on a real
  * cluster; blocks survive executor loss, so iteration is recoverable),
  * else `localCheckpoint` (executor-local blocks — free on local[N],
  * and the only option when no fault-tolerant store is configured).
  * A LAZY reliable checkpoint does not cache (`RDD.checkpoint()` with no
  * persist), so every consumer of the first action recomputes the frame
  * and writing the checkpoint computes it once more; that is why the
  * dedup funnels pin their self-join substrates with
  * `localCheckpoint(eager = false)` rather than through this dispatch.
  */
object Lineage {
  def truncate(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager)
    else df.localCheckpoint(eager)
}
