package pystreamsspark.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing (fixed-token-budget chunking) at scale.
  *
  * The relational formulation (`PipelineQueries.qSeqPack`) uses a GLOBAL
  * running-total window — correct, oracle-checkable, but a global window
  * is one task: the whole corpus funnels through a single sort partition.
  *
  * This operator is the 100 TB shape — a distributed prefix sum:
  *   1. range-partition by the deterministic hash order key, sort within
  *      partitions (parallel);
  *   2. pass 1: per-partition token totals — `nPartitions` rows to the
  *      driver, turned into exclusive prefix offsets;
  *   3. pass 2: per-partition running sums (a PARALLEL window keyed on
  *      the partition id) + the broadcast offset = the exact global
  *      cumulative total for every row.
  * Output values are identical to the global-window form (the test
  * asserts it): a prefix sum does not depend on where it is split.
  *
  * The partitioned frame is pinned between the two passes because
  * range-partition boundaries are sampled — unpinned, a second job could
  * draw different bounds and mismatch pass 1's offsets. The pin is a
  * lazy `localCheckpoint`: pass 1's `collect` materializes its blocks,
  * pass 2 reads the same blocks, and nothing is registered in the
  * CacheManager, so the blocks are freed once the frame is unreachable.
  */
object SeqPack {

  def packChunks(docs: DataFrame, idCol: String, tokCol: String,
                 budget: Long, nPartitions: Int = 32): DataFrame = {
    val base = docs
      .select(col(idCol).as("id"),
        md5(col(idCol).cast("string").cast("binary")).as("h"),
        col(tokCol).cast("long").as("n_tok"))
      .repartitionByRange(nPartitions, col("h"), col("id"))
      .sortWithinPartitions(col("h"), col("id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(eager = false)

    // pass 1: per-partition totals -> exclusive prefix offsets. Built over
    // ALL pids 0 until nPartitions (absent = empty partition = total 0):
    // range partitioning can leave gaps, and a scan over only the
    // non-empty pids would mis-assign offsets past the first gap.
    val totalOf = base.groupBy(col("pid")).agg(sum(col("n_tok")).as("ptot"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val offsets = (0 until nPartitions)
      .scanLeft(0L)((acc, pid) => acc + totalOf.getOrElse(pid, 0L))
      .zipWithIndex.map { case (off, pid) => (pid, off) }.toMap
    val offsetOf = typedlit(offsets.map { case (k, v) => (k, v) })

    // pass 2: parallel per-partition running sum + broadcast offset
    val w = Window.partitionBy(col("pid")).orderBy(col("h").asc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("cum", sum(col("n_tok")).over(w) + element_at(offsetOf, col("pid")))
      .withColumn("chunk", floor((col("cum") - col("n_tok")) / budget.toDouble).cast("long"))
      .select(col("id"), col("n_tok"), col("cum"), col("chunk"))
  }
}
