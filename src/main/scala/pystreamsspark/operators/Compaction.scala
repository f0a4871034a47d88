package pystreamsspark.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import pystreamsspark.io.Tables

/** Small-file compaction — the unglamorous operator every 100 TB lake
  * needs: streaming ingest and fine-grained partitioning leave behind
  * directories of kilobyte parquet files whose per-file open/footer
  * cost eventually dominates scans (and whose count crushes the
  * driver's listing). Compaction rewrites a directory into files near
  * a target size: total bytes come from a driver-side LISTING (file
  * metadata only — no data moves to the driver), the output file count
  * is ceil(bytes/target), and the rewrite is one round-robin
  * repartition so every output file lands near the target.
  */
object Compaction {

  /** Rewrite the parquet directory `inDir` into `outDir` with files of
    * ~`targetBytes` each. Returns the output file count it chose.
    *
    * The listing is RECURSIVE, so Hive-partitioned layouts
    * (`k=v/part-*.parquet` subdirectories) size correctly instead of
    * seeing zero bytes and funneling everything through one task. Note
    * the output is a FLAT layout — partition values survive as ordinary
    * columns (Spark's partition discovery recovers them at read time),
    * but the directory structure does not; re-`partitionBy` on write if
    * the layout itself must be preserved. */
  def compactParquet(spark: SparkSession, inDir: String, outDir: String,
                     targetBytes: Long): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val path = new Path(inDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var bytes = 0L
    val it = fs.listFiles(path, /* recursive = */ true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) bytes += f.getLen
    }
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    Tables.parquet(spark, inDir).repartition(nOut)
      .write.mode("overwrite").parquet(outDir)
    nOut
  }
}
