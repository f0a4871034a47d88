/* Shim into Spark's parquet package — the same extension technique as
 * `GraftSqlShims` (a tiny object in a Spark package tree) for the one
 * hook a loader cannot reach through the public API: the footer-schema
 * reader (`ParquetFileFormat.readSchema`, package-private), so a read's
 * schema resolves on the driver instead of in Spark's schema-inference
 * job. Nothing else lives here; all engine logic stays in
 * pystreamsspark.*. */
package org.apache.spark.sql.execution.datasources.parquet

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.{classic, GraftSqlShims, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

object GraftParquetShims {
  /** The schema `spark.read.parquet(path)` infers, read on the driver
    * from the one footer Spark's non-merging inference touches
    * (`ParquetUtils.inferSchema`): a file path's own footer; in a flat
    * directory a `_common_metadata`, else `_metadata` summary, else the
    * first data file by path (names Spark's listing skips — `_*`, `.*`
    * — skipped too). The conversion is Spark's own `readSchema`, so the
    * session's parquet settings (`binaryAsString`, `nanosAsLong`, …)
    * and the footer's Spark-schema metadata apply exactly as in the
    * inference job. None — resolve through Spark instead — for a glob,
    * a directory with subdirectories (partition discovery), no file
    * to pick, an unreadable footer, or `mergeSchema` set. */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val sqlConf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    val p = new Path(path)
    if (new ParquetOptions(Map.empty[String, String], sqlConf).mergeSchema ||
        SparkHadoopUtil.get.isGlobPath(p)) return None
    try {
      val conf = GraftSqlShims.newHadoopConf(spark)
      val fs = p.getFileSystem(conf)
      val status = fs.getFileStatus(p)
      def skipped(s: FileStatus) =
        HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName)
      val pick: Option[FileStatus] =
        if (!status.isDirectory) Some(status).filterNot(skipped)
        else {
          val leaves = fs.listStatus(p).filterNot(skipped)
            .sortBy(_.getPath.toString)
          def named(n: String) = leaves.find(_.getPath.getName == n)
          if (leaves.exists(_.isDirectory)) None
          else named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
            .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
            .orElse(leaves.headOption)
        }
      pick.flatMap { f =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, conf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchema(Seq(new Footer(f.getPath, footer)), spark)
      }
    } catch { case NonFatal(_) => None }
  }
}
