package pystreamsspark.io

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{PartitionSpec, PartitioningAwareFileIndex}

/** The file index of a snapshot scan, planned from the resolved MANIFEST
  * instead of the filesystem — the role Spark's `MetadataLogFileIndex`
  * plays for the file-sink log. The manifest already names every live
  * file, so the scan takes one driver `getFileStatus` per entry;
  * `InMemoryFileIndex` would re-discover the same files and, above
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) paths,
  * launch a "Listing leaf files" Spark job with one task per file.
  *
  * `files` are the entries' absolute paths; a stat qualifies each one
  * exactly as the listing did (`file:/…`), so `_metadata.file_path`,
  * `input_file_name()` and the DV anti-join key are unchanged. A live
  * entry missing on disk fails here, when the read is built. The
  * snapshot is unpartitioned (files live under `data/<batch>/`), so the
  * partition spec is empty. Equality is by file set, as for
  * `InMemoryFileIndex`: two scans of the same files canonicalize equal
  * (exchange reuse, cache lookup). */
private[io] class ManifestFileIndex(spark: SparkSession, dir: String,
                                    version: Int, files: Seq[String])
  extends PartitioningAwareFileIndex(spark, Map.empty, None) {

  private val statuses: Seq[FileStatus] = files.map { f =>
    val p = new Path(f)
    p.getFileSystem(hadoopConf).getFileStatus(p)
  }

  override protected val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap(statuses.map(s => s.getPath -> s): _*)

  override protected val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    statuses.toArray.groupBy(_.getPath.getParent)

  override def rootPaths: Seq[Path] = statuses.map(_.getPath)

  override def allFiles(): Seq[FileStatus] = statuses

  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec

  // the manifest is immutable: nothing to re-list
  override def refresh(): Unit = ()

  private lazy val pathSet = rootPaths.toSet

  override def equals(other: Any): Boolean = other match {
    case m: ManifestFileIndex => pathSet == m.pathSet
    case _ => false
  }

  override def hashCode(): Int = pathSet.hashCode()

  override def toString: String =
    s"ManifestFileIndex[$dir v$version, ${statuses.size} files]"
}
