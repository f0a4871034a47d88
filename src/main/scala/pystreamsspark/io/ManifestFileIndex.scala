package pystreamsspark.io

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{PartitionDirectory, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.{DataType, StringType, TimestampType}

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
  * (exchange reuse, cache lookup).
  *
  * DATA SKIPPING: `stats` (aligned with `files`) holds each file's
  * manifest [min,max] per PHYSICAL column of `statTypes` — the columns
  * whose stats may prune (legacy timestamp renderings are left out by
  * the caller). [[listFiles]] drops every file whose stats prove that a
  * pushed-down filter cannot hold ([[ManifestFileIndex.statsTest]]), so
  * a filtered read — a catalog `SELECT … WHERE`, the V2 scan — opens
  * only the files that can match. */
private[io] class ManifestFileIndex(spark: SparkSession, dir: String,
                                    version: Int, files: Seq[String],
                                    stats: Seq[Map[String, (String, String)]] = Nil,
                                    statTypes: Map[String, DataType] = Map.empty)
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

  private lazy val statsOf: Map[Path, Map[String, (String, String)]] =
    statuses.map(_.getPath).zip(stats).toMap

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val dirs = super.listFiles(partitionFilters, dataFilters)
    val mayHold = ManifestFileIndex.statsTest(dataFilters, statTypes)
    dirs.map(d => d.copy(files = d.files.filter(f =>
      mayHold(statsOf.getOrElse(f.getPath, Map.empty)))))
  }

  private lazy val pathSet = rootPaths.toSet

  override def equals(other: Any): Boolean = other match {
    case m: ManifestFileIndex => pathSet == m.pathSet
    case _ => false
  }

  override def hashCode(): Int = pathSet.hashCode()

  override def toString: String =
    s"ManifestFileIndex[$dir v$version, ${statuses.size} files]"
}

private[io] object ManifestFileIndex {

  /** May a file whose stats are `stats` (column -> [min,max]
    * renderings) hold a row satisfying all of `filters`? Conjuncts `=`,
    * `<`, `<=`, `>`, `>=` and `IN` between a column of `statTypes` and a
    * literal are decided in [[SnapshotTable.statKey]] order; any other
    * conjunct, or a file without stats for the column, keeps the file. */
  def statsTest(filters: Seq[Expression], statTypes: Map[String, DataType])
      : Map[String, (String, String)] => Boolean = {
    val tests = filters.flatMap(splitConjuncts).flatMap(rangeTest(statTypes, _))
    stats => tests.forall { case (c, mayHold) => stats.get(c).forall(mayHold) }
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  private type RangeTest = (String, ((String, String)) => Boolean)

  /** A conjunct as (column, "may a file whose stats are [lo, hi] hold a
    * row satisfying it"); None = cannot bound. */
  private def rangeTest(types: Map[String, DataType],
                        e: Expression): Option[RangeTest] = {
    def key(a: Attribute, s: String) = SnapshotTable.statKey(types(a.name), s)
    def cmp(op: (Int, Int) => Boolean, a: Attribute, l: Literal) =
      keyOf(types, a, l).map { v => (a.name, (r: (String, String)) =>
        // op(compare(fLo, v), compare(fHi, v)): may the range hold it?
        (SnapshotTable.statCompare(key(a, r._1), v),
          SnapshotTable.statCompare(key(a, r._2), v)) match {
          case (Some(lo), Some(hi)) => op(lo, hi)
          case _ => true
        })
      }
    // `a IN values`: some value lies in the range (a null or
    // incomparable value cannot bound the column)
    def in(a: Attribute, values: Seq[Literal]): Option[RangeTest] = {
      val keys = values.map(keyOf(types, a, _))
      if (keys.isEmpty || keys.exists(_.isEmpty)) None
      else Some((a.name, (r: (String, String)) => {
        val (lo, hi) = (key(a, r._1), key(a, r._2))
        keys.flatten.exists(v =>
          !(SnapshotTable.statCompare(v, lo).exists(_ < 0) ||
            SnapshotTable.statCompare(hi, v).exists(_ < 0)))
      }))
    }
    e match {
      case EqualTo(a: Attribute, l: Literal) => in(a, Seq(l))
      case EqualTo(l: Literal, a: Attribute) => in(a, Seq(l))
      case LessThan(a: Attribute, l: Literal) => cmp((lo, _) => lo < 0, a, l)
      case LessThan(l: Literal, a: Attribute) => cmp((_, hi) => hi > 0, a, l)
      case LessThanOrEqual(a: Attribute, l: Literal) => cmp((lo, _) => lo <= 0, a, l)
      case LessThanOrEqual(l: Literal, a: Attribute) => cmp((_, hi) => hi >= 0, a, l)
      case GreaterThan(a: Attribute, l: Literal) => cmp((_, hi) => hi > 0, a, l)
      case GreaterThan(l: Literal, a: Attribute) => cmp((lo, _) => lo < 0, a, l)
      case GreaterThanOrEqual(a: Attribute, l: Literal) => cmp((_, hi) => hi >= 0, a, l)
      case GreaterThanOrEqual(l: Literal, a: Attribute) => cmp((lo, _) => lo <= 0, a, l)
      case In(a: Attribute, list) if list.forall(_.isInstanceOf[Literal]) =>
        in(a, list.map(_.asInstanceOf[Literal]))
      case InSet(a: Attribute, set) =>
        in(a, set.toSeq.map(v => Literal(v, a.dataType)))
      case _ => None
    }
  }

  /** The literal's key, rendered as the manifest renders stats
    * (epoch-micros for TimestampType, the string cast otherwise); None
    * for a column without stats, a type mismatch, a null or an
    * incomparable value. */
  private def keyOf(types: Map[String, DataType], a: Attribute,
                    l: Literal): Option[AnyRef] =
    types.get(a.name).filter(dt => dt == l.dataType && l.value != null)
      .flatMap { dt =>
        val rendered = dt match {
          case _: TimestampType => l.value.toString
          case _ => Cast(l, StringType, Some("UTC")).eval().toString
        }
        Option(SnapshotTable.statKey(dt, rendered))
      }
}
