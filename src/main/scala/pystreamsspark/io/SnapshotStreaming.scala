package pystreamsspark.io

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.GraftSqlShims
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, SupportsReportPartitioning}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{FilePartition, OutputWriter, OutputWriterFactory, PartitioningAwareFileIndex}
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Streaming READ of a snapshot table — `spark.readStream.table(
  * "graft.ns.t")` consumes the table's APPENDS as micro-batches, the
  * Delta-style "table as a stream" contract:
  *
  *  - offsets are VERSIONS (engine-checkpointed as plain ints), so
  *    restart-exactly-once comes from deterministic manifest replay —
  *    batch (start, end] reads exactly the files `end`'s manifest added
  *    over `start`'s;
  *  - the table must evolve APPEND-ONLY across the consumed range:
  *    a version that removed/rewrote files or attached deletion vectors
  *    (merge/delete/update/compact/deleteVectors) fails the stream with
  *    a clear error — `option("ignoreChanges", "true")` instead emits
  *    only the ADDED files of such versions (Delta's semantics: rewrites
  *    may re-emit carried rows; the option name says you accepted that);
  *  - vacuumed start offsets fail loudly (the manifest the offset pins
  *    no longer exists) rather than silently skipping data;
  *  - actual file reading is Spark's own vectorized parquet batch
  *    machinery: per range a ParquetScan over just the added files
  *    plans the partitions, and ONE schema-bound reader factory serves
  *    every batch (factories are file-agnostic).
  */
private[io] class SnapshotMicroBatchStream(dir: String, schema: StructType,
                                           options: CaseInsensitiveStringMap)
  extends MicroBatchStream with SupportsTriggerAvailableNow {

  private val startingVersion: Int =
    Option(options.get("startingversion")).map(_.toInt).getOrElse(1)
  // startingTimestamp: consume versions committed AT OR AFTER the
  // instant (Delta's semantics) — the initial offset is the last
  // version committed strictly before it. ISO local-date-time, session
  // timezone is NOT consulted (pass UTC or epoch millis).
  private val startingTsVersion: Option[Int] =
    Option(options.get("startingtimestamp")).map { ts =>
      val millis =
        if (ts.forall(c => c.isDigit)) ts.toLong
        else java.time.LocalDateTime.parse(ts.replace(' ', 'T'))
          .atZone(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
      SnapshotTable.versionAt(dir, millis - 1).getOrElse(0)
    }
  private val ignoreChanges: Boolean =
    Option(options.get("ignorechanges")).exists(_.toBoolean)
  // ADMISSION CONTROL (round 13): cap how many table VERSIONS one
  // micro-batch may consume. Without it, a stream resuming after a long
  // offline gap replays the entire backlog in ONE batch — at 100 TB an
  // executor-OOM-shaped anti-pattern (the public norm is Delta's
  // maxFilesPerTrigger / Kafka's maxOffsetsPerTrigger). Composes with
  // Trigger.AvailableNow: the drain stops at the start-time pin but
  // advances at most this many versions per batch, so a backlog clears
  // in ceil(backlog / max) bounded batches, each checkpointed.
  // Semantics note: capped batches observe INTERMEDIATE versions an
  // uncapped range would net away — e.g. a compact at v5 undone by a
  // restore at v6 diffs to nothing over (4,6] but the capped drain
  // plans (4,5] and (5,6] separately, so the compact's rewrites hit
  // the append-only check (or, with ignoreChanges, re-emit). That is
  // the version-granular contract every log-walking source (Delta)
  // has; the uncapped endpoint-diff netting is the anomaly.
  private val maxVersionsPerTrigger: Option[Int] =
    Option(options.get("maxversionspertrigger")).map { s =>
      val n = s.toInt
      require(n >= 1, s"maxVersionsPerTrigger must be >= 1, got $n")
      n
    }

  private case class VOffset(v: Int) extends Offset {
    override def json: String = v.toString
  }

  // Trigger.AvailableNow: pin the table's latest version at query start;
  // the run drains up to the pin and terminates even if writers keep
  // committing behind it.
  @volatile private var availableNowPin: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowPin = Some(SnapshotTable.latestVersion(dir))
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val target = availableNowPin.getOrElse(SnapshotTable.latestVersion(dir))
    val s = start.asInstanceOf[VOffset].v
    VOffset(maxVersionsPerTrigger
      .fold(target)(n => math.min(target, s + n)))
  }
  override def reportLatestOffset(): Offset =
    VOffset(SnapshotTable.latestVersion(dir))

  override def initialOffset(): Offset =
    VOffset(startingTsVersion.getOrElse(math.max(0, startingVersion - 1)))
  override def latestOffset(): Offset =
    VOffset(SnapshotTable.latestVersion(dir))
  override def deserializeOffset(json: String): Offset = VOffset(json.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** The files version `b` holds that version `a` did not — the batch's
    * input. Append-only enforcement: removed/rewritten entries or DV
    * attachments in the range are CHANGES, refused unless opted into. */
  private def addedFiles(a: Int, b: Int): Seq[String] = {
    val bm = SnapshotTable.manifestEntries(dir, b)
    val am = if (a == 0) Seq.empty else SnapshotTable.manifestEntries(dir, a)
    val aPaths = am.map(_._1).toSet
    val removed = am.filterNot { case (p, dv) =>
      bm.exists(e => e._1 == p && e._2 == dv) }
    if (removed.nonEmpty && !ignoreChanges)
      throw new IllegalStateException(
        s"snapshot stream over $dir: versions ($a, $b] removed or " +
          s"rewrote ${removed.size} file(s) (merge/delete/compact/DV) — " +
          "a streaming source consumes APPENDS; pass " +
          "option(\"ignoreChanges\",\"true\") to emit only added files")
    val added = bm.filterNot { case (p, _) => aPaths.contains(p) }
    val dvd = added.filter(_._2.isDefined)
    if (dvd.nonEmpty && !ignoreChanges)
      throw new IllegalStateException(
        s"snapshot stream over $dir: files added in ($a, $b] carry " +
          "deletion vectors; pass option(\"ignoreChanges\",\"true\") to " +
          "emit their raw rows")
    added.map { case (p, _) =>
      java.nio.file.Paths.get(dir, p).toString }
  }

  /** Parquet scan over version `v`'s added files, planned from the
    * manifest paths (no listing job per micro-batch). */
  private def scanOver(v: Int, paths: Seq[String]): Scan = {
    val spark = GraftSqlShims.activeClassic()
    val dataSchema = GraftSqlShims.asNullable(schema)
    ParquetScanBuilder(spark, new ManifestFileIndex(spark, dir, v, paths),
      dataSchema, dataSchema, CaseInsensitiveStringMap.empty()).build()
  }

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val (a, b) = (start.asInstanceOf[VOffset].v, end.asInstanceOf[VOffset].v)
    if (b <= a) return Array.empty
    val paths = addedFiles(a, b)
    if (paths.isEmpty) Array.empty
    else scanOver(b, paths).toBatch.planInputPartitions()
  }

  // schema-bound and FILE-AGNOSTIC: one factory serves every batch's
  // partitions (built over an empty relation — partitions carry files)
  override def createReaderFactory(): PartitionReaderFactory =
    scanOver(0, Seq.empty).toBatch.createReaderFactory()
}

/** ScanBuilder for catalog snapshot tables: a `ParquetScanBuilder`
  * subclass, so the whole native pushdown surface (filters, column
  * pruning, aggregate pushdown) is INHERITED for batch reads, and
  * `build()` re-wraps the built scan as a [[GraftParquetScan]] so
  * streaming reads get [[SnapshotMicroBatchStream]] from the same
  * table. On a BUCKETED table with V2 bucketing enabled, the re-wrap is
  * the [[GraftBucketedParquetScan]] that groups files by their manifest
  * bucket ids and reports `KeyGroupedPartitioning(bucket(n, col))` —
  * the storage-partitioned-join path. Every table fact comes from
  * `snapshot`, the one the catalog table resolved at load; `fileIndex`
  * lists its files. */
private[io] class GraftScanBuilder(dir: String,
                                   snapshot: SnapshotTable.Snapshot,
                                   fileIndex: PartitioningAwareFileIndex,
                                   options: CaseInsensitiveStringMap)
  extends ParquetScanBuilder(GraftSqlShims.activeClassic(), fileIndex,
    snapshot.schema.get, GraftSqlShims.asNullable(snapshot.schema.get),
    options) {

  override def build(): ParquetScan = {
    val s = super.build()
    val v2Bucketing = GraftSqlShims.activeClassic().sessionState.conf
      .getConfString("spark.sql.sources.v2.bucketing.enabled", "false")
      .toBoolean
    // bucketed-scan mode needs EVERY live file to carry a bucket id — a
    // file written outside the bucket law (e.g. a streamed append, whose
    // partitioning belongs to the query) has none, and the scan must
    // degrade to the plain split plan rather than guess
    val buckets = snapshot.fileBuckets
    snapshot.bucketSpec match {
      case Some((c, n)) if v2Bucketing && buckets.nonEmpty &&
          buckets.size == snapshot.files.size =>
        new GraftBucketedParquetScan(dir, options, s, snapshot, c, n)
      case _ => new GraftParquetScan(dir, options, s, snapshot)
    }
  }
}

/** A [[ParquetScan]] carrying the SAME pushed-down state as the scan it
  * re-wraps (every batch behavior inherited verbatim — the copy
  * constructor below passes the built scan's fields through), plus the
  * streaming entry point. */
private[io] class GraftParquetScan(dir: String,
                                   tblOptions: CaseInsensitiveStringMap,
                                   s: ParquetScan,
                                   snapshot: SnapshotTable.Snapshot)
  extends ParquetScan(s.sparkSession, s.hadoopConf, s.fileIndex,
    s.dataSchema, s.readDataSchema, s.readPartitionSchema, s.pushedFilters,
    s.options, s.pushedAggregate, s.partitionFilters, s.dataFilters,
    s.pushedVariantExtractions) {

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new SnapshotMicroBatchStream(dir, snapshot.schema.get, tblOptions)

  /** EXACT table row count + ANALYZE column statistics for the CBO:
    * the row count comes from the manifest's per-file footer counts,
    * the per-column NDV/null/length stats from the recorded `colstats`
    * header (ANALYZE TABLE … FOR COLUMNS) — withheld only when the
    * scan's output is no longer the table (pushed aggregate, partition
    * pruning); residual data filters estimate ABOVE these stats.
    * min/max serve as boxed doubles for histogram columns only —
    * catalyst's toDouble is toString-based there, and hasMinMaxStats
    * gates every range estimate. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val base = super.estimateStatistics()
    // Serve the TABLE-level stats unless the scan's own output is no
    // longer the table: a pushed AGGREGATE emits group rows and a
    // partition filter prunes files — withhold there. Pushed DATA
    // filters are different (round-13 revision of the r11 rule): for
    // parquet they are advisory — the residual Filter node stays in the
    // plan and FilterEstimation applies selectivity to THESE stats, so
    // withholding under a data filter starved the CBO on exactly the
    // queries that need the histogram (the V1 CBO contract: leaf serves
    // table stats, the Filter above estimates).
    val servable = partitionFilters.isEmpty && pushedAggregate.isEmpty
    val knownRows = snapshot.rowCount
    val colStats = snapshot.columnStats
    val colHist = snapshot.columnHist
    if (!servable || (knownRows.isEmpty && colStats.isEmpty)) base
    else {
      import org.apache.spark.sql.connector.expressions.Expressions
      import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
      val cs = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        ColumnStatistics]()
      colStats.foreach { case (c, st) =>
        // the recorded equi-height histogram (round 13) rides the same
        // connector stats: transformV2Stats turns it into a catalyst
        // Histogram, so FilterEstimation's range-predicate selectivity
        // uses per-bin row mass instead of min/max interpolation —
        // exactly where skewed columns make min/max-only estimates lie
        val hist: Option[org.apache.spark.sql.connector.read.colstats
            .Histogram] = colHist.get(c).map { ch =>
          new org.apache.spark.sql.connector.read.colstats.Histogram {
            override def height(): Double = ch.height
            override def bins(): Array[org.apache.spark.sql.connector
                .read.colstats.HistogramBin] =
              ch.ndvs.indices.map { i =>
                new org.apache.spark.sql.connector.read.colstats
                    .HistogramBin {
                  override def lo(): Double = ch.bounds(i)
                  override def hi(): Double = ch.bounds(i + 1)
                  override def ndv(): Long = ch.ndvs(i)
                }
              }.toArray
          }
        }
        // min/max ride along for histogram columns only, as boxed
        // doubles of the SAME numeric view (micros/days/plain) —
        // catalyst's hasMinMaxStats gates every range estimate, and
        // EstimationUtils.toDouble is toString-based for the
        // numeric/date/timestamp families, so the boxed double is safe
        // where a string rendering (dates!) would throw
        val mnmx: Option[(java.lang.Double, java.lang.Double)] =
          colHist.get(c).map { ch =>
            (java.lang.Double.valueOf(ch.bounds.head),
              java.lang.Double.valueOf(ch.bounds.last))
          }
        cs.put(Expressions.column(c), new ColumnStatistics {
          override def distinctCount(): java.util.OptionalLong =
            java.util.OptionalLong.of(st.ndv)
          override def nullCount(): java.util.OptionalLong =
            java.util.OptionalLong.of(st.nulls)
          override def min(): java.util.Optional[Object] =
            mnmx.map(p => java.util.Optional.of(p._1: Object))
              .getOrElse(java.util.Optional.empty())
          override def max(): java.util.Optional[Object] =
            mnmx.map(p => java.util.Optional.of(p._2: Object))
              .getOrElse(java.util.Optional.empty())
          override def avgLen(): java.util.OptionalLong =
            st.avgLen.map(java.util.OptionalLong.of)
              .getOrElse(java.util.OptionalLong.empty)
          override def maxLen(): java.util.OptionalLong =
            st.maxLen.map(java.util.OptionalLong.of)
              .getOrElse(java.util.OptionalLong.empty)
          override def histogram(): java.util.Optional[
              org.apache.spark.sql.connector.read.colstats.Histogram] =
            hist.map(java.util.Optional.of(_))
              .getOrElse(java.util.Optional.empty())
        })
      }
      new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          base.sizeInBytes()
        override def numRows(): java.util.OptionalLong =
          knownRows.map(java.util.OptionalLong.of)
            .getOrElse(base.numRows())
        override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          ColumnStatistics] = cs
      }
    }
  }
}

/** The storage-partitioned scan of a BUCKETED snapshot table: the
  * manifest records every file's bucket id (files are bucket-pure by
  * the write law), so the scan
  *
  *  - groups its (pushdown-pruned, possibly split) input files into ONE
  *    input partition per bucket, each carrying its bucket id as the
  *    partition key ([[org.apache.spark.sql.connector.read.HasPartitionKey]],
  *    empty buckets included so both join sides report identical key
  *    sets), and
  *  - reports `KeyGroupedPartitioning(bucket(n, col), n)`, resolved
  *    through [[GraftCatalog.loadFunction]]'s bucket function.
  *
  * Two graft tables bucketed the same way joined on the bucket column
  * then plan with ZERO Exchange on either side (Spark's
  * storage-partitioned join, `spark.sql.sources.v2.bucketing.enabled`)
  * — at 100 TB the entire join shuffle disappears; and with
  * `…bucketing.shuffle.enabled` Spark can instead shuffle ONLY a small
  * unkeyed side by evaluating the same bucket function. Reading stays
  * Spark's own vectorized parquet machinery — the reader factory just
  * unwraps the bucket envelope. */
private[io] class GraftBucketedParquetScan(dir: String,
                                           tblOptions: CaseInsensitiveStringMap,
                                           s: ParquetScan,
                                           snapshot: SnapshotTable.Snapshot,
                                           bucketCol: String,
                                           numBuckets: Int)
  extends GraftParquetScan(dir, tblOptions, s, snapshot)
  with SupportsReportPartitioning {

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      Array(Expressions.bucket(numBuckets, bucketCol)), numBuckets)

  override def planInputPartitions(): Array[InputPartition] = {
    // manifest rel path "data/<uuid>/<name>" → key on the last two
    // segments, unique by construction (uuid batch dirs)
    val byTail = snapshot.fileBuckets.map { case (rel, b) =>
      rel.split('/').takeRight(2).mkString("/") -> b }
    val grouped = partitions.flatMap(_.files).groupBy { pf =>
      val p = pf.toPath.toUri.getPath
      val tail = p.split('/').takeRight(2).mkString("/")
      byTail.getOrElse(tail, throw new IllegalStateException(
        s"bucketed table $dir has a file without a bucket id: $p — " +
          "was it written before the bucket layout was declared?"))
    }
    (0 until numBuckets).map { b =>
      BucketedFilePartition(b, FilePartition(b,
        grouped.getOrElse(b, Seq.empty).toArray)): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BucketedReaderFactory(super.createReaderFactory())
}

/** One bucket's files + the bucket id as the V2 partition key. */
private[io] case class BucketedFilePartition(bucket: Int,
                                             inner: FilePartition)
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(bucket)
  override def preferredLocations(): Array[String] =
    inner.preferredLocations()
}

/** Unwraps [[BucketedFilePartition]] and delegates to the parquet
  * reader factory (vectorized/columnar behavior inherited verbatim). */
private[io] class BucketedReaderFactory(inner: PartitionReaderFactory)
  extends PartitionReaderFactory {
  private def unwrap(p: InputPartition): InputPartition =
    p.asInstanceOf[BucketedFilePartition].inner
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    inner.createReader(unwrap(p))
  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
    inner.createColumnarReader(unwrap(p))
  override def supportColumnarReads(p: InputPartition): Boolean =
    inner.supportColumnarReads(unwrap(p))
}

// ---------------------------------------------------------------------
// Streaming WRITE: `df.writeStream.toTable("graft.ns.t")` — the write
// twin of SnapshotMicroBatchStream, and the 100 TB-correct shape:
//
//  - rows NEVER pass through the driver: each executor task streams its
//    partition straight into a parquet file in the table directory via
//    Spark's own vectorized parquet OutputWriter (the identical write
//    path `df.write.parquet` uses), tracking per-file min/max for the
//    table's cluster-stat columns and checking its CHECK predicate as it
//    goes (a violating row fails the epoch, which commits nothing);
//  - the driver's per-epoch commit is pure manifest metadata — it folds
//    the tasks' (path, stats) commit messages into one append commit
//    under the epoch range-set, so a replayed micro-batch (failure
//    recovery) is recognized as already-committed and its re-written
//    files are deleted instead of double-applied: EXACTLY-ONCE from
//    at-least-once delivery, the same discipline as appendEpoch but
//    with the data plane fully distributed;
//  - a task that receives no rows writes no file (empty-partition
//    batches stay metadata-only), and an aborted epoch deletes its
//    batch directory — a failed job looks absent, never partial.
//
// Per-file stats keep stats-pruned reads/merges working on appended
// data; HOW selective they are depends on the upstream partitioning
// (repartition the stream by the cluster keys for tight ranges — the
// sink must not reshuffle inside a micro-batch, that is the query's
// plan to choose).
// ---------------------------------------------------------------------

/** Per-epoch streaming write into a snapshot table directory. */
private[io] class SnapshotStreamingWrite(dir: String, schema: StructType)
  extends StreamingWrite {

  // the epoch currently being written: createStreamingWriterFactory and
  // the matching commit/abort arrive strictly in sequence per micro-batch
  @volatile private var currentBatchRel: String = _

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val spark = GraftSqlShims.activeClassic()
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    // INT64 TIMESTAMP(MICROS), as every batch file of the table
    val owf = new MicrosParquetFormat()
      .prepareWrite(spark, job, Map.empty[String, String], schema)
    // ship the configured job conf (carries the parquet write schema,
    // compression, committer settings) to executors as Writable bytes
    val bos = new ByteArrayOutputStream()
    job.getConfiguration.write(new DataOutputStream(bos))
    currentBatchRel = s"data/${UUID.randomUUID().toString.take(8)}"
    // the batch writer's per-file facts over the streamed rows (they
    // carry logical names): the table's stats columns, so a streamed file
    // records what an append would, and its CHECK, so a violating row
    // fails the epoch before anything is committed
    val snap = SnapshotTable.snapshot(dir)
    new SnapshotWriterFactory(owf, bos.toByteArray, schema,
      SnapshotTable.fileFacts(spark, Some(snap), schema, Map.empty,
        snap.statsCols),
      java.nio.file.Paths.get(dir, currentBatchRel).toString, currentBatchRel)
  }

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.collect {
      case w: WrittenFileMsg if w.relPath != null =>
        SnapshotTable.FileEntry(w.relPath, w.stats)
    }.toSeq.sortBy(_.path)
    val committed =
      SnapshotTable.appendEpochFiles(dir, epochId, files, schema)
    if (!committed) files.foreach { f => // replayed epoch: drop orphans
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, f.path))
      ()
    }
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit = {
    // a failed epoch must look absent: drop the whole batch directory
    // (covers files from tasks that died before sending a message)
    val rel = currentBatchRel
    if (rel != null) {
      val p = java.nio.file.Paths.get(dir, rel)
      if (java.nio.file.Files.isDirectory(p)) {
        val s = java.nio.file.Files.list(p)
        try s.iterator().asScala.foreach(f =>
          java.nio.file.Files.deleteIfExists(f))
        finally s.close()
        java.nio.file.Files.deleteIfExists(p)
        ()
      }
    }
  }
}

/** Task commit message: the file this task wrote (null when the task
  * saw no rows) plus its min/max stats, rendered in the manifest's
  * string format by the batch writer's tracker. */
private[io] final case class WrittenFileMsg(relPath: String, rows: Long,
                                            stats: Map[String, (String, String)])
  extends WriterCommitMessage

private[io] class SnapshotWriterFactory(owf: OutputWriterFactory,
                                        confBytes: Array[Byte],
                                        schema: StructType,
                                        facts: FileFacts,
                                        absBatchDir: String,
                                        relBatchDir: String)
  extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new SnapshotDataWriter(owf, confBytes, schema, facts, absBatchDir,
      relBatchDir, partitionId, taskId)
}

/** Executor-side writer: lazily opens Spark's parquet OutputWriter on
  * the first row (empty partitions write nothing) and feeds every row to
  * the batch writer's per-file tracker ([[FileFacts]]). */
private[io] class SnapshotDataWriter(owf: OutputWriterFactory,
                                     confBytes: Array[Byte],
                                     schema: StructType,
                                     facts: FileFacts,
                                     absBatchDir: String,
                                     relBatchDir: String,
                                     partitionId: Int, taskId: Long)
  extends DataWriter[InternalRow] {

  private var writer: OutputWriter = null
  private var fileName: String = null
  private val tracker = facts.newTaskInstance()

  private def open(): Unit = {
    val conf = new Configuration(false)
    conf.readFields(
      new DataInputStream(new ByteArrayInputStream(confBytes)))
    val attempt = new TaskAttemptID(
      new TaskID(new JobID("graftstream", 0), TaskType.MAP, partitionId),
      (taskId % Int.MaxValue).toInt)
    val ctx = new TaskAttemptContextImpl(conf, attempt)
    fileName = f"part-$partitionId%05d-${UUID.randomUUID().toString.take(8)}.parquet"
    writer = owf.newInstance(s"$absBatchDir/$fileName", schema, ctx)
    tracker.newFile(writer.path())
  }

  override def write(record: InternalRow): Unit = {
    if (writer == null) open()
    tracker.newRow(writer.path(), record)
    writer.write(record)
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) writer.close()
    val file = tracker.getFinalStats(0L) match {
      case FileFacts.Stats(fs) => fs.headOption
    }
    WrittenFileMsg(if (fileName == null) null else s"$relBatchDir/$fileName",
      file.map(_.rows).getOrElse(0L), file.map(_.stats).getOrElse(Map.empty))
  }

  override def abort(): Unit = if (writer != null) {
    writer.close()
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(absBatchDir, fileName))
    ()
  }

  override def close(): Unit = ()
}
