package pystreamsspark.io

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobContext, TaskAttemptContext}
import org.apache.spark.TaskContext
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{DataFrame, GraftSqlShims, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.CharVarcharUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, OutputWriterFactory, WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{coalesce, col, expr, lit}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The ONE parquet batch writer of a snapshot table — every data batch,
  * DV batch, COPY ledger and CDC cache goes through it: Spark's
  * `FileFormatWriter` with [[InPlaceCommitProtocol]] (files go straight
  * to their final names; the manifest put-if-absent stays the only
  * publish point), [[FileFacts]] (per-file stats and CHECK in the write
  * tasks, so no batch is read back) and [[MicrosParquetFormat]]. The
  * design is Delta Lake's (`DelayedCommitProtocol` +
  * `DeltaJobStatisticsTracker`; Armbrust et al., VLDB 2020), original
  * implementation. */
private[io] object BatchWriter {

  /** One committed file: its name inside the batch directory, its row
    * count, its [min,max] renderings per stats column (absent for a
    * column that is null in every row) and its bloom bits per bloom
    * column — columns by the names the frame was written with. */
  final case class WrittenFile(name: String, rows: Long,
                               stats: Map[String, (String, String)],
                               blooms: Map[String, java.util.BitSet])

  /** Write `df` as a new parquet batch at `out` (a directory that does
    * not exist yet); `tracker` says what the tasks compute besides the
    * rows (by default their count). Returns the committed files, sorted
    * by name. */
  def write(df: DataFrame, out: String): Seq[WrittenFile] =
    write(df, out, FileFacts(df.sparkSession, df.schema))

  def write(df: DataFrame, out: String, tracker: FileFacts): Seq[WrittenFile] = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = df.queryExecution
    val committer = new InPlaceCommitProtocol(out)
    try SQLExecution.withNewExecutionId(qe, Some(s"snapshot batch write $out")) {
      FileFormatWriter.write(spark, qe.executedPlan, new MicrosParquetFormat,
        committer, FileFormatWriter.OutputSpec(out, Map.empty,
          qe.executedPlan.output),
        GraftSqlShims.newHadoopConf(spark), Nil, None, Seq(tracker),
        Map.empty)
    } catch {
      case e: Throwable =>
        // a CHECK violation fails its task: surface it, not the job failure
        throw Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case v: IllegalArgumentException
            if v.getMessage.startsWith(FileFacts.CheckViolated) => v }
          .getOrElse(e)
    }
    val byName = tracker.written.map(w => w.name -> w).toMap
    committer.committed.sorted.map(byName)
  }
}

/** Parquet with INT64 TIMESTAMP(MICROS) timestamps instead of Spark's
  * legacy INT96 default: 8 bytes a value, the standard annotation,
  * row-group statistics, identical values on read. The type goes on
  * the write job's own Hadoop configuration after `prepareWrite` has
  * filled that key from the session — `ParquetWriteSupport` reads it
  * there — so the caller's session is never touched. */
private[io] class MicrosParquetFormat extends ParquetFileFormat {
  override def prepareWrite(sparkSession: SparkSession, job: Job,
                            options: Map[String, String],
                            dataSchema: StructType): OutputWriterFactory = {
    val factory = super.prepareWrite(sparkSession, job, options, dataSchema)
    job.getConfiguration.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    factory
  }
}

/** Commit protocol of a fresh batch directory: a task writes
  * `part-<partition>-<job>-a<attempt>…` straight into `out` (the
  * partition index stays the leading number — the bucket id of a
  * bucketed write — and two attempts of one task never share a name);
  * its commit message names the files it wrote, and the job's committed
  * files are exactly those the accepted task results name. An aborted
  * task deletes its files, an aborted job the whole directory. */
private[io] class InPlaceCommitProtocol(out: String)
  extends FileCommitProtocol with Serializable {

  private val jobId = UUID.randomUUID().toString.take(8)
  @transient private var added: mutable.ArrayBuffer[String] = _
  /** The committed file names, set on the driver by [[commitJob]]. */
  @transient @volatile var committed: Seq[String] = Nil

  override def setupJob(job: JobContext): Unit = ()

  override def commitJob(job: JobContext,
                         taskCommits: Seq[TaskCommitMessage]): Unit =
    committed = taskCommits.flatMap(_.obj.asInstanceOf[Seq[String]])

  override def abortJob(job: JobContext): Unit = {
    val p = new Path(out)
    p.getFileSystem(job.getConfiguration).delete(p, true)
    ()
  }

  override def setupTask(task: TaskAttemptContext): Unit =
    added = mutable.ArrayBuffer.empty

  override def newTaskTempFile(task: TaskAttemptContext, dir: Option[String],
                               spec: FileNameSpec): String = {
    require(dir.isEmpty && spec.prefix.isEmpty,
      "a snapshot batch is one unpartitioned directory")
    val id = task.getTaskAttemptID
    val name = f"part-${id.getTaskID.getId}%05d-$jobId-a${id.getId}${spec.suffix}"
    added += name
    new Path(out, name).toString
  }

  override def commitTask(task: TaskAttemptContext): TaskCommitMessage =
    new TaskCommitMessage(added.toList)

  override def abortTask(task: TaskAttemptContext): Unit = {
    val fs = new Path(out).getFileSystem(task.getConfiguration)
    added.foreach(n => fs.delete(new Path(out, n), false))
  }
}

/** Per-file facts the write tasks compute, as a `WriteJobStatsTracker`:
  * the row count; the [min,max] of the stats columns, each rendered by
  * the aggregate a scan computes (`SnapshotTable.statAgg`), evaluated
  * incrementally like Spark's aggregation (the same `DeclarativeAggregate`
  * update and result expressions, in row order), so the stats are
  * byte-equal to a scan of the file by construction; the bloom bit
  * positions of the bloom columns (`SnapshotTable.bloomPosExprs`); and
  * the table's CHECK predicate — a violating row fails its task, which
  * aborts the job, with `IllegalArgumentException("CHECK constraint
  * violated: …")`. All expressions are resolved on the driver against
  * the written rows' attributes and shipped to the tasks.
  *
  * `update` reads (aggregate buffer ++ row), `result` (lo, hi per stats
  * column) the buffer; `check` is (predicate, violation flag, the
  * logical row a violation reports, its schema). */
private[io] final class FileFacts private (
    rowAttrs: Seq[Attribute],
    statCols: Seq[String],
    bufAttrs: Seq[AttributeReference],
    init: Seq[Expression],
    update: Seq[Expression],
    result: Seq[Expression],
    bloomCols: Seq[String],
    bloomPos: Seq[Expression],
    bloomBits: Int,
    check: Option[(String, Expression, Seq[Expression], StructType)])
  extends WriteJobStatsTracker {
  import BatchWriter.WrittenFile

  /** Files of the accepted task results, collected on the driver. */
  @transient lazy val written = mutable.ArrayBuffer.empty[WrittenFile]

  override def processStats(stats: Seq[WriteTaskStats],
                            jobCommitTime: Long): Unit =
    stats.foreach { case FileFacts.Stats(fs) => written ++= fs }

  /** A task-side tracker (the streaming writer feeds one directly). */
  override def newTaskInstance(): WriteTaskStatsTracker = new WriteTaskStatsTracker {
    private val part = Option(TaskContext.get()).map(_.partitionId()).getOrElse(0)
    private lazy val updater = {
      val u = MutableProjection.create(update, bufAttrs ++ rowAttrs)
      u.initialize(part); u
    }
    private val results = BindReferences.bindReferences(result, AttributeSeq(bufAttrs))
    private lazy val positions = {
      val p = UnsafeProjection.create(bloomPos, rowAttrs); p.initialize(part); p
    }
    private val violates = check.map { case (_, flag, _, _) =>
      val p = Predicate.create(flag, rowAttrs); p.initialize(part); p }
    private val stringSlots = bufAttrs.indices.filter(i =>
      bufAttrs(i).dataType.isInstanceOf[StringType])
    private val joined = new JoinedRow
    private final class Acc {
      var rows = 0L
      val buf = new SpecificInternalRow(bufAttrs.map(_.dataType))
      init.indices.foreach(i => buf.update(i, init(i).eval()))
      val kept = new Array[UTF8String](bufAttrs.size)
      val bits = bloomCols.map(_ => new java.util.BitSet(bloomBits))
    }
    private val files = mutable.LinkedHashMap.empty[String, Acc]

    override def newPartition(values: InternalRow): Unit = ()
    override def newFile(path: String): Unit = files(path) = new Acc
    override def closeFile(path: String): Unit = ()

    override def newRow(path: String, row: InternalRow): Unit = {
      val a = files(path)
      a.rows += 1
      if (update.nonEmpty) {
        updater.target(a.buf)(joined(a.buf, row))
        // a string the buffer took from the row points into the row's
        // (reused) memory: keep a copy
        stringSlots.foreach { i =>
          val s = a.buf.getUTF8String(i)
          if (s != null && (s ne a.kept(i))) {
            a.kept(i) = s.clone(); a.buf.update(i, a.kept(i))
          }
        }
      }
      if (bloomCols.nonEmpty) {
        val p = positions(row)
        val seeds = bloomPos.size / bloomCols.size
        (0 until bloomPos.size).foreach(i => a.bits(i / seeds).set(p.getInt(i)))
      }
      violates.foreach { v =>
        if (v.eval(row)) {
          val (pred, _, rowExprs, schema) = check.get
          val logical = CatalystTypeConverters.createToScalaConverter(schema)(
            InternalRow.fromSeq(BindReferences.bindReferences(rowExprs,
              AttributeSeq(rowAttrs)).map(_.eval(row)))).asInstanceOf[Row]
          throw new IllegalArgumentException(
            s"${FileFacts.CheckViolated} ($pred); example row: $logical")
        }
      }
    }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      FileFacts.Stats(files.toSeq.map { case (path, a) =>
        val r = results.map(_.eval(a.buf))
        val stats = statCols.indices.flatMap { i =>
          (r(2 * i), r(2 * i + 1)) match {
            case (lo: UTF8String, hi: UTF8String) =>
              Some(statCols(i) -> (lo.toString, hi.toString))
            case _ => None // null in every row: no stats, never pruned
          }
        }.toMap
        WrittenFile(new Path(path).getName, a.rows, stats,
          bloomCols.zip(a.bits).toMap)
      })
  }
}

private[io] object FileFacts extends AliasHelper {
  val CheckViolated = "CHECK constraint violated:"

  final case class Stats(files: Seq[BatchWriter.WrittenFile])
    extends WriteTaskStats

  /** Resolve the facts over rows of `schema` (the written columns):
    * `statsCols`/`bloomCols` name written columns; `check` is the
    * CHECK predicate plus the view that turns a frame of written rows
    * into the frame the predicate speaks (logical names, absent columns
    * filled). */
  def apply(spark: SparkSession, schema: StructType,
            statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
            bloomBits: Int = 0,
            check: Option[(String, DataFrame => DataFrame)] = None): FileFacts = {
    val rel = LocalRelation(DataTypeUtils.toAttributes(
      CharVarcharUtils.replaceCharVarcharWithStringInSchema(schema)))
    val rows = GraftSqlShims.ofRows(spark, rel)
    def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed
    val statExprs: Seq[Expression] =
      if (statsCols.isEmpty) Nil
      else {
        val aggs = statsCols.flatMap(c => Seq(
          SnapshotTable.statAgg(c, schema(c).dataType, isMin = true),
          SnapshotTable.statAgg(c, schema(c).dataType, isMin = false)))
        analyzed(rows.agg(aggs.head, aggs.tail: _*)) match {
          case a: Aggregate => a.aggregateExpressions
          case p => throw new IllegalStateException(s"stats plan: ${p.nodeName}")
        }
      }
    val fns = statExprs.flatMap(_.collect {
      case ae: AggregateExpression =>
        ae.aggregateFunction.asInstanceOf[DeclarativeAggregate]
    })
    val bloomPos =
      if (bloomCols.isEmpty) Nil
      else flatten(analyzed(rows.select(bloomCols.flatMap(c =>
        SnapshotTable.bloomPosExprs(col(c), bloomBits)): _*)))
    val checkExprs = check.map { case (pred, view) =>
      val v = view(rows)
      val flag = v.select(
        !coalesce(expr(pred).cast("boolean"), lit(true)))
      (pred, flatten(analyzed(flag)).head,
        flatten(analyzed(v.select(v.columns.map(c => v(c)).toSeq: _*))),
        v.schema)
    }
    new FileFacts(rel.output, statsCols,
      fns.flatMap(_.aggBufferAttributes), fns.flatMap(_.initialValues),
      fns.flatMap(_.updateExpressions),
      statExprs.map(_.transform {
        case ae: AggregateExpression =>
          ae.aggregateFunction.asInstanceOf[DeclarativeAggregate].evaluateExpression
      }),
      bloomCols, bloomPos, bloomBits, checkExprs)
  }

  /** The projection a chain of projects over the written rows computes,
    * as expressions over those rows. */
  private def flatten(plan: LogicalPlan): Seq[NamedExpression] = plan match {
    case Project(list, _: LocalRelation) => list
    case Project(list, child) =>
      val below = getAliasMap(flatten(child))
      list.map(replaceAliasButKeepName(_, below))
    case p => throw new IllegalStateException(s"projection plan: ${p.nodeName}")
  }
}
