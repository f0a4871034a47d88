package pystreamsspark.io

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types._

/** Maintenance SQL for snapshot tables — the statements every table
  * format grows beyond the ANSI grammar (vanilla Spark cannot parse
  * them, which is exactly why [[pystreamsspark.plans.GraftSqlParser]]
  * exists — the injectParser extension tier):
  *
  *  - `VACUUM graft.ns.t [RETAIN n VERSIONS]`   → [[SnapshotTable.vacuum]]
  *  - `VACUUM graft.ns.t RETAIN n HOURS` /
  *    `EXPIRE SNAPSHOTS graft.ns.t [OLDER THAN n HOURS]` (default 168)
  *                                               → [[SnapshotTable.vacuumRetain]]
  *  - `OPTIMIZE graft.ns.t [FILES n]`           → [[SnapshotTable.compact]]
  *    (also materializes deletion vectors away — the MoR maintenance step)
  *  - `OPTIMIZE graft.ns.t WHERE k BETWEEN lo AND hi [FILES n]`
  *                                               → [[SnapshotTable.compactWhere]]
  *    (PARTIAL compaction — only the stats-overlapping files rewrite)
  *  - `DESCRIBE HISTORY graft.ns.t`             → [[SnapshotTable.history]]
  *  - `ANALYZE TABLE graft.ns.t COMPUTE STATISTICS [FOR COLUMNS c, …]`
  *                                               → [[SnapshotTable.analyzeColumns]]
  *  - `CREATE TABLE graft.ns.t2 SHALLOW CLONE graft.ns.t`
  *                                               → [[SnapshotTable.shallowClone]]
  *
  * [[parse]] recognizes the statement shape and returns an
  * eagerly-executed command; table-name RESOLUTION happens at run time
  * through the session's catalog manager (same rule as the DML
  * executors), so the parser stays session-independent. Both entry
  * points share it: the injected parser (plain `spark.sql` on extension
  * sessions) and [[SnapshotSql.sql]] (any session).
  */
object SnapshotMaintenance {

  private val Vacuum =
    """(?is)\s*VACUUM\s+([\w.`]+?)(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?\s*;?\s*""".r
  private val VacuumHours =
    """(?is)\s*VACUUM\s+([\w.`]+?)\s+RETAIN\s+(\d+)\s+HOURS\s*;?\s*""".r
  private val Expire =
    """(?is)\s*EXPIRE\s+SNAPSHOTS\s+([\w.`]+?)(?:\s+(?:OLDER\s+THAN|RETAIN)\s+(\d+)\s+HOURS)?\s*;?\s*""".r
  private val Optimize =
    """(?is)\s*OPTIMIZE\s+([\w.`]+?)(?:\s+FILES\s+(\d+))?\s*;?\s*""".r
  private val OptimizeW =
    """(?is)\s*OPTIMIZE\s+([\w.`]+?)\s+WHERE\s+`?(\w+)`?\s+BETWEEN\s+'?([^\s']+)'?\s+AND\s+'?([^\s']+)'?(?:\s+FILES\s+(\d+))?\s*;?\s*""".r
  private val OptimizeZ =
    """(?is)\s*OPTIMIZE\s+([\w.`]+?)\s+ZORDER\s+BY\s*\(([^)]+)\)(?:\s+FILES\s+(\d+))?\s*;?\s*""".r
  private val History =
    """(?is)\s*DESCRIBE\s+HISTORY\s+([\w.`]+?)\s*;?\s*""".r
  private val Detail =
    """(?is)\s*DESCRIBE\s+DETAIL\s+([\w.`]+?)\s*;?\s*""".r
  private val RestoreV =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?([\w.`]+?)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""".r
  private val RestoreT =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?([\w.`]+?)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*""".r
  private val Clone =
    """(?is)\s*CREATE\s+TABLE\s+([\w.`]+?)\s+SHALLOW\s+CLONE\s+([\w.`]+?)\s*;?\s*""".r
  private val Analyze =
    """(?is)\s*ANALYZE\s+TABLE\s+([\w.`]+?)\s+COMPUTE\s+STATISTICS(?:\s+FOR\s+(?:ALL\s+COLUMNS|COLUMNS\s+([\w,\s`]+?)))?\s*;?\s*""".r
  private val CreateView =
    """(?is)\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+([\w.`]+?)\s+AS\s+(.+?)\s*;?\s*""".r
  private val DropView =
    """(?is)\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?([\w.`]+?)\s*;?\s*""".r
  private val ShowViews =
    """(?is)\s*SHOW\s+VIEWS(?:\s+(?:IN|FROM)\s+([\w.`]+))?\s*;?\s*""".r
  private val CopyInto =
    """(?is)\s*COPY\s+INTO\s+([\w.`]+?)\s+FROM\s+'([^']+)'(?:\s+FILEFORMAT\s*=\s*(\w+))?\s*;?\s*""".r

  /** The maintenance plan for `sql`, when it is one of the recognized
    * statements; None falls through to the normal parser. */
  def parse(sql: String): Option[LogicalPlan] = sql match {
    // time-based retention first: the generic VACUUM pattern would
    // otherwise swallow the table name up to RETAIN
    case VacuumHours(t, h) => Some(SnapshotMaintenanceCommand(
      "vacuum_hours", nameParts(t), h.toInt))
    case Expire(t, h) => Some(SnapshotMaintenanceCommand(
      "vacuum_hours", nameParts(t),
      Option(h).map(_.toInt).getOrElse(7 * 24)))
    case Vacuum(t, n) => Some(SnapshotMaintenanceCommand("vacuum",
      nameParts(t), Option(n).map(_.toInt).getOrElse(1)))
    case OptimizeW(t, c, lo, hi, n) => Some(SnapshotMaintenanceCommand(
      "compact_where", nameParts(t), Option(n).map(_.toInt).getOrElse(4),
      cols = Seq(c, lo, hi)))
    case OptimizeZ(t, colList, n) => Some(SnapshotMaintenanceCommand(
      "zorder", nameParts(t), Option(n).map(_.toInt).getOrElse(16),
      cols = colList.split(",").toSeq
        .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty)))
    case Optimize(t, n) => Some(SnapshotMaintenanceCommand("optimize",
      nameParts(t), Option(n).map(_.toInt).getOrElse(4)))
    case History(t) => Some(SnapshotMaintenanceCommand("history",
      nameParts(t), 0))
    case Detail(t) => Some(SnapshotMaintenanceCommand("detail",
      nameParts(t), 0))
    case RestoreV(t, v) => Some(SnapshotMaintenanceCommand("restore",
      nameParts(t), v.toInt))
    case RestoreT(t, ts) => Some(SnapshotMaintenanceCommand("restore_ts",
      nameParts(t), 0, ts))
    case Clone(tgt, src) => Some(SnapshotMaintenanceCommand(
      "clone", nameParts(tgt), 0, cols = nameParts(src)))
    case Analyze(t, colList) => Some(SnapshotMaintenanceCommand(
      "analyze", nameParts(t), 0,
      cols = Option(colList).map(_.split(",").toSeq
        .map(_.trim.stripPrefix("`").stripSuffix("`"))
        .filter(_.nonEmpty)).getOrElse(Nil)))
    // persistent VIEWS through the graft catalog (TEMP[ORARY] views
    // deliberately do not match — they stay vanilla); non-graft targets
    // fall back to a vanilla parse of the ORIGINAL text at run time
    case CreateView(orReplace, t, body) => Some(GraftViewCommand(
      "create", nameParts(t), body.trim, orReplace != null, sql))
    case DropView(ifExists, t) => Some(GraftViewCommand(
      "drop", nameParts(t), null, ifExists != null, sql))
    case ShowViews(ns) => Some(GraftViewCommand(
      "show", Option(ns).map(nameParts).getOrElse(Nil), null, false, sql))
    case CopyInto(t, path, fmt) => Some(SnapshotMaintenanceCommand("copy",
      nameParts(t), 0, path,
      cols = Option(fmt).map(_.toLowerCase).toSeq))
    case _ => None
  }

  private def nameParts(t: String): Seq[String] =
    t.split("\\.").toSeq.map(_.stripPrefix("`").stripSuffix("`"))
}

/** Eagerly-executed maintenance command (see [[SnapshotMaintenance]]);
  * resolves `nameParts` through the session's GraftCatalog at run. */
case class SnapshotMaintenanceCommand(kind: String, nameParts: Seq[String],
                                      n: Int, ts: String = null,
                                      cols: Seq[String] = Nil)
  extends LeafRunnableCommand {

  override lazy val output: Seq[Attribute] = kind match {
    case "history" => Seq(
      AttributeReference("version", IntegerType, nullable = false)(),
      AttributeReference("op", StringType, nullable = false)(),
      AttributeReference("parent", IntegerType, nullable = false)(),
      AttributeReference("n_files", IntegerType, nullable = false)(),
      AttributeReference("epoch", LongType, nullable = true)(),
      AttributeReference("ts", LongType, nullable = true)())
    case "optimize" | "restore" | "restore_ts" | "zorder" |
         "compact_where" | "analyze" | "clone" => Seq(
      AttributeReference("version", IntegerType, nullable = false)())
    case "copy" => Seq(
      AttributeReference("version", IntegerType, nullable = false)(),
      AttributeReference("files_loaded", IntegerType, nullable = false)())
    case "detail" => Seq(
      AttributeReference("location", StringType, nullable = false)(),
      AttributeReference("version", IntegerType, nullable = false)(),
      AttributeReference("n_files", IntegerType, nullable = false)(),
      AttributeReference("n_dv_files", IntegerType, nullable = false)(),
      AttributeReference("clustercols", StringType, nullable = true)(),
      AttributeReference("bucketcols", StringType, nullable = true)(),
      AttributeReference("buckets", IntegerType, nullable = true)(),
      AttributeReference("epochs", StringType, nullable = true)(),
      AttributeReference("n_rows", LongType, nullable = true)())
    case _ => Seq(
      AttributeReference("kept_versions", IntegerType, nullable = false)())
  }

  override def run(spark: SparkSession): Seq[Row] = {
    // `CREATE TABLE tgt SHALLOW CLONE src` — the TARGET does not exist
    // yet, so it must not go through the committed-table resolution
    // below; handled before the shared resolve
    if (kind == "clone") return runClone(spark)
    val dir = SnapshotSql.resolveTable(spark, nameParts).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        nameParts))
    kind match {
      case "history" =>
        SnapshotTable.history(spark, dir).collect().toSeq
      case "optimize" =>
        Seq(Row(SnapshotTable.compact(spark, dir, math.max(1, n))))
      case "compact_where" =>
        // `OPTIMIZE t WHERE c BETWEEN lo AND hi [FILES n]` — PARTIAL
        // compaction: only the files whose stats overlap the bounds
        // rewrite; the rest carry by reference (the hot-tail shape)
        val Seq(c, lo, hi) = cols
        Seq(Row(SnapshotTable.compactWhere(spark, dir,
          Map(c -> (lo, hi)), math.max(1, n))))
      case "zorder" =>
        Seq(Row(SnapshotTable.zorderBy(spark, dir, cols, math.max(1, n))))
      case "vacuum" =>
        SnapshotTable.vacuum(dir, math.max(1, n))
        Seq(Row(SnapshotTable.existingVersions(dir).size))
      case "vacuum_hours" =>
        // `VACUUM t RETAIN n HOURS` / `EXPIRE SNAPSHOTS t [OLDER THAN n
        // HOURS]` (default 168h): retention by COMMIT TIME — keeps every
        // version younger than the horizon plus always the latest
        SnapshotTable.vacuumRetain(dir, n.toLong * 3600L * 1000L)
        Seq(Row(SnapshotTable.existingVersions(dir).size))
      case "detail" =>
        Seq(Row.fromSeq(dir +: SnapshotTable.snapshot(dir).detail))
      case "copy" =>
        val (v, n) = SnapshotTable.copyInto(spark, dir, ts,
          cols.headOption.getOrElse("parquet"))
        Seq(Row(v, n))
      case "analyze" =>
        // `ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS …|FOR ALL
        // COLUMNS]` — one distributed pass; stats land in the manifest
        // header and the V2 scan serves them to the CBO
        Seq(Row(SnapshotTable.analyzeColumns(spark, dir, cols)))
      case "restore" =>
        Seq(Row(SnapshotTable.restore(dir, n)))
      case "restore_ts" =>
        // the timestamp parses in the SESSION timezone, like every SQL
        // timestamp literal
        val zone = java.time.ZoneId.of(
          spark.sessionState.conf.sessionLocalTimeZone)
        val millis = java.time.LocalDateTime.parse(ts.replace(' ', 'T'))
          .atZone(zone).toInstant.toEpochMilli
        val v = SnapshotTable.versionAt(dir, millis).getOrElse(
          throw new IllegalArgumentException(
            s"no committed version of ${nameParts.mkString(".")} at or " +
              s"before '$ts'"))
        Seq(Row(SnapshotTable.restore(dir, v)))
      case other => throw new IllegalStateException(s"unknown $other")
    }
  }

  /** `CREATE TABLE tgt SHALLOW CLONE src`: the SOURCE resolves as a
    * committed table; the TARGET resolves to its would-be DIRECTORY
    * through the (possibly name-qualified) GraftCatalog. */
  private def runClone(spark: SparkSession): Seq[Row] = {
    val srcDir = SnapshotSql.resolveTable(spark, cols).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(cols))
    // target resolution MIRRORS resolveParts (r11 ADVICE): explicit
    // catalog first, then current-catalog + current-namespace relative
    // — so 'main.t2' under a current graft catalog resolves as a
    // namespace, not a CatalogNotFoundException, and a 1-part name
    // lands in the session's current namespace
    val cm = spark.sessionState.catalogManager
    def dirIn(cat: AnyRef, ns: Seq[String], name: String): Option[String] =
      cat match {
        case g: pystreamsspark.io.GraftCatalog => Some(g.tableDir(
          org.apache.spark.sql.connector.catalog.Identifier.of(
            ns.toArray, name)))
        case _ => None
      }
    val explicit =
      if (nameParts.length >= 2)
        try dirIn(cm.catalog(nameParts.head), nameParts.tail.init,
          nameParts.last)
        catch { case _: Exception => None }
      else None
    val tgtDir = explicit
      .orElse(dirIn(cm.currentCatalog,
        cm.currentNamespace.toSeq ++ nameParts.init, nameParts.last))
      .orElse {
        try dirIn(cm.catalog("graft"), nameParts.init, nameParts.last)
        catch { case _: Exception => None }
      }
      .getOrElse(throw new IllegalArgumentException(
        s"CLONE target ${nameParts.mkString(".")} does not resolve to " +
          "a graft-catalog identifier"))
    Seq(Row(SnapshotTable.shallowClone(spark, srcDir, tgtDir)))
  }
}
