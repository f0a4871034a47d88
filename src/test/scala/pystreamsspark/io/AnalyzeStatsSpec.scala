package pystreamsspark.io

import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import pystreamsspark.SparkSpec

/** `ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS` (round-11): one
  * distributed pass records per-column NDV (HLL++, approximate) /
  * exact null counts / min-max renders / string lengths in the
  * manifest header, and the V2 scan serves them as connector
  * `columnStats` so a CBO-enabled session estimates joins from real
  * NDVs instead of sizes. Laws: recorded values match ground truth
  * (nulls exact, NDV within HLL tolerance), the scan's Statistics
  * carries them — including under residual data filters, which
  * estimate above them (withheld only when pushed aggregates or
  * partition pruning change the scan's output) — the header survives
  * later commits, and both SQL routes parse the statement. Round 13
  * adds equi-height HISTOGRAMS: recorded per ordered column, served
  * through the connector histogram field, and provably tightening a
  * skewed range predicate's row estimate. */
class AnalyzeStatsSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_an_").toString

  test("analyzeColumns records NDV/nulls/min-max/lengths; survives " +
    "later commits; staleness version recorded") {
    val dir = tmp()
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("grp", pmod(col("id"), lit(10)))
      .withColumn("tag", when(col("id") % 4 === 0, lit(null))
        .otherwise(concat(lit("t"), pmod(col("id"), lit(100)))))
    SnapshotTable.create(spark, dir, df)
    SnapshotTable.analyzeColumns(spark, dir)
    val analyzed = SnapshotTable.snapshot(dir)
    val (stats, atV) = (analyzed.columnStats, analyzed.analyzedVersion)
    assert(atV.contains(1))
    assert(stats("id").nulls === 0L && stats("grp").nulls === 0L)
    assert(stats("tag").nulls === 250L) // exact
    // HLL tolerance: default rsd 5%
    assert(math.abs(stats("id").ndv - 1000L) <= 60)
    assert(math.abs(stats("grp").ndv - 10L) <= 2)
    assert(stats("id").min.contains("0") && stats("id").max.contains("999"))
    assert(stats("tag").min.isEmpty, "string min/max not recorded")
    assert(stats("tag").maxLen.exists(_ >= 2L))
    // the header carries through a later append
    SnapshotTable.append(spark, dir, Seq((5000L, 1L, "x"))
      .toDF("id", "grp", "tag"))
    val appended = SnapshotTable.snapshot(dir)
    val (after, afterV) = (appended.columnStats, appended.analyzedVersion)
    assert(after("grp").ndv === stats("grp").ndv && afterV.contains(1))
  }

  test("the V2 scan serves columnStats to the CBO, including under " +
    "residual data filters") {
    val dir = tmp()
    SnapshotTable.create(spark, dir,
      spark.range(0, 500).toDF("id")
        .withColumn("k", pmod(col("id"), lit(7))))
    SnapshotTable.analyzeColumns(spark, dir)
    val noOpts = new CaseInsensitiveStringMap(
      java.util.Collections.emptyMap())
    def scanStats(withFilter: Boolean) = {
      val b = new SnapshotV2Table("t", dir, None).newScanBuilder(noOpts)
      if (withFilter) {
        import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
        import org.apache.spark.sql.types.LongType
        // the file-scan builder takes catalyst filters (Spark 4 API)
        b.asInstanceOf[org.apache.spark.sql.internal.connector
          .SupportsPushDownCatalystFilters]
          .pushFilters(Seq(EqualTo(
            AttributeReference("k", LongType)(), Literal(3L))))
      }
      b.build().asInstanceOf[org.apache.spark.sql.connector.read
        .SupportsReportStatistics].estimateStatistics()
    }
    val st = scanStats(withFilter = false)
    assert(st.numRows().getAsLong === 500L)
    val cs = st.columnStats()
    assert(!cs.isEmpty, "analyzed columns must surface as columnStats")
    val kStats = cs.entrySet().iterator()
    var found = false
    cs.forEach { (ref, c) =>
      if (ref.fieldNames().toSeq == Seq("k")) {
        found = true
        assert(math.abs(c.distinctCount().getAsLong - 7L) <= 1)
        assert(c.nullCount().getAsLong === 0L)
      }
    }
    assert(found, s"no columnStats entry for k: $cs")
    // round-13 revision: a pushed DATA filter is advisory for parquet —
    // the residual Filter estimates above these stats, so the scan
    // keeps serving them (numRows stays the table count; the planner's
    // FilterEstimation applies selectivity on top)
    val filtered = scanStats(withFilter = true)
    assert(!filtered.columnStats().isEmpty)
    assert(filtered.numRows().getAsLong === 500L)
  }

  test("colstats follow a RENAME and die with a DROP (a re-added " +
    "name must not inherit the dead column's NDV)") {
    val dir = tmp()
    SnapshotTable.create(spark, dir,
      spark.range(0, 200).toDF("id")
        .withColumn("s", pmod(col("id"), lit(3)).cast("string")))
    SnapshotTable.analyzeColumns(spark, dir)
    SnapshotTable.renameColumn(dir, "s", "status")
    val renamed = SnapshotTable.snapshot(dir).columnStats
    assert(renamed.contains("status") && !renamed.contains("s"))
    SnapshotTable.dropColumn(dir, "status")
    assert(!SnapshotTable.snapshot(dir).columnStats.contains("status"))
    SnapshotTable.evolveSchema(dir, org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField("status",
        org.apache.spark.sql.types.StringType))))
    assert(!SnapshotTable.snapshot(dir).columnStats.contains("status"),
      "a re-added column must not inherit the dropped column's stats")
  }

  test("SQL routes: ANALYZE TABLE … COMPUTE STATISTICS on both parsers") {
    val wh = tmp()
    SnapshotSql.register(spark, wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.an")
    val t = "t_" + java.util.UUID.randomUUID().toString.take(8)
    spark.sql(s"CREATE TABLE graft.an.$t (id BIGINT, k BIGINT)")
    SnapshotSql.sql(spark, s"INSERT INTO graft.an.$t " +
      "SELECT id, id % 5 FROM range(0, 100)")
    val dir = SnapshotSql.resolveTable(spark, Seq("graft", "an", t)).get
    SnapshotSql.sql(spark,
      s"ANALYZE TABLE graft.an.$t COMPUTE STATISTICS FOR COLUMNS k")
    val stats = SnapshotTable.snapshot(dir).columnStats
    assert(stats.keySet === Set("k"))
    assert(math.abs(stats("k").ndv - 5L) <= 1)
    // FOR ALL COLUMNS form
    SnapshotSql.sql(spark,
      s"ANALYZE TABLE graft.an.$t COMPUTE STATISTICS FOR ALL COLUMNS")
    assert(SnapshotTable.snapshot(dir).columnStats.keySet === Set("id", "k"))
    // with CBO on, the logical plan sees the row count (the stats
    // plumbing end-to-end; attribute-level use is Spark's estimator)
    val prev = spark.conf.getOption("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val st = spark.table(s"graft.an.$t")
        .queryExecution.optimizedPlan.stats
      assert(st.rowCount.exists(_.toLong == 100L))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.cbo.enabled", v)
      case None => spark.conf.unset("spark.sql.cbo.enabled")
    }
  }

  test("equi-height histograms: recorded per ordered column, boundaries " +
    "span min..max, bin mass near-equal, strings excluded") {
    val dir = tmp()
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("v", when(col("id") < 950, pmod(col("id"), lit(100)))
        .otherwise(col("id") * 100))  // 95% dense low, 5% sparse tail
      .withColumn("s", concat(lit("x"), col("id")))
    SnapshotTable.create(spark, dir, df)
    SnapshotTable.analyzeColumns(spark, dir)
    val hist = SnapshotTable.snapshot(dir).columnHist
    assert(hist.contains("id") && hist.contains("v"))
    assert(!hist.contains("s"), "string columns get no histogram")
    val ch = hist("v")
    assert(ch.bounds.size === SnapshotTable.HIST_BINS + 1)
    assert(ch.ndvs.size === SnapshotTable.HIST_BINS)
    assert(ch.bounds === ch.bounds.sorted, "boundaries must ascend")
    assert(ch.bounds.head === 0.0 && ch.bounds.last === 99900.0)
    assert(math.abs(ch.height - 1000.0 / SnapshotTable.HIST_BINS) < 1.0)
    // the skew is captured: at most 2 of 16 bins live above 10000
    assert(ch.bounds.count(_ > 10000.0) <= 2, s"boundaries ${ch.bounds}")
    // histograms survive later appends (carried header)
    import spark.implicits._
    SnapshotTable.append(spark, dir,
      Seq((5000L, 1L, "y")).toDF("id", "v", "s"))
    assert(SnapshotTable.snapshot(dir).columnHist.contains("v"))
  }

  test("histogram-fed CBO: a skewed range predicate's row estimate " +
    "tightens vs min/max-only interpolation") {
    val wh = tmp()
    SnapshotSql.register(spark, wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.an")
    val t = "h_" + java.util.UUID.randomUUID().toString.take(8)
    spark.sql(s"CREATE TABLE graft.an.$t (id BIGINT, v BIGINT)")
    SnapshotSql.sql(spark, s"INSERT INTO graft.an.$t " +
      "SELECT id, CASE WHEN id < 950 THEN id % 100 ELSE id * 100 END " +
      "FROM range(0, 1000)")
    val dir = SnapshotSql.resolveTable(spark, Seq("graft", "an", t)).get
    SnapshotTable.analyzeColumns(spark, dir)
    def estimate(): BigInt = {
      val prev = spark.conf.getOption("spark.sql.cbo.enabled")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      try spark.table(s"graft.an.$t").filter("v >= 50000")
        .queryExecution.optimizedPlan.stats.rowCount
        .getOrElse(fail("CBO produced no row estimate"))
      finally prev match {
        case Some(p) => spark.conf.set("spark.sql.cbo.enabled", p)
        case None => spark.conf.unset("spark.sql.cbo.enabled")
      }
    }
    val withHist = estimate()
    // control: strip the colhist header in place — min/max-only now
    val mp = {
      val v = SnapshotTable.latestVersion(dir)
      java.nio.file.Paths.get(dir, "_manifests", f"v$v%08d.manifest")
    }
    val lines = java.nio.file.Files.readAllLines(mp,
      java.nio.charset.StandardCharsets.UTF_8)
    lines.set(0, lines.get(0).split("\t")
      .filterNot(_.startsWith("colhist=")).mkString("\t"))
    java.nio.file.Files.write(mp, String.join("\n", lines)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val minMaxOnly = estimate()
    // truth: 50 rows (the id >= 950 tail). min/max interpolation over
    // [0, 99900] estimates ~half the table; per-bin mass pins the tail
    assert(withHist.toLong <= 200,
      s"histogram estimate should land near the 50-row truth, got $withHist")
    assert(minMaxOnly.toLong >= 3 * withHist.toLong,
      s"expected the histogram to tighten: hist=$withHist mm=$minMaxOnly")
  }

  test("histograms follow a RENAME and die with a DROP") {
    val dir = tmp()
    SnapshotTable.create(spark, dir,
      spark.range(0, 300).toDF("id")
        .withColumn("n", pmod(col("id"), lit(40))))
    SnapshotTable.analyzeColumns(spark, dir)
    assert(SnapshotTable.snapshot(dir).columnHist.contains("n"))
    SnapshotTable.renameColumn(dir, "n", "num")
    val renamed = SnapshotTable.snapshot(dir).columnHist
    assert(renamed.contains("num") && !renamed.contains("n"))
    SnapshotTable.dropColumn(dir, "num")
    assert(!SnapshotTable.snapshot(dir).columnHist.contains("num"))
  }
}
