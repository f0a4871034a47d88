package pystreamsspark.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import pystreamsspark.{JobCount, SparkSpec}

/** Laws of the task-side file stats: a batch write computes each
  * file's [min,max] renderings, row count and bloom bits inside the
  * write tasks (`FileFacts`, with the aggregate expressions a scan
  * evaluates), so the recorded stats are BIT-IDENTICAL to a scan of the
  * same files — NaN and ±0.0 boundaries included — and no batch is read
  * back: clean, NaN, ±0.0, bloom and CHECK batches cost the same jobs.
  * (The suite's name and its tests' names predate the task-side
  * tracker: they once covered a parquet-footer fast path with a scan
  * fallback; each test now checks the same ground against the
  * task-side stats.) */
class FooterStatsSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("footerstats").toString

  /** Per-entry stats substrings of the latest manifest, in sorted file
    * order (delta `+` lines and plain entry lines both parse). */
  private def statFields(dir: String): Seq[String] = {
    val v = SnapshotTable.latestVersion(dir)
    val mp = Paths.get(dir, "_manifests", f"v$v%08d.manifest")
    val lines = scala.jdk.CollectionConverters
      .ListHasAsScala(Files.readAllLines(mp, StandardCharsets.UTF_8))
      .asScala.toSeq.drop(1)
    lines.filter(_.nonEmpty).filterNot(_.startsWith("-"))
      .map(l => if (l.startsWith("+")) l.drop(1) else l)
      .map(_.split("\t"))
      .filter(_.length >= 2)
      .sortBy(_.head)
      .map(_.apply(1))
  }

  private def fixture() = {
    import spark.implicits._
    (0 until 5000).map { i =>
      (i.toLong, i % 1000, f"s$i%05d",
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(18000L + i % 400)),
        new java.sql.Timestamp(1700000000000L + i * 1000L),
        null.asInstanceOf[String],
        // r15 families: float/double (no NaN, no ±0 — value-gated),
        // decimals on the INT32 (p<=9) and FIXED (p>18) carriers, NTZ
        // with zero / trimmed / full microsecond fractions
        i * 1.25f + 1.0f, i * 2.5d + 1.0d,
        new java.math.BigDecimal(i).movePointLeft(2).add(
          new java.math.BigDecimal("0.01")),
        java.time.LocalDateTime.ofEpochSecond(
          1700000000L + i, (i % 4) * 250000000, java.time.ZoneOffset.UTC),
        // NaN, -0.0 and 0.0 in every file: the max is NaN, the min a
        // zero of the sign the file's rows meet first
        i % 7 match {
          case 0 => Double.NaN
          case 1 => -0.0d
          case 2 => 0.0d
          case r => i * r * 0.5d
        })
    }.toDF("k", "n", "s", "d", "ts", "z", "f", "dbl", "dec", "nt", "nan0")
      .withColumn("dec9", col("dec").cast("decimal(9,2)"))
      .withColumn("dec20", col("dec").cast("decimal(20,4)"))
      .drop("dec")
      .repartitionByRange(8, col("k"))
  }

  private val clusterCols =
    Seq("k", "n", "s", "d", "ts", "z", "f", "dbl", "dec9", "dec20", "nt", "nan0")

  /** A table declared with the fixture's cluster columns plus a bloom
    * column, so every batch records both. */
  private def bloomTable(): String = {
    val d = freshDir()
    SnapshotTable.createEmpty(d, fixture().schema,
      clusterCols = clusterCols, bloomCols = Seq("n"))
    d
  }

  test("footer path stats are bit-identical to a scan of the same " +
    "files (long/int/string/date/timestamp/float/double/decimal/ntz; " +
    "all-null column omitted)") {
    val d1 = bloomTable()
    SnapshotTable.append(spark, d1, fixture(), numFiles = 0)
    val fast = statFields(d1)
    assert(fast.size === 8)
    // reference: re-aggregate the JUST-WRITTEN files with statAgg's
    // exact renderings (what the old scan path recorded) and compare
    // the serialized stat strings per file
    val base = spark.read.parquet(SnapshotTable.filePaths(d1): _*)
    def relOf(uri: String): String =
      uri.split("/").takeRight(3).mkString("/")
    val rows = base.groupBy(input_file_name().as("f"))
      .agg(
        min(col("d")).cast("string"), max(col("d")).cast("string"),
        min(col("dbl")).cast("string"), max(col("dbl")).cast("string"),
        min(col("dec20")).cast("string"), max(col("dec20")).cast("string"),
        min(col("dec9")).cast("string"), max(col("dec9")).cast("string"),
        min(col("f")).cast("string"), max(col("f")).cast("string"),
        min(col("k")).cast("string"), max(col("k")).cast("string"),
        min(col("n")).cast("string"), max(col("n")).cast("string"),
        min(col("nan0")).cast("string"), max(col("nan0")).cast("string"),
        min(col("nt")).cast("string"), max(col("nt")).cast("string"),
        min(col("s")).cast("string"), max(col("s")).cast("string"),
        unix_micros(min(col("ts"))).cast("string"),
        unix_micros(max(col("ts"))).cast("string"),
        min(col("z")).cast("string"), max(col("z")).cast("string"))
      .collect()
    val cols = Seq("d", "dbl", "dec20", "dec9", "f", "k", "n", "nan0", "nt",
      "s", "ts", "z")
    val expected = rows.map { r =>
      val parts = cols.zipWithIndex.flatMap {
        case (c, i) =>
          val lo = r.getString(1 + 2 * i); val hi = r.getString(2 + 2 * i)
          if (lo == null || hi == null) None
          else Some(s"$c=${SnapshotTable.FileEntry.enc(lo)}," +
            SnapshotTable.FileEntry.enc(hi))
      }
      relOf(r.getString(0)) -> parts.mkString(";")
    }.sortBy(_._1).map(_._2).toSeq
    assert(fast === expected,
      s"task-side stats diverge from a scan of the same files:\n${fast
        .zip(expected).filter(p => p._1 != p._2).mkString("\n")}")
    // every column recorded; the all-null column omitted
    Seq("k=", "n=", "s=", "d=", "ts=", "f=", "dbl=", "dec9=", "dec20=",
      "nt=", "nan0=").foreach(c =>
      assert(fast.forall(_.contains(c)), s"missing stats for $c"))
    assert(fast.forall(!_.contains("z=")),
      "all-null column must have no stats (conservative, like the scan)")
    // NaN is the greatest double in Spark's order; the signed-zero
    // minimum is the scan's (checked above), whichever sign it has
    assert(fast.forall(f => f.contains("nan0=-0.0,NaN") ||
      f.contains("nan0=0.0,NaN")), fast.mkString("\n"))
    // the bloom blobs equal the bit positions a scan of the files
    // collects, file by file
    val bits = 65536L
    val positions = base.groupBy(input_file_name().as("f"))
      .agg(collect_set(pmod(xxhash64(col("n")), lit(bits)).cast("int")),
        collect_set(pmod(xxhash64(col("n"), lit(1)), lit(bits)).cast("int")),
        collect_set(pmod(xxhash64(col("n"), lit(2)), lit(bits)).cast("int")))
      .collect().map { r =>
        val b = new java.util.BitSet(bits.toInt)
        (1 to 3).foreach(i => r.getSeq[Int](i).foreach(b.set))
        new java.io.File(new java.net.URI(r.getString(0)).getPath).getName ->
          java.util.Base64.getEncoder.encodeToString(b.toByteArray)
      }.toMap
    val sidecars = SnapshotTable.filePaths(d1)
      .map(f => Paths.get(f).getParent.resolve("_blooms")).distinct
    val recorded = sidecars.flatMap(p => scala.jdk.CollectionConverters
      .ListHasAsScala(Files.readAllLines(p, StandardCharsets.UTF_8)).asScala)
      .map { l => val Array(f, blob) = l.split("\t", 2); f -> blob }.toMap
    assert(recorded.size === 8 && recorded.keySet === positions.keySet)
    recorded.foreach { case (f, blob) =>
      assert(blob === s"n:${positions(f)}", s"bloom of $f differs") }
  }

  /** Creates a table clustered by `k, p`, lets `declare` set its
    * properties, and appends `df`; returns the directory and the jobs
    * the append ran. */
  private def appendJobs(df: => org.apache.spark.sql.DataFrame,
                         declare: String => Unit = _ => ()): (String, Int) = {
    val d = freshDir()
    SnapshotTable.createEmpty(d, df.schema, clusterCols = Seq("k", "p"))
    declare(d)
    val n = JobCount(spark)(SnapshotTable.append(spark, d, df, numFiles = 0))
    (d, n)
  }

  private def doubles(p: Int => Double) = {
    import spark.implicits._
    (0 until 2000).map(i => (i.toLong, p(i)))
      .toDF("k", "p").repartitionByRange(4, col("k"))
  }

  test("footer path skips the stats re-scan job; pruning works from " +
    "footer-derived stats") {
    // no batch is read back: bloom bits and the CHECK predicate are
    // evaluated in the write tasks, so neither costs a job
    val (clean, cleanJobs) = appendJobs(doubles(i => i * 1.5 + 1.0))
    Seq(
      "bloom" -> appendJobs(doubles(i => i * 1.5 + 1.0), d =>
        SnapshotTable.setProperties(spark, d, Map("bloomcols" -> "k")))._2,
      "CHECK" -> appendJobs(doubles(i => i * 1.5 + 1.0), d =>
        SnapshotTable.setProperties(spark, d, Map("check" -> "p > 0")))._2)
      .foreach { case (what, n) =>
        assert(n === cleanJobs,
          s"a $what batch ran $n jobs, a clean one $cleanJobs") }
    // the task-side stats prune
    assert(SnapshotTable.readCandidates(clean, "k", "100", "150").size === 1)
    assert(SnapshotTable.readWhere(spark, clean,
      Map("k" -> ("100", "150"))).count() === 51)
    // timestamp bounds speak epoch-micros
    val d = freshDir()
    SnapshotTable.createClustered(spark, d, fixture(), clusterCols)
    assert(SnapshotTable.readCandidates(d, "k", "100", "150").size === 1)
    val lo = (1700000000000L + 1000L * 1000L) * 1000L
    val hi = (1700000000000L + 1050L * 1000L) * 1000L
    assert(SnapshotTable.readWhere(spark, d,
      Map("ts" -> (lo.toString, hi.toString))).count() === 51)
  }

  test("clean float-clustered table takes the footer path (job-count) " +
    "and prunes; NaN or ±0.0 boundaries fall back to the scan") {
    val (clean, cleanJobs) = appendJobs(doubles(i => i * 1.5 + 1.0))
    val sf = statFields(clean)
    assert(sf.size === 4 && sf.forall(_.contains("p=")),
      s"double cluster stats must be recorded: $sf")
    assert(SnapshotTable.readCandidates(clean,
      Map("p" -> ("10.0", "20.0"))).size === 1)
    // NaN and ±0.0 boundaries take the same task-side path: no
    // fallback job, stats still recorded
    Seq(
      "NaN" -> appendJobs(doubles(i =>
        if (i == 1999) Double.NaN else i * 1.5 + 1.0)),
      "±0.0" -> appendJobs(doubles(i => if (i == 0) -0.0 else i * 1.5)))
      .foreach { case (what, (d, n)) =>
        assert(n === cleanJobs,
          s"a $what batch ran $n jobs, a clean one $cleanJobs")
        val f = statFields(d)
        assert(f.size === 4 && f.forall(_.contains("p=")),
          s"a $what batch must still record stats: $f")
      }
  }
}
