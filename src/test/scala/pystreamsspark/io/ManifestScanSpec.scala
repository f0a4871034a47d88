package pystreamsspark.io

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import pystreamsspark.{JobCount, SparkSpec}

/** Laws of the manifest-planned scan ([[ManifestFileIndex]]): a
  * snapshot's manifest names its files, so building a read runs no
  * Spark job — not even above Spark's 32-path parallel-listing
  * threshold, where a listed index launches a "Listing leaf files" job —
  * and the scan reads exactly what a listing of the same files would:
  * the same input files, `_metadata` values and rows. */
class ManifestScanSpec extends SparkSpec {

  private val cat = "graftscan"
  private val nFiles = 40

  private lazy val wh = {
    val d = Files.createTempDirectory("graft_scan_wh_").toString
    SnapshotSql.register(spark, d, cat)
    d
  }

  /** A catalog-visible table of `nFiles` files (v1) plus a one-file
    * append (v2); returns (table name, dir). */
  private def table(prefix: String): (String, String) = {
    import spark.implicits._
    val name = prefix + java.util.UUID.randomUUID().toString.take(8)
    val dir = s"$wh/ns/$name"
    SnapshotTable.create(spark, dir,
      (0 until 4000).map(i => (i.toLong, s"name_$i", i * 0.5))
        .toDF("id", "name", "score"), numFiles = nFiles)
    assert(SnapshotTable.filePaths(dir, Some(1)).size === nFiles)
    SnapshotTable.append(spark, dir,
      Seq((4000L, "name_4000", 2000.0)).toDF("id", "name", "score"),
      numFiles = 1)
    (name, dir)
  }

  private def plan(df: DataFrame): Unit = { df.queryExecution.executedPlan; () }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def uriPath(f: String): String = new java.net.URI(f).getPath

  test(s"building a read, a time-travel read and a catalog SELECT of a " +
    s"$nFiles-file snapshot runs no Spark job") {
    val (t, dir) = table("plain_")
    val jobs = JobCount(spark) {
      plan(SnapshotTable.read(spark, dir))
      plan(SnapshotTable.read(spark, dir, Some(1)))
      plan(spark.sql(s"SELECT * FROM $cat.ns.$t"))
      plan(spark.sql(s"SELECT * FROM $cat.ns.$t VERSION AS OF 1"))
    }
    assert(jobs === 0, "a manifest-planned scan must not list its files")
    // the counter does see jobs: one action is one job at least
    assert(JobCount(spark)(SnapshotTable.read(spark, dir).collect()) > 0)
  }

  test("the manifest-planned scan reads what a listing of the same files " +
    "reads: input files, _metadata values and rows") {
    val (t, dir) = table("meta_")
    val paths = SnapshotTable.filePaths(dir)
    val read = SnapshotTable.read(spark, dir)
    assert(read.inputFiles.map(uriPath).sorted.toSeq === paths.sorted)
    val location = read.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location.toString
    }
    assert(location === Some(s"ManifestFileIndex[$dir v2, ${paths.size} files]"))
    val cols = Seq(col("*"), col("_metadata.file_path"),
      col("_metadata.file_size"), col("_metadata.file_modification_time"),
      input_file_name())
    val listed = spark.read.parquet(paths: _*)
    assert(sorted(read.select(cols: _*)) === sorted(listed.select(cols: _*)))
    assert(sorted(spark.sql(s"SELECT * FROM $cat.ns.$t")) === sorted(listed))
  }

  test("with deletion vectors: no job to build the reads, no schema " +
    "inference of the DV batch, and the live rows") {
    val (t, dir) = table("dv_")
    SnapshotTable.deleteVectors(spark, dir, "id % 10 = 3")
    assert(SnapshotTable.snapshot(dir).hasDeletionVectors)
    val jobs = JobCount(spark) {
      plan(SnapshotTable.read(spark, dir))
      plan(SnapshotTable.read(spark, dir, Some(2)))
      plan(SnapshotTable.read(spark, dir, Some(3)))
    }
    assert(jobs === 0)
    val paths = SnapshotTable.filePaths(dir)
    val read = SnapshotTable.read(spark, dir)
    assert(read.inputFiles.map(uriPath).filterNot(_.contains("/dv/"))
      .sorted.toSeq === paths.sorted)
    assert(sorted(read) ===
      sorted(spark.read.parquet(paths: _*).filter("id % 10 != 3")))

    // the catalog SELECT of a DV'd snapshot needs the GraftExtensions
    // rewrite, which builds the DV-aware read during analysis
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new pystreamsspark.GraftExtensions().apply(_))
      .getOrCreate()
    try {
      SnapshotSql.register(ext, wh, cat)
      val sel = s"SELECT * FROM $cat.ns.$t"
      assert(JobCount(ext)(plan(ext.sql(sel))) === 0)
      assert(sorted(ext.sql(sel)) === sorted(read))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevActive.foreach { s =>
        SparkSession.setDefaultSession(s); SparkSession.setActiveSession(s)
      }
    }
  }

  test("a live file missing on disk fails when the read is built") {
    val (_, dir) = table("gone_")
    val gone = java.nio.file.Paths.get(SnapshotTable.filePaths(dir).head)
    Files.delete(gone)
    val e = intercept[Exception](SnapshotTable.read(spark, dir))
    assert(e.getMessage.contains(gone.getFileName.toString), e.getMessage)
  }
}
