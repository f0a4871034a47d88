package pystreamsspark.io

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import pystreamsspark.SparkSpec

/** Laws of the one batch writer: files go straight to their final names
  * in the batch directory (no `_temporary`, no `_SUCCESS`), a failed
  * write job leaves nothing behind, and a write leaves the caller's
  * session settings as it found them while still writing INT64
  * TIMESTAMP(MICROS) timestamps. */
class BatchWriterSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("batchwriter").toString

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq finally s.close()
    }

  test("a committed batch directory holds only part files and their " +
    ".crc files") {
    import spark.implicits._
    val d = freshDir()
    val df = (0 until 400).map(i => (i.toLong, i % 13)).toDF("k", "v")
    SnapshotTable.createClustered(spark, d,
      df.repartitionByRange(4, col("k")), Seq("k"))
    SnapshotTable.append(spark, d, df.select((col("k") + 1000).as("k"),
      col("v")), numFiles = 2)
    SnapshotTable.merge(spark, d, Seq((5L, 99)).toDF("k", "v"), Seq("k"))
    SnapshotTable.delete(spark, d, "k >= 100 AND k < 120")
    SnapshotTable.deleteVectors(spark, d, "k >= 200 AND k < 205")
    val names = Seq("data", "dv").flatMap(sub => walk(Paths.get(d, sub)))
      .filter(Files.isRegularFile(_)).map(_.getFileName.toString)
    assert(names.count(_.endsWith(".parquet")) >= 8)
    val part = "part-\\d{5}-[0-9a-f]{8}-a\\d+-c\\d{3}\\.snappy\\.parquet"
    names.foreach(n => assert(n.matches(part) || n.matches(s"\\.$part\\.crc"),
      s"unexpected file $n in a batch directory"))
    assert(!Seq("data", "dv").flatMap(sub => walk(Paths.get(d, sub)))
      .exists(p => p.getFileName.toString.startsWith("_")))
    // the table reads what was written
    assert(SnapshotTable.read(spark, d).count() === 800 - 20 - 5)
  }

  test("a write job that fails in one task leaves no batch directory and " +
    "no new version") {
    import spark.implicits._
    val d = freshDir()
    SnapshotTable.create(spark, d, Seq((1L, 1)).toDF("k", "v"), numFiles = 1)
    val v0 = SnapshotTable.latestVersion(d)
    val batches0 = walk(Paths.get(d, "data")).filter(Files.isDirectory(_))
    // three small partitions finish first; the big one fails at its
    // last row
    val boom = udf((k: Long) => {
      if (k == 10029L) throw new IllegalStateException("task failure")
      k
    })
    val input = spark.range(0, 10030, 1, 1).select(col("id").as("k"))
      .union(spark.range(20000, 20030, 1, 3).select(col("id").as("k")))
      .select(boom(col("k")).as("k"), lit(2).as("v"))
    intercept[Exception](SnapshotTable.append(spark, d, input, numFiles = 0))
    assert(SnapshotTable.latestVersion(d) === v0)
    assert(walk(Paths.get(d, "data")).filter(Files.isDirectory(_)) === batches0,
      "the failed job's batch directory must be gone")
    assert(SnapshotTable.read(spark, d).count() === 1)
  }

  test("a write leaves the session settings as it found them and writes " +
    "INT64 TIMESTAMP(MICROS)") {
    val s = spark.newSession()
    import s.implicits._
    val d = freshDir()
    def batch(from: Int, n: Int) = (from until from + n).map(i =>
      (i.toLong, new java.sql.Timestamp(1700000000000L + i * 1000L), i * 0.5))
      .toDF("k", "ts", "p")
    val before = s.conf.getAll
    SnapshotTable.createClustered(s, d, batch(0, 100).repartitionByRange(2, col("k")),
      Seq("k", "ts"))
    SnapshotTable.append(s, d, batch(100, 50), numFiles = 1)
    SnapshotTable.merge(s, d, batch(40, 20), Seq("k"))
    SnapshotTable.update(s, d, "k < 10", Seq("p" -> "p + 1"))
    SnapshotTable.delete(s, d, "k >= 90 AND k < 95")
    SnapshotTable.compact(s, d, 2)
    assert(s.conf.getAll === before)
    assert(SnapshotTable.read(s, d).count() === 145)
    val conf = new org.apache.hadoop.conf.Configuration()
    SnapshotTable.filePaths(d).foreach { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), conf))
      try {
        val ts = r.getFooter.getFileMetaData.getSchema.getFields.get(1)
          .asPrimitiveType()
        assert(ts.getPrimitiveTypeName.name === "INT64", f)
        assert(ts.getLogicalTypeAnnotation.toString === "TIMESTAMP(MICROS,true)", f)
      } finally r.close()
    }
  }
}
