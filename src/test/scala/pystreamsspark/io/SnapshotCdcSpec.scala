package pystreamsspark.io

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** CDC (changesBetween) and TIMESTAMP AS OF resolution laws:
  * file-granular net changes equal the brute-force full-table
  * exceptAll, DV-only changes surface as deletes, evolution aligns by
  * name, and versionAt picks the latest commit at-or-before the asked
  * time. */
class SnapshotCdcSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .appName("snapshot-cdc-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def freshDir(): String =
    Files.createTempDirectory("snapcdc").toString

  private def seed(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"name_$i", i * 10L))
      .toDF("id", "name", "score")
  }

  private def net(df: DataFrame): Set[(String, Long, String)] =
    df.collect().map(r => (r.getString(r.fieldIndex("_change_type")),
      r.getLong(r.fieldIndex("id")), r.getString(r.fieldIndex("name"))))
      .toSet

  test("changesBetween(file diff) == brute-force full-table exceptAll") {
    import spark.implicits._
    val dir = freshDir()
    SnapshotTable.createClustered(spark, dir,
      seed(200).repartitionByRange(4, col("id")), clusterCols = Seq("id"))
    val upd = Seq((5L, "upd_5", 555L), (300L, "new_300", 300L))
      .toDF("id", "name", "score")
    SnapshotTable.merge(spark, dir, upd, Seq("id"))
    val got = SnapshotTable.changesBetween(spark, dir, 1, 2)
    // brute force over the FULL table on both sides
    val v1 = SnapshotTable.read(spark, dir, Some(1))
    val v2 = SnapshotTable.read(spark, dir, Some(2))
    val brute = v2.exceptAll(v1).withColumn("_change_type", lit("insert"))
      .unionByName(v1.exceptAll(v2).withColumn("_change_type", lit("delete")))
    assert(net(got) === net(brute))
    // and the net is exactly the merge's semantics
    assert(net(got) === Set(
      ("delete", 5L, "name_5"), ("insert", 5L, "upd_5"),
      ("insert", 300L, "new_300")))
  }

  test("changesBetween nets user columns named like its working columns") {
    import spark.implicits._
    val dir = freshDir()
    val rows = (0 until 50).map(i => (i.toLong, s"name_$i", i * 7L, i % 3))
    SnapshotTable.create(spark, dir, rows.toDF("id", "name", "__w", "__D"),
      numFiles = 2)
    SnapshotTable.merge(spark, dir,
      Seq((5L, "upd_5", 35L, 2)).toDF("id", "name", "__w", "__D"), Seq("id"))
    val got = SnapshotTable.changesBetween(spark, dir, 1, 2)
    assert(got.columns.toSeq === Seq("id", "name", "__w", "__D",
      "_change_type"))
    // the user's `__w` / `__D` values come through untouched, and the
    // rewritten-but-identical rows of the merged file cancel
    val out = got.collect().map(r => (r.getString(4), r.getLong(0),
      r.getString(1), r.getLong(2), r.getInt(3))).toSet
    assert(out === Set(("delete", 5L, "name_5", 35L, 2),
      ("insert", 5L, "upd_5", 35L, 2)))
  }

  test("a DV-only change (same file, new deletion vector) nets as deletes") {
    val dir = freshDir()
    SnapshotTable.create(spark, dir, seed(100), numFiles = 2)
    SnapshotTable.deleteVectors(spark, dir, "id = 42 OR id = 43")
    val got = net(SnapshotTable.changesBetween(spark, dir, 1, 2))
    assert(got === Set(("delete", 42L, "name_42"), ("delete", 43L, "name_43")))
  }

  test("changesBetween aligns evolved schemas by name (null-fill)") {
    import spark.implicits._
    val dir = freshDir()
    SnapshotTable.create(spark, dir, seed(10), numFiles = 1)
    SnapshotTable.append(spark, dir,
      Seq((100L, "ext_100", 1L, "B1")).toDF("id", "name", "score", "band"),
      numFiles = 1)
    val got = SnapshotTable.changesBetween(spark, dir, 1, 2)
    assert(got.columns.contains("band"))
    val rows = got.collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[String]("_change_type") === "insert")
    assert(rows.head.getAs[String]("band") === "B1")
  }

  test("versionAt resolves the latest commit at-or-before the time") {
    val dir = freshDir()
    SnapshotTable.create(spark, dir, seed(10), numFiles = 1) // v1
    Thread.sleep(30)
    val between = System.currentTimeMillis
    Thread.sleep(30)
    SnapshotTable.append(spark, dir, seed(20).filter(col("id") >= 10)) // v2
    assert(SnapshotTable.versionAt(dir, between) === Some(1))
    assert(SnapshotTable.versionAt(dir, System.currentTimeMillis) === Some(2))
    assert(SnapshotTable.versionAt(dir, 1L) === None) // before any commit
    // read through the resolved version
    val v = SnapshotTable.versionAt(dir, between).get
    assert(SnapshotTable.read(spark, dir, Some(v)).count() === 10)
  }
}
