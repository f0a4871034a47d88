package pystreamsspark.io

import java.nio.file.Files

import org.apache.spark.sql.Row
import pystreamsspark.SparkSpec

/** Laws of the row-level core: copy-on-write and merge-on-read
  * (deletion-vector) DML give the same rows for the same statement —
  * a row whose predicate is NULL is neither deleted nor updated, and a
  * data column named like the row-identity columns is plain data — and
  * an operation that changes nothing commits nothing. */
class RowLevelParitySpec extends SparkSpec {

  /** One file: (1,1,'a'), (2,9,'b'), (3,NULL,'c'), (4,2,'d'). */
  private def fixture(): String = {
    val dir = Files.createTempDirectory("rowlevel").toString
    val df = spark.sql("SELECT * FROM VALUES (1L, 1, 'a'), (2L, 9, 'b'), " +
      "(3L, CAST(NULL AS INT), 'c'), (4L, 2, 'd') AS t(id, x, _src_file)")
    SnapshotTable.create(spark, dir, df, numFiles = 1)
    dir
  }

  private def rows(dir: String): Seq[Row] =
    SnapshotTable.read(spark, dir).orderBy("id").collect().toSeq

  test("DELETE: copy-on-write ≡ deletion vectors; NULL-predicate rows stay") {
    val (cow, mor) = (fixture(), fixture())
    val want = Seq(Row(1L, 1, "a"), Row(3L, null, "c"), Row(4L, 2, "d"))
    SnapshotTable.delete(spark, cow, "x > 5")
    assert(rows(cow) === want)
    SnapshotTable.deleteVectors(spark, mor, "x > 5")
    assert(rows(mor) === want)
  }

  test("UPDATE: copy-on-write ≡ deletion vectors; NULL-predicate rows " +
    "keep their values") {
    val (cow, mor) = (fixture(), fixture())
    val sets = Seq("x" -> "x * 10", "_src_file" -> "concat(_src_file, '!')")
    val want = Seq(Row(1L, 1, "a"), Row(2L, 90, "b!"), Row(3L, null, "c"),
      Row(4L, 2, "d"))
    SnapshotTable.update(spark, cow, "x > 5", sets)
    assert(rows(cow) === want)
    SnapshotTable.updateVectors(spark, mor, "x > 5", sets)
    assert(rows(mor) === want)
  }

  test("an operation that changes nothing commits nothing and returns " +
    "the version it read") {
    val dir = fixture()
    val v = SnapshotTable.latestVersion(dir)
    import spark.implicits._
    val none = Seq((99L, 0, "z")).toDF("id", "x", "_src_file")
    Seq[() => Int](
      () => SnapshotTable.delete(spark, dir, "x > 100"),
      () => SnapshotTable.update(spark, dir, "x > 100", Seq("x" -> "0")),
      () => SnapshotTable.deleteVectors(spark, dir, "x > 100"),
      () => SnapshotTable.updateVectors(spark, dir, "x > 100", Seq("x" -> "0")),
      () => SnapshotTable.deleteMatched(spark, dir, none, Seq("id")),
      () => SnapshotTable.merge(spark, dir, none.limit(0), Seq("id"))
    ).foreach(op => assert(op() === v))
    assert(SnapshotTable.latestVersion(dir) === v)
    assert(rows(dir).size === 4)
  }
}
