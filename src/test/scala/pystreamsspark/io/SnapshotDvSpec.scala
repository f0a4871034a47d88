package pystreamsspark.io

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import pystreamsspark.SparkSpec

/** Merge-on-read deletion vectors (round-10 task 2): a point DELETE is
  * O(batch) metadata + a small DV write — data files untouched — and
  * every reader (snapshot read, stats-pruned reads, CoW discovery)
  * applies the DV; reads are EQUIVALENT to the copy-on-write path, time
  * travel and vacuum stay correct across DV versions, and compaction
  * materializes DVs away. */
class SnapshotDvSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("snapdv").toString

  private def seed(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"name_$i", i * 10L))
      .toDF("id", "name", "score")
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select(col("id")).collect().map(_.getLong(0)).sorted.toSeq

  test("DV delete ≡ CoW delete (read equivalence), files untouched") {
    val (dvDir, cowDir) = (freshDir(), freshDir())
    SnapshotTable.createClustered(spark, dvDir,
      seed(200).repartitionByRange(4, col("id")), clusterCols = Seq("id"))
    SnapshotTable.createClustered(spark, cowDir,
      seed(200).repartitionByRange(4, col("id")), clusterCols = Seq("id"))
    val pred = "id % 37 = 5"
    val preFiles = SnapshotTable.filePaths(dvDir).toSet
    val vDv = SnapshotTable.deleteVectors(spark, dvDir, pred)
    SnapshotTable.delete(spark, cowDir, pred)
    assert(vDv === 2)
    // the MoR law: not one data file rewritten
    assert(SnapshotTable.filePaths(dvDir).toSet === preFiles)
    assert(SnapshotTable.hasDeletionVectors(dvDir))
    // identical content on both paths
    val (a, b) = (SnapshotTable.read(spark, dvDir),
      SnapshotTable.read(spark, cowDir))
    assert(ids(a) === ids(b))
    assert(a.count() === 200 - a.sparkSession.range(0, 200)
      .filter("id % 37 = 5").count())
  }

  test("second DV delete on the same file unions the deletion sets") {
    val dir = freshDir()
    SnapshotTable.create(spark, dir, seed(100), numFiles = 2)
    SnapshotTable.deleteVectors(spark, dir, "id = 10")
    SnapshotTable.deleteVectors(spark, dir, "id = 20")
    val got = ids(SnapshotTable.read(spark, dir))
    assert(!got.contains(10L) && !got.contains(20L))
    assert(got.size === 98)
    // re-deleting an already-deleted row is a no-op commit (no match)
    val before = SnapshotTable.latestVersion(dir)
    assert(SnapshotTable.deleteVectors(spark, dir, "id = 10") === before)
  }

  test("time travel: pre-delete versions still see the rows") {
    val dir = freshDir()
    SnapshotTable.create(spark, dir, seed(50))           // v1
    SnapshotTable.deleteVectors(spark, dir, "id < 5")    // v2
    SnapshotTable.deleteVectors(spark, dir, "id >= 45")  // v3
    assert(SnapshotTable.read(spark, dir, Some(1)).count() === 50)
    assert(SnapshotTable.read(spark, dir, Some(2)).count() === 45)
    assert(SnapshotTable.read(spark, dir, Some(3)).count() === 40)
  }

  test("stats-pruned reads apply DVs") {
    val dir = freshDir()
    SnapshotTable.createClustered(spark, dir,
      seed(400).repartitionByRange(8, col("id")), clusterCols = Seq("id"))
    SnapshotTable.deleteVectors(spark, dir, "id = 100 OR id = 101")
    val r = SnapshotTable.readRange(spark, dir, "id", "90", "110")
    assert(ids(r) === (90L to 110L).filterNot(i => i == 100 || i == 101))
    val rIn = SnapshotTable.readWhereIn(spark, dir, "id",
      Seq("99", "100", "102"))
    assert(ids(rIn) === Seq(99L, 102L))
  }

  test("CoW rewrites do not resurrect DV-deleted rows and retire the DV") {
    import spark.implicits._
    val dir = freshDir()
    SnapshotTable.createClustered(spark, dir,
      seed(100).repartitionByRange(2, col("id")), clusterCols = Seq("id"))
    SnapshotTable.deleteVectors(spark, dir, "id = 7")
    // merge touches the file holding id 7 (key 8 lives there too)
    val upd = Seq((8L, "upd_8", 888L)).toDF("id", "name", "score")
    SnapshotTable.merge(spark, dir, upd, Seq("id"))
    val got = SnapshotTable.read(spark, dir)
    assert(!ids(got).contains(7L))
    assert(got.filter(col("id") === 8).head.getString(1) === "upd_8")
    // the touched file was rewritten DV-free; no entry needs its DV now
    assert(!SnapshotTable.hasDeletionVectors(dir))
  }

  test("compact materializes DVs away; vacuum reclaims orphan DV batches") {
    val dir = freshDir()
    SnapshotTable.create(spark, dir, seed(100), numFiles = 2)
    SnapshotTable.deleteVectors(spark, dir, "id % 10 = 3")
    val expect = ids(SnapshotTable.read(spark, dir))
    SnapshotTable.compact(spark, dir, target = 2)
    assert(!SnapshotTable.hasDeletionVectors(dir))
    assert(ids(SnapshotTable.read(spark, dir)) === expect)
    // vacuum to the compacted version only: the DV batch is unreferenced
    SnapshotTable.vacuum(dir, keepVersions = 1)
    val dvRoot = java.nio.file.Paths.get(dir, "dv")
    val dvLeft =
      if (!Files.isDirectory(dvRoot)) 0
      else { val s = Files.list(dvRoot); try s.count() finally s.close() }
    assert(dvLeft === 0)
    assert(ids(SnapshotTable.read(spark, dir)) === expect)
  }

  test("data columns named like the DV anti-join's working columns") {
    import spark.implicits._
    val dir = freshDir()
    SnapshotTable.create(spark, dir, (0 until 50)
      .map(i => (i.toLong, s"f$i", i % 7L)).toDF("id", "__dv_file", "__DV_POS"),
      numFiles = 2)
    SnapshotTable.deleteVectors(spark, dir, "id % 10 = 3")
    // a second DV delete discovers its rows through the DV'd read
    SnapshotTable.deleteVectors(spark, dir, "id < 5")
    val got = SnapshotTable.read(spark, dir)
    assert(got.columns.toSeq === Seq("id", "__dv_file", "__DV_POS"))
    assert(ids(got) ===
      (0 until 50).filter(i => i % 10 != 3 && i >= 5).map(_.toLong))
    assert(got.filter(col("__dv_file") === "f42")
      .select("__DV_POS").as[Long].collect().toSeq === Seq(0L))
    // a later batch adds a column named like the row-identity column
    SnapshotTable.append(spark, dir,
      Seq((100L, "f100", 2L, "mine"))
        .toDF("id", "__dv_file", "__DV_POS", "_src_file"))
    assert(SnapshotTable.read(spark, dir).filter(col("id") >= 99L)
      .select("_src_file").as[String].collect().toSeq === Seq("mine"))
  }

  test("vacuum KEEPS a DV batch while a kept manifest references it") {
    val dir = freshDir()
    SnapshotTable.create(spark, dir, seed(60))          // v1
    SnapshotTable.deleteVectors(spark, dir, "id < 10")  // v2 (DV)
    SnapshotTable.append(spark, dir, seed(80).filter(col("id") >= 60)) // v3
    SnapshotTable.vacuum(dir, keepVersions = 2) // keeps v2, v3
    // v3 carries the v2 entries (with DV) by reference — read must hold
    assert(SnapshotTable.read(spark, dir).count() === 70)
    assert(SnapshotTable.read(spark, dir, Some(2)).count() === 50)
  }
}
