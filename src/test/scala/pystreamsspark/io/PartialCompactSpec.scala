package pystreamsspark.io

import org.apache.spark.sql.functions._
import pystreamsspark.SparkSpec

/** PARTIAL compaction (round-11): `OPTIMIZE t WHERE k BETWEEN lo AND
  * hi [FILES n]` rewrites ONLY the files whose recorded cluster-key
  * stats overlap the bounds — the hot-tail maintenance shape: small
  * streamed/appended files in a narrow recent key range compact at
  * O(range) cost while the cold bulk carries by reference. Laws:
  *  - untouched files carry by REFERENCE (identical path strings);
  *  - content identical through the rewrite; pruning keeps working;
  *  - DVs on touched files materialize away, untouched DVs stay;
  *  - non-overlapping bounds are a no-op commit-free call;
  *  - the SQL form parses on both routes. */
class PartialCompactSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_pc_").toString

  /** 0..999 clustered into 4 range files, plus 3 single-file appends
    * in the narrow 10000..10059 tail (the "hot tail"). */
  private def fixture(): String = {
    val dir = tmp()
    SnapshotTable.createClustered(spark, dir,
      spark.range(0, 1000).toDF("id").withColumn("v", col("id") * 1.0)
        .repartitionByRange(4, col("id")),
      Seq("id"))
    (0 until 3).foreach { i =>
      SnapshotTable.append(spark, dir,
        spark.range(10000 + i * 20, 10020 + i * 20).toDF("id")
          .withColumn("v", col("id") * 1.0),
        numFiles = 1) // one small range-shaped file per append
    }
    dir
  }

  test("only the stats-overlapping files rewrite; the rest carry by " +
    "reference; content and pruning survive") {
    val dir = fixture()
    val before = SnapshotTable.filePaths(dir)
    assert(before.size === 7)
    val cold = SnapshotTable.readCandidates(dir, "id", "0", "999").toSet
    val preSum = SnapshotTable.read(spark, dir)
      .agg(sum(col("id"))).head.getLong(0)
    val v = SnapshotTable.compactWhere(spark, dir,
      Map("id" -> ("10000", "99999")), target = 1)
    assert(v === 5)
    val after = SnapshotTable.filePaths(dir)
    // 4 cold files carried with IDENTICAL paths + 1 compacted tail file
    assert(after.size === 5)
    val afterRel = after.map(_.stripPrefix(dir + "/")).toSet
    assert(cold.subsetOf(afterRel),
      "cold files must carry by reference through a partial compact")
    // content identical
    assert(SnapshotTable.read(spark, dir)
      .agg(sum(col("id"))).head.getLong(0) === preSum)
    // the compacted tail still prunes (clustering law preserved)
    assert(SnapshotTable.readCandidates(dir, "id", "10000", "10059")
      .size === 1)
    assert(SnapshotTable.readWhere(spark, dir,
      Map("id" -> ("10000", "10019"))).count() === 20L)
  }

  test("DVs on touched files materialize; untouched DVs stay; " +
    "disjoint bounds are a no-op") {
    val dir = fixture()
    SnapshotTable.deleteVectors(spark, dir, "id = 10005") // tail file DV
    SnapshotTable.deleteVectors(spark, dir, "id = 5")     // cold file DV
    val preCount = SnapshotTable.read(spark, dir).count()
    SnapshotTable.compactWhere(spark, dir,
      Map("id" -> ("10000", "99999")), target = 1)
    // the tail DV is gone (materialized by the rewrite), the cold DV
    // survives on its untouched file
    val m = SnapshotTable.read(spark, dir)
    assert(m.count() === preCount)
    assert(m.filter(col("id") === 10005L).count() === 0L)
    assert(m.filter(col("id") === 5L).count() === 0L)
    assert(SnapshotTable.snapshot(dir).hasDeletionVectors,
      "the untouched cold file must keep its DV")
    // disjoint bounds: nothing overlaps -> same version back
    val v0 = SnapshotTable.latestVersion(dir)
    assert(SnapshotTable.compactWhere(spark, dir,
      Map("id" -> ("50000", "60000"))) === v0)
    // unknown column fails loudly
    intercept[IllegalArgumentException] {
      SnapshotTable.compactWhere(spark, dir, Map("nope" -> ("0", "1")))
    }
  }

  test("SQL: OPTIMIZE t WHERE k BETWEEN lo AND hi FILES n on both routes") {
    val wh = tmp()
    SnapshotSql.register(spark, wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pc")
    val t = "t_" + java.util.UUID.randomUUID().toString.take(8)
    spark.sql(s"CREATE TABLE graft.pc.$t (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('clustercols'='id')")
    SnapshotSql.sql(spark, s"INSERT INTO graft.pc.$t " +
      "SELECT id, id * 1.0 FROM range(0, 1000)")
    SnapshotSql.sql(spark, s"INSERT INTO graft.pc.$t " +
      "SELECT id, id * 1.0 FROM range(10000, 10020)")
    SnapshotSql.sql(spark, s"INSERT INTO graft.pc.$t " +
      "SELECT id, id * 1.0 FROM range(10020, 10040)")
    val dir = SnapshotSql.resolveTable(spark, Seq("graft", "pc", t)).get
    val before = SnapshotTable.filePaths(dir).size
    val out = SnapshotSql.sql(spark,
      s"OPTIMIZE graft.pc.$t WHERE id BETWEEN 10000 AND 99999 FILES 1")
    assert(out.columns.toSeq === Seq("version"))
    assert(SnapshotTable.filePaths(dir).size < before)
    assert(spark.sql(s"SELECT count(*) FROM graft.pc.$t")
      .head.getLong(0) === 1040L)
    // plain OPTIMIZE (full) and ZORDER forms still parse beside it
    SnapshotSql.sql(spark, s"OPTIMIZE graft.pc.$t FILES 2")
    assert(SnapshotTable.filePaths(dir).size === 2)
  }
}
