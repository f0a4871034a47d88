package pystreamsspark.io

import org.apache.spark.sql.functions._
import pystreamsspark.SparkSpec

/** SHALLOW CLONE (round-11): a new table sharing the source's current
  * data files by HARDLINK — O(#files) metadata, zero row-data copy.
  * Laws:
  *  - content identical at clone time; both sides then age
  *    INDEPENDENTLY (writes/merges on one never show on the other);
  *  - vacuuming the SOURCE does not break the clone (shared inodes
  *    survive until the last link drops) and vice versa;
  *  - layout/properties (cluster stats + pruning, DVs, column mapping)
  *    carry; the transactional identity (epochs, COPY ledger) resets —
  *    a replayed epoch APPLIES on the clone;
  *  - the SQL form `CREATE TABLE t2 SHALLOW CLONE t1` works. */
class ShallowCloneSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_clone_").toString

  test("clone shares files without copying; sides age independently; " +
    "source vacuum cannot break the clone") {
    val src = tmp() + "/t1"; val dst = tmp() + "/t2"
    SnapshotTable.createClustered(spark, src,
      spark.range(0, 1000).toDF("id").withColumn("v", col("id") * 1.0)
        .repartitionByRange(4, col("id")), Seq("id"))
    SnapshotTable.deleteVectors(spark, src, "id = 7") // a live DV rides
    SnapshotTable.shallowClone(spark, src, dst)
    // content identical, the DV included
    assert(SnapshotTable.read(spark, dst).count() === 999L)
    assert(SnapshotTable.read(spark, dst).filter(col("id") === 7L)
      .count() === 0L)
    // the files are LINKS, not copies: same relative paths exist and
    // link counts on a shared file exceed 1
    val rel = SnapshotTable.filePaths(src).head.stripPrefix(src + "/")
    val shared = java.nio.file.Paths.get(dst, rel)
    assert(java.nio.file.Files.exists(shared))
    assert(java.nio.file.Files.getAttribute(shared, "unix:nlink")
      .asInstanceOf[Number].intValue >= 2)
    // cluster-stats pruning carried
    assert(SnapshotTable.readCandidates(dst, "id", "0", "10").size <
      SnapshotTable.filePaths(dst).size)
    // independence: a merge on the clone never shows on the source
    SnapshotTable.merge(spark, dst, Seq((5L, 555.0)).toDF("id", "v"),
      Seq("id"))
    assert(SnapshotTable.read(spark, dst).filter(col("id") === 5L)
      .head.getDouble(1) === 555.0)
    assert(SnapshotTable.read(spark, src).filter(col("id") === 5L)
      .head.getDouble(1) === 5.0)
    // source ages away: append + vacuum to ONE version on the source —
    // the clone keeps reading its (shared-inode) snapshot
    SnapshotTable.delete(spark, src, "id < 900")
    SnapshotTable.vacuum(src, keepVersions = 1)
    assert(SnapshotTable.read(spark, src).count() === 100L)
    assert(SnapshotTable.read(spark, dst).count() === 999L,
      "vacuuming the source must not break the clone")
  }

  test("transactional identity resets: epochs and COPY ledger do not " +
    "carry; a clone of a mapped table stays mapped") {
    val src = tmp() + "/t1"; val dst = tmp() + "/t2"
    SnapshotTable.create(spark, src, Seq((1L, 1.0)).toDF("id", "value"))
    SnapshotTable.appendEpoch(spark, src,
      Seq((2L, 2.0)).toDF("id", "value"), epochId = 17L)
    SnapshotTable.renameColumn(src, "value", "amount")
    SnapshotTable.shallowClone(spark, src, dst)
    // the clone reads through the carried column mapping
    assert(SnapshotTable.snapshot(dst).colmap.nonEmpty)
    assert(SnapshotTable.read(spark, dst).columns.toSeq ===
      Seq("id", "amount"))
    // epoch 17 is NOT committed on the clone: replaying it APPLIES
    val v = SnapshotTable.appendEpoch(spark, dst,
      Seq((3L, 3.0)).toDF("id", "amount"), epochId = 17L)
    assert(v === 2 && SnapshotTable.read(spark, dst).count() === 3L)
    // …while the source still skips it (returning the HOLDER version —
    // the documented appendEpoch contract)
    assert(SnapshotTable.appendEpoch(spark, src,
      Seq((9L, 9.0)).toDF("id", "amount"), epochId = 17L) === 2)
    assert(SnapshotTable.read(spark, src).count() === 2L)
  }

  test("SQL: CREATE TABLE t2 SHALLOW CLONE t1; destination must be new") {
    val wh = tmp()
    SnapshotSql.register(spark, wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cl")
    val t1 = "t_" + java.util.UUID.randomUUID().toString.take(8)
    val t2 = "c_" + java.util.UUID.randomUUID().toString.take(8)
    spark.sql(s"CREATE TABLE graft.cl.$t1 (id BIGINT, v DOUBLE)")
    SnapshotSql.sql(spark, s"INSERT INTO graft.cl.$t1 " +
      "SELECT id, id * 1.0 FROM range(0, 100)")
    val out = SnapshotSql.sql(spark,
      s"CREATE TABLE graft.cl.$t2 SHALLOW CLONE graft.cl.$t1")
    assert(out.head.getInt(0) === 1)
    assert(spark.sql(s"SELECT count(*) FROM graft.cl.$t2")
      .head.getLong(0) === 100L)
    // clones are full tables: DML works immediately
    SnapshotSql.sql(spark, s"DELETE FROM graft.cl.$t2 WHERE id >= 50")
    assert(spark.sql(s"SELECT count(*) FROM graft.cl.$t2")
      .head.getLong(0) === 50L)
    assert(spark.sql(s"SELECT count(*) FROM graft.cl.$t1")
      .head.getLong(0) === 100L)
    // cloning onto an existing table refuses
    intercept[Exception] {
      SnapshotSql.sql(spark,
        s"CREATE TABLE graft.cl.$t2 SHALLOW CLONE graft.cl.$t1")
    }
  }

  test("SQL CLONE target resolution mirrors the source's (r11 ADVICE): " +
    "2-part names are current-catalog-relative, 1-part names land in " +
    "the current namespace") {
    val wh = tmp()
    SnapshotSql.register(spark, wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cl2")
    val t1 = "cl2src_" + java.util.UUID.randomUUID().toString.take(8)
    val t2 = "cl2dst_" + java.util.UUID.randomUUID().toString.take(8)
    spark.sql(s"CREATE TABLE graft.cl2.$t1 (id BIGINT)")
    SnapshotSql.sql(spark, s"INSERT INTO graft.cl2.$t1 VALUES (1),(2)")
    // 2-part target under current catalog graft: 'cl2.t2' must resolve
    // as namespace.table of the CURRENT catalog, not as a catalog named
    // 'cl2' (the pre-r12 behavior threw CatalogNotFoundException)
    spark.sql("USE graft")
    try {
      SnapshotSql.sql(spark,
        s"CREATE TABLE cl2.$t2 SHALLOW CLONE graft.cl2.$t1")
      val n = spark.sql(s"SELECT COUNT(*) FROM graft.cl2.$t2")
        .head().getLong(0)
      assert(n === 2L)
      // 1-part names resolve in the CURRENT namespace for both sides
      spark.sql("USE graft.cl2")
      val t3 = "cl2dst3_" + java.util.UUID.randomUUID().toString.take(8)
      SnapshotSql.sql(spark, s"CREATE TABLE $t3 SHALLOW CLONE $t1")
      assert(spark.sql(s"SELECT COUNT(*) FROM graft.cl2.$t3")
        .head().getLong(0) === 2L)
    } finally spark.sql("USE spark_catalog")
  }
}
