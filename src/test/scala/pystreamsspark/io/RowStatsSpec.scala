package pystreamsspark.io

import pystreamsspark.SparkSpec

/** Per-file row counts in the manifest (round-10 cont.): exact counts
  * read from the parquet footers at write time feed DESCRIBE DETAIL's
  * `n_rows` and the V2 scan's CBO statistics (`numRows`), go unknown —
  * never wrong — under live deletion vectors, and recover after
  * compaction. */
class RowStatsSpec extends SparkSpec {

  private lazy val wh = {
    val d = java.nio.file.Files.createTempDirectory("graft_rs_wh_").toString
    SnapshotSql.register(spark, d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.rs")
    d
  }

  private def freshName(prefix: String): String =
    prefix + java.util.UUID.randomUUID().toString.take(8)

  private def dirOf(t: String): String =
    SnapshotSql.resolveTable(spark, Seq("graft", "rs", t)).getOrElse(
      fail(s"graft.rs.$t did not resolve"))

  test("manifest row counts: DESCRIBE DETAIL n_rows, rowCountOf, and " +
    "the scan's CBO numRows are the exact count") {
    wh
    val t = freshName("rs_")
    spark.sql(s"CREATE TABLE graft.rs.$t (id BIGINT, v DOUBLE)")
    SnapshotSql.sql(spark, s"INSERT INTO graft.rs.$t " +
      "SELECT id, id * 1.0 FROM range(0, 1000)")
    SnapshotSql.sql(spark, s"INSERT INTO graft.rs.$t " +
      "SELECT id, id * 1.0 FROM range(1000, 1500)")
    val dir = dirOf(t)
    assert(SnapshotTable.snapshot(dir).rowCount === Some(1500L))
    val det = SnapshotSql.sql(spark, s"DESCRIBE DETAIL graft.rs.$t").head
    assert(det.getLong(det.fieldIndex("n_rows")) === 1500L)
    // the V2 relation's optimized stats carry the EXACT rowCount (what
    // the CBO joins/broadcast decisions consume)
    val stats = spark.table(s"graft.rs.$t")
      .queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(1500)))
  }

  test("row counts go UNKNOWN under deletion vectors (footers " +
    "overcount) and recover after OPTIMIZE") {
    wh
    val t = freshName("rsd_")
    spark.sql(s"CREATE TABLE graft.rs.$t (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")
    SnapshotSql.sql(spark, s"INSERT INTO graft.rs.$t " +
      "SELECT id, id * 1.0 FROM range(0, 100)")
    val dir = dirOf(t)
    assert(SnapshotTable.snapshot(dir).rowCount === Some(100L))
    SnapshotSql.sql(spark, s"DELETE FROM graft.rs.$t WHERE id < 10")
    // a DV'd snapshot must NOT claim the stale footer count
    assert(SnapshotTable.snapshot(dir).rowCount === None)
    val det = SnapshotSql.sql(spark, s"DESCRIBE DETAIL graft.rs.$t").head
    assert(det.isNullAt(det.fieldIndex("n_rows")))
    SnapshotSql.sql(spark, s"OPTIMIZE graft.rs.$t")
    assert(SnapshotTable.snapshot(dir).rowCount === Some(90L))
  }
}
