package pystreamsspark.io

import org.apache.spark.sql.SparkSession
import pystreamsspark.SparkSpec

/** Merge-on-read DELETE/UPDATE through SQL (round-10 cont.):
  * `TBLPROPERTIES('delete.mode'/'update.mode'='merge-on-read')` routes
  * SQL DELETE to [[SnapshotTable.deleteVectors]] and SQL UPDATE to
  * [[SnapshotTable.updateVectors]] — zero data-file rewrites, O(batch)
  * sidecar+append writes — and the GraftExtensions
  * [[pystreamsspark.plans.SnapshotDvReadRule]] makes plain `spark.sql`
  * SELECTs of DV-carrying snapshots work (DV-aware plan swapped in,
  * exprId-aligned), while plain sessions keep refusing loudly. */
class MorSqlSpec extends SparkSpec {

  private lazy val wh = {
    val d = java.nio.file.Files.createTempDirectory("graft_mor_wh_").toString
    SnapshotSql.register(spark, d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mor")
    d
  }

  private def freshName(prefix: String): String =
    prefix + java.util.UUID.randomUUID().toString.take(8)

  private def dirOf(t: String): String =
    SnapshotSql.resolveTable(spark, Seq("graft", "mor", t)).getOrElse(
      fail(s"graft.mor.$t did not resolve"))

  private def mkMorTable(props: String): String = {
    wh
    val t = freshName("mor_")
    spark.sql(s"CREATE TABLE graft.mor.$t (id BIGINT, status STRING, " +
      s"price DOUBLE) TBLPROPERTIES($props)")
    SnapshotSql.sql(spark, s"INSERT INTO graft.mor.$t VALUES " +
      "(1,'A',10.0),(2,'B',20.0),(3,'A',30.0),(4,'B',40.0),(5,'C',50.0)")
    t
  }

  private def readRows(dir: String): Seq[(Long, String, Double)] =
    SnapshotTable.read(spark, dir)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq

  test("SQL DELETE on a delete.mode=merge-on-read table writes a DV, " +
    "rewrites NO data files, and reads exclude the rows") {
    val t = mkMorTable("'delete.mode'='merge-on-read'")
    val dir = dirOf(t)
    val preFiles = SnapshotTable.filePaths(dir).toSet
    SnapshotSql.sql(spark, s"DELETE FROM graft.mor.$t WHERE status = 'A'")
    // zero data-file rewrites: the file set is IDENTICAL
    assert(SnapshotTable.filePaths(dir).toSet === preFiles)
    assert(SnapshotTable.snapshot(dir).hasDeletionVectors)
    // the op is recorded as the DV form
    val hist = SnapshotSql.sql(spark, s"DESCRIBE HISTORY graft.mor.$t")
      .collect().map(_.getString(1)).toSeq
    assert(hist.contains("delete-dv"))
    assert(readRows(dir) === Seq((2L, "B", 20.0), (4L, "B", 40.0),
      (5L, "C", 50.0)))
  }

  test("SQL UPDATE on an update.mode=merge-on-read table DV-marks + " +
    "appends images; content matches the CoW twin") {
    val t = mkMorTable("'update.mode'='merge-on-read'")
    val tCow = mkMorTable("'delete.mode'='copy-on-write'")
    val dir = dirOf(t); val dirCow = dirOf(tCow)
    val preFiles = SnapshotTable.filePaths(dir).toSet
    val stmt = "SET price = price * 2, status = 'U' WHERE id >= 3"
    SnapshotSql.sql(spark, s"UPDATE graft.mor.$t $stmt")
    SnapshotSql.sql(spark, s"UPDATE graft.mor.$tCow $stmt")
    // every pre-update file is still present (DV-marked, not rewritten);
    // the appended image batch is the only new data
    assert(preFiles.subsetOf(SnapshotTable.filePaths(dir).toSet))
    assert(SnapshotTable.snapshot(dir).hasDeletionVectors)
    val hist = SnapshotSql.sql(spark, s"DESCRIBE HISTORY graft.mor.$t")
      .collect().map(_.getString(1)).toSeq
    assert(hist.contains("update-dv"))
    assert(readRows(dir) === readRows(dirCow))
    assert(readRows(dir) === Seq((1L, "A", 10.0), (2L, "B", 20.0),
      (3L, "U", 60.0), (4L, "U", 80.0), (5L, "U", 100.0)))
  }

  test("stacked MoR updates compose (live reads feed the next update), " +
    "and MoR delete sees updated values") {
    val t = mkMorTable("'update.mode'='merge-on-read'," +
      "'delete.mode'='merge-on-read'")
    val dir = dirOf(t)
    SnapshotSql.sql(spark, s"UPDATE graft.mor.$t SET price = price + 1.0 " +
      "WHERE id = 1")
    SnapshotSql.sql(spark, s"UPDATE graft.mor.$t SET price = price + 1.0 " +
      "WHERE id = 1")
    assert(readRows(dir).head === ((1L, "A", 12.0)))
    // the delete predicate evaluates against the LIVE (updated) values
    SnapshotSql.sql(spark, s"DELETE FROM graft.mor.$t WHERE price = 12.0")
    assert(readRows(dir).map(_._1) === Seq(2L, 3L, 4L, 5L))
  }

  test("SQL MERGE on a merge.mode=merge-on-read table DV-marks actioned " +
    "rows and appends images+inserts; content matches the CoW twin") {
    val t = mkMorTable("'merge.mode'='merge-on-read'")
    val tCow = mkMorTable("'delete.mode'='copy-on-write'")
    val dir = dirOf(t); val dirCow = dirOf(tCow)
    val preFiles = SnapshotTable.filePaths(dir).toSet
    import spark.implicits._
    Seq((2L, "x", 999.0), (3L, "x", 1.0), (9L, "n", 90.0))
      .toDF("id", "status", "price").createOrReplaceTempView("mor_merge_src")
    val stmt = "USING mor_merge_src s ON t.id = s.id " +
      "WHEN MATCHED AND s.price > 100.0 THEN UPDATE SET price = s.price " +
      "WHEN MATCHED THEN DELETE " +
      "WHEN NOT MATCHED THEN INSERT * " +
      "WHEN NOT MATCHED BY SOURCE AND t.status = 'C' THEN " +
      "UPDATE SET status = 'STALE'"
    SnapshotSql.sql(spark, s"MERGE INTO graft.mor.$t t $stmt")
    SnapshotSql.sql(spark, s"MERGE INTO graft.mor.$tCow t $stmt")
    // MoR: every pre-merge data file still present, DVs recorded,
    // op is the DV form
    assert(preFiles.subsetOf(SnapshotTable.filePaths(dir).toSet))
    assert(SnapshotTable.snapshot(dir).hasDeletionVectors)
    val hist = SnapshotSql.sql(spark, s"DESCRIBE HISTORY graft.mor.$t")
      .collect().map(_.getString(1)).toSeq
    assert(hist.contains("merge-dv"))
    assert(readRows(dir) === readRows(dirCow))
    assert(readRows(dir) === Seq((1L, "A", 10.0), (2L, "B", 999.0),
      (4L, "B", 40.0), (5L, "STALE", 50.0), (9L, "n", 90.0)))
    // the star-upsert shape ALSO routes through the DV form on a
    // merge.mode table (no covering-file rewrite for a narrow upsert)
    val files2 = SnapshotTable.filePaths(dir).toSet
    Seq((4L, "U", 44.0), (10L, "N", 100.0))
      .toDF("id", "status", "price").createOrReplaceTempView("mor_ups_src")
    SnapshotSql.sql(spark, s"MERGE INTO graft.mor.$t t USING mor_ups_src s " +
      "ON t.id = s.id WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(files2.subsetOf(SnapshotTable.filePaths(dir).toSet))
    assert(readRows(dir).filter(r => r._1 == 4L || r._1 == 10L) ===
      Seq((4L, "U", 44.0), (10L, "N", 100.0)))
    spark.catalog.dropTempView("mor_merge_src")
    spark.catalog.dropTempView("mor_ups_src")
  }

  test("plain-session SELECT of a DV'd snapshot refuses loudly; " +
    "OPTIMIZE materializes the DVs and restores it; time travel to the " +
    "pre-delete version stays native") {
    val t = mkMorTable("'delete.mode'='merge-on-read'")
    val dir = dirOf(t)
    val preVersion = SnapshotTable.latestVersion(dir)
    SnapshotSql.sql(spark, s"DELETE FROM graft.mor.$t WHERE id = 1")
    val e = intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM graft.mor.$t").collect()
    }
    assert(e.getMessage.contains("deletion vectors") ||
      Option(e.getCause).exists(_.getMessage.contains("deletion vectors")))
    // the PRE-delete version carries no DVs — native time travel works
    assert(spark.sql(
      s"SELECT count(*) FROM graft.mor.$t VERSION AS OF $preVersion")
      .head.getLong(0) === 5L)
    SnapshotSql.sql(spark, s"OPTIMIZE graft.mor.$t")
    assert(!SnapshotTable.snapshot(dir).hasDeletionVectors)
    assert(spark.sql(s"SELECT count(*) FROM graft.mor.$t")
      .head.getLong(0) === 4L)
  }

  test("GraftExtensions session: plain spark.sql SELECT of a DV'd " +
    "snapshot takes the DV-aware rewrite and answers correctly") {
    wh
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ext-mor")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new pystreamsspark.GraftExtensions().apply(_))
      .getOrCreate()
    try {
      SnapshotSql.register(ext, wh)
      ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.mor")
      val t = freshName("morext_")
      ext.sql(s"CREATE TABLE graft.mor.$t (id BIGINT, status STRING, " +
        "price DOUBLE) TBLPROPERTIES('delete.mode'='merge-on-read'," +
        "'update.mode'='merge-on-read')")
      ext.sql(s"INSERT INTO graft.mor.$t VALUES " +
        "(1,'A',10.0),(2,'B',20.0),(3,'A',30.0),(4,'B',40.0),(5,'C',50.0)")
      ext.sql(s"DELETE FROM graft.mor.$t WHERE status = 'A'")
      ext.sql(s"UPDATE graft.mor.$t SET price = price * 10 WHERE id = 5")
      // plain spark.sql SELECT — the DV-aware rewrite serves it, with
      // filters/aggregates composing above the swapped-in plan
      val rows = ext.sql(s"SELECT id, status, price FROM graft.mor.$t " +
        "ORDER BY id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
      assert(rows === Seq((2L, "B", 20.0), (4L, "B", 40.0),
        (5L, "C", 500.0)))
      assert(ext.sql(s"SELECT count(*) FROM graft.mor.$t WHERE price " +
        "> 30.0").head.getLong(0) === 2L)
      // SHOW TBLPROPERTIES exposes the declared row-level modes
      val props = ext.sql(s"SHOW TBLPROPERTIES graft.mor.$t").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      assert(props.get("delete.mode").contains("merge-on-read"))
      assert(props.get("update.mode").contains("merge-on-read"))
      // a DML targeting a FOREIGN table with the DV'd graft table as
      // its SOURCE still gets the DV-aware rewrite (the skip applies
      // only to graft-targeted DML)
      val plain = "plain_mor_" + java.util.UUID.randomUUID().toString.take(8)
      ext.sql(s"CREATE TABLE spark_catalog.default.$plain " +
        "(id BIGINT, status STRING, price DOUBLE) USING parquet")
      try {
        ext.sql(s"INSERT INTO spark_catalog.default.$plain " +
          s"SELECT id, status, price FROM graft.mor.$t")
        assert(ext.sql(s"SELECT count(*) FROM spark_catalog.default.$plain")
          .head.getLong(0) === 3L)
      } finally ext.sql(s"DROP TABLE spark_catalog.default.$plain")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevActive.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
