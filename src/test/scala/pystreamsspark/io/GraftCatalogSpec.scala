package pystreamsspark.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import pystreamsspark.SparkSpec

/** V2 catalog + SQL row-level DML over SnapshotTable (round-10 task 1):
  *  - catalog registration on a RUNTIME conf (no session rebuild), name
  *    resolution, CREATE/DROP/RENAME/list, namespaces;
  *  - SELECT and `VERSION AS OF` time travel through plain spark.sql
  *    (the native analyzer path — no interception);
  *  - MERGE INTO / UPDATE / DELETE / INSERT through [[SnapshotSql.sql]]
  *    (parsed-plan route, works on ANY session) and through plain
  *    spark.sql on a GraftExtensions session (resolution-rule route);
  *  - the SQL MERGE drives the SAME stats-pruned file-granular
  *    copy-on-write as the programmatic API: a narrow-key MERGE into a
  *    clustered table leaves the non-covering files carried by
  *    REFERENCE (same path strings in the child manifest).
  */
class GraftCatalogSpec extends SparkSpec {

  private lazy val wh = {
    val d = java.nio.file.Files.createTempDirectory("graft_wh_").toString
    SnapshotSql.register(spark, d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ns")
    d
  }

  private def freshName(prefix: String): String =
    prefix + java.util.UUID.randomUUID().toString.take(8)

  // the JVM-wide catalog instance pins ITS first-registered warehouse;
  // resolve the table's real directory through the session (what the
  // DML executor does) instead of assuming this suite's wh won the race
  private def dirOf(t: String): String =
    SnapshotSql.resolveTable(spark, Seq("graft", "ns", t)).getOrElse(
      fail(s"graft.ns.$t did not resolve"))

  import org.apache.spark.sql.Row

  private def mkTable(name: String, clustered: Boolean = false): String = {
    val props = if (clustered) " TBLPROPERTIES('clustercols'='id')" else ""
    spark.sql(s"CREATE TABLE graft.ns.$name (id BIGINT, status STRING, " +
      s"price DOUBLE)$props")
    name
  }

  test("catalog: create, list, exists, drop, rename") {
    wh
    val t = mkTable(freshName("cat_"))
    assert(spark.sql("SHOW TABLES IN graft.ns").collect()
      .map(_.getString(1)).contains(t))
    val t2 = freshName("cat2_")
    spark.sql(s"ALTER TABLE graft.ns.$t RENAME TO ns.$t2")
    assert(!spark.sql("SHOW TABLES IN graft.ns").collect()
      .map(_.getString(1)).contains(t))
    spark.sql(s"DROP TABLE graft.ns.$t2")
    assert(!spark.sql("SHOW TABLES IN graft.ns").collect()
      .map(_.getString(1)).contains(t2))
  }

  test("SQL INSERT + SELECT through the catalog (native read path)") {
    wh
    val t = mkTable(freshName("ins_"))
    SnapshotSql.sql(spark,
      s"INSERT INTO graft.ns.$t VALUES (1, 'A', 10.0), (2, 'B', 20.0)")
    SnapshotSql.sql(spark,
      s"INSERT INTO graft.ns.$t (id, status, price) SELECT 3, 'C', 30.0")
    val rows = spark.sql(s"SELECT id, status, price FROM graft.ns.$t " +
      "ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq === Seq((1L, "A", 10.0), (2L, "B", 20.0), (3L, "C", 30.0)))
    // filter pushdown reaches the parquet scan through the V2 table
    val plan = spark.sql(s"SELECT id FROM graft.ns.$t WHERE id = 2")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("id"))
  }

  test("SQL DELETE / UPDATE via SnapshotSql on a plain session") {
    wh
    val t = mkTable(freshName("dml_"))
    SnapshotSql.sql(spark, s"INSERT INTO graft.ns.$t VALUES " +
      "(1, 'A', 10.0), (2, 'B', 20.0), (3, 'A', 30.0), (4, 'B', 40.0)")
    SnapshotSql.sql(spark, s"DELETE FROM graft.ns.$t WHERE id % 2 = 0")
    SnapshotSql.sql(spark,
      s"UPDATE graft.ns.$t SET price = price * 2, status = 'U' WHERE id = 3")
    val rows = spark.sql(s"SELECT id, status, price FROM graft.ns.$t " +
      "ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq === Seq((1L, "A", 10.0), (3L, "U", 60.0)))
  }

  test("SQL MERGE upsert + WHEN MATCHED DELETE via SnapshotSql") {
    import spark.implicits._
    wh
    val t = mkTable(freshName("mrg_"))
    SnapshotSql.sql(spark, s"INSERT INTO graft.ns.$t VALUES " +
      "(1, 'A', 10.0), (2, 'B', 20.0), (3, 'C', 30.0)")
    Seq((2L, "U", 99.0), (9L, "N", 90.0)).toDF("id", "status", "price")
      .createOrReplaceTempView("mrg_src")
    SnapshotSql.sql(spark, s"MERGE INTO graft.ns.$t t USING mrg_src s " +
      "ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val rows = spark.sql(s"SELECT id, status, price FROM graft.ns.$t " +
      "ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq === Seq((1L, "A", 10.0), (2L, "U", 99.0), (3L, "C", 30.0),
        (9L, "N", 90.0)))
    // matched-delete form
    Seq(1L, 9L).toDF("id").createOrReplaceTempView("mrg_del")
    SnapshotSql.sql(spark, s"MERGE INTO graft.ns.$t t USING mrg_del s " +
      "ON t.id = s.id WHEN MATCHED THEN DELETE")
    assert(spark.sql(s"SELECT id FROM graft.ns.$t ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(2L, 3L))
  }

  test("VERSION AS OF time travel through plain spark.sql") {
    wh
    val t = mkTable(freshName("tt_"))
    SnapshotSql.sql(spark, s"INSERT INTO graft.ns.$t VALUES (1, 'A', 1.0)") // v2
    SnapshotSql.sql(spark, s"INSERT INTO graft.ns.$t VALUES (2, 'B', 2.0)") // v3
    SnapshotSql.sql(spark, s"DELETE FROM graft.ns.$t WHERE id = 1")         // v4
    assert(spark.sql(s"SELECT count(*) FROM graft.ns.$t VERSION AS OF 2")
      .head.getLong(0) === 1L)
    assert(spark.sql(s"SELECT count(*) FROM graft.ns.$t VERSION AS OF 3")
      .head.getLong(0) === 2L)
    assert(spark.sql(s"SELECT id FROM graft.ns.$t").collect()
      .map(_.getLong(0)).toSeq === Seq(2L))
    // INSERT OVERWRITE replaces contents under a new version
    SnapshotSql.sql(spark,
      s"INSERT OVERWRITE graft.ns.$t VALUES (7, 'Z', 7.0)")
    assert(spark.sql(s"SELECT id FROM graft.ns.$t").collect()
      .map(_.getLong(0)).toSeq === Seq(7L))
    assert(spark.sql(s"SELECT id FROM graft.ns.$t VERSION AS OF 4")
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("TIMESTAMP AS OF time travel through plain spark.sql") {
    wh
    val t = mkTable(freshName("tts_"))
    SnapshotSql.sql(spark, s"INSERT INTO graft.ns.$t VALUES (1, 'A', 1.0)") // v2
    Thread.sleep(30)
    val between = System.currentTimeMillis
    Thread.sleep(30)
    SnapshotSql.sql(spark, s"INSERT INTO graft.ns.$t VALUES (2, 'B', 2.0)") // v3
    // render the instant in the session timezone (UTC in this suite)
    val lit = java.time.Instant.ofEpochMilli(between)
      .atZone(java.time.ZoneId.of("UTC"))
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    assert(spark.sql(
      s"SELECT count(*) FROM graft.ns.$t TIMESTAMP AS OF '$lit'")
      .head.getLong(0) === 1L)
    assert(spark.sql(s"SELECT count(*) FROM graft.ns.$t").head.getLong(0) === 2L)
    // asking for a time before any commit fails loudly
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.ns.$t TIMESTAMP AS OF " +
        "'1999-01-01 00:00:00'").collect()
    }
  }

  test("plain spark.sql DML works on a GraftExtensions session") {
    wh // force shared-session catalog + namespace first
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ext-dml")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new pystreamsspark.GraftExtensions().apply(_))
      .getOrCreate()
    try {
      SnapshotSql.register(ext, wh)
      val t = freshName("ext_")
      ext.sql(s"CREATE TABLE graft.ns.$t (id BIGINT, status STRING, " +
        "price DOUBLE)")
      ext.sql(s"INSERT INTO graft.ns.$t VALUES " +
        "(1, 'A', 10.0), (2, 'B', 20.0), (3, 'C', 30.0)")
      ext.sql(s"UPDATE graft.ns.$t SET price = price + 1.0 WHERE id >= 2")
      ext.sql(s"DELETE FROM graft.ns.$t WHERE id = 1")
      import ext.implicits._
      Seq((3L, "U", 0.0), (4L, "N", 44.0)).toDF("id", "status", "price")
        .createOrReplaceTempView("ext_src")
      ext.sql(s"MERGE INTO graft.ns.$t t USING ext_src s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      val rows = ext.sql(s"SELECT id, status, price FROM graft.ns.$t " +
        "ORDER BY id").collect()
      assert(rows.map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .toSeq === Seq((2L, "B", 21.0), (3L, "U", 0.0), (4L, "N", 44.0)))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevActive.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("SQL MERGE into a clustered table is stats-pruned file-granular " +
    "copy-on-write (untouched files carried by reference)") {
    import spark.implicits._
    wh
    val t = freshName("clus_")
    spark.sql(s"CREATE TABLE graft.ns.$t (id BIGINT, status STRING, " +
      "price DOUBLE) TBLPROPERTIES('clustercols'='id')")
    // 4 range-clustered files over ids 0..3999 (writeShaped shapes the
    // INSERT batch on the cluster key because the table is clustered)
    spark.range(0, 4000).select($"id", lit("A").as("status"),
        ($"id" * 1.0).as("price"))
      .createOrReplaceTempView("clus_base")
    SnapshotSql.sql(spark, s"INSERT INTO graft.ns.$t SELECT * FROM clus_base")
    val dir = dirOf(t)
    val preFiles = SnapshotTable.filePaths(dir).toSet
    assert(preFiles.size >= 4)
    // a narrow-key update batch: ids 100..119 — covered by ONE file
    spark.range(100, 120).select($"id", lit("U").as("status"),
        lit(0.0).as("price"))
      .createOrReplaceTempView("clus_upd")
    // the stats-pruned discovery the SQL merge must hit: strictly fewer
    // candidate files than the table holds
    val cand = SnapshotTable.discoveryCandidates(spark, dir,
      spark.table("clus_upd"), Seq("id"))
    assert(cand.size < preFiles.size,
      s"expected pruning: ${cand.size} vs ${preFiles.size}")
    SnapshotSql.sql(spark, s"MERGE INTO graft.ns.$t t USING clus_upd s " +
      "ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val postFiles = SnapshotTable.filePaths(dir).toSet
    // untouched files carried by REFERENCE: every pre-merge file except
    // the (pruned) touched candidates is still in the child manifest
    val carried = preFiles.intersect(postFiles)
    assert(carried.size >= preFiles.size - cand.size,
      s"carried ${carried.size} of ${preFiles.size} (cand ${cand.size})")
    assert(carried.size < preFiles.size) // something WAS rewritten
    // and the merge answered correctly
    assert(spark.sql(s"SELECT count(*) FROM graft.ns.$t WHERE status = 'U'")
      .head.getLong(0) === 20L)
    assert(spark.sql(s"SELECT count(*) FROM graft.ns.$t")
      .head.getLong(0) === 4000L)
  }

  test("maintenance SQL: DESCRIBE HISTORY / OPTIMIZE / VACUUM " +
    "(parsed-plan route + injected parser)") {
    wh
    val t = mkTable(freshName("mnt_"))
    SnapshotSql.sql(spark, s"INSERT INTO graft.ns.$t VALUES (1, 'A', 1.0)")
    SnapshotSql.sql(spark, s"INSERT INTO graft.ns.$t VALUES (2, 'B', 2.0)")
    SnapshotSql.sql(spark, s"DELETE FROM graft.ns.$t WHERE id = 1")
    val hist = SnapshotSql.sql(spark, s"DESCRIBE HISTORY graft.ns.$t")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(hist.map(_._2).toSeq ===
      Seq("create", "append", "append", "delete"))
    // OPTIMIZE compacts to the requested file count under a new version
    val v = SnapshotSql.sql(spark, s"OPTIMIZE graft.ns.$t FILES 1")
      .head.getInt(0)
    assert(v === 5)
    assert(SnapshotTable.filePaths(dirOf(t)).size === 1)
    // VACUUM RETAIN 1 VERSIONS drops history; reads stay correct
    val kept = SnapshotSql.sql(spark,
      s"VACUUM graft.ns.$t RETAIN 1 VERSIONS").head.getInt(0)
    assert(kept === 1)
    assert(spark.sql(s"SELECT id FROM graft.ns.$t ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(2L))
    intercept[Exception] { // pre-vacuum versions are gone
      spark.sql(s"SELECT * FROM graft.ns.$t VERSION AS OF 2").collect()
    }
    // the INJECTED PARSER route: plain ext.sql on an extensions session
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ext-parser")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new pystreamsspark.GraftExtensions().apply(_))
      .getOrCreate()
    try {
      // register the ext session with the warehouse the table ACTUALLY
      // lives in (the shared session's catalog may be pinned to an
      // earlier suite's warehouse — suite-order independence)
      val effWh = new java.io.File(dirOf(t))
        .getParentFile.getParentFile.getAbsolutePath
      SnapshotSql.register(ext, effWh)
      val h2 = ext.sql(s"DESCRIBE HISTORY graft.ns.$t").collect()
      assert(h2.map(_.getString(1)).toSeq === Seq("compact"))
      // and plain SQL still parses normally through the delegate
      assert(ext.sql("SELECT 1 + 1 AS two").head.getInt(0) === 2)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevActive.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("OPTIMIZE materializes deletion vectors away, restoring SQL reads") {
    wh
    val t = mkTable(freshName("mor_"))
    SnapshotSql.sql(spark, s"INSERT INTO graft.ns.$t VALUES " +
      "(1, 'A', 1.0), (2, 'B', 2.0), (3, 'C', 3.0)")
    val dir = dirOf(t)
    SnapshotTable.deleteVectors(spark, dir, "id = 2")
    // a raw V2 scan cannot apply the DV anti-join — refused loudly
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.ns.$t").collect()
    }
    SnapshotSql.sql(spark, s"OPTIMIZE graft.ns.$t FILES 1")
    assert(spark.sql(s"SELECT id FROM graft.ns.$t ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 3L))
  }

  test("ALTER TABLE ADD COLUMNS evolves schema metadata-only; old rows " +
    "null-fill") {
    wh
    val t = mkTable(freshName("alter_"))
    SnapshotSql.sql(spark, s"INSERT INTO graft.ns.$t VALUES (1, 'A', 1.0)")
    spark.sql(s"ALTER TABLE graft.ns.$t ADD COLUMNS (qty INT, note STRING)")
    val row = spark.table(s"graft.ns.$t").collect().head
    assert(row.length === 5 && row.isNullAt(3) && row.isNullAt(4))
    // new appends carry the evolved columns; old files keep null-filling
    SnapshotSql.sql(spark,
      s"INSERT INTO graft.ns.$t VALUES (2, 'B', 2.0, 7, 'x')")
    val rows = spark.table(s"graft.ns.$t").collect().sortBy(_.getLong(0))
    assert(rows(0).isNullAt(3) && rows(1).getInt(3) === 7)
    // no data files were rewritten by the evolve commit itself
    val dir = dirOf(t)
    val hist = SnapshotTable.history(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1))).toMap
    assert(hist.values.toSeq.contains("evolve"))
    // DROP COLUMN is metadata-only since r11 (column mapping retires
    // the physical name; ColumnMappingSpec owns the full law set)
    spark.sql(s"ALTER TABLE graft.ns.$t DROP COLUMN note")
    assert(!spark.table(s"graft.ns.$t").columns.contains("note"))
    // a lossy type change is still refused loudly
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.ns.$t ALTER COLUMN price TYPE INT")
    }
  }

  test("RESTORE TABLE TO VERSION AS OF undoes a delete; epochs stay " +
    "committed") {
    wh
    val t = mkTable(freshName("rest_"))
    SnapshotSql.sql(spark, s"INSERT INTO graft.ns.$t VALUES " +
      "(1, 'A', 1.0), (2, 'B', 2.0), (3, 'C', 3.0)") // v2
    val dir = dirOf(t)
    // a streaming epoch lands before the damage
    SnapshotTable.appendEpoch(spark, dir,
      spark.sql("SELECT CAST(4 AS BIGINT) id, 'D' status, CAST(4.0 AS DOUBLE) price"),
      epochId = 17L) // v3
    SnapshotSql.sql(spark, s"DELETE FROM graft.ns.$t WHERE id <= 2") // v4
    assert(spark.table(s"graft.ns.$t").count() === 2)
    val out = SnapshotSql.sql(spark,
      s"RESTORE TABLE graft.ns.$t TO VERSION AS OF 3")
    assert(out.head.getInt(0) === 5) // the restore is itself a commit
    assert(spark.table(s"graft.ns.$t").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 3L, 4L))
    // the undone version stays time-travelable
    assert(spark.sql(s"SELECT * FROM graft.ns.$t VERSION AS OF 4").count() === 2)
    // epoch 17 is STILL recorded: a replay after restore must not
    // double-apply
    val before = SnapshotTable.latestVersion(dir)
    SnapshotTable.appendEpoch(spark, dir,
      spark.sql("SELECT CAST(9 AS BIGINT) id, 'Z' status, CAST(9.0 AS DOUBLE) price"),
      epochId = 17L)
    assert(SnapshotTable.latestVersion(dir) === before)
    // vacuum after restore keeps the restored files readable
    SnapshotSql.sql(spark, s"VACUUM graft.ns.$t RETAIN 1 VERSIONS")
    assert(spark.table(s"graft.ns.$t").count() === 4)
  }

  test("RESTORE TO TIMESTAMP AS OF resolves by commit time") {
    wh
    val t = mkTable(freshName("restts_"))
    SnapshotSql.sql(spark, s"INSERT INTO graft.ns.$t VALUES (1, 'A', 1.0)")
    Thread.sleep(30)
    val mid = java.time.LocalDateTime.now(java.time.ZoneId.of(
      spark.sessionState.conf.sessionLocalTimeZone))
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    Thread.sleep(30)
    SnapshotSql.sql(spark, s"INSERT INTO graft.ns.$t VALUES (2, 'B', 2.0)")
    SnapshotSql.sql(spark,
      s"RESTORE TABLE graft.ns.$t TO TIMESTAMP AS OF '$mid'")
    assert(spark.table(s"graft.ns.$t").collect().map(_.getLong(0)).toSeq
      === Seq(1L))
  }

  test("CTAS / writeTo / plain-session INSERT ride the V1 write fallback") {
    import spark.implicits._
    wh
    val t = freshName("ctas_")
    // CREATE TABLE AS SELECT end-to-end (create + batch append)
    spark.sql(s"CREATE TABLE graft.ns.$t AS " +
      "SELECT id, id * 2.0 AS v FROM range(10)")
    assert(spark.table(s"graft.ns.$t").count() === 10)
    // plain spark.sql INSERT INTO — no SnapshotSql, no extensions
    spark.sql(s"INSERT INTO graft.ns.$t SELECT id, id * 2.0 FROM range(10, 12)")
    assert(spark.table(s"graft.ns.$t").count() === 12)
    // DataFrameWriterV2 append
    Seq((100L, 1.5)).toDF("id", "v").writeTo(s"graft.ns.$t").append()
    assert(spark.table(s"graft.ns.$t").count() === 13)
    // INSERT OVERWRITE truncates under a new version; history intact
    spark.sql(s"INSERT OVERWRITE graft.ns.$t SELECT id, 0.0 FROM range(3)")
    assert(spark.table(s"graft.ns.$t").count() === 3)
    assert(spark.sql(s"SELECT count(*) FROM graft.ns.$t VERSION AS OF 4")
      .head.getLong(0) === 13)
    // a version-pinned snapshot refuses writes
    intercept[Exception] {
      spark.sql(s"INSERT INTO graft.ns.$t VERSION AS OF 2 VALUES (9, 9.0)")
    }
  }

  test("CREATE OR REPLACE TABLE AS SELECT replaces contents and schema") {
    wh
    val t = freshName("rtas_")
    spark.sql(s"CREATE TABLE graft.ns.$t AS SELECT id FROM range(5)")
    spark.sql(s"CREATE OR REPLACE TABLE graft.ns.$t AS " +
      "SELECT id, id * 2 AS v FROM range(7)")
    val df = spark.table(s"graft.ns.$t")
    assert(df.count() === 7 && df.columns.toSeq === Seq("id", "v"))
  }

  test("SHOW TBLPROPERTIES exposes the declared layout") {
    wh
    val t = freshName("props_")
    spark.sql(s"CREATE TABLE graft.ns.$t (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('bucketcols'='id', 'buckets'='4')")
    val props = spark.sql(s"SHOW TBLPROPERTIES graft.ns.$t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("bucketcols").contains("id") &&
      props.get("buckets").contains("4"))
  }

  test("DESCRIBE DETAIL reports the table layout") {
    wh
    val t = freshName("det_")
    spark.sql(s"CREATE TABLE graft.ns.$t " +
      "TBLPROPERTIES ('bucketcols'='id', 'buckets'='4') AS " +
      "SELECT id, id * 1.0 AS v FROM range(50)")
    val r = SnapshotSql.sql(spark, s"DESCRIBE DETAIL graft.ns.$t").head
    assert(r.getString(0) === dirOf(t))
    assert(r.getInt(1) === 2 && r.getInt(2) > 0 && r.getInt(3) === 0)
    assert(r.isNullAt(4) && r.getString(5) === "id" && r.getInt(6) === 4)
  }

  test("CTAS into a bucketed layout keeps the write law") {
    wh
    val t = freshName("ctasb_")
    spark.sql(s"CREATE TABLE graft.ns.$t " +
      "TBLPROPERTIES ('bucketcols'='id', 'buckets'='4') AS " +
      "SELECT id, id * 1.0 AS v FROM range(100)")
    assert(spark.table(s"graft.ns.$t").count() === 100)
    val dir = dirOf(t)
    val buckets = SnapshotTable.snapshot(dir).fileBuckets
    assert(buckets.nonEmpty &&
      buckets.size === SnapshotTable.filePaths(dir).size,
      "CTAS batch must land bucket-tagged")
  }

  test("OPTIMIZE ZORDER BY re-clusters for multi-dimensional pruning") {
    wh
    val t = freshName("zord_")
    // two INDEPENDENT uniform dims: a lexicographic sort on x would
    // leave y full-range in every file — the z-layout must prune BOTH
    spark.sql(s"CREATE TABLE graft.ns.$t AS " +
      "SELECT id, CAST(id % 97 AS BIGINT) AS x, " +
      "CAST((id * 31) % 89 AS BIGINT) AS y FROM range(20000)")
    val dir = dirOf(t)
    val before = spark.table(s"graft.ns.$t").collect()
      .map(_.getLong(0)).sorted
    val out = SnapshotSql.sql(spark,
      s"OPTIMIZE graft.ns.$t ZORDER BY (x, y) FILES 16")
    assert(out.head.getInt(0) === 3) // CTAS create=1, insert=2, zorder=3
    // content identical through the rewrite
    assert(spark.table(s"graft.ns.$t").collect().map(_.getLong(0)).sorted
      === before)
    // the declared dims became the table's stats columns…
    val det = SnapshotSql.sql(spark, s"DESCRIBE DETAIL graft.ns.$t").head
    assert(det.getString(4) === "x,y")
    // …and a 2-D box opens a small fraction of the files on BOTH dims
    val total = SnapshotTable.filePaths(dir).size
    val boxed = SnapshotTable.readCandidates(dir,
      Map("x" -> ("10", "30"), "y" -> ("10", "30")), None)
    assert(boxed.size < total,
      s"z-layout must prune the box: ${boxed.size} of $total")
    // exactness: pruned read ≡ filtered full read
    val got = SnapshotTable.readWhere(spark, dir,
      Map("x" -> ("10", "30"), "y" -> ("10", "30")))
      .collect().map(_.getLong(0)).sorted
    val want = spark.table(s"graft.ns.$t")
      .filter("x BETWEEN 10 AND 30 AND y BETWEEN 10 AND 30")
      .collect().map(_.getLong(0)).sorted
    assert(got === want && got.nonEmpty)
    // refused on bucketed tables (contradictory layouts)
    val b = freshName("zordb_")
    spark.sql(s"CREATE TABLE graft.ns.$b (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('bucketcols'='id','buckets'='4')")
    intercept[Exception] {
      SnapshotSql.sql(spark, s"OPTIMIZE graft.ns.$b ZORDER BY (id)")
    }
  }

  test("formerly-unsupported MERGE forms run on the general path: " +
    "non-star assignments and a theta ON condition") {
    import spark.implicits._
    wh
    val t = mkTable(freshName("gen_"))
    SnapshotSql.sql(spark, s"INSERT INTO graft.ns.$t VALUES (1, 'A', 1.0)")
    Seq((1L, "X", 10.0)).toDF("id", "status", "price")
      .createOrReplaceTempView("gen_src")
    // non-star assignment (round-9 refusal #1) → generalMerge
    SnapshotSql.sql(spark, s"MERGE INTO graft.ns.$t t USING gen_src s " +
      "ON t.id = s.id WHEN MATCHED THEN UPDATE SET price = s.price + 1")
    assert(spark.sql(s"SELECT price FROM graft.ns.$t").head.getDouble(0)
      === 11.0)
    // theta ON (round-9 refusal #2): 1 > 1 is false → no match → the
    // star INSERT fires; the table then holds both id=1 rows
    SnapshotSql.sql(spark, s"MERGE INTO graft.ns.$t t USING gen_src s " +
      "ON t.id > s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val rows = spark.sql(s"SELECT id, status, price FROM graft.ns.$t " +
      "ORDER BY price").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(rows === Seq((1L, "X", 10.0), (1L, "A", 11.0)))
  }

  test("mixed-kind ALTER pre-validates every change before the first " +
    "commit (r11 ADVICE: no half-applied statements)") {
    wh
    val t = freshName("alter_atomic_")
    spark.sql(s"CREATE TABLE graft.ns.$t (id BIGINT, a INT, b STRING) " +
      "TBLPROPERTIES('check'='id >= 0')")
    val dir = dirOf(t)
    val v0 = SnapshotTable.latestVersion(dir)
    // one catalog call mixing a valid ADD with an invalid RENAME (the
    // CHECK references id): NOTHING may commit
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("ns"), t)
    val e = intercept[Exception] {
      cat.alterTable(ident,
        org.apache.spark.sql.connector.catalog.TableChange.addColumn(
          Array("c"), org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.connector.catalog.TableChange.renameColumn(
          Array("id"), "ident"))
    }
    assert(e.getMessage.contains("CHECK"))
    assert(SnapshotTable.latestVersion(dir) === v0,
      "a failing mixed ALTER must commit nothing")
    assert(SnapshotTable.schemaOf(dir).fieldNames.toSeq ===
      Seq("id", "a", "b"))
    // an invalid WIDEN mixed with a valid DROP: nothing commits either
    val e2 = intercept[Exception] {
      cat.alterTable(ident,
        org.apache.spark.sql.connector.catalog.TableChange.deleteColumn(
          Array("b"), false),
        org.apache.spark.sql.connector.catalog.TableChange.updateColumnType(
          Array("a"), org.apache.spark.sql.types.StringType))
    }
    assert(e2.getMessage.contains("widening"))
    assert(SnapshotTable.latestVersion(dir) === v0)
    assert(SnapshotTable.schemaOf(dir).fieldNames.toSeq ===
      Seq("id", "a", "b"))
    // SAME-KIND sequential interaction (r12 review): dropping all but
    // zero columns in ONE statement must fail BEFORE the first drop
    // commits — the validator simulates the statement's own sequence
    val t2 = freshName("alter_atomic2_")
    spark.sql(s"CREATE TABLE graft.ns.$t2 (x BIGINT, y BIGINT)")
    val dir2 = dirOf(t2)
    val ident2 = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("ns"), t2)
    val e3 = intercept[Exception] {
      cat.alterTable(ident2,
        org.apache.spark.sql.connector.catalog.TableChange.deleteColumn(
          Array("x"), false),
        org.apache.spark.sql.connector.catalog.TableChange.deleteColumn(
          Array("y"), false))
    }
    assert(e3.getMessage.contains("only column"))
    assert(SnapshotTable.latestVersion(dir2) === 1)
    assert(SnapshotTable.schemaOf(dir2).fieldNames.toSeq === Seq("x", "y"))
  }
}
