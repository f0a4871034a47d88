package pystreamsspark.io

import pystreamsspark.SparkSpec

/** CHECK constraints (round-10 cont.): declared once
  * (`TBLPROPERTIES('check'='<predicate>')`), enforced at the ONE batch
  * write funnel every path shares — INSERT, MERGE inserts/images, COPY
  * INTO — with SQL NULL semantics (unknown passes), loud violation
  * errors that abort BEFORE any commit, and the declaration carried
  * through later commits and compaction. */
class CheckConstraintSpec extends SparkSpec {

  private lazy val wh = {
    val d = java.nio.file.Files.createTempDirectory("graft_ck_wh_").toString
    SnapshotSql.register(spark, d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ck")
    d
  }

  private def freshName(prefix: String): String =
    prefix + java.util.UUID.randomUUID().toString.take(8)

  private def dirOf(t: String): String =
    SnapshotSql.resolveTable(spark, Seq("graft", "ck", t)).getOrElse(
      fail(s"graft.ck.$t did not resolve"))

  test("violating INSERT aborts before commit; valid and NULL rows pass") {
    wh
    val t = freshName("ck_")
    spark.sql(s"CREATE TABLE graft.ck.$t (id BIGINT, price DOUBLE) " +
      "TBLPROPERTIES('check'='price >= 0.0')")
    SnapshotSql.sql(spark, s"INSERT INTO graft.ck.$t VALUES (1, 10.0)")
    // NULL predicate = unknown = passes (SQL CHECK semantics)
    SnapshotSql.sql(spark, s"INSERT INTO graft.ck.$t VALUES (2, NULL)")
    val dir = dirOf(t)
    val v = SnapshotTable.latestVersion(dir)
    val e = intercept[Exception] {
      SnapshotSql.sql(spark, s"INSERT INTO graft.ck.$t VALUES (3, -1.0)")
    }
    assert(e.getMessage.contains("CHECK constraint violated") ||
      Option(e.getCause).exists(
        _.getMessage.contains("CHECK constraint violated")))
    // nothing committed, nothing half-written
    assert(SnapshotTable.latestVersion(dir) === v)
    assert(spark.sql(s"SELECT count(*) FROM graft.ck.$t")
      .head.getLong(0) === 2L)
  }

  test("MERGE images and inserts are checked; UPDATE rewrite too") {
    import spark.implicits._
    wh
    val t = freshName("ckm_")
    spark.sql(s"CREATE TABLE graft.ck.$t (id BIGINT, price DOUBLE) " +
      "TBLPROPERTIES('check'='price >= 0.0')")
    SnapshotSql.sql(spark, s"INSERT INTO graft.ck.$t VALUES (1, 10.0)")
    Seq((1L, 5.0), (2L, 6.0)).toDF("id", "price")
      .createOrReplaceTempView("ck_src")
    // a conditional merge whose UPDATE would drive price negative
    intercept[Exception] {
      SnapshotSql.sql(spark, s"MERGE INTO graft.ck.$t t USING ck_src s " +
        "ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET price = s.price - 100.0")
    }
    // the valid form lands
    SnapshotSql.sql(spark, s"MERGE INTO graft.ck.$t t USING ck_src s " +
      "ON t.id = s.id WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(spark.sql(s"SELECT CAST(sum(price) AS DOUBLE) FROM graft.ck.$t")
      .head.getDouble(0) === 11.0)
    intercept[Exception] {
      SnapshotSql.sql(spark,
        s"UPDATE graft.ck.$t SET price = -price WHERE id = 2")
    }
    assert(spark.sql(s"SELECT count(*) FROM graft.ck.$t WHERE price < 0")
      .head.getLong(0) === 0L)
  }

  test("ALTER TABLE SET TBLPROPERTIES: add a CHECK after creation " +
    "(existing rows validated), switch a row-level mode, layout " +
    "properties refused") {
    wh
    val t = freshName("cka_")
    spark.sql(s"CREATE TABLE graft.ck.$t (id BIGINT, price DOUBLE)")
    SnapshotSql.sql(spark, s"INSERT INTO graft.ck.$t VALUES (1, 10.0)")
    // retroactive CHECK against contents that VIOLATE it → refused
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.ck.$t SET TBLPROPERTIES(" +
        "'check'='price > 100.0')")
    }
    assert(e.getMessage.contains("existing rows violate"))
    // a satisfiable one lands, and then enforces
    spark.sql(s"ALTER TABLE graft.ck.$t SET TBLPROPERTIES(" +
      "'check'='price >= 0.0')")
    intercept[Exception] {
      SnapshotSql.sql(spark, s"INSERT INTO graft.ck.$t VALUES (2, -2.0)")
    }
    // switch DELETE to merge-on-read post-create: the next SQL DELETE
    // writes a DV instead of rewriting files
    spark.sql(s"ALTER TABLE graft.ck.$t SET TBLPROPERTIES(" +
      "'delete.mode'='merge-on-read')")
    val dir = dirOf(t)
    val preFiles = SnapshotTable.filePaths(dir).toSet
    SnapshotSql.sql(spark, s"DELETE FROM graft.ck.$t WHERE id = 1")
    assert(SnapshotTable.filePaths(dir).toSet === preFiles)
    assert(SnapshotTable.hasDeletionVectors(dir))
    // ...and back to the default removes the header
    spark.sql(s"ALTER TABLE graft.ck.$t SET TBLPROPERTIES(" +
      "'delete.mode'='copy-on-write')")
    assert(SnapshotTable.tableProps(dir)
      .getOrElse("delete.mode", "copy-on-write") === "copy-on-write")
    // r12: clustercols EVOLVES (partition-spec evolution — the new
    // write law applies to future batches); the hash-bucket layout
    // stays fixed at create (its file shape is a hard contract)
    spark.sql(s"ALTER TABLE graft.ck.$t SET TBLPROPERTIES(" +
      "'clustercols'='id')")
    assert(SnapshotTable.statsColsOfPublic(dir) === Seq("id"))
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.ck.$t SET TBLPROPERTIES(" +
        "'bucketcols'='id')")
    }
  }

  test("COPY INTO is checked; the constraint survives compaction and " +
    "shows in SHOW TBLPROPERTIES") {
    import spark.implicits._
    wh
    val t = freshName("ckc_")
    spark.sql(s"CREATE TABLE graft.ck.$t (id BIGINT, price DOUBLE) " +
      "TBLPROPERTIES('check'='price >= 0.0')")
    val stg = java.nio.file.Files
      .createTempDirectory("graft_ck_stage_").toString
    Seq((1L, -5.0)).toDF("id", "price").coalesce(1).write.parquet(s"$stg/bad")
    intercept[Exception] {
      SnapshotSql.sql(spark, s"COPY INTO graft.ck.$t FROM '$stg/bad'")
    }
    Seq((1L, 5.0)).toDF("id", "price").coalesce(1).write.parquet(s"$stg/ok")
    SnapshotSql.sql(spark, s"COPY INTO graft.ck.$t FROM '$stg/ok'")
    SnapshotSql.sql(spark, s"OPTIMIZE graft.ck.$t")
    val dir = dirOf(t)
    // carried through the compact commit
    assert(SnapshotTable.checkOf(dir).contains("price >= 0.0"))
    intercept[Exception] {
      SnapshotSql.sql(spark, s"INSERT INTO graft.ck.$t VALUES (9, -9.0)")
    }
    val props = spark.sql(s"SHOW TBLPROPERTIES graft.ck.$t").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(props.get("check").contains("price >= 0.0"))
  }
}
