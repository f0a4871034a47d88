package pystreamsspark.io

import org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong
import pystreamsspark.SparkSpec

/** Hash-BUCKETED snapshot tables + storage-partitioned joins (round 10):
  * `CREATE TABLE … TBLPROPERTIES('bucketcols'='id','buckets'='n')` makes
  * every write bucket-pure (file bucket = pmod(murmur3(id), n), recorded
  * in the manifest); the V2 scan groups files per bucket and reports
  * `KeyGroupedPartitioning(bucket(n, id))` through the catalog's bucket
  * function — two such tables joined on `id` plan with ZERO Exchange on
  * either side. The shuffle-elimination story for the table format: at
  * 100 TB the join shuffle is the dominant cost and it disappears. */
class BucketedJoinSpec extends SparkSpec {

  private lazy val wh = {
    val d = java.nio.file.Files.createTempDirectory("graft_bwh_").toString
    SnapshotSql.register(spark, d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ns")
    d
  }

  private def freshName(p: String): String =
    p + java.util.UUID.randomUUID().toString.take(8)

  private val N = 8

  private def withSQLConf[T](pairs: (String, String)*)(body: => T): T = {
    val prev = pairs.map { case (k, _) =>
      k -> (try Some(spark.conf.get(k)) catch { case _: Exception => None })
    }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def mkBucketed(name: String): String = {
    spark.sql(s"CREATE TABLE graft.ns.$name (id BIGINT, v DOUBLE) " +
      s"TBLPROPERTIES ('bucketcols'='id', 'buckets'='$N')")
    name
  }

  private def fill(t: String, ids: Range, mult: Double): Unit =
    SnapshotSql.sql(spark, s"INSERT INTO graft.ns.$t " +
      s"SELECT id, CAST(id AS DOUBLE) * $mult AS v " +
      s"FROM range(${ids.start}, ${ids.end})")

  // the JVM-wide catalog instance pins ITS first-registered warehouse;
  // resolve the table's real directory through the session (what the
  // DML executor does) instead of assuming this suite's wh won the race
  private def dirOf(t: String): String =
    SnapshotSql.resolveTable(spark, Seq("graft", "ns", t)).getOrElse(
      fail(s"graft.ns.$t did not resolve"))

  private def bucketOf(id: Long): Int =
    (((hashLong(id, 42) % N) + N) % N)

  test("writes are bucket-pure and the manifest records bucket ids") {
    wh
    val t = mkBucketed(freshName("bk_"))
    fill(t, 0 until 500, 1.0)
    val dir = dirOf(t)
    val entries = SnapshotTable.manifestEntries(dir,
      SnapshotTable.latestVersion(dir))
    assert(entries.nonEmpty)
    val buckets = SnapshotTable.snapshot(dir).fileBuckets
    assert(buckets.size === entries.size, "every file carries a bucket id")
    // each file holds ONLY rows whose id hashes to its recorded bucket
    buckets.foreach { case (rel, b) =>
      val ids = spark.read.parquet(s"$dir/$rel").collect()
        .map(_.getLong(0))
      assert(ids.nonEmpty && ids.forall(bucketOf(_) == b),
        s"file $rel (bucket $b) must be bucket-pure")
    }
    // all declared buckets materialize for 500 spread ids
    assert(buckets.values.toSet === (0 until N).toSet)
  }

  test("two bucketed tables join with ZERO exchanges (storage-partitioned " +
    "join); results exact") {
    wh
    val a = mkBucketed(freshName("bja_"))
    val b = mkBucketed(freshName("bjb_"))
    fill(a, 0 until 1000, 1.0)
    fill(b, 500 until 1500, 3.0)
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.sql(
        s"""SELECT a.id, a.v AS va, b.v AS vb
           |FROM graft.ns.$a a JOIN graft.ns.$b b ON a.id = b.id""".stripMargin)
      val rows = j.collect()
      assert(rows.length === 500)
      assert(rows.forall(r => r.getDouble(2) == r.getDouble(1) * 3.0))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"storage-partitioned join must plan ZERO exchanges:\n$plan")
    }
  }

  test("DML rewrites preserve bucket purity; the SPJ keeps working") {
    wh
    val a = mkBucketed(freshName("bda_"))
    val b = mkBucketed(freshName("bdb_"))
    fill(a, 0 until 400, 1.0)
    fill(b, 0 until 400, 2.0)
    // a CoW DELETE rewrites covering files — bucket shaping must hold
    SnapshotSql.sql(spark, s"DELETE FROM graft.ns.$a WHERE id % 10 = 0")
    val dirA = dirOf(a)
    val buckets = SnapshotTable.snapshot(dirA).fileBuckets
    assert(buckets.size === SnapshotTable.manifestEntries(dirA,
      SnapshotTable.latestVersion(dirA)).size)
    buckets.foreach { case (rel, bk) =>
      val ids = spark.read.parquet(s"$dirA/$rel").collect().map(_.getLong(0))
      assert(ids.forall(bucketOf(_) == bk), s"post-DELETE $rel impure")
    }
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.sql(s"SELECT a.id FROM graft.ns.$a a " +
        s"JOIN graft.ns.$b b ON a.id = b.id")
      assert(j.collect().length === 360)
      assert(!j.queryExecution.executedPlan.toString.contains("Exchange"))
    }
  }

  test("with V2 bucketing disabled the scan degrades to the plain split " +
    "plan (still correct)") {
    wh
    val a = mkBucketed(freshName("bpa_"))
    fill(a, 0 until 300, 1.0)
    withSQLConf("spark.sql.sources.v2.bucketing.enabled" -> "false") {
      assert(spark.table(s"graft.ns.$a").count() === 300)
    }
    // and a plain aggregate over the bucketed table is exact either way
    withSQLConf("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      assert(spark.table(s"graft.ns.$a").count() === 300)
    }
  }

  test("GROUP BY on the bucket key aggregates with ZERO exchanges") {
    wh
    val t = mkBucketed(freshName("bag_"))
    SnapshotSql.sql(spark, s"INSERT INTO graft.ns.$t " +
      "SELECT id % 50, CAST(id AS DOUBLE) FROM range(1000)")
    withSQLConf("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val df = spark.sql(
        s"SELECT id, count(*) AS n, ${"sum(v)"} AS s FROM graft.ns.$t " +
          "GROUP BY id")
      val rows = df.collect()
      assert(rows.length === 50 && rows.map(_.getLong(1)).sum === 1000L)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucket-keyed aggregate must not shuffle:\n$plan")
    }
  }

  test("a streamed (bucket-less) append degrades the scan to the plain " +
    "plan instead of guessing") {
    wh
    val t = mkBucketed(freshName("bst_"))
    fill(t, 0 until 200, 1.0)
    // a streaming write's partitioning belongs to the query — its files
    // carry no bucket ids
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val in = MemoryStream[Long]
    in.addData(200L until 250L: _*)
    val ckpt = java.nio.file.Files.createTempDirectory("bst_ckpt_").toString
    val q = in.toDF().selectExpr("value AS id", "CAST(value AS DOUBLE) AS v")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).toTable(s"graft.ns.$t")
    assert(q.awaitTermination(60000))
    withSQLConf("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      // mixed manifest: the scan must fall back (no crash, exact rows)
      assert(spark.table(s"graft.ns.$t").count() === 250)
    }
  }

  test("bucketcols and clustercols are mutually exclusive; non-integral " +
    "bucket keys refused") {
    wh
    intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.ns.${freshName("bx_")} (id BIGINT, " +
        "v DOUBLE) TBLPROPERTIES ('bucketcols'='id', 'buckets'='4', " +
        "'clustercols'='id')")
    }
    intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.ns.${freshName("by_")} (id BIGINT, " +
        "s STRING) TBLPROPERTIES ('bucketcols'='s', 'buckets'='4')")
    }
  }
}
