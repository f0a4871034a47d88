package pystreamsspark.io

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import pystreamsspark.SparkSpec

/** Streaming reads of catalog snapshot tables (round 10):
  * `spark.readStream.table("graft.ns.t")` consumes APPENDS with
  * version-number offsets — exactly-once across restarts (checkpointed
  * offsets + deterministic manifest replay), append-only enforcement
  * with an explicit ignoreChanges opt-out, and startingVersion. */
class SnapshotStreamSpec extends SparkSpec {

  private lazy val wh = {
    val d = java.nio.file.Files.createTempDirectory("graft_swh_").toString
    SnapshotSql.register(spark, d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ns")
    d
  }

  private def freshName(p: String): String =
    p + java.util.UUID.randomUUID().toString.take(8)

  // the JVM-wide catalog instance pins ITS first-registered warehouse;
  // resolve the table's real directory through the session (what the
  // DML executor does) instead of assuming this suite's wh won the race
  private def dirOf(t: String): String =
    SnapshotSql.resolveTable(spark, Seq("graft", "ns", t)).getOrElse(
      fail(s"graft.ns.$t did not resolve"))

  private def mk(name: String): String = {
    spark.sql(s"CREATE TABLE graft.ns.$name (id BIGINT, v DOUBLE)")
    name
  }

  private def ins(t: String, ids: Long*): Unit =
    SnapshotSql.sql(spark, s"INSERT INTO graft.ns.$t VALUES " +
      ids.map(i => s"($i, $i.0)").mkString(", "))

  private def drain(t: String, ckpt: String,
                    opts: Map[String, String] = Map.empty): Seq[Long] = {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val reader = opts.foldLeft(spark.readStream) {
      case (r, (k, v)) => r.option(k, v) }
    val q = reader.table(s"graft.ns.$t")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], _: Long) =>
        df.collect().foreach(r => got.add(r.getLong(0))): Unit
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000), "stream run did not finish")
    got.toArray(Array.empty[java.lang.Long]).map(_.longValue).toSeq.sorted
  }

  test("readStream.table consumes appends exactly-once across restarts") {
    wh
    val t = mk(freshName("st_"))
    val ckpt = java.nio.file.Files.createTempDirectory("st_ckpt_").toString
    ins(t, 1L, 2L)
    assert(drain(t, ckpt) === Seq(1L, 2L))
    // two more versions land while the stream is down
    ins(t, 3L)
    ins(t, 4L, 5L)
    assert(drain(t, ckpt) === Seq(3L, 4L, 5L)) // ONLY the new versions
    // nothing new: an empty run emits nothing
    assert(drain(t, ckpt) === Seq.empty)
  }

  test("non-append changes fail the stream; ignoreChanges emits added " +
    "files only") {
    wh
    val t = mk(freshName("stc_"))
    val ckpt = java.nio.file.Files.createTempDirectory("stc_ckpt_").toString
    ins(t, 1L, 2L, 3L)
    assert(drain(t, ckpt) === Seq(1L, 2L, 3L))
    // a CoW DELETE rewrites the covering file — not an append
    SnapshotSql.sql(spark, s"DELETE FROM graft.ns.$t WHERE id = 1")
    val e = intercept[Exception] { drain(t, ckpt) }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("APPENDS")), s"got $e")
    // opting in re-emits the rewritten file's surviving rows
    val ckpt2 = java.nio.file.Files.createTempDirectory("stc_ck2_").toString
    val got = drain(t, ckpt2, Map("ignoreChanges" -> "true"))
    assert(got === Seq(2L, 3L)) // the whole current state, one version set
  }

  test("startingVersion skips history") {
    wh
    val t = mk(freshName("stv_"))
    val ckpt = java.nio.file.Files.createTempDirectory("stv_ckpt_").toString
    ins(t, 1L) // v2
    ins(t, 2L) // v3
    assert(drain(t, ckpt, Map("startingVersion" -> "3")) === Seq(2L))
  }

  test("startingTimestamp consumes commits at-or-after the instant") {
    wh
    val t = mk(freshName("stt_"))
    val ckpt = java.nio.file.Files.createTempDirectory("stt_ckpt_").toString
    ins(t, 1L)
    Thread.sleep(30)
    val mid = System.currentTimeMillis
    Thread.sleep(30)
    ins(t, 2L)
    ins(t, 3L)
    assert(drain(t, ckpt,
      Map("startingTimestamp" -> mid.toString)) === Seq(2L, 3L))
  }

  // ------------------------------------------------------------ writes

  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

  private def readIds(t: String): Seq[Long] =
    spark.table(s"graft.ns.$t").collect().map(_.getLong(0)).toSeq.sorted

  test("writeStream.toTable appends micro-batches exactly-once across " +
    "restarts") {
    wh
    val t = mk(freshName("sw_"))
    val ckpt = java.nio.file.Files.createTempDirectory("sw_ckpt_").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val in = MemoryStream[Long]
    def run(): Unit = {
      val q = in.toDF().selectExpr("value AS id", "CAST(value AS DOUBLE) AS v")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable(s"graft.ns.$t")
      assert(q.awaitTermination(60000), "stream write did not finish")
    }

    in.addData(1L, 2L, 3L)
    run()
    assert(readIds(t) === Seq(1L, 2L, 3L))
    // restart with the same checkpoint: only NEW data lands
    in.addData(4L, 5L)
    run()
    assert(readIds(t) === Seq(1L, 2L, 3L, 4L, 5L))
    // an idle restart appends nothing (no empty-batch versions of data)
    run()
    assert(readIds(t) === Seq(1L, 2L, 3L, 4L, 5L))
    // the epoch range-set is recorded — a manual replay of epoch 0 is
    // refused at the manifest layer (the exactly-once guarantee the
    // engine's checkpoint normally enforces)
    val dir = dirOf(t)
    val before = SnapshotTable.latestVersion(dir)
    SnapshotTable.appendEpoch(spark, dir,
      spark.range(99, 100).selectExpr("id", "CAST(id AS DOUBLE) AS v"),
      epochId = 0L)
    assert(SnapshotTable.latestVersion(dir) === before) // idempotent skip
  }

  test("streamed appends to a clustered table carry per-file stats and " +
    "prune") {
    wh
    val t = freshName("swc_")
    spark.sql(s"CREATE TABLE graft.ns.$t (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('clustercols'='id')")
    val ckpt = java.nio.file.Files.createTempDirectory("swc_ckpt_").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val in = MemoryStream[Long]
    in.addData(0L until 1000L: _*)
    val q = in.toDF()
      // the query's plan owns the shaping: range-partition by the
      // cluster key so each task's file covers a tight id range
      .selectExpr("value AS id", "CAST(value AS DOUBLE) AS v")
      .repartitionByRange(4, $"id")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .toTable(s"graft.ns.$t")
    assert(q.awaitTermination(60000))

    val dir = dirOf(t)
    // every streamed file records id min/max in the manifest
    val entries = SnapshotTable.manifestEntries(dir,
      SnapshotTable.latestVersion(dir))
    assert(entries.nonEmpty)
    // a narrow key-range read opens a strict subset of the files
    val opened = SnapshotTable.readCandidates(dir, "id", "10", "20")
    assert(opened.size < entries.size,
      s"stats should prune: opened ${opened.size} of ${entries.size}")
    val rows = SnapshotTable.readRange(spark, dir, "id", "10", "20")
    assert(rows.collect().map(_.getLong(0)).sorted === (10L to 20L).toArray)
  }

  test("a streamed epoch records the same manifest stats as an append " +
    "of the same rows") {
    wh
    val (ts, ta) = (freshName("sst_"), freshName("ssa_"))
    Seq(ts, ta).foreach(t => spark.sql(s"CREATE TABLE graft.ns.$t " +
      "(id BIGINT, s STRING) TBLPROPERTIES ('clustercols'='s,id')"))
    val data = Seq((3L, "\uFFFD"), (1L, "\uD83D\uDE00"), (2L, "a"),
      (4L, "z"), (5L, null))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, String)]
    in.addData(data: _*)
    val q = in.toDF().toDF("id", "s").repartition(1)
      .writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("sst_ckpt_").toString)
      .trigger(Trigger.AvailableNow())
      .toTable(s"graft.ns.$ts")
    assert(q.awaitTermination(60000))
    SnapshotTable.append(spark, dirOf(ta),
      data.toDF("id", "s").repartition(1), numFiles = 0)
    /** The stats field of the latest manifest's single added entry. */
    def stats(t: String): String = {
      val dir = dirOf(t)
      val v = SnapshotTable.latestVersion(dir)
      val lines = scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(java.nio.file.Paths.get(dir,
          "_manifests", f"v$v%08d.manifest"))).asScala.toSeq.drop(1)
      val added = lines.map(_.stripPrefix("+").split("\t"))
        .filter(_.head.startsWith("data/"))
      assert(added.size === 1, lines)
      added.head(1)
    }
    // UTF-8 byte order: the emoji (F0 9F 98 80) is the string max, above
    // U+FFFD (EF BF BD); UTF-16 order would pick U+FFFD
    assert(stats(ts) === "id=1,5;s=a,%F0%9F%98%80")
    assert(stats(ts) === stats(ta))
  }

  test("table-to-table streaming pipeline: readStream.table -> transform " +
    "-> writeStream.toTable") {
    wh
    val src = mk(freshName("pipe_src_"))
    val dst = mk(freshName("pipe_dst_"))
    val ckpt = java.nio.file.Files.createTempDirectory("pipe_ckpt_").toString
    ins(src, 1L, 2L, 3L, 4L)

    def run(): Unit = {
      val q = spark.readStream.table(s"graft.ns.$src")
        .selectExpr("id * 10 AS id", "v + 0.5 AS v")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable(s"graft.ns.$dst")
      assert(q.awaitTermination(60000), "pipeline run did not finish")
    }
    run()
    assert(readIds(dst) === Seq(10L, 20L, 30L, 40L))
    // more rows land in the source; a restarted pipeline moves ONLY them
    ins(src, 5L)
    run()
    assert(readIds(dst) === Seq(10L, 20L, 30L, 40L, 50L))
  }

  test("maxVersionsPerTrigger: a backlog drains in bounded batches " +
    "under Trigger.AvailableNow, exactly-once preserved") {
    wh
    val t = mk(freshName("adm_"))
    val ckpt = java.nio.file.Files.createTempDirectory("adm_ckpt_").toString
    (1L to 5L).foreach(i => ins(t, i)) // 5 single-version appends
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    def run(): Unit = {
      val q = spark.readStream
        .option("maxVersionsPerTrigger", "2")
        .table(s"graft.ns.$t")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], _: Long) =>
          val ids = df.collect().map(_.getLong(0)).toSeq.sorted
          if (ids.nonEmpty) batches.add(ids): Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(60000), "admission drain did not finish")
    }
    run()
    val got = batches.toArray(Array.empty[Seq[Long]]).toSeq
    // 5 backlogged versions at <=2 per trigger: >1 batch, each bounded,
    // every row exactly once
    assert(got.size >= 3, s"expected a bounded multi-batch drain, got $got")
    assert(got.forall(_.size <= 2), s"a batch exceeded the cap: $got")
    assert(got.flatten.sorted === (1L to 5L))
    // nothing re-emits on restart; a new version drains alone
    batches.clear()
    ins(t, 6L)
    run()
    assert(batches.toArray(Array.empty[Seq[Long]]).toSeq === Seq(Seq(6L)))
  }
}
