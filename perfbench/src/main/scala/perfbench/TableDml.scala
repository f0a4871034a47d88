package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import pystreamsspark.io.{SnapshotSql, SnapshotTable, Tables}

/** A single writer and reader on an orders table stored as a
  * SnapshotTable. Each cycle (one pass) makes five commits — append,
  * merge-upsert, copy-on-write delete, SQL `UPDATE`, delete vectors — and
  * four reads — a point lookup, time travel, `changesBetween`, a full
  * aggregate; every other cycle, the set-up cycle first, also compacts
  * and vacuums. An append-only feed table is drained each cycle by an
  * AvailableNow `readStream.table → writeStream.toTable` pipeline.
  *
  * The seed draws every batch and window. The harness keeps its own
  * model of the live keys, so each operation is checked against it:
  * row counts follow the batch arithmetic, a time-travel read equals the
  * fingerprint recorded at that version, the CDC of an append holds
  * exactly its rows, and the sink holds every fed row exactly once. */
final class TableDml(spark: SparkSession, sfDir: String, work: String,
                     rng: scala.util.Random) extends Workload {
  import spark.implicits._

  private val wh = s"$work/warehouse"
  private val dir = s"$wh/ns/orders"
  private val feedDir = s"$wh/ns/feed"
  private val ckpt = s"$work/feed_ckpt"
  private val AppendRows = 2000
  private val MergeRows = 1000
  private val FeedRows = 1000
  private val Window = 1200L // ≈300 live keys of the sf0.1 orders key range

  private val live = mutable.TreeSet.empty[Long]
  private val flagged = mutable.Set.empty[Long] // keys the SQL UPDATE set
  private var maxOrigKey = 0L
  private var nextKey = 1000000000L
  private var fed = 0L
  private var bytesWritten = 0L
  private val fpAt = mutable.Map.empty[Int, Fp] // recorded by the set-up append's check
  private val rowsAt = mutable.LinkedHashMap.empty[Int, Long] // live rows after each append
  private var lastAppend = (0, 0) // (version before, version after)
  private var schema: org.apache.spark.sql.types.StructType = _
  private val batchMs = mutable.ArrayBuffer.empty[Double]
  private var streamRows = 0L

  override def prepare(): Unit = {
    SnapshotSql.register(spark, wh, "bench")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(wh, "ns"))
    val orders = Tables.orders(spark, sfDir)
    schema = orders.schema
    // 32 range-clustered files, so point reads have files to prune
    SnapshotTable.createClustered(spark, dir,
      orders.repartitionByRange(32, col("o_orderkey")).sortWithinPartitions("o_orderkey"),
      Seq("o_orderkey"))
    newBytes()
    live ++= orders.select(col("o_orderkey")).as[Long].collect()
    maxOrigKey = live.max
    SnapshotTable.createEmpty(feedDir, feedBatch(0L, 1).schema)
    spark.sql("CREATE TABLE bench.ns.feed_sink (id BIGINT, v DOUBLE, src_version INT)")
  }

  private def feedBatch(from: Long, n: Int): DataFrame =
    spark.range(from, from + n).select(col("id"), (col("id") % 997).cast("double").as("v"))

  /** Fresh orders rows for keys `ks` (priority never the UPDATE's flag),
    * in the table's column types. */
  private def rows(ks: Seq[Long], status: String): DataFrame = {
    val df = ks.toDF("o_orderkey").select(col("o_orderkey"),
      (col("o_orderkey") % 15000 + 1).as("o_custkey"),
      lit(status).as("o_orderstatus"),
      ((col("o_orderkey") % 100000) / 10.0).as("o_totalprice"),
      timestamp_seconds(lit(1704067200L) + col("o_orderkey") % 365 * 86400).as("o_orderdate"),
      lit("3-MEDIUM").as("o_orderpriority"))
    df.select(schema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)
  }

  private def table: DataFrame = SnapshotTable.read(spark, dir)
  private def window(): (Long, Long) = {
    val a = 1L + (rng.nextDouble() * (maxOrigKey - Window)).toLong
    (a, a + Window)
  }
  private def pred(w: (Long, Long)) = s"o_orderkey >= ${w._1} AND o_orderkey < ${w._2}"
  private def dropWindow(w: (Long, Long)): Unit = {
    val gone = live.range(w._1, w._2).toList
    live --= gone; flagged --= gone
  }
  private def dirBytes = Fs.dirSize(java.nio.file.Paths.get(dir))

  /** A commit, timed. It has no check of its own: the cycle's reads
    * compare the table with the model after it. */
  private def commit(name: String)(body: => Unit): Op =
    Op(name, "commit", () => Built(_ => body, None))

  /** Bytes of data files that appeared since the previous call. */
  private val seenFiles = mutable.Set.empty[String]
  private def newBytes(): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .filter(p => seenFiles.add(p.toString)).map(java.nio.file.Files.size).sum
    finally s.close()
  }

  /** A live key drawn by the seed: the first live key at or above a
    * uniform draw over the key range. */
  private def liveKey(): Long = {
    val r = live.min + (rng.nextDouble() * (live.max - live.min)).toLong
    live.iteratorFrom(r).nextOption().getOrElse(live.max)
  }

  private def read(name: String)(df: => DataFrame, expected: => Fp,
                                 fp: DataFrame => Fp = Fingerprint.of): Op =
    Op(name, "read", () => {
      val d = df
      Built(_ => Ops.forceAll(d), Some(() => fp(d)), () => Some(expected))
    })

  /** None: a cycle is stateful and costs about 10 s, and the run's time
    * budget affords the set-up cycle and two timed ones. */
  override def warmupPasses: Int = 0

  def pass(i: Int): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    if (i > 0) bytesWritten += newBytes()
    // the append's check records the fingerprint time travel compares with
    ops += Op("append", "commit", () => Built(_ => {
      val ks = (0 until AppendRows).map(_ => { nextKey += 1 + rng.nextInt(3); nextKey })
      val v0 = SnapshotTable.latestVersion(dir)
      val v1 = SnapshotTable.append(spark, dir, rows(ks, "O"), numFiles = 2)
      live ++= ks
      lastAppend = (v0, v1)
      rowsAt(v1) = live.size.toLong
    }, Some(() => {
      val f = Fingerprint.of(SnapshotTable.read(spark, dir, Some(lastAppend._2)))
      fpAt(lastAppend._2) = f
      Fp(f.rows, None)
    }), () => Some(Fp(live.size.toLong, None))))
    ops += commit("merge") {
      // updates to a key window (the files holding it), plus new keys
      val w = window()
      val old = live.range(w._1, w._2 + Window).take(MergeRows / 2).toSeq
      val fresh = (0 until MergeRows / 2).map(_ => { nextKey += 1; nextKey })
      SnapshotTable.merge(spark, dir, rows(old ++ fresh, "U"), Seq("o_orderkey"))
      live ++= fresh; flagged --= old
    }
    ops += commit("delete") {
      val w = window()
      SnapshotTable.delete(spark, dir, pred(w))
      dropWindow(w)
    }
    ops += commit("sql_update") {
      val w = window()
      SnapshotSql.sql(spark,
        s"UPDATE bench.ns.orders SET o_orderpriority = '9-BENCH' WHERE ${pred(w)}")
      flagged ++= live.range(w._1, w._2)
    }
    ops += commit("delete_vectors") {
      val w = window()
      SnapshotTable.deleteVectors(spark, dir, pred(w))
      dropWindow(w)
    }
    ops += read("read_range")({
      val k = liveKey()
      SnapshotTable.readRange(spark, dir, "o_orderkey", k.toString, k.toString)
    }, Fp(1L, None))
    // the previous cycle's append (this cycle's in the first), still
    // retained by vacuum's keep-12 window
    def ttVersion = rowsAt.keys.toSeq.reverse.drop(if (rowsAt.size > 1) 1 else 0).head
    ops += read("time_travel")(SnapshotTable.read(spark, dir, Some(ttVersion)),
      fpAt.getOrElse(ttVersion, Fp(rowsAt(ttVersion), None)))
    ops += read("changes_between")(
      SnapshotTable.changesBetween(spark, dir, lastAppend._1, lastAppend._2),
      Fp(AppendRows.toLong, Some(s"insert=$AppendRows")),
      d => {
        val r = d.agg(count(lit(1)), sum(when(col("_change_type") === "insert", 1).otherwise(0)))
          .head()
        Fp(r.getLong(0), Some(s"insert=${r.getLong(1)}"))
      })
    ops += read("full_aggregate")(
      table.agg(count(lit(1)).as("n"),
        sum(when(col("o_orderpriority") === "9-BENCH", 1).otherwise(0)).as("flagged"),
        max(col("o_orderkey")).as("max_key")),
      Fp(live.size.toLong, Some(s"flagged=${flagged.size}")),
      d => { val r = d.head(); Fp(r.getLong(0), Some(s"flagged=${r.getLong(1)}")) })
    // maintenance of the tail the appends and merges keep adding to
    ops += Op("compact", "maint", () => Built(_ =>
      SnapshotTable.compactWhere(spark, dir, Map("o_orderkey" -> ("1000000000", "9" * 18)), 2),
      None))
    ops += Op("vacuum", "maint", () => Built(_ => SnapshotTable.vacuum(dir, 12), None))
    ops += commit("feed_append") {
      SnapshotTable.append(spark, feedDir, feedBatch(fed, FeedRows), numFiles = 1)
      fed += FeedRows
    }
    ops += Op("stream_pipeline", "pipeline", () => Built(_ => drainFeed(),
      Some(() => sinkFp()), () => Some(Fp(fed, Some(s"distinct=$fed")))))
    ops.toSeq
  }

  /** One AvailableNow run of the feed → sink pipeline. */
  private def drainFeed(): Unit = {
    val q = spark.readStream.table("bench.ns.feed")
      .selectExpr("id", "v * 2 AS v", "CAST(0 AS INT) AS src_version")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .toTable("bench.ns.feed_sink")
    q.awaitTermination()
    q.recentProgress.filter(_.numInputRows > 0).foreach { p =>
      batchMs += p.durationMs.getOrDefault("triggerExecution", 0L).toDouble
      streamRows += p.numInputRows
    }
  }

  private def sinkFp(): Fp = {
    val s = spark.table("bench.ns.feed_sink").agg(count(lit(1)), countDistinct(col("id"))).head()
    Fp(s.getLong(0), Some(s"distinct=${s.getLong(1)}"))
  }

  /** The timed cycles are checked here, against the model: the table's
    * rows and flagged rows, the rows of the last append's version read by
    * time travel, and — after one more drain — every fed row exactly once
    * in the sink. */
  override def finish(): Seq[String] = {
    bytesWritten += newBytes()
    val r = table.agg(count(lit(1)),
      sum(when(col("o_orderpriority") === "9-BENCH", 1).otherwise(0))).head()
    val v = rowsAt.keys.last
    val tt = SnapshotTable.read(spark, dir, Some(v)).count()
    drainFeed()
    val sink = sinkFp()
    Seq(
      (r.getLong(0), live.size.toLong, "final rows"),
      (r.getLong(1), flagged.size.toLong, "final flagged rows")).collect {
      case (got, want, what) if got != want => s"table_dml: $what $got, model $want"
    } ++ (if (tt == rowsAt(v)) Nil else Seq(s"table_dml: time travel to v$v: $tt rows, model ${rowsAt(v)}")) ++
      (if (sink.matches(Fp(fed, Some(s"distinct=$fed")))) Nil
       else Seq(s"table_dml: sink $sink, fed $fed rows"))
  }

  override def layerMetrics(runs: Seq[OpRun]): Map[String, Double] = {
    val timed = runs.filter(r => r.pass >= 1 && r.ok)
    def med(f: OpRun => Boolean) = Stats.median(timed.filter(f).map(_.timeS))
    def tail(f: OpRun => Boolean) = Stats.tail(timed.filter(f).map(_.timeS))._1
    def byName(n: String) = med(_.name == n)
    val plain = s"$work/plain_copy"
    table.write.mode("overwrite").parquet(plain)
    val files = SnapshotTable.filePaths(dir)
    val metaMs = Stats.median((1 to 5).map { _ =>
      val t0 = System.nanoTime()
      SnapshotTable.latestVersion(dir); SnapshotTable.schemaOf(dir); SnapshotTable.filePaths(dir)
      (System.nanoTime() - t0) / 1e6
    })
    val k = liveKey().toString
    val kept = SnapshotTable.readCandidates(dir, "o_orderkey", k, k).size
    val pipeS = timed.filter(_.kind == "pipeline").map(_.timeS).sum
    Map(
      "commit_p50_s" -> med(_.kind == "commit"), "commit_tail_s" -> tail(_.kind == "commit"),
      "read_p50_s" -> med(_.kind == "read"), "read_tail_s" -> tail(_.kind == "read"),
      "stream_rows_per_s" -> (if (pipeS > 0) streamRows / pipeS else 0.0),
      "write_amp" -> dirBytes.toDouble / math.max(1L, Fs.dirSize(java.nio.file.Paths.get(plain))),
      "io.append_s" -> byName("append"), "io.merge_s" -> byName("merge"),
      "io.delete_s" -> byName("delete"), "io.update_s" -> byName("sql_update"),
      "io.delete_vectors_s" -> byName("delete_vectors"), "io.compact_s" -> byName("compact"),
      "io.vacuum_s" -> byName("vacuum"), "io.read_range_s" -> byName("read_range"),
      "io.time_travel_s" -> byName("time_travel"),
      "io.changes_between_s" -> byName("changes_between"),
      "io.meta_ms" -> metaMs, "io.files" -> files.size.toDouble,
      "io.versions" -> SnapshotTable.latestVersion(dir).toDouble,
      "io.prune_kept_frac" -> kept.toDouble / math.max(1, files.size),
      "io.bytes_written_mb" -> bytesWritten / 1e6,
      "stream.batches" -> batchMs.size.toDouble,
      "stream.batch_p50_ms" -> Stats.median(batchMs.toSeq),
      "stream.rows" -> streamRows.toDouble)
  }
}
