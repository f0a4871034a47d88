package pystreamsspark.io

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.BusShim
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Laws of the snapshot-manifest table layer: every mutation is a new
  * immutable snapshot, the put-if-absent manifest write is the atomic
  * commit point, MERGE is file-granular copy-on-write, and old versions
  * stay readable until vacuumed. */
class SnapshotTableSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .appName("snapshot-table-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def freshDir(): String =
    Files.createTempDirectory("snaptable").toString

  private def seed(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"name_$i", i * 10L))
      .toDF("id", "name", "score")
  }

  test("create + read round-trip; history records the commit") {
    val dir = freshDir()
    assert(SnapshotTable.create(spark, dir, seed(100)) === 1)
    val back = SnapshotTable.read(spark, dir)
    assert(back.count() === 100)
    assert(back.agg(sum(col("score"))).head.getLong(0) === (0 until 100).map(_ * 10L).sum)
    val h = SnapshotTable.history(spark, dir).collect()
    assert(h.map(r => (r.getInt(0), r.getString(1))).toSeq === Seq((1, "create")))
  }

  test("append carries prior files by reference") {
    val dir = freshDir()
    SnapshotTable.create(spark, dir, seed(50), numFiles = 2)
    val v2 = SnapshotTable.append(spark, dir,
      seed(80).filter(col("id") >= 50), numFiles = 2)
    assert(v2 === 2)
    assert(SnapshotTable.read(spark, dir).count() === 80)
    // v1 still reads the original 50
    assert(SnapshotTable.read(spark, dir, Some(1)).count() === 50)
  }

  test("merge = upsert: updates replace matches, unmatched rows insert; untouched files survive by reference") {
    import spark.implicits._
    val dir = freshDir()
    // 4 files over ids 0..99; updates touch ids 3 and 7 (some files),
    // and insert ids 1000, 1001
    SnapshotTable.create(spark, dir, seed(100), numFiles = 4)
    val updates = Seq(
      (3L, "UPDATED_3", -1L), (7L, "UPDATED_7", -2L),
      (1000L, "NEW_1000", 5L), (1001L, "NEW_1001", 6L))
      .toDF("id", "name", "score")
    val v2 = SnapshotTable.merge(spark, dir, updates, Seq("id"))
    assert(v2 === 2)
    val now = SnapshotTable.read(spark, dir)
    assert(now.count() === 102)
    assert(now.filter($"id" === 3L).head.getString(1) === "UPDATED_3")
    assert(now.filter($"id" === 7L).head.getLong(2) === -2L)
    assert(now.filter($"id" >= 1000L).count() === 2)
    // untouched rows intact
    assert(now.filter($"id" === 42L).head.getString(1) === "name_42")
    // time travel: v1 pre-merge state is unchanged
    val v1 = SnapshotTable.read(spark, dir, Some(1))
    assert(v1.count() === 100)
    assert(v1.filter($"id" === 3L).head.getString(1) === "name_3")
  }

  test("clustered create: a narrow-range merge rewrites only the covering files") {
    import spark.implicits._
    val dir = freshDir()
    // 4 range-clustered files over ids 0..99 (≈25 ids each)
    SnapshotTable.createClustered(spark, dir,
      seed(100).repartitionByRange(4, col("id")))
    def manifestFiles(v: Int): Set[String] =
      Files.readAllLines(Paths.get(dir, "_manifests", f"v$v%08d.manifest"))
        .toArray.map(_.toString).drop(1).filter(_.nonEmpty).toSet
    val v1Files = manifestFiles(1)
    assert(v1Files.size === 4)
    // updates confined to ids 0..9 — one range file covers them all
    val updates = (0 until 10).map(i => (i.toLong, "UPD", -1L))
      .toDF("id", "name", "score")
    SnapshotTable.merge(spark, dir, updates, Seq("id"), numFiles = 1)
    // round 12: the commit is an O(delta) ACTION list — exactly one
    // `-` remove (the covering file) and its rewritten replacement(s);
    // the other 3 clustered files carry by PARENT REFERENCE, asserted
    // on the resolved snapshots
    val v2Lines = manifestFiles(2)
    assert(v2Lines.count(_.startsWith("-")) === 1,
      s"narrow merge must remove exactly the covering file: $v2Lines")
    val v1Paths = SnapshotTable.filePaths(dir, Some(1)).toSet
    val v2Paths = SnapshotTable.filePaths(dir, Some(2)).toSet
    assert((v1Paths intersect v2Paths).size === 3)
    val now = SnapshotTable.read(spark, dir)
    assert(now.count() === 100)
    assert(now.filter($"id" < 10 && $"name" === "UPD").count() === 10)
    assert(now.filter($"id" === 42L).head.getString(1) === "name_42")
  }

  test("merge with zero matches is a pure append") {
    import spark.implicits._
    val dir = freshDir()
    SnapshotTable.create(spark, dir, seed(20), numFiles = 2)
    val inserts = Seq((500L, "n", 1L)).toDF("id", "name", "score")
    SnapshotTable.merge(spark, dir, inserts, Seq("id"))
    assert(SnapshotTable.read(spark, dir).count() === 21)
  }

  test("delete is copy-on-write and time travel still sees deleted rows") {
    import spark.implicits._
    val dir = freshDir()
    SnapshotTable.create(spark, dir, seed(100), numFiles = 4)
    SnapshotTable.delete(spark, dir, "id % 10 = 0")
    val now = SnapshotTable.read(spark, dir)
    assert(now.count() === 90)
    assert(now.filter($"id" % 10 === 0).count() === 0)
    assert(SnapshotTable.read(spark, dir, Some(1)).count() === 100)
  }

  test("compact reduces file count, preserves content, and old versions keep their files") {
    import spark.implicits._
    val dir = freshDir()
    SnapshotTable.create(spark, dir, seed(40), numFiles = 4)
    SnapshotTable.append(spark, dir, seed(80).filter($"id" >= 40), numFiles = 4)
    val before = SnapshotTable.history(spark, dir)
      .filter($"version" === 2).head.getInt(3)
    assert(before === 8)
    val v3 = SnapshotTable.compact(spark, dir, target = 2)
    val h = SnapshotTable.history(spark, dir).filter($"version" === v3).head
    assert(h.getString(1) === "compact" && h.getInt(3) === 2)
    val now = SnapshotTable.read(spark, dir)
    assert(now.count() === 80)
    assert(now.agg(sum($"score")).head.getLong(0) ===
      (0 until 80).map(_ * 10L).sum)
    // snapshot isolation: v2 still reads its 8 pre-compaction files
    assert(SnapshotTable.read(spark, dir, Some(2)).count() === 80)
  }

  test("schema evolution: appending a batch with a new column is pure metadata") {
    import spark.implicits._
    val dir = freshDir()
    SnapshotTable.create(spark, dir, seed(30), numFiles = 2)
    // new column `grade` appears in v2's batch only
    val evolved = (30 until 50)
      .map(i => (i.toLong, s"name_$i", i * 10L, s"g${i % 3}"))
      .toDF("id", "name", "score", "grade")
    SnapshotTable.append(spark, dir, evolved, numFiles = 2)
    val now = SnapshotTable.read(spark, dir)
    assert(now.schema.fieldNames.toSeq === Seq("id", "name", "score", "grade"))
    assert(now.count() === 50)
    // pre-evolution rows null-fill; post-evolution rows carry the value
    assert(now.filter($"grade".isNull).count() === 30)
    assert(now.filter($"id" === 31L).head.getString(3) === "g1")
    // v1 time-travels with its ORIGINAL 3-column schema
    assert(SnapshotTable.read(spark, dir, Some(1)).schema.fieldNames.toSeq
      === Seq("id", "name", "score"))
    // merge with the evolved schema updates old rows into the new shape
    val upd = Seq((3L, "UPD", -1L, "gX")).toDF("id", "name", "score", "grade")
    SnapshotTable.merge(spark, dir, upd, Seq("id"))
    val merged = SnapshotTable.read(spark, dir)
    assert(merged.filter($"id" === 3L).head.getString(3) === "gX")
    assert(merged.count() === 50)
    // a type CHANGE is refused — that is a rewrite, not evolution
    val bad = Seq((1L, "x", "not-a-long")).toDF("id", "name", "score")
    intercept[IllegalArgumentException] {
      SnapshotTable.append(spark, dir, bad)
    }
  }

  test("appendEpoch: replayed epochs commit at most once (exactly-once foreachBatch sink)") {
    import spark.implicits._
    val dir = freshDir()
    def batch(e: Int) = (0 until 10)
      .map(i => ((e * 10 + i).toLong, s"n$i", i.toLong))
      .toDF("id", "name", "score")
    assert(SnapshotTable.appendEpoch(spark, dir, batch(0), epochId = 0L) === 1)
    assert(SnapshotTable.appendEpoch(spark, dir, batch(1), epochId = 1L) === 2)
    // failure replay: epoch 1 delivered again — skipped, same version back
    assert(SnapshotTable.appendEpoch(spark, dir, batch(1), epochId = 1L) === 2)
    assert(SnapshotTable.read(spark, dir).count() === 20)
    assert(SnapshotTable.latestVersion(dir) === 2)
    // epochs are recorded in the history
    val eps = SnapshotTable.history(spark, dir).orderBy($"version")
      .collect().map(r => r.getLong(4))
    assert(eps.toSeq === Seq(0L, 1L))
    // the real thing: a rate stream through foreachBatch lands each
    // micro-batch exactly once even if the writer re-runs an epoch
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long](spark)
    mem.addData(100L, 101L, 102L)
    val q = mem.toDF().select($"value".as("id"),
        lit("s").as("name"), lit(0L).as("score"))
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, epoch: Long) =>
        SnapshotTable.appendEpoch(spark, dir, df, 100L + epoch)
        // simulate the at-least-once replay a crash produces
        SnapshotTable.appendEpoch(spark, dir, df, 100L + epoch)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(SnapshotTable.read(spark, dir).count() === 23)
  }

  test("concurrent commit: the loser throws and the table state is unchanged") {
    val dir = freshDir()
    SnapshotTable.create(spark, dir, seed(10))
    // this transaction read v1; a racing committer then wins version 2
    val winner = Paths.get(dir, "_manifests", f"v${2}%08d.manifest")
    Files.write(winner, "op=append\tparent=1\n".getBytes)
    intercept[SnapshotTable.ConcurrentCommitException] {
      SnapshotTable.append(spark, dir, seed(5), fromVersion = Some(1))
    }
    // loser's data files are orphans; latest manifest is the winner's
    assert(SnapshotTable.latestVersion(dir) === 2)
  }

  test("manifest stats skip: a narrow-key merge on a clustered table scans only the covering file") {
    import spark.implicits._
    val dir = freshDir()
    // 80 range-clustered files over ids 0..7999 (~100 ids each), with
    // per-file min/max of `id` recorded in the manifest
    val base = (0 until 8000).map(i => (i.toLong, s"name_$i", i * 10L))
      .toDF("id", "name", "score")
    SnapshotTable.createClustered(spark, dir,
      base.repartitionByRange(80, col("id")), clusterCols = Seq("id"))
    val updates = (100 until 105).map(i => (i.toLong, "UPD", -1L))
      .toDF("id", "name", "score")
    // tier 1 (pure metadata): stats prune 79 of 80 files before any I/O
    val cands = SnapshotTable.discoveryCandidates(spark, dir, updates, Seq("id"))
    assert(cands.size === 1, s"expected 1 candidate, got ${cands.size}")
    // tier 2 (scan-metric): during the merge itself, NO file scan reads
    // anywhere near the 80 live files — discovery reads the 1 covering
    // file, the rewrite reads that same file, the stats pass reads the
    // new batch. Query-execution listeners deliver async, so poll.
    val scanned = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    // AQE wraps the final plan in AdaptiveSparkPlanExec / QueryStageExec
    // leaves, so a plain foreach never reaches the scans — recurse
    // through them explicitly
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansOf(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scansOf(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scansOf)
    }
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        scansOf(qe.executedPlan).foreach(s =>
          scanned.add(s.metrics("numFiles").value))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SnapshotTable.merge(spark, dir, updates, Seq("id"), numFiles = 1)
      // query-execution events reach the listener through the bus
      BusShim.waitUntilEmpty(spark.sparkContext)
      assert(!scanned.isEmpty, "no scan metrics observed")
      val maxFiles = scanned.asScala.max
      assert(maxFiles <= 2L,
        s"a merge scan read $maxFiles files; stats skipping should cap it at the covering file(s)")
    } finally spark.listenerManager.unregister(listener)
    // correctness unchanged by the pruning
    val now = SnapshotTable.read(spark, dir)
    assert(now.count() === 8000)
    assert(now.filter($"name" === "UPD").count() === 5)
    assert(now.filter($"id" === 4242L).head.getString(1) === "name_4242")
    // rewritten file keeps recording stats: a second narrow merge in a
    // DIFFERENT range still prunes to its own covering file
    val cands2 = SnapshotTable.discoveryCandidates(spark, dir,
      Seq((7900L, "U2", -2L)).toDF("id", "name", "score"), Seq("id"))
    assert(cands2.size === 1)
  }

  test("readRange: stats-pruned data skipping equals the filtered full read") {
    import spark.implicits._
    val dir = freshDir()
    // 80 range-clustered files over ids 0..7999 (~100 ids each)
    val base = (0 until 8000).map(i => (i.toLong, s"name_$i", i * 10L))
      .toDF("id", "name", "score")
    SnapshotTable.createClustered(spark, dir,
      base.repartitionByRange(80, col("id")), clusterCols = Seq("id"))
    // pure-metadata prune: a 150-id window covers at most 3 of 80 files
    val cands = SnapshotTable.readCandidates(dir, "id", "1000", "1149")
    assert(cands.size <= 3, s"expected <=3 candidates, got ${cands.size}")
    assert(cands.nonEmpty)
    // the pruned read equals the unpruned filtered read, byte for byte
    val got = SnapshotTable.readRange(spark, dir, "id", "1000", "1149")
      .orderBy($"id").collect()
    val want = SnapshotTable.read(spark, dir)
      .filter($"id" >= 1000L && $"id" <= 1149L).orderBy($"id").collect()
    assert(got.length === 150)
    got.zip(want).foreach { case (a, b) => assert(a === b) }
    // a range beyond every file's stats prunes to NOTHING and still
    // returns an empty relation with the table schema
    val empty = SnapshotTable.readRange(spark, dir, "id", "100000", "200000")
    assert(SnapshotTable.readCandidates(dir, "id", "100000", "200000").isEmpty)
    assert(empty.count() === 0)
    assert(empty.schema.fieldNames.toSeq === Seq("id", "name", "score"))
    // an UNCLUSTERED table degrades to a filtered full read (no stats →
    // every file is a candidate; result still exact)
    val dir2 = freshDir()
    SnapshotTable.create(spark, dir2, base, numFiles = 8)
    assert(SnapshotTable.readCandidates(dir2, "id", "1000", "1149").size === 8)
    assert(SnapshotTable.readRange(spark, dir2, "id", "1000", "1149")
      .count() === 150)
    // non-stat column: prune is refused (conservative), filter is exact
    assert(SnapshotTable.readRange(spark, dir, "score", "10000", "10090")
      .count() === 10)
  }

  test("timestamp stats prune via epoch-micros; NaN float stats never brick pruning") {
    import spark.implicits._
    // TIMESTAMP cluster column: stats must be epoch-micros strings (a
    // session-local-time rendering inverts order across a DST fall-back
    // and differs between writer and reader timezones), and readWhere
    // bounds follow the same micros convention
    val dir = freshDir()
    val rows = (0 until 1000).map(i =>
      (i.toLong, new java.sql.Timestamp(i * 3600L * 1000L), i.toDouble))
    val df = rows.toDF("id", "ts", "v")
    SnapshotTable.createClustered(spark, dir,
      df.repartitionByRange(8, col("ts")), clusterCols = Seq("ts"))
    val loUs = 300L * 3600L * 1000000L // hour 300 in micros
    val hiUs = 360L * 3600L * 1000000L // hour 360
    val cands = SnapshotTable.readCandidates(dir,
      Map("ts" -> (loUs.toString, hiUs.toString)))
    assert(cands.size <= 2, s"micros stats did not prune: ${cands.size} of 8")
    val got = SnapshotTable.readWhere(spark, dir,
      Map("ts" -> (loUs.toString, hiUs.toString)))
    assert(got.count() === 61) // hours 300..360 inclusive
    // NaN in a clustered DOUBLE column: max() carries NaN into the
    // manifest; pruning must stay conservative (file remains a
    // candidate), never throw, and the residual filter stays exact
    val dir2 = freshDir()
    val withNaN = (0 until 100).map(i =>
      (i.toLong, if (i == 50) Double.NaN else i.toDouble)).toDF("id", "v")
    SnapshotTable.createClustered(spark, dir2,
      withNaN.repartitionByRange(4, col("v")), clusterCols = Seq("v"))
    val c2 = SnapshotTable.readCandidates(dir2, Map("v" -> ("10", "20")))
    assert(c2.nonEmpty) // and, crucially, no NumberFormatException
    assert(SnapshotTable.readWhere(spark, dir2, Map("v" -> ("10", "20")))
      .count() === 11) // NaN fails the residual range predicate
    // merge discovery over the NaN-stats table must not throw either
    val upd = Seq((50L, 99.0)).toDF("id", "v")
    assert(SnapshotTable.discoveryCandidates(spark, dir2, upd, Seq("v")).nonEmpty)
  }

  test("z-order layout: second-dimension bounds prune files; lexicographic cannot") {
    import spark.implicits._
    // a full 64x64 grid of (x, y) keys — every key-space cell populated,
    // so file stats reflect layout, not data sparsity
    val grid = (for { x <- 0 until 64; y <- 0 until 64 }
      yield (x.toLong, y.toLong, (x * 64 + y).toLong)).toDF("x", "y", "payload")
    val zkey = (0 until 6).map { b =>
      (shiftright(col("x"), b).bitwiseAND(lit(1L)) * lit(1L << (2 * b))) +
        (shiftright(col("y"), b).bitwiseAND(lit(1L)) * lit(1L << (2 * b + 1)))
    }.reduceLeft(_ + _)
    val zdir = freshDir()
    SnapshotTable.createClustered(spark, zdir,
      grid.withColumn("zkey", zkey)
        .repartitionByRange(16, col("zkey")).sortWithinPartitions(col("zkey")),
      clusterCols = Seq("x", "y"))
    val lexdir = freshDir()
    SnapshotTable.createClustered(spark, lexdir,
      grid.repartitionByRange(16, col("x"), col("y"))
        .sortWithinPartitions(col("x"), col("y")),
      clusterCols = Seq("x", "y"))
    // bounds on the SECOND dimension only: the z-curve confines
    // y∈[16,31] to 2 z-runs (≤6 of 16 unaligned files); the
    // lexicographic layout smears every y across every file
    val yOnly = Map("y" -> ("16", "31"))
    val zCands = SnapshotTable.readCandidates(zdir, yOnly)
    val lexCands = SnapshotTable.readCandidates(lexdir, yOnly)
    assert(zCands.size <= 6, s"z-order y-prune too weak: ${zCands.size} of 16")
    assert(lexCands.size == 16,
      s"lex layout should NOT prune on y: ${lexCands.size}")
    // a 2-D box tightens the z prune further
    val box = Map("x" -> ("8", "15"), "y" -> ("16", "31"))
    assert(SnapshotTable.readCandidates(zdir, box).size <= 4)
    // both layouts return the exact filtered result
    for (dir <- Seq(zdir, lexdir)) {
      val got = SnapshotTable.readWhere(spark, dir, box)
        .select($"x", $"y", $"payload").orderBy($"x", $"y").collect()
      assert(got.length === 8 * 16)
      assert(got.forall(r => r.getLong(0) >= 8 && r.getLong(0) <= 15 &&
        r.getLong(1) >= 16 && r.getLong(1) <= 31))
      assert(got.forall(r => r.getLong(2) === r.getLong(0) * 64 + r.getLong(1)))
    }
  }

  test("vacuum then appendEpoch/history: enumeration survives missing manifests, epoch markers survive vacuum") {
    import spark.implicits._
    val dir = freshDir()
    def batch(e: Int) = (0 until 5)
      .map(i => ((e * 10 + i).toLong, s"n$i", i.toLong))
      .toDF("id", "name", "score")
    assert(SnapshotTable.appendEpoch(spark, dir, batch(0), 0L) === 1)
    assert(SnapshotTable.appendEpoch(spark, dir, batch(1), 1L) === 2)
    assert(SnapshotTable.appendEpoch(spark, dir, batch(2), 2L) === 3)
    // vacuum reclaims manifests v1, v2 — versions are no longer 1..latest
    SnapshotTable.vacuum(dir, keepVersions = 1)
    assert(SnapshotTable.existingVersions(dir) === Seq(3))
    // the ADVICE bug: these used to throw NoSuchFileException post-vacuum
    val h = SnapshotTable.history(spark, dir).collect()
    assert(h.map(_.getInt(0)).toSeq === Seq(3))
    // EXACTLY-ONCE survives vacuum: epoch 1's manifest is gone, but the
    // carried-forward range-set still marks it committed → replay skips
    SnapshotTable.appendEpoch(spark, dir, batch(1), 1L)
    assert(SnapshotTable.read(spark, dir).count() === 15)
    // and new epochs keep committing past the gap
    assert(SnapshotTable.appendEpoch(spark, dir, batch(3), 3L) === 4)
    assert(SnapshotTable.read(spark, dir).count() === 20)
    // a second vacuum with keepVersions larger than what exists is safe
    SnapshotTable.vacuum(dir, keepVersions = 5)
    assert(SnapshotTable.existingVersions(dir) === Seq(3, 4))
    // non-epoch commits carry the epoch set forward too: compact, vacuum
    // to just the compacted version, then replay an old epoch — skipped
    SnapshotTable.compact(spark, dir, target = 1)
    SnapshotTable.vacuum(dir, keepVersions = 1)
    SnapshotTable.appendEpoch(spark, dir, batch(0), 0L)
    assert(SnapshotTable.read(spark, dir).count() === 20)
  }

  test("vacuum drops unreferenced files and truncates time travel") {
    import spark.implicits._
    val dir = freshDir()
    SnapshotTable.create(spark, dir, seed(40), numFiles = 4)
    SnapshotTable.delete(spark, dir, "id < 20")
    SnapshotTable.compact(spark, dir, target = 1)
    def dataFiles(): Long = {
      val root = Paths.get(dir, "data")
      Files.walk(root).filter(p => p.toString.endsWith(".parquet")).count()
    }
    val before = dataFiles()
    SnapshotTable.vacuum(dir, keepVersions = 1)
    assert(dataFiles() < before)
    // latest still reads
    assert(SnapshotTable.read(spark, dir).count() === 20)
    // vacuumed versions are gone
    intercept[Exception] { SnapshotTable.read(spark, dir, Some(1)).count() }
  }

  // -------------------------------------------------------------------
  // Optimistic-commit retry/rebase (round 9): racing writers BOTH land
  // unless the caller pinned a snapshot with fromVersion.
  // -------------------------------------------------------------------

  /** Run each thunk on its own thread, released together by a barrier so
    * the optimistic windows genuinely overlap; rethrows the first
    * failure. */
  private def racing(bodies: (() => Unit)*): Unit = {
    val barrier = new java.util.concurrent.CyclicBarrier(bodies.size)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = bodies.map { b =>
      new Thread(() => {
        barrier.await()
        try b() catch { case t: Throwable => errs.add(t) }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
  }

  test("retry/rebase: racing appenders all land; every row survives") {
    import spark.implicits._
    val dir = freshDir()
    SnapshotTable.create(spark, dir, seed(10), numFiles = 1)
    val writers = 6
    racing((0 until writers).map { w => () =>
      val batch = (0 until 5)
        .map(i => (1000L + w * 10 + i, s"w${w}_$i", w.toLong))
        .toDF("id", "name", "score")
      SnapshotTable.append(spark, dir, batch, numFiles = 1): Unit
    }: _*)
    // all 6 commits landed: versions 2..7 exist, no rows lost
    assert(SnapshotTable.latestVersion(dir) === 1 + writers)
    val back = SnapshotTable.read(spark, dir)
    assert(back.count() === 10 + writers * 5)
    assert(back.filter(col("id") >= 1000).count() === writers * 5)
  }

  test("retry/rebase: a merge racing an append lands without lost files") {
    import spark.implicits._
    val dir = freshDir()
    SnapshotTable.create(spark, dir, seed(100), numFiles = 4)
    val updates = Seq((3L, "UPDATED", 999L), (200L, "INSERTED", 111L))
      .toDF("id", "name", "score")
    val appended = (300L until 310L).map(i => (i, s"app_$i", i))
      .toDF("id", "name", "score")
    racing(
      () => SnapshotTable.merge(spark, dir, updates, Seq("id")): Unit,
      () => SnapshotTable.append(spark, dir, appended, numFiles = 1): Unit)
    // both committed (v2 and v3, either order), nothing lost: the merge
    // result AND the appended rows are all present exactly once
    assert(SnapshotTable.latestVersion(dir) === 3)
    val back = SnapshotTable.read(spark, dir)
    assert(back.count() === 100 + 1 /*insert*/ + 10 /*append*/)
    assert(back.filter(col("id") === 3L).select("name").head.getString(0) === "UPDATED")
    assert(back.filter(col("id") === 200L).count() === 1)
    assert(back.filter(col("id") >= 300L && col("id") < 310L).count() === 10)
  }

  test("retry/rebase: racing replays of the SAME epoch apply exactly once") {
    import spark.implicits._
    val dir = freshDir()
    SnapshotTable.create(spark, dir, seed(10), numFiles = 1)
    val batch = (500L until 520L).map(i => (i, s"e_$i", i)).toDF("id", "name", "score")
    racing(
      () => SnapshotTable.appendEpoch(spark, dir, batch, epochId = 7L): Unit,
      () => SnapshotTable.appendEpoch(spark, dir, batch, epochId = 7L): Unit)
    // exactly-once despite the race: the loser's retry sees the epoch
    // committed and returns idempotently
    assert(SnapshotTable.read(spark, dir).count() === 30)
    assert(SnapshotTable.latestVersion(dir) === 2)
    // and a replay after the dust settles is still a no-op
    SnapshotTable.appendEpoch(spark, dir, batch, epochId = 7L)
    assert(SnapshotTable.read(spark, dir).count() === 30)
  }

  test("retry/rebase: a pinned fromVersion still throws on conflict (no silent rebase)") {
    val dir = freshDir()
    SnapshotTable.create(spark, dir, seed(10))
    SnapshotTable.append(spark, dir, seed(5), numFiles = 1) // v2
    intercept[SnapshotTable.ConcurrentCommitException] {
      // this caller READ v1 and pinned it; v2 exists, so its publish
      // must lose — rebasing would fabricate a read it never made
      SnapshotTable.merge(spark, dir, seed(3), Seq("id"), fromVersion = Some(1))
    }
  }

  // -------------------------------------------------------------------
  // Stats-format marker (round 9): legacy timestamp stats are DETECTED,
  // not silently unpruned via the parse-failure fallback.
  // -------------------------------------------------------------------

  test("statsfmt: legacy manifests (no marker) never prune timestamp stats; compact upgrades them") {
    import spark.implicits._
    val dir = freshDir()
    val rows = (0 until 1000).map(i =>
      (i.toLong, new java.sql.Timestamp(i * 3600L * 1000L)))
    SnapshotTable.createClustered(spark, dir,
      rows.toDF("id", "ts").repartitionByRange(8, col("ts")),
      clusterCols = Seq("ts"))
    val loUs = (300L * 3600L * 1000000L).toString
    val hiUs = (360L * 3600L * 1000000L).toString
    val bounds = Map("ts" -> (loUs, hiUs))
    assert(SnapshotTable.readCandidates(dir, bounds).size <= 2,
      "marker present: micros stats must prune")
    // simulate a table written by the pre-marker code: strip statsfmt
    // from the manifest header (its stats stay micros here, but the
    // CONTRACT is that unmarked timestamp stats are untrusted)
    val mf = Paths.get(dir, "_manifests", f"v${1}%08d.manifest")
    val doctored = new String(Files.readAllBytes(mf), "UTF-8")
      .replace("\tstatsfmt=micros-v2", "")
    Files.write(mf, doctored.getBytes("UTF-8"))
    val legacy = SnapshotTable.readCandidates(dir, bounds)
    assert(legacy.size === 8,
      s"legacy timestamp stats must NOT prune, got ${legacy.size} of 8")
    // readWhere stays correct either way (residual filters are exact)
    assert(SnapshotTable.readWhere(spark, dir, bounds).count() === 61)
    // the documented one-time fix: compact rewrites stats under the
    // current renderer and stamps the marker — pruning resumes
    SnapshotTable.compact(spark, dir, target = 8)
    assert(SnapshotTable.readCandidates(dir, bounds).size <= 2,
      "compact must restore the marker and the prune")
    assert(SnapshotTable.readWhere(spark, dir, bounds).count() === 61)
  }

  test("merge rewrites stay key-clustered: a later narrow merge touches 1 rewritten file, not all of them") {
    import spark.implicits._
    val dir = freshDir()
    val base = (0 until 8000).map(i => (i.toLong, s"n_$i"))
    SnapshotTable.createClustered(spark, dir,
      base.toDF("id", "name").repartitionByRange(80, col("id")),
      clusterCols = Seq("id"))
    // merge #1 touches a 400-id band — its rewrite produces 4 files
    val upd1 = (100L until 500L by 4).map(i => (i, "u1")).toDF("id", "name")
    SnapshotTable.merge(spark, dir, upd1, Seq("id"), numFiles = 4)
    // merge #2 hits ONE key inside that band. If the rewrite had been
    // round-robin, all 4 rewritten files would span the whole band and
    // ALL would be discovery candidates + rewritten again; the range-
    // clustered rewrite confines the key to ~1 of them
    val cands = SnapshotTable.discoveryCandidates(spark, dir,
      Seq((120L, "u2")).toDF("id", "name"), Seq("id"))
    assert(cands.size <= 2, s"rewritten files not clustered: ${cands.size} candidates")
    // and the content stays exact through both merges
    SnapshotTable.merge(spark, dir, Seq((120L, "u2")).toDF("id", "name"), Seq("id"))
    val back = SnapshotTable.read(spark, dir)
    assert(back.count() === 8000)
    assert(back.filter($"id" === 120L).select("name").head.getString(0) === "u2")
    assert(back.filter($"id" === 104L).select("name").head.getString(0) === "u1")
    assert(back.filter($"id" === 7000L).select("name").head.getString(0) === "n_7000")
  }

  test("manifest stats framing survives adversarial string keys (tabs, newlines, delimiters, unicode)") {
    import spark.implicits._
    // cluster on a STRING column whose values contain every framing
    // character the manifest format uses (tab field separator, `;`
    // stat joiner, `,` range separator, `=`, newlines) plus unicode —
    // URL-encoding must keep the manifest parseable and the stats
    // CORRECT, not just non-crashing
    val nasty = Seq(
      "a\tb", "c;d", "e,f", "g=h", "i\nj", "k%l", "müller", "日本語",
      "plain", "  spaces  ")
    val dir = freshDir()
    val rows = nasty.zipWithIndex.map { case (s, i) => (i.toLong, s) }
    SnapshotTable.createClustered(spark, dir,
      rows.toDF("id", "key").repartitionByRange(5, col("key")),
      clusterCols = Seq("key"))
    // the manifest round-trips: reads reproduce every value exactly
    val back = SnapshotTable.read(spark, dir)
      .select($"key").collect().map(_.getString(0)).toSet
    assert(back === nasty.toSet)
    // point-lookup bounds on each nasty value return the right rows
    // (the residual filter is exact; pruning merely must not LOSE rows)
    for (k <- nasty) {
      val got = SnapshotTable.readWhere(spark, dir, Map("key" -> (k, k)))
        .select($"key").collect().map(_.getString(0)).toSeq
      assert(got === Seq(k), s"lookup for ${k.replace("\n", "\\n")} got $got")
    }
    // and a merge keyed on the nasty column still works end-to-end
    val upd = Seq((0L, "a\tb+updated")).toDF("id", "key")
    SnapshotTable.merge(spark, dir, upd, Seq("id"))
    assert(SnapshotTable.read(spark, dir).filter($"id" === 0L)
      .select($"key").head.getString(0) === "a\tb+updated")
  }

  test("readCandidates rejects a non-micros timestamp bound (readWhere's contract, shared)") {
    import spark.implicits._
    val dir = freshDir()
    val rows = (0 until 100).map(i =>
      (i.toLong, new java.sql.Timestamp(i * 3600L * 1000L)))
    SnapshotTable.createClustered(spark, dir,
      rows.toDF("id", "ts").repartitionByRange(4, col("ts")),
      clusterCols = Seq("ts"))
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.readCandidates(dir,
        Map("ts" -> ("2024-01-01 00:00:00", "2024-06-01 00:00:00")))
    }
    assert(e.getMessage.contains("EPOCH-MICROS"))
  }
}
