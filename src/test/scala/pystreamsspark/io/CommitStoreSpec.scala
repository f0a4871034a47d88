package pystreamsspark.io

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import pystreamsspark.SparkSpec

/** The commit protocol driven through INJECTED [[CommitStore]]
  * implementations (round 13, r12 verdict #2): the rebase laws must
  * hold not just under the benign local put-if-absent but under the
  * adversarial behaviors an object store exhibits —
  *  - CONTENTION: every first publish attempt loses to a competitor
  *    that actually lands a commit (the loser must rebase onto it and
  *    both writers' rows survive);
  *  - DELAYED VISIBILITY: put-if-absent reports a loss while the
  *    winner's manifest is not yet listable (the retry loop must keep
  *    going and eventually land; exhausted retries fail CLEANLY with
  *    table state unchanged).
  * Every other suite exercises the interface's production default
  * continuously, since the default store IS the local impl. */
class CommitStoreSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("commitstore").toString

  private def seed(lo: Int, hi: Int) = {
    import spark.implicits._
    (lo until hi).map(i => (i.toLong, i * 10L)).toDF("id", "score")
  }

  /** Restore the production store after each scenario, whatever
    * happened. */
  private def withStore[A](s: CommitStore)(body: => A): A =
    try { SnapshotTable.commitStore = s; body }
    finally SnapshotTable.commitStore = LocalCommitStore

  test("local store: a published path is never visible before its bytes") {
    val d = Files.createTempDirectory("commitstore_vis")
    val bytes = Array.fill[Byte](1 << 20)('x')
    val paths = (0 until 100).map(i => d.resolve(f"v$i%08d.manifest"))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val reader = new Thread(() => paths.foreach { p =>
      while (!Files.exists(p)) Thread.onSpinWait()
      seen.add(Files.size(p))
    })
    reader.start()
    paths.foreach(p => assert(LocalCommitStore.putIfAbsent(p, bytes)))
    reader.join()
    assert(seen.size === paths.size)
    assert(seen.toArray.forall(_ == bytes.length.toLong),
      "a reader saw a published path with partial bytes")
    assert(!LocalCommitStore.putIfAbsent(paths.head, Array[Byte](1)))
    assert(Files.size(paths.head) === bytes.length.toLong)
    // the publish leaves no temp file behind
    val listed = Files.list(d)
    try assert(listed.count() === paths.size.toLong) finally listed.close()
  }

  test("contended store: every first attempt loses to a real competing " +
    "commit; the rebase lands both writers' rows") {
    val dir = freshDir()
    SnapshotTable.create(spark, dir, seed(0, 100))
    val competing = new AtomicInteger(0)
    // on each FIRST attempt for a path: land a competitor's commit at
    // that very version (through the real local store), then report the
    // caller's loss — the textbook commit race, forced every time
    val contended: CommitStore = new CommitStore {
      override def putIfAbsent(path: Path, bytes: Array[Byte]): Boolean =
        synchronized {
          if (competing.compareAndSet(0, 1)) {
            SnapshotTable.commitStore = LocalCommitStore
            try SnapshotTable.append(spark, dir,
              seed(10000, 10001), numFiles = 1)
            finally SnapshotTable.commitStore = this
            false // the caller lost — and the winner is REAL
          } else LocalCommitStore.putIfAbsent(path, bytes)
        }
    }
    withStore(contended) {
      SnapshotTable.append(spark, dir, seed(200, 210), numFiles = 1)
    }
    // exactly one forced race: the append lost v2, rebased, won v3
    assert(competing.get === 1)
    assert(SnapshotTable.latestVersion(dir) === 3)
    val ids = SnapshotTable.read(spark, dir).select("id")
      .collect().map(_.getLong(0)).toSet
    assert((200L until 210L).forall(ids)) // the rebased writer's rows
    assert(ids.contains(10000L))          // the competitor's rows
    assert(ids.size === 111)
  }

  test("delayed visibility: losses without a visible winner retry " +
    "until the store heals; exhausted retries fail with state unchanged") {
    val dir = freshDir()
    SnapshotTable.create(spark, dir, seed(0, 50))
    class Delayed(failures: Int) extends CommitStore {
      val calls = new AtomicInteger(0)
      override def putIfAbsent(path: Path, bytes: Array[Byte]): Boolean =
        if (calls.incrementAndGet() <= failures) false
        else LocalCommitStore.putIfAbsent(path, bytes)
    }
    // heals within the retry budget → the append lands
    val d3 = new Delayed(3)
    withStore(d3) {
      SnapshotTable.append(spark, dir, seed(100, 110), numFiles = 1,
        maxRetries = 5)
    }
    assert(d3.calls.get === 4)
    assert(SnapshotTable.latestVersion(dir) === 2)
    assert(SnapshotTable.read(spark, dir).count() === 60)
    // never heals → clean ConcurrentCommitException, nothing committed
    val never = new Delayed(Int.MaxValue)
    val e = intercept[Exception] {
      withStore(never) {
        SnapshotTable.append(spark, dir, seed(200, 210), numFiles = 1,
          maxRetries = 2)
      }
    }
    assert(e.getMessage.contains("committed concurrently"))
    assert(SnapshotTable.latestVersion(dir) === 2)
    assert(SnapshotTable.read(spark, dir).count() === 60)
  }

  test("contended store under MERGE: a forced loss rebases the merge " +
    "onto the competitor's append without losing either change") {
    import spark.implicits._
    val dir = freshDir()
    val df = spark.range(0, 1000)
      .select(col("id"), (col("id") * 10).as("score"))
      .repartitionByRange(8, col("id"))
    SnapshotTable.createClustered(spark, dir, df.toDF, Seq("id"))
    val fired = new AtomicInteger(0)
    val contended: CommitStore = new CommitStore {
      override def putIfAbsent(path: Path, bytes: Array[Byte]): Boolean =
        synchronized {
          if (fired.compareAndSet(0, 1)) {
            SnapshotTable.commitStore = LocalCommitStore
            try SnapshotTable.append(spark, dir,
              Seq((5000L, 1L)).toDF("id", "score"), numFiles = 1)
            finally SnapshotTable.commitStore = this
            false
          } else LocalCommitStore.putIfAbsent(path, bytes)
        }
    }
    withStore(contended) {
      SnapshotTable.merge(spark, dir,
        Seq((10L, 999L), (20L, 888L)).toDF("id", "score"), Seq("id"))
    }
    val out = SnapshotTable.read(spark, dir)
    assert(out.filter(col("id") === 10).head.getLong(1) === 999L)
    assert(out.filter(col("id") === 20).head.getLong(1) === 888L)
    assert(out.filter(col("id") === 5000).count() === 1)
    assert(out.count() === 1001)
  }
}
