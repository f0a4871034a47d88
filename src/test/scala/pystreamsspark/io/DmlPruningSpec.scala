package pystreamsspark.io

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.graft.BusShim
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import pystreamsspark.SparkSpec

/** Row-level DML reads only the files it can change: the snapshot scan's
  * file index drops the files whose manifest stats prove a pushed-down
  * conjunct cannot hold, so delete, UPDATE and deletion vectors over a
  * key window of a clustered table open the window's files, and return
  * what an unpruned rewrite would. Stats compare in UTF-8 byte order,
  * the order of Spark's min/max that rendered them. */
class DmlPruningSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def freshDir(): String =
    Files.createTempDirectory("dmlprune").toString

  /** A 32-file table clustered on `k` (about 1,000 keys a file). */
  private def table(): String = {
    val d = freshDir()
    SnapshotTable.createClustered(spark, d,
      spark.range(0, 32000).select(col("id").as("k"), (col("id") % 97).as("v"))
        .repartitionByRange(32, col("k")).sortWithinPartitions("k"),
      Seq("k"))
    d
  }

  /** Files read by every scan of `dir` while `body` runs, per the scans'
    * "number of files read" metric, with each scan's pushed filters. */
  private def scans(dir: String)(body: => Unit): Seq[(Long, Int)] = {
    val seen = mutable.ArrayBuffer.empty[QueryExecution]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        seen.synchronized { seen += qe; () }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // earlier queries' events must not reach this listener
    BusShim.waitUntilEmpty(spark.sparkContext)
    spark.listenerManager.register(l)
    try body
    finally {
      BusShim.waitUntilEmpty(spark.sparkContext)
      spark.listenerManager.unregister(l)
    }
    seen.synchronized(seen.toSeq).flatMap(qe => collect(qe.executedPlan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(dir)) =>
        (s.metrics("numFiles").value, s.dataFilters.size)
    })
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.select("k", "v").collect().toSeq.sortBy(_.getLong(0))

  private val window = "k >= 5000 AND k < 6200"

  test("delete, update and deleteVectors on a key window read only the " +
    "candidate files; results equal an unpruned reference") {
    // range-shaped files hold about 1,000 keys each: the window spans a few
    def candidates(d: String): Int = {
      val n = SnapshotTable.readCandidates(d, "k", "5000", "6199").size
      assert(n >= 2 && n <= 4, n)
      n
    }
    def check(op: String => Unit, expected: DataFrame => DataFrame): Unit = {
      val d = table()
      val cands = candidates(d)
      val before = SnapshotTable.read(spark, d)
      val want = rows(expected(before))
      val read = scans(d)(op(d))
      assert(read.nonEmpty)
      assert(read.forall(_._1 <= cands), s"scans read $read files, not <= $cands")
      assert(rows(SnapshotTable.read(spark, d)) === want)
    }
    check(d => SnapshotTable.delete(spark, d, window),
      _.filter(s"NOT ($window)"))
    check(d => SnapshotTable.update(spark, d, window, Seq("v" -> "v + 1000")),
      _.withColumn("v", when(expr(window), col("v") + 1000).otherwise(col("v"))))
    check(d => SnapshotTable.deleteVectors(spark, d, window),
      _.filter(s"NOT ($window)"))
    // on a table that already carries deletion vectors the tagged read
    // anti-joins them; the window still reaches the scan's data filters
    val d = table()
    val cands = candidates(d)
    SnapshotTable.deleteVectors(spark, d, "k >= 5000 AND k < 5010")
    val want = rows(SnapshotTable.read(spark, d).filter(s"NOT ($window)"))
    val read = scans(d)(SnapshotTable.deleteVectors(spark, d, window))
    assert(read.forall { case (n, filters) => n <= cands && filters > 0 }, read)
    assert(rows(SnapshotTable.read(spark, d)) === want)
  }

  test("a predicate the stats cannot bound reads every file") {
    Seq("k % 7 = 0", "k < 100 OR v = 5").foreach { pred =>
      val d = table()
      val want = rows(SnapshotTable.read(spark, d).filter(s"NOT ($pred)"))
      val read = scans(d)(SnapshotTable.delete(spark, d, pred))
      assert(read.map(_._1).max === 32, s"$pred: $read")
      assert(rows(SnapshotTable.read(spark, d)) === want)
    }
  }

  test("string stats compare in UTF-8 byte order: readWhere, a filtered " +
    "read and merge find a U+FFFD key beside a supplementary character") {
    import spark.implicits._
    val d = freshDir()
    // U+FFFD (EF BF BD) sorts below U+1F600 (F0 9F 98 80) in UTF-8 bytes,
    // above it in UTF-16 code units
    SnapshotTable.createClustered(spark, d,
      Seq(("\uFFFD", 1), ("\uD83D\uDE00", 2)).toDF("s", "x").coalesce(1), Seq("s"))
    assert(SnapshotTable.readCandidates(d, "s", "\uFFFD", "\uFFFD").size === 1)
    assert(SnapshotTable.readWhere(spark, d,
      Map("s" -> ("\uFFFD", "\uFFFD"))).count() === 1)
    assert(SnapshotTable.read(spark, d).filter(col("s") === "\uFFFD").count() === 1)
    SnapshotTable.merge(spark, d, Seq(("\uFFFD", 99)).toDF("s", "x"), Seq("s"))
    assert(SnapshotTable.read(spark, d).orderBy("x").collect().toSeq ===
      Seq(Row("\uD83D\uDE00", 2), Row("\uFFFD", 99)))
  }
}
