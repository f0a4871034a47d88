package pystreamsspark.io

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import pystreamsspark.SparkSpec

/** The pin law of catalog reads: a [[SnapshotV2Table]] resolves its
  * snapshot once, when the catalog loads it, so a frame analyzed from a
  * catalog table answers from the version it was analyzed at — whatever
  * commits land before its action runs — while a new `spark.table` call
  * loads the table again and sees the latest commit. Each case analyzes
  * a frame, commits one change through SQL on a GraftExtensions session
  * (a merge-on-read DELETE, a RENAME COLUMN, an INSERT), then collects
  * the frame. */
class CatalogSnapshotPinSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getLong(0))

  /** Runs `body(session, table)` on a GraftExtensions session over a
    * fresh table `graft.pin.<t>` holding (1, 'a'), (2, 'b'). */
  private def withTable(props: String)(body: (SparkSession, String) => Unit): Unit = {
    val wh = java.nio.file.Files.createTempDirectory("graft_pin_wh_").toString
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ext-pin")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new pystreamsspark.GraftExtensions().apply(_))
      .getOrCreate()
    try {
      SnapshotSql.register(ext, wh)
      ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.pin")
      val t = "graft.pin.t_" + java.util.UUID.randomUUID().toString.take(8)
      ext.sql(s"CREATE TABLE $t (id BIGINT, v STRING)$props")
      ext.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
      body(ext, t)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevActive.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  private val before = Seq(Row(1L, "a"), Row(2L, "b"))

  test("a frame analyzed before a merge-on-read DELETE reads the rows of " +
    "its version") {
    withTable(" TBLPROPERTIES ('delete.mode'='merge-on-read')") { (ext, t) =>
      val df = ext.table(t)
      ext.sql(s"DELETE FROM $t WHERE id = 1")
      assert(rows(df) === before)
      assert(rows(ext.table(t)) === Seq(Row(2L, "b")))
    }
  }

  test("a frame analyzed before a RENAME COLUMN reads the rows and names " +
    "of its version") {
    withTable("") { (ext, t) =>
      val df = ext.table(t)
      ext.sql(s"ALTER TABLE $t RENAME COLUMN v TO w")
      assert(rows(df) === before)
      assert(df.columns.toSeq === Seq("id", "v"))
      val now = ext.table(t)
      assert(now.columns.toSeq === Seq("id", "w"))
      assert(rows(now) === before)
    }
  }

  test("a frame analyzed before an INSERT reads the rows of its version") {
    withTable("") { (ext, t) =>
      val df = ext.table(t)
      ext.sql(s"INSERT INTO $t VALUES (3, 'c')")
      assert(rows(df) === before)
      assert(rows(ext.table(t)) === before :+ Row(3L, "c"))
    }
  }
}
