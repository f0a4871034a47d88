package pystreamsspark.io

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import pystreamsspark.SparkSpec

/** HIDDEN PARTITION TRANSFORMS (round-12, r11 verdict #2): cluster
  * declarations accept `days(ts)` / `months(ts)` / `hours(ts)` /
  * `truncate(w, c)` alongside bare columns. Laws:
  *  - the write funnel groups every batch by transform value (files
  *    align to calendar/prefix boundaries), and base-column predicates
  *    prune via the recorded SOURCE-column stats — a one-day window
  *    over a month of events opens only the covering files;
  *  - every write path inherits the shaping (append, MERGE rewrite);
  *  - RENAME COLUMN follows the source through the transform spec, and
  *    pruning + shaping survive;
  *  - dropping a transform source refuses (layout law, like any
  *    cluster column); truncate on a widened int column keeps working;
  *  - SQL DDL (`TBLPROPERTIES('clustercols'='days(ts)')`) works and
  *    SHOW TBLPROPERTIES reports the declared specs.
  */
class PartitionTransformSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_pt_").toString

  private def dayUs(day: Int): Long = {
    // 2024-01-<day> UTC, epoch micros
    java.time.LocalDate.of(2024, 1, day)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli * 1000L
  }

  /** n rows/day over January 2024 days 1..days, shuffled together. */
  private def january(days: Int, perDay: Int) = {
    val rows = for (d <- 1 to days; i <- 0 until perDay) yield
      (d * 10000L + i,
        new Timestamp((dayUs(d) + i * 977000L) / 1000L),
        s"u${i % 7}", (d * 100 + i).toDouble)
    rows.toDF("id", "ts", "who", "v").repartition(8) // deliberately smeared
  }

  test("days(ts): batch groups to day-aligned files; a one-day window " +
    "prunes to the covering files") {
    val dir = tmp()
    val df = january(days = 20, perDay = 50)
    SnapshotTable.createEmpty(dir,
      df.schema, clusterCols = Seq("days(ts)"))
    SnapshotTable.append(spark, dir, df, numFiles = 4)
    val total = SnapshotTable.filePaths(dir).size
    assert(total >= 15, s"transform shaping must produce ~per-day files, " +
      s"got $total")
    val (lo, hi) = (dayUs(7), dayUs(8) - 1)
    val cand = SnapshotTable.readCandidates(dir, "ts", lo.toString,
      hi.toString, None)
    assert(cand.size <= 3,
      s"a one-day window must open only covering files: ${cand.size} of $total")
    // the pruned read is exact
    val got = SnapshotTable.readWhere(spark, dir,
      Map("ts" -> (lo.toString, hi.toString))).count()
    assert(got === 50)
  }

  test("truncate(2, who) on strings groups by prefix; truncate(1000, id) " +
    "floors integrals; both prune") {
    val dir = tmp()
    val df = (0 until 4000).map(i =>
      (i.toLong, f"k${i % 40}%03d_x", i * 1.0)).toDF("id", "key", "v")
    SnapshotTable.createEmpty(dir, df.schema,
      clusterCols = Seq("truncate(3,key)", "truncate(1000,id)"))
    SnapshotTable.append(spark, dir, df, numFiles = 2)
    val total = SnapshotTable.filePaths(dir).size
    val cand = SnapshotTable.readCandidates(dir,
      Map("key" -> ("k01", "k01~")), None)
    assert(cand.size < total,
      s"prefix window must prune: ${cand.size} of $total")
    assert(SnapshotTable.readWhere(spark, dir,
      Map("id" -> ("1000", "1999"))).count() === 1000)
  }

  test("MERGE rewrites keep the transform layout; rename follows the " +
    "source; drop of the source refuses") {
    val dir = tmp()
    val df = january(days = 10, perDay = 40)
    SnapshotTable.createEmpty(dir, df.schema,
      clusterCols = Seq("days(ts)"))
    SnapshotTable.append(spark, dir, df, numFiles = 2)
    // narrow merge into day 3 — only covering files rewrite, and the
    // rewritten batch keeps day-aligned shaping
    val upd = Seq((30000L, new Timestamp(dayUs(3) / 1000L), "uX", -1.0))
      .toDF("id", "ts", "who", "v")
    SnapshotTable.merge(spark, dir, upd, Seq("id"), numFiles = 1)
    val cand3 = SnapshotTable.readCandidates(dir, "ts",
      dayUs(3).toString, (dayUs(4) - 1).toString, None)
    assert(cand3.size <= 3)
    assert(SnapshotTable.readWhere(spark, dir,
      Map("ts" -> (dayUs(3).toString, (dayUs(4) - 1).toString)))
      .filter($"who" === "uX").count() === 1)
    // rename: the transforms header follows, shaping + pruning survive
    SnapshotTable.renameColumn(dir, "ts", "event_ts")
    assert(SnapshotTable.snapshot(dir).transforms.map(_.spec) ===
      Seq("days(event_ts)"))
    val more = january(days = 10, perDay = 10)
      .withColumnRenamed("ts", "event_ts")
    SnapshotTable.append(spark, dir, more, numFiles = 1)
    val cand5 = SnapshotTable.readCandidates(dir, "event_ts",
      dayUs(5).toString, (dayUs(6) - 1).toString, None)
    assert(cand5.size < SnapshotTable.filePaths(dir).size)
    // dropping the transform source refuses (cluster layout law)
    val e = intercept[Exception] {
      SnapshotTable.dropColumn(dir, "event_ts")
    }
    assert(e.getMessage.contains("cluster column"))
  }

  test("SQL DDL route: clustercols='days(ts)' parses, shapes, prunes, " +
    "and SHOW TBLPROPERTIES reports the spec") {
    val wh = tmp()
    SnapshotSql.register(spark, wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pt")
    val t = "ptsql_" + java.util.UUID.randomUUID().toString.take(8)
    spark.sql(s"CREATE TABLE graft.pt.$t (id BIGINT, ts TIMESTAMP, " +
      "v DOUBLE) TBLPROPERTIES('clustercols'='days(ts)')")
    val dir = SnapshotSql.resolveTable(spark, Seq("graft", "pt", t)).get
    SnapshotTable.append(spark, dir,
      january(days = 12, perDay = 25).select($"id", $"ts", $"v"),
      numFiles = 2)
    val cand = SnapshotTable.readCandidates(dir, "ts",
      dayUs(9).toString, (dayUs(10) - 1).toString, None)
    assert(cand.size < SnapshotTable.filePaths(dir).size)
    val props = spark.sql(s"SHOW TBLPROPERTIES graft.pt.$t")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("clustercols").contains("days(ts)"))
    // a bad transform fails loudly at declaration
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.pt.${t}_bad (id BIGINT, s STRING) " +
        "TBLPROPERTIES('clustercols'='days(s)')")
    }
    assert(e.getMessage.contains("timestamp/date"))
  }

  test("cluster-spec EVOLUTION (SET TBLPROPERTIES('clustercols'=…)): " +
    "the write law changes, old files stay conservative, un-cluster " +
    "works, bucketed tables refuse") {
    val dir = tmp()
    val df = january(days = 10, perDay = 40)
    // born UNCLUSTERED
    SnapshotTable.createEmpty(dir, df.schema)
    SnapshotTable.append(spark, dir, df, numFiles = 4)
    val oldFiles = SnapshotTable.filePaths(dir).map(
      _.stripPrefix(dir + "/")).toSet
    // evolve to days(ts): future batches day-group and record stats
    SnapshotTable.setProperties(spark, dir,
      Map("clustercols" -> "days(ts)"))
    assert(SnapshotTable.snapshot(dir).transforms.map(_.spec) ===
      Seq("days(ts)"))
    SnapshotTable.append(spark, dir, january(days = 10, perDay = 40),
      numFiles = 2)
    val total = SnapshotTable.filePaths(dir).size
    val cand = SnapshotTable.readCandidates(dir, "ts",
      dayUs(4).toString, (dayUs(5) - 1).toString, None)
    // every pre-evolution file stays a candidate (no stats — never
    // pruned), while the new day-grouped files prune
    assert(oldFiles.subsetOf(cand.toSet),
      "pre-evolution files must stay conservative candidates")
    assert(cand.size < total,
      s"post-evolution files must prune: ${cand.size} of $total")
    assert(SnapshotTable.readWhere(spark, dir,
      Map("ts" -> (dayUs(4).toString, (dayUs(5) - 1).toString)))
      .count() === 80)
    // a full compact rewrites everything under the new law
    SnapshotTable.compact(spark, dir, 12)
    val cand2 = SnapshotTable.readCandidates(dir, "ts",
      dayUs(4).toString, (dayUs(5) - 1).toString, None)
    assert(cand2.size < SnapshotTable.filePaths(dir).size,
      "after OPTIMIZE the whole table prunes under the new spec")
    // un-cluster: empty declaration drops the write law
    SnapshotTable.setProperties(spark, dir, Map("clustercols" -> ""))
    assert(SnapshotTable.snapshot(dir).statsCols.isEmpty)
    assert(SnapshotTable.read(spark, dir).count() === 800)
    // bucketed tables refuse (contradictory file shapes)
    val bdir = tmp()
    SnapshotTable.createEmpty(bdir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))),
      bucketSpec = Some(("k", 4)))
    val e = intercept[Exception] {
      SnapshotTable.setProperties(spark, bdir,
        Map("clustercols" -> "k"))
    }
    assert(e.getMessage.contains("bucket"))
    // SQL route: ALTER TABLE … SET TBLPROPERTIES on the catalog
    SnapshotSql.register(spark, tmp())
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pt")
    val t = "ptevo_" + java.util.UUID.randomUUID().toString.take(8)
    spark.sql(s"CREATE TABLE graft.pt.$t (id BIGINT, ts TIMESTAMP)")
    spark.sql(s"ALTER TABLE graft.pt.$t " +
      "SET TBLPROPERTIES('clustercols'='days(ts)')")
    val tdir = SnapshotSql.resolveTable(spark, Seq("graft", "pt", t)).get
    assert(SnapshotTable.snapshot(tdir).transforms.map(_.spec) ===
      Seq("days(ts)"))
  }
}
