package pystreamsspark.io

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import pystreamsspark.{JobCount, SparkSpec}

/** Laws of the footer-resolved parquet read ([[Tables.parquet]]): a
  * load's schema comes from one footer read on the driver, so building
  * and planning it runs no Spark job, and the schema is exactly the one
  * `spark.read.parquet` infers — names, types, metadata and
  * nullability. Layouts the footer cannot speak for (partition
  * directories, `mergeSchema`) resolve through Spark and still agree. */
class TableLoadSpec extends SparkSpec {

  /** The benchmark's copy of the sf0.1 fixture tables (in the repo). */
  private val sfDir = "perfbench/data/sf0.1"

  private def plan(df: DataFrame): Unit = { df.queryExecution.executedPlan; () }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def freshDir(): String =
    Files.createTempDirectory("table_load_").resolve("t").toString

  test("building every Tables.load runs no Spark job") {
    Tables.tableNames.foreach { name =>
      val jobs = JobCount(spark)(plan(Tables.load(spark, sfDir, name)))
      assert(jobs === 0, s"building the $name load ran $jobs job(s)")
    }
    // the counter does see jobs: the inferring read runs one
    assert(JobCount(spark)(spark.read.parquet(s"$sfDir/region.parquet")) > 0)
  }

  test("every table's schema equals spark.read.parquet's, nullability " +
    "included (events under the loader's nanosAsLong)") {
    Tables.events(spark, sfDir) // sets nanosAsLong, as every load does
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    Tables.tableNames.foreach { name =>
      val path = s"$sfDir/$name.parquet"
      val want = spark.read.parquet(path).schema
      val got = Tables.parquet(spark, path).schema
      assert(got === want, s"$name schema")
      assert(got.map(_.nullable) === want.map(_.nullable), s"$name nullability")
      if (name != "events")
        assert(Tables.load(spark, sfDir, name).schema === want, s"$name load")
    }
    assert(Tables.events(spark, sfDir).schema("ts").dataType === TimestampType)
  }

  test("a directory of part files (the Amplify layout) loads with no job, " +
    "the same schema and the same rows") {
    import spark.implicits._
    val root = Files.createTempDirectory("table_load_amp_").toString
    val src = Seq(
      (1L, Some("a"), BigDecimal("1.25"), java.sql.Date.valueOf("2024-01-02"),
        java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123456"),
        Seq(1, 2), Map("k" -> 1.5)),
      (2L, None, BigDecimal("-3.50"), java.sql.Date.valueOf("1999-12-31"),
        java.sql.Timestamp.valueOf("1970-01-01 00:00:00"),
        Seq.empty[Int], Map.empty[String, Double]),
      (3L, Some("c"), BigDecimal("0.00"), java.sql.Date.valueOf("2000-02-29"),
        java.sql.Timestamp.valueOf("2038-01-19 03:14:07"),
        Seq(3), Map("z" -> -0.0)))
      .toDF("id", "name", "amount", "day", "at", "xs", "m")
      .withColumn("amount", col("amount").cast("decimal(12,2)"))
      .withColumn("nested", struct(col("id").as("i"), col("name").as("n")))
    src.repartition(3).write.parquet(s"$root/orders.parquet")
    val dir = s"$root/orders.parquet"
    assert(new java.io.File(dir).list().count(_.endsWith(".parquet")) === 3)
    var loaded: DataFrame = null
    val jobs = JobCount(spark) {
      loaded = Tables.load(spark, root, "orders"); plan(loaded)
    }
    assert(jobs === 0)
    val want = spark.read.parquet(dir)
    assert(loaded.schema === want.schema)
    assert(loaded.schema.map(_.nullable) === want.schema.map(_.nullable))
    assert(sorted(loaded) === sorted(want))
  }

  test("partitioned directories and mergeSchema resolve through Spark, " +
    "with Spark's schema") {
    import spark.implicits._
    val part = freshDir()
    Seq((1L, "en"), (2L, "de")).toDF("id", "lang")
      .write.partitionBy("lang").parquet(part)
    assert(Tables.parquet(spark, part).schema === spark.read.parquet(part).schema)
    assert(Tables.parquet(spark, part).columns.contains("lang"))

    // files of different columns: under mergeSchema every file's columns,
    // without it the first file's — both as Spark resolves them
    val flat = freshDir()
    Seq((1L, "a")).toDF("id", "a").write.parquet(flat)
    Seq((2L, 2.0)).toDF("id", "b").write.mode("append").parquet(flat)
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try {
      val want = spark.read.parquet(flat).schema
      assert(want.fieldNames.toSet === Set("id", "a", "b"))
      assert(Tables.parquet(spark, flat).schema === want)
    } finally spark.conf.unset(key)
    assert(Tables.parquet(spark, flat).schema === spark.read.parquet(flat).schema)
  }
}
