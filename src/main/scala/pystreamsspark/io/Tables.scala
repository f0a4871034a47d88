package pystreamsspark.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetShims
import org.apache.spark.sql.functions._

/** Schema-safe loaders for the driver's parquet test tables.
  *
  * Every table is a plain parquet scan built by [[parquet]]: the
  * vectorized reader plus Catalyst predicate pushdown / column pruning
  * make this the right scan for any scale; at 100 TB the same call
  * distributes across executors with
  * `spark.sql.files.maxPartitionBytes`-sized splits. The scan's SCHEMA
  * comes from one parquet footer read on the driver, converted by
  * Spark's own footer reader, and is handed to `spark.read.schema`:
  * `spark.read.parquet` would resolve the same schema by running a
  * one-task Spark job per load (schema inference), a fixed cost that
  * dominated building the short queries this library serves.
  *
  * One genuine quirk (SURVEY.md §7.4): historically `events.ts` was parquet
  * TIMESTAMP(NANOS), which Spark 4.x rejects by default; newer drops of the
  * test data write plain TIMESTAMP(MICROS). The loader adapts to whichever
  * physical type it finds: we always read with `nanosAsLong=true` so a
  * ns-typed file resolves (as LongType nanos-since-epoch) instead of
  * throwing, then branch on the *resolved* Spark type of `ts` — LongType
  * means the ns path (truncate to µs with integer division, identical to
  * DuckDB's ns→µs truncation, so oracle hash-matches hold); any timestamp
  * type passes through untouched. Hard-coding one file's physical layout is
  * exactly the brittleness a 100 TB engine can't afford — schemas drift.
  */
object Tables {
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, sfDir)
      case n        => parquet(spark, s"$sfDir/$n.parquet")
    }

  /** `spark.read.parquet(path)` without its schema-inference job: the
    * schema is the one that job would infer, read on the driver from
    * the footer it would touch ([[GraftParquetShims.footerSchema]]).
    * Paths it cannot resolve that way — a partitioned directory, a
    * glob, `mergeSchema` set — go through Spark's inference. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    GraftParquetShims.footerSchema(spark, path)
      .map(spark.read.schema(_).parquet(path))
      .getOrElse(spark.read.parquet(path))

  def region(spark: SparkSession, sfDir: String): DataFrame    = load(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame    = load(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame      = load(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame    = load(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "lineitem")
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")

  /** events with `ts` guaranteed to be a timestamp type (µs precision),
    * whether the file stores TIMESTAMP(NANOS) or TIMESTAMP(MICROS).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // Runtime-settable in Spark 4.1; must be on before the read resolves.
    // Harmless when the file is µs-typed; required when it is ns-typed.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = parquet(spark, s"$sfDir/events.parquet")
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        // nanosAsLong path: ns since epoch as int64 → truncate to µs.
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // Parquet timestamp[us] with isAdjustedToUTC=false resolves as NTZ.
        // All sessions pin spark.sql.session.timeZone=UTC, so this cast
        // reinterprets the wall clock as UTC — epoch micros are preserved
        // bit-for-bit, matching both the ns path above and DuckDB's view
        // of the same file.
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ =>
        // Already TIMESTAMP (µs, UTC-adjusted) — use as-is.
        raw
    }
  }
}
