package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What a built operation can do: `act(check)` is the timed action —
  * with `check` set it also gathers what `fp` needs, at no extra job for
  * a frame — and `fp` is the untimed check (none for an operation a
  * later one checks). `expected`, when it gives a value, is what the
  * check must produce, evaluated after the action (stateful workloads
  * derive it from their own model); otherwise the value recorded in
  * `expected.json` under the op's name applies. */
final case class Built(act: Boolean => Unit, fp: Option[() => Fp],
                       expected: () => Option[Fp] = () => None)

/** One operation of a workload. `build` calls the program's entry point
  * (for a key, `fn(spark, dir)`, which may itself run jobs); the time of
  * an operation is build + act. */
final case class Op(name: String, kind: String, build: () => Built)

/** A workload: the operations of each pass (pass 0 is the untimed
  * set-up pass, negative ones warm-up passes), plus untimed set-up before
  * them and checks after the last pass. */
trait Workload {
  def prepare(): Unit = ()
  def pass(i: Int): Seq[Op]
  /** Untimed, unchecked passes after pass 0 and before timing; they count
    * in set-up. */
  def warmupPasses: Int = 1
  /** Invariants checked after the timed passes; each string is a failure. */
  def finish(): Seq[String] = Nil
  /** Operations run once, after the timed passes, in traced runs only:
    * too long for the closed loop of a run, still measured per layer. */
  def traceOnly: Seq[Op] = Nil
  /** Per-layer metrics only this workload produces, from its runs. */
  def layerMetrics(runs: Seq[OpRun]): Map[String, Double] = Map.empty
}

object Ops {
  /** The timed action for a frame: write every column to the noop sink.
    * `count()` would let the optimizer prune computed columns. */
  def forceAll(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Force `df`; when checking, fingerprint it during the same action. */
  def frame(df: DataFrame): Built = {
    var seen: Option[Fp] = None
    Built(check =>
      if (check) seen = Some(Fingerprint.observed(df)(forceAll)) else forceAll(df),
      Some(() => seen.get))
  }

  def key(spark: SparkSession, dir: String, name: String): Op =
    Op(name, "key", () => frame(graft.SparkEntry.queries(name)(spark, dir)))

  /** A `streams.Stream` pipeline: built lazily, timed through its
    * terminal operation as called; the check hashes the terminal value. */
  def stream[R](name: String)(pipeline: => () => R): Op =
    Op(name, "stream", () => {
      val terminal = pipeline
      var result: Option[R] = None
      Built(_ => result = Some(terminal()),
        Some(() => Fingerprint.ofValue(result.get)))
    })

  /** The typed-lambda façade over the sf tables: map, filter, flatMap,
    * groupByKey/reduceByKey, sorted, distinct and sum (a reduce), each
    * pipeline ending in a terminal operation. Terminal values are exact (integers, or maxima), so the
    * recorded check holds across runs. */
  def streams(spark: SparkSession, dir: String): Seq[Op] = {
    import spark.implicits._
    import pystreamsspark.io.Tables
    import pystreamsspark.streams.Stream
    def li = Tables.lineitem(spark, dir)
    def ord = Tables.orders(spark, dir)
    def qty = Stream(li.select(col("l_quantity").cast("long")).as[Long])
    Seq(
      stream("stream_filter_map_sum") { val s = qty.filter(_ > 25).map(_ * 2); () => s.sum },
      stream("stream_groupbykey_reduce") {
        val s = Stream(li.select(col("l_orderkey"), col("l_quantity").cast("long")).as[(Long, Long)])
          .groupByKey(_._1 % 97).reduceByKey((a, b) => (a._1, a._2 + b._2))
        () => s.collect().map { case (k, (_, q)) => (k, q) }.sorted
      },
      stream("stream_flatmap_tokens") {
        val s = Stream(Tables.documents(spark, dir).select(col("text")).as[String])
          .flatMap(_.split(" ").toSeq).distinct
        () => s.count()
      },
      stream("stream_sorted_take") {
        val s = Stream(ord.select(col("o_orderkey")).as[Long])
          .map(k => (k * 2654435761L) % 1000003L).sorted
        () => s.take(20)
      })
  }

  /** `CuratePipeline.curateWithStats` over the documents, decontaminated
    * against every 50th document. The check covers both the packed
    * chunks and the per-stage counts the call returns. */
  def curate(spark: SparkSession, dir: String): Op =
    Op("curate_with_stats", "curate", () => {
      val docs = pystreamsspark.io.Tables.documents(spark, dir)
      val eval = docs.filter(col("doc_id") % 50 === 0)
      val (packed, stats) = pystreamsspark.llm.CuratePipeline.curateWithStats(
        docs, "doc_id", "text", eval)
      val b = frame(packed)
      b.copy(fp = b.fp.map(fp => () => {
        val f = fp()
        Fp(f.rows, Some(f.hash.getOrElse("") + "/" + stats.mkString(",").hashCode))
      }))
    })
}
