package graft
import org.apache.spark.sql.SparkSession

/** Perf harness: per query, 1 untimed warm-up run + best of 5 timed
  * `df.count()` runs — min-of-N because the number of record is taken on
  * a shared machine where a concurrent process can inflate any single
  * run (round 3's driver table carried a 9.6× GC-collision outlier on
  * one key); 5 runs make the min robust to two consecutive collisions.
  * BASELINE.md was measured min-of-N the same way, so BENCH_r{N}.json vs
  * BASELINE.md stays apples-to-apples (cold-JVM codegen compilation
  * otherwise dominates sub-second queries at this scale).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Optional comma-separated key filter for targeted local perf work
    // (e.g. SPARK_GRAFT_KEYS=q_containment,q_chunk_overlap). The driver
    // never sets it, so per-round benches always cover the full surface.
    val keyFilter = sys.env.get("SPARK_GRAFT_KEYS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => keyFilter.forall(_.contains(n)) }
    val results = selected.map { case (name, fn) =>
      def run(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      val t = try { run(); Seq.fill(5)(run()).min } catch {
        case e: Throwable =>
          System.err.println(SparkEntry.failure(name, e))
          -1.0
      }
      name -> t
    }
    // round to ms: halves the line length (the round-1 driver failed to
    // parse the full-precision single-line JSON out of the sbt tail)
    def ms(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    // Exclude -1.0 failure sentinels from the total: summing them in
    // distorts cross-round comparisons by -1s per broken key.
    val ran = results.map(_._2).filter(_ >= 0.0)
    val total = if (ran.nonEmpty) ran.sum else 0.0
    // Stamp the run config (VERDICT r5 §wrong: cross-round per-key compares
    // were config-confounded because the ledger didn't say which
    // threads/partitions produced the numbers).
    // cpus may legitimately be non-numeric ("*" → local[*]); quoting it
    // keeps the line valid JSON either way (json.loads accepts both).
    val line =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","cpus":"$cpus","partitions":"$cpus","queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // The driver parses its bench JSON out of a bounded (2000-char)
    // stdout TAIL; the full per-query line above is ~8 KB for 300 keys,
    // so it has never parsed (VERDICT r14 "What's wrong #2": parsed:null
    // in all 14 BENCH_r0N.json). Repo-side half of the fix: ALSO print a
    // compact line — total + config only, guaranteed well under 2000
    // chars — LAST, so the tail always contains one parseable JSON
    // object. Additive: the full line still prints above and is still
    // what lands in BENCH_LOCAL.json, so the ledger format and every
    // cross-round comparison are unchanged.
    val compact =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","cpus":"$cpus","partitions":"$cpus","nqueries":${results.size},"sf":"$sfDir"}"""
    println(compact)
    // belt-and-braces: also leave the JSON in a file next to the repo.
    // Append-by-default JSONL: the round-7 driver bench (which doesn't set
    // any env) truncated the 14-line forensic ledger to 1 line. A run can
    // only erase history by explicitly opting in via
    // SPARK_GRAFT_BENCH_TRUNCATE=1.
    val out = java.nio.file.Paths.get("BENCH_LOCAL.json")
    if (sys.env.get("SPARK_GRAFT_BENCH_TRUNCATE").contains("1"))
      java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"))
    else
      java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    spark.stop()
  }
}
