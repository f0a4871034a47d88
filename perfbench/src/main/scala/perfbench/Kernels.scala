package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The program's native expressions (`functions`), timed in isolation:
  * a select of the kernel over cached inputs, written to the noop sink,
  * minus a select that only reads the same inputs (their sizes). Reported per input row, the
  * median of five runs each. */
object Kernels {
  def measure(spark: SparkSession, sfDir: String): Map[String, Double] = {
    pystreamsspark.functions.VectorExpressions.register(spark)
    val docs = pystreamsspark.io.Tables.documents(spark, sfDir)
      .crossJoin(spark.range(8).toDF("rep"))
      .select(split(col("text"), " ").as("toks"))
      .select(col("toks"),
        array_sort(array_distinct(expr("shingle_hash(toks, 3)"))).as("a"),
        array_sort(array_distinct(expr("shingle_hash(reverse(toks), 2)"))).as("b"))
      .persist(StorageLevel.MEMORY_ONLY)
    val vecs = pystreamsspark.io.Tables.embeddings(spark, sfDir)
      .crossJoin(spark.range(20).toDF("rep"))
      .select(col("embedding").as("v"), reverse(col("embedding")).as("w"))
      .persist(StorageLevel.MEMORY_ONLY)
    try {
      val nDocs = docs.count().toDouble
      val nVecs = vecs.count().toDouble
      def secs(df: DataFrame): Double = Stats.median((1 to 5).map { _ =>
        val t0 = System.nanoTime(); Ops.forceAll(df); (System.nanoTime() - t0) / 1e9
      })
      def perRow(in: DataFrame, inputs: Seq[String], kernel: String, rows: Double) =
        (secs(in.selectExpr(kernel)) -
          secs(in.selectExpr(inputs.map(c => s"size($c)").mkString(" + ")))) * 1e9 / rows
      Map(
        "kernel.sorted_inter_count_ns" ->
          perRow(docs, Seq("a", "b"), "sorted_inter_count(a, b)", nDocs),
        "kernel.minhash_sig_ns" -> perRow(docs, Seq("a"), "minhash_sig(a, 64)", nDocs),
        "kernel.shingle_hash_ns" -> perRow(docs, Seq("toks"), "shingle_hash(toks, 3)", nDocs),
        "kernel.vec_cosine_ns" -> perRow(vecs, Seq("v", "w"), "vec_cosine(v, w)", nVecs))
    } finally { docs.unpersist(); vecs.unpersist() }
  }
}
