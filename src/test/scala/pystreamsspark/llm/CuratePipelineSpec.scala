package pystreamsspark.llm

import org.apache.spark.sql.functions._
import pystreamsspark.SparkSpec
import pystreamsspark.io.Tables

/** End-to-end curation funnel over the real documents table: stage
  * counts monotone, each filter provably did its one job, packing
  * respects the token budget, and a planted eval-contaminated doc is
  * removed.
  */
class CuratePipelineSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  test("curate: stages monotone non-increasing and each gate enforced") {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, sf)
    val emptyEval = docs.filter(lit(false))
    val (packed, stats) = CuratePipeline.curateWithStats(
      docs, "doc_id", "text", emptyEval, langs = Seq("en"),
      neardupThreshold = 0.8, tokenBudget = 512)
    val byStage = stats.toMap
    // counts never increase down the funnel
    val ordered = stats.map(_._2)
    assert(ordered.zip(ordered.tail).forall { case (a, b) => b <= a }, stats)
    assert(byStage("7_packed_docs") > 0) // survivors exist and all get chunks
    assert(byStage("7_packed_docs") == byStage("6_decontaminated"))
    // language gate: every survivor classifies as en
    assert(packed.filter(TextOps.langIdHeuristic($"text") =!= "en").count() == 0)
    // exact-dedup gate: texts unique among survivors
    assert(packed.select($"text").distinct().count() == packed.count())
    // packing gate: SeqPack assigns each doc to the chunk its START
    // offset falls in, so a chunk's non-straddling mass stays within
    // budget: total minus its last (possibly straddling) doc < 512
    val chunkTotals = packed
      .withColumn("n", TextOps.tokenCount($"text"))
      .groupBy($"chunk_id").agg(sum($"n").as("tot"), max($"n").as("maxn"),
        count(lit(1)).as("k"))
    assert(chunkTotals.filter($"k" > 1 && $"tot" - $"maxn" >= 512).count() == 0)
    // chunks are contiguous from 0
    val ids = packed.select($"chunk_id").distinct()
      .collect().map(_.getLong(0)).sorted
    assert(ids.head == 0L && ids.toSeq == (0L until ids.length).toSeq)
  }

  test("curate: planted eval twin is decontaminated away") {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, sf).filter($"lang" === "en")
      .orderBy($"doc_id").limit(50)
    // eval set = an exact copy of one training doc (the worst leak)
    val eval = docs.orderBy($"doc_id").limit(1)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text",
        $"lang", $"source", $"n_chars")
    val leakText = eval.select(Dedup.normText($"text")).head.getString(0)
    // the leak is planted: without it the decontamination check is vacuous
    assert(docs.filter(Dedup.normText($"text") === leakText).count() > 0)
    val (packed, _) = CuratePipeline.curateWithStats(
      docs, "doc_id", "text", eval, langs = Seq("en"),
      neardupThreshold = 0.8, tokenBudget = 512)
    assert(packed.filter($"text" === leakText).count() == 0)
  }

  test("curate keepBest: the RICHEST near-dup variant survives, not the min-id one") {
    val s = spark
    import s.implicits._
    // a planted 3-doc near-dup family: same 11-distinct-token base (with
    // 'the' twice so the langid gate reads them as en), the LAST id
    // carries 3 extra tokens (highest token count). Jaccard(base, rich)
    // = 11/14 = 0.786 >= 0.75; every pair clears the threshold.
    val base = "the " + (1 to 10).map(i => s"tok$i").mkString(" ") + " the"
    val rich = base + " extra1 extra2 extra3"
    val docs = Seq(
      (1L, base, "en"), (2L, base + " extra1", "en"), (3L, rich, "en"),
      (50L, "the completely different words entirely here now the", "en"))
      .toDF("doc_id", "text", "lang")
    val emptyEval = docs.filter(lit(false))
    val minId = CuratePipeline.curate(docs, "doc_id", "text", emptyEval,
      langs = Seq("en"), neardupThreshold = 0.75, tokenBudget = 512)
    assert(minId.select($"doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 50L)) // default policy keeps the min id
    val best = CuratePipeline.curate(docs, "doc_id", "text", emptyEval,
      langs = Seq("en"), neardupThreshold = 0.75, tokenBudget = 512,
      keepBest = true)
    assert(best.select($"doc_id").collect().map(_.getLong(0)).toSet ==
      Set(3L, 50L)) // keepBest keeps the highest-token-count variant
  }
}
