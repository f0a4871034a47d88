package pystreamsspark.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.{col, udf}

import pystreamsspark.SparkSpec

/** Substrate-lifetime laws for the dedup funnels. Each pair funnel pins
  * its self-join substrate with a lazy `localCheckpoint`: computed once
  * in the first action over the funnel's frame, read by every consumer of
  * that action, registered in no CacheManager entry and freed with the
  * frame. So a funnel's cost never depends on which funnels ran before it
  * in the session (no warm reuse matched by plan), nothing stays
  * persisted after its action, and results are identical across repeated
  * builds. */
class SharedCacheScopeSpec extends SparkSpec {

  private def mkDocs(n: Int, s: SparkSession = spark) = {
    import s.implicits._
    (0 until n).map { i =>
      (i.toLong, s"tok${i % 7} tok${i % 5} tok${i % 3} shared common words",
        (i % 2).toString)
    }.toDF("id", "text", "grp")
  }

  /** Cached, non-locally-checkpointed RDD ids currently registered
    * (other suites share the JVM session, so laws compare deltas). */
  private def cachedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs
      .filter { case (_, rdd) => !rdd.isCheckpointed }
      .keySet.toSet

  private def inMemoryRelations(df: DataFrame): Seq[InMemoryRelation] =
    df.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("every funnel computes each document once per action and leaves " +
    "nothing persisted, whatever ran before it") {
    val n = 60
    val reads = spark.sparkContext.longAccumulator("funnel_text_reads")
    val counted = udf { (t: String) => reads.add(1L); t }
    val docs = mkDocs(n).withColumn("text", counted(col("text")))
    // the order mixes substrate plans (token sets, shingle signatures,
    // df-sorted sets), so a plan-matched reuse or an eviction by one
    // funnel of another's substrate shows up as a count other than n
    val funnels: Seq[(String, () => DataFrame)] = Seq(
      "jaccardPairs block" -> (() =>
        Dedup.jaccardPairs(docs, "id", "text", Seq("grp"), 0.3, "block")),
      "minHashLsh exact" -> (() =>
        Dedup.minHashLsh(docs, "id", "text", threshold = 0.5)),
      "containmentPairs block" -> (() =>
        Dedup.containmentPairs(docs, "id", "text", Seq("grp"), 0.3, "block")),
      "jaccardPairs prefix" -> (() =>
        Dedup.jaccardPairs(docs, "id", "text", Seq("grp"), 0.3, "prefix")),
      "containmentPairs prefix" -> (() =>
        Dedup.containmentPairs(docs, "id", "text", Seq("grp"), 0.3, "prefix")))
    val seen = funnels.map { case (name, build) =>
      val before = cachedIds
      reads.reset()
      val pairs = build()
      assert(pairs.collect().nonEmpty, name)
      (name, reads.value, cachedIds -- before, inMemoryRelations(pairs).size)
    }
    val report = seen.map { case (name, r, leaked, imr) =>
      s"$name: $r texts for $n docs, left persisted $leaked, " +
        s"$imr cached relations" }.mkString("\n")
    assert(seen.forall { case (_, r, leaked, imr) =>
      r == n && leaked.isEmpty && imr == 0 }, report)
  }

  test("results identical across repeated builds") {
    val docs = mkDocs(40)
    val runs = (1 to 3).map(_ =>
      pairSet(Dedup.minHashLsh(docs, "id", "text", threshold = 0.5)))
    assert(runs.head.nonEmpty)
    assert(runs.forall(_ === runs.head))
  }

  test("a key built twice reads no cached plan of its first build") {
    val fn = graft.SparkEntry.queries("q_jaccard_pairs")
    val before = cachedIds
    fn(spark, "/root/testdata/sf0.001").count()
    val again = fn(spark, "/root/testdata/sf0.001")
    assert(inMemoryRelations(again).isEmpty,
      "the second build's plan reads a CacheManager entry")
    again.count()
    val leaked = cachedIds -- before
    assert(leaked.isEmpty, s"q_jaccard_pairs left persisted RDDs $leaked")
  }

  // Runs last: it stops the shared session and leaves a fresh one with
  // the same settings for the suites that follow.
  test("a substrate left by a stopped session never breaks a later funnel") {
    val before = pairSet(Dedup.minHashLsh(mkDocs(40), "id", "text", threshold = 0.5))
    assert(before.nonEmpty)
    spark.stop() // the substrate just computed belongs to the stopped context
    val fresh = SparkSpec.builder().getOrCreate()
    assert(!fresh.sparkContext.isStopped)
    val docs = mkDocs(60, fresh)
    (1 to 5).foreach { _ =>
      Dedup.jaccardPairsBlock(docs, "id", "text", Seq("grp"), 0.3).count()
    }
    val after = pairSet(Dedup.minHashLsh(mkDocs(40, fresh), "id", "text", threshold = 0.5))
    assert(after === before)
  }
}
