package pystreamsspark.llm

import org.apache.spark.sql.{DataFrame, SparkSession}

import pystreamsspark.SparkSpec

/** r15 invocation-bound laws for the dedup funnels' SharedRelationCache
  * (VERDICT r14 "What's wrong #3"): the persisted self-join substrates
  * are a PER-INVOCATION reuse, not a cross-run memo. Spark's CacheManager
  * matches persists by canonicalized plan, so without an explicit
  * boundary a re-run of the same funnel (Bench's min-of-5 loop) read the
  * previous run's warm blocks — warm-substrate cost reported as pipeline
  * cost. [[Dedup.newPipelineInvocation]] (called by every graft
  * SparkEntry query wrapper) drops the previous invocation's substrates;
  * results must be byte-identical either way because the cache is
  * correctness-independent. */
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

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("a new pipeline invocation drops the previous invocation's substrates") {
    val docs = mkDocs(60)
    Dedup.newPipelineInvocation()
    val before = cachedIds
    val pairs = Dedup.jaccardPairsBlock(docs, "id", "text", Seq("grp"), 0.3)
    pairs.count() // materializes the persisted token-set substrate
    val during = cachedIds -- before
    assert(during.nonEmpty,
      "expected the funnel substrate to be cached within the invocation")
    Dedup.newPipelineInvocation() // what the next query's wrapper does
    val leaked = cachedIds -- before
    assert(leaked.isEmpty,
      s"substrates outlived their pipeline invocation: $leaked")
  }

  test("SparkEntry query wrappers bound each key's substrates to its run") {
    val fn = graft.SparkEntry.queries("q_jaccard_pairs")
    Dedup.newPipelineInvocation()
    val before = cachedIds
    fn(spark, "/root/testdata/sf0.001").count()
    // a second invocation of ANY wrapped key clears the first run's cache
    val again = fn(spark, "/root/testdata/sf0.001")
    val afterBoundary = cachedIds -- before
    again.count()
    // the first run's substrate ids must be gone once the second run's
    // wrapper has fired (afterBoundary computed between wrapper and
    // action shows the boundary already cleared them)
    assert(afterBoundary.isEmpty,
      s"previous run's substrates survived the invocation boundary: $afterBoundary")
  }

  test("results identical with and without a warm substrate") {
    val docs = mkDocs(40)
    Dedup.newPipelineInvocation()
    val cold = pairSet(Dedup.minHashLsh(docs, "id", "text", threshold = 0.5))
    // same funnel again WITHOUT a boundary: reuses the warm substrate
    val warm = pairSet(Dedup.minHashLsh(docs, "id", "text", threshold = 0.5))
    Dedup.newPipelineInvocation()
    val cold2 = pairSet(Dedup.minHashLsh(docs, "id", "text", threshold = 0.5))
    assert(cold === warm)
    assert(cold === cold2)
    assert(cold.nonEmpty)
  }

  // Runs last: it stops the shared session and leaves a fresh one with
  // the same settings for the suites that follow.
  test("a substrate left by a stopped session never breaks a later funnel") {
    Dedup.newPipelineInvocation()
    val before = pairSet(Dedup.minHashLsh(mkDocs(40), "id", "text", threshold = 0.5))
    assert(before.nonEmpty)
    spark.stop() // the substrate just persisted stays in the registry
    val fresh = SparkSpec.builder().getOrCreate()
    assert(!fresh.sparkContext.isStopped)
    val docs = mkDocs(60, fresh)
    // more funnels than the registry keeps: the stopped frame is evicted
    (1 to 5).foreach { _ =>
      Dedup.jaccardPairsBlock(docs, "id", "text", Seq("grp"), 0.3).count()
    }
    val after = pairSet(Dedup.minHashLsh(mkDocs(40, fresh), "id", "text", threshold = 0.5))
    assert(after === before)
    Dedup.newPipelineInvocation()
  }
}
