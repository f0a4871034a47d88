package pystreamsspark.relational

import org.apache.spark.sql.functions._
import pystreamsspark.SparkSpec

/** Property checks for the training-pipeline operators that the oracle
  * can't express directly: sampling-rate bounds, split disjointness +
  * stability under repartitioning, gap-fill density, n-gram fraction
  * bounds, batched-kNN shape.
  */
class PipelineOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  test("hash sample rate is near 26/256 and stable under repartitioning") {
    val s = spark
    import s.implicits._
    val total = pystreamsspark.io.Tables.lineitem(spark, sf).count()
    val sampled = PipelineQueries.qSampleHash(spark, sf)
      .agg(sum($"n_sampled")).head.getLong(0)
    val rate = sampled.toDouble / total
    assert(rate > 0.07 && rate < 0.14, s"rate $rate far from 26/256")
    // determinism: the same predicate over a different partitioning
    // selects the exact same rows
    val li = pystreamsspark.io.Tables.lineitem(spark, sf).repartition(13)
    val again = li
      .withColumn("h", md5(concat($"l_orderkey".cast("string"), lit("-"),
        $"l_linenumber".cast("string")).cast("binary")))
      .filter(substring($"h", 1, 2) < "1a").count()
    assert(again == sampled)
  }

  test("train/val/test split is exhaustive and disjoint") {
    val s = spark
    import s.implicits._
    val splits = PipelineQueries.qTrainTestSplit(spark, sf)
      .select($"split", $"n").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = pystreamsspark.io.Tables.customer(spark, sf).count()
    assert(splits.keySet == Set("train", "val", "test"))
    assert(splits.values.sum == total) // every row in exactly one split
    assert(splits("train") > splits("val") && splits("train") > splits("test"))
  }

  test("gap-fill emits every hour x type slot exactly once, zero-filled") {
    val s = spark
    import s.implicits._
    val g = PipelineQueries.qGapfill(spark, sf).cache()
    val types = g.select($"event_type").distinct().count()
    val hours = g.select($"hour").distinct().count()
    assert(g.count() == types * hours) // dense grid, no dup slots
    assert(g.filter($"n" === 0).count() > 0) // actually filled gaps
    // total preserved
    val totalEvents = pystreamsspark.io.Tables.events(spark, sf).count()
    assert(g.agg(sum($"n")).head.getLong(0) == totalEvents)
    g.unpersist()
  }

  test("repeated-ngram fraction is in [0,1] and 0 for all-distinct docs") {
    val s = spark
    import s.implicits._
    val r = PipelineQueries.qNgramRepeat(spark, sf).cache()
    assert(r.filter($"dup_frac" < 0.0 || $"dup_frac" > 1.0).count() == 0)
    assert(r.filter($"n_distinct" === $"n_grams" && $"dup_frac" =!= 0.0).count() == 0)
    // a synthetic doc of one repeated trigram: "a a a a a" -> 3 grams, 1 distinct
    val one = Seq((1L, "a a a a a")).toDF("doc_id", "text")
    val toks = pystreamsspark.llm.TextOps.tokens($"text")
    val grams = transform(sequence(lit(1), size(toks) - 2),
      i => concat(element_at(toks, i), lit(" "),
        element_at(toks, i + 1), lit(" "), element_at(toks, i + 2)))
    val row = one.select(size(grams).as("n"), size(array_distinct(grams)).as("d"))
      .head
    assert(row.getInt(0) == 3 && row.getInt(1) == 1)
    r.unpersist()
  }

  test("knnBatch returns exactly k rows per probe, self ranked first") {
    val s = spark
    import s.implicits._
    val out = PipelineQueries.qKnnBatch(spark, sf).cache()
    val perProbe = out.groupBy($"pid").agg(count(lit(1)).as("c"))
      .select($"c").distinct().collect().map(_.getLong(0)).toSeq
    assert(perProbe == Seq(5L))
    // each probe's nearest neighbor is itself at cosine 1.0
    val self = out.filter($"rn" === 1)
    assert(self.filter($"pid" === $"vec_id").count() == 3)
    out.unpersist()
  }

  test("distributed two-pass seq-pack == global-window formulation") {
    val s = spark
    import s.implicits._
    val docs = pystreamsspark.io.Tables.documents(spark, sf)
      .select($"doc_id",
        size(pystreamsspark.llm.TextOps.tokens($"text")).cast("long").as("n_tok"))
    // global-window reference
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"h".asc, $"doc_id".asc)
      .rowsBetween(Long.MinValue, 0)
    val ref = docs
      .withColumn("h", md5($"doc_id".cast("string").cast("binary")))
      .withColumn("cum", sum($"n_tok").over(w))
      .withColumn("chunk", floor(($"cum" - $"n_tok") / 4096.0).cast("long"))
      .select($"doc_id", $"cum", $"chunk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def pinned = spark.sparkContext.getPersistentRDDs
      .filter { case (_, rdd) => !rdd.isCheckpointed }.keySet.toSet
    val before = pinned
    // distributed two-pass, deliberately many partitions
    val got = pystreamsspark.operators.SeqPack
      .packChunks(docs, "doc_id", "n_tok", 4096L, nPartitions = 7)
      .select($"id", $"cum", $"chunk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == ref)
    // the range layout is pinned by a lazy local checkpoint, not a
    // persist that outlives the call
    assert((pinned -- before).isEmpty)
  }

  test("seq-pack with empty intermediate partitions (nPartitions >> rows): no NULL offsets") {
    val s = spark
    import s.implicits._
    // 8 rows into 32 range partitions guarantees empty partitions — a
    // prefix-offset map built only over NON-empty pids would leave every
    // pid past the first gap with a NULL offset (NULL cum/chunk rows)
    val docs = (1L to 8L).map(i => (i, i * 100L)).toDF("doc_id", "n_tok")
    val out = pystreamsspark.operators.SeqPack
      .packChunks(docs, "doc_id", "n_tok", 500L, nPartitions = 32)
    assert(out.filter($"cum".isNull || $"chunk".isNull).count() == 0)
    val total = out.agg(max($"cum")).head.getLong(0)
    assert(total == (1L to 8L).map(_ * 100L).sum)
  }

  test("edit-distance join: segment blocking == naive all-pairs (substitutions AND indels)") {
    val s = spark
    import s.implicits._
    // adversarial set: substitutions, insertions, deletions, shifts —
    // including pairs a naive prefix canopy would lose (edits in the prefix)
    val strs = Seq("abcdef", "abcdeg", "xbcdef", "abdef", "aabcdef", "abcdefg",
      "zabcde", "abcxyz", "qrstuv", "qrstxv", "rstuvq", "abc", "abd", "ab",
      "Customer#000000029", "Customer#000000129", "Customer#000001029",
      "Customer#00000029x", "ustomer#000000029a")
    val df = strs.zipWithIndex.map { case (t, i) => (i.toLong, t, 0) }
      .toDF("id", "name", "blk")
    val naive = {
      val a = df.select($"id".as("id_a"), $"name".as("na"), $"blk")
      val b = df.select($"id".as("id_b"), $"name".as("nb"), $"blk")
      a.join(b, "blk").filter($"id_a" < $"id_b")
        .withColumn("dist", levenshtein($"na", $"nb")).filter($"dist" <= 2)
        .select($"id_a", $"id_b", $"dist")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    }
    val seg = pystreamsspark.operators.EditDistanceJoin
      .editDistancePairs(df, "id", "name", Seq("blk"), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(seg == naive, s"missing=${naive -- seg} extra=${seg -- naive}")
  }

  test("edit-distance join on customer == naive nation-blocked formulation") {
    val s = spark
    import s.implicits._
    val base = pystreamsspark.io.Tables.customer(spark, sf)
      .filter($"c_custkey" % 29 === 0)
      .select($"c_custkey", $"c_name", $"c_nationkey".as("nk"))
    val naive = {
      val a = base.select($"c_custkey".as("id_a"), $"c_name".as("na"), $"nk")
      val b = base.select($"c_custkey".as("id_b"), $"c_name".as("nb"), $"nk")
      a.join(b, "nk").filter($"id_a" < $"id_b")
        .withColumn("dist", levenshtein($"na", $"nb")).filter($"dist" <= 2)
        .select($"id_a", $"id_b", $"dist")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    }
    val seg = pystreamsspark.operators.EditDistanceJoin
      .editDistancePairs(base, "c_custkey", "c_name", Seq("nk"), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(seg == naive, s"missing=${naive -- seg} extra=${seg -- naive}")
  }

  test("upsert: latest change wins, deletes drop, inserts land, untouched survive") {
    val s = spark
    import s.implicits._
    val snap = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0), (5L, "e", 50.0)).toDF("k", "name", "bal")
    val changes = Seq(
      (2L, "b", 99.0, 1L, "U"),  // update
      (3L, "c", 30.0, 1L, "D"),  // delete
      (4L, "d", 77.0, 1L, "U"),  // update...
      (4L, "d", 77.0, 2L, "D"),  // ...then delete at a later seq: delete wins
      (6L, "f", 60.0, 1L, "U"))  // insert
      .toDF("k", "name", "bal", "seq", "op")
    val out = pystreamsspark.operators.Upsert(snap, changes, "k", "seq", "op")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(out == Set((1L, "a", 10.0), (2L, "b", 99.0), (5L, "e", 50.0), (6L, "f", 60.0)))
  }

  test("triangle counts: K4 gives 3 per node; pendant edge gives none") {
    val s = spark
    import s.implicits._
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val edges = (k4 ++ Seq((5L, 6L))).toDF("a", "b")
    val got = GraphQueries.triangleCounts(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("fixed-point pageRank matches an exact scalar reference bit-for-bit") {
    val s = spark
    import s.implicits._
    // deterministic irregular graph: a K4 core, a path tail, a hub
    val raw = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 7L), (1L, 8L), (8L, 9L), (8L, 10L), (8L, 11L))
    val got = GraphQueries.pageRank(raw.toDF("a", "b"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // scalar reference: identical integer ops, plain Scala
    val scale = 1000000000000L
    val dir = raw ++ raw.map(_.swap)
    val deg = dir.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val n = deg.size.toLong
    val init = scale / n
    val base = (15L * init) / 100L
    var pr = deg.map { case (k, _) => k -> init }
    for (_ <- 1 to 3) {
      val sums = dir.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => pr(u) / deg(u) }.sum
      }
      pr = sums.map { case (v, sm) => v -> (base + (85L * sm) / 100L) }
    }
    assert(got == pr)
    // total mass conserved up to truncation loss: each integral division
    // loses < 1 unit; 3 iterations of (2|E| share divs + n damping divs)
    // plus the n-way init split bounds the loss at 3*(2*13 + n) + n
    val mass = got.values.sum
    assert(mass <= scale && mass > scale - (3L * (2L * 13L + n) + n))
  }

  test("bfsHops: exact hops on a path, cap exclusion, multi-source min") {
    val s = spark
    import s.implicits._
    val path = (1L to 8L).sliding(2).map(w => (w(0), w(1))).toSeq.toDF("a", "b")
    val one = GraphQueries.bfsHops(path, Seq(1L).toDF("id"), maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    val two = GraphQueries.bfsHops(path, Seq(1L, 8L).toDF("id"), maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L,
      5L -> 3L, 6L -> 2L, 7L -> 1L, 8L -> 0L))
  }

  test("mode tie-break picks the lexicographically first type") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = Seq((1L, "b"), (1L, "a"), (1L, "b"), (1L, "a"), (2L, "z"))
      .toDF("user_id", "event_type")
    val w = Window.partitionBy($"user_id").orderBy($"n".desc, $"event_type".asc)
    val m = ev.groupBy($"user_id", $"event_type").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"user_id", $"event_type").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m == Map(1L -> "a", 2L -> "z")) // 2-2 tie -> "a"
  }
}
