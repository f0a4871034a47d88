package pystreamsspark.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.
  *
  * All sketches are built from codegen'd higher-order functions over the
  * token/shingle arrays (`transform`/`array_min`/`aggregate` +
  * `xxhash64`) — no UDAF, no serialization wall, and each document's
  * signature is computed map-side in one pass. The only shuffles are the
  * ones the algorithm inherently needs: one `groupBy` on the dedup key
  * (exact), or one self-join on the LSH band key (near-dup). That is the
  * 100 TB shape: signatures stream through executors; candidate
  * generation touches only documents sharing a band bucket, never the
  * full cross product.
  */
object Dedup {

  // SUBSTRATES: the pair funnels are self-joins over a derived relation
  // (tokenized + df-stamped token sets). Without a pin, Spark's plan
  // canonicalization does not reuse the aggregate exchange across the two
  // (differently-projected) join sides, and the documents table is
  // tokenized 2-4x per funnel. Each funnel therefore pins its substrate
  // with a LAZY `localCheckpoint`: an RDD-level MEMORY_AND_DISK persist,
  // computed in the first action over the returned frame and read back by
  // every consumer of that action (both join sides, both attach joins).
  // Nothing is registered in the CacheManager, so no later call matches
  // it by plan, and the ContextCleaner frees its blocks once the frame is
  // unreachable. Not `Lineage.truncate`: with a checkpoint dir set, its
  // lazy reliable checkpoint does not cache (see its scaladoc).

  /** Normalized-text key for exact dedup. At scale, group on
    * (xxhash64(norm), norm): the 8-byte hash leads the shuffle key so
    * comparisons short-circuit; the full text stays in the key to make
    * the result collision-proof. */
  def normText(text: Column): Column = lower(trim(text))

  /** Exact dedup: one row per distinct normalized text, keeping the
    * smallest id (deterministic winner). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(xxhash64(normText(col(textCol))).as("text_hash"),
        normText(col(textCol)).as("norm_text"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Word k-shingles (contiguous k-grams), distinct. Documents shorter
    * than k tokens contribute their whole text as one shingle; zero-token
    * (empty/whitespace-only) text yields an EMPTY array — same semantics
    * as the native ShingleHash expression. */
  def shingles(text: Column, k: Int = 3): Column = {
    val toks = TextOps.tokens(text)
    val grams = transform(
      sequence(lit(0), greatest(size(toks) - k, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(k))))
    when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(array_distinct(grams))
  }

  /** Native codegen'd twin of [[shingles]] — identical output (distinct,
    * first-occurrence order, whole-doc gram when tokens < k), but one
    * JVM loop per ROW instead of four interpreted HOF lambdas per GRAM
    * (functions.ShingleStrings; measured 7× on sf0.1 documents).
    * Registers the expression on the session (idempotent). */
  def shinglesNative(spark: org.apache.spark.sql.SparkSession,
                     text: Column, k: Int = 3): Column = {
    pystreamsspark.functions.VectorExpressions.register(spark)
    call_function("shingle_strings", TextOps.tokens(text), lit(k))
  }

  /** MinHash signature via the native fused expression (hashes each
    * shingle once, mixes all seeds in one codegen loop). Requires
    * pystreamsspark.functions.VectorExpressions.register on the session
    * (minHashLsh does this). */
  def minHashSignature(shingleCol: Column, numHashes: Int = 32): Column =
    call_function("minhash_sig", shingleCol, lit(numHashes))

  /** HOF formulation of the signature (session-free, interpreted) — kept
    * for property tests and as the portable reference implementation. */
  def minHashSignatureHof(shingleCol: Column, numHashes: Int = 32): Column =
    transform(
      sequence(lit(0), lit(numHashes - 1)),
      s => array_min(transform(shingleCol, sh => xxhash64(sh, s))))

  /** LSH band keys: signature split into `bands` bands of
    * numHashes/bands rows each; each band hashed to one bucket key.
    * Two docs collide in a band iff that band of their signatures is
    * identical. */
  def lshBandKeys(sigCol: Column, numHashes: Int = 32, bands: Int = 8): Column = {
    val rows = numHashes / bands
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, concat_ws(",", transform(
        slice(sigCol, b * rows + 1, lit(rows)), v => v.cast("string")))))
  }

  /** MinHash-LSH near-duplicate pairs: candidates from band-bucket
    * collisions, verified either with exact Jaccard over the shingle
    * sets (`verify = "exact"`, the default) or with the MinHash
    * ESTIMATE from the already-carried signatures
    * (`verify = "signature"` — fraction of agreeing positions, the
    * standard unbiased estimator: E[est] = J, sd = sqrt(J(1-J)/nH)).
    * Returns (id_a, id_b, jaccard) with id_a < id_b; under signature
    * verify the jaccard column is the estimate.
    *
    * Scale path: the band explode multiplies rows by `bands` (cheap,
    * map-side); the self-join shuffles on the 8-byte bucket key, so only
    * same-bucket docs ever meet. Exact verification carries the variable-
    * width shingle arrays through that shuffle — fine at moderate doc
    * sizes, but at 100 TB the arrays dominate shuffle bytes. Signature
    * verify is the 100 TB form: each side of the join carries only the
    * FIXED-width numHashes×8-byte signature, so shuffle volume is
    * O(bands × rows), independent of document length; the exactness
    * trade is bounded by the estimator sd (DedupSpec pins
    * |est − exact| on the generator corpus).
    *
    * MEASURED NEGATIVE RESULTS (do not "fix" without re-measuring):
    * computing Jaccard once per shared band and deduping after is FASTER
    * here than (a) a join-back restructure that avoids carrying shingle
    * arrays (8× slower at sf0.1) and (b) the emit-only-from-first-shared-
    * band trick via an inline exists/zip_with over carried band keys
    * (2.7× slower — the interpreted HOF per collision row costs more than
    * the redundant codegen-adjacent intersections it saves).
    *
    * EMPTY-document edge (pinned in DedupSigSpec): two empty/whitespace
    * docs have empty shingle sets — their |∩|/|∪| is 0/0, which under
    * ANSI mode would THROW and brick the whole job on one degenerate
    * pair (found round 9; the guard below defines it as jaccard 1.0,
    * matching the signature mode, where the all-sentinel signatures
    * agree everywhere — two empty documents ARE duplicates). Filter
    * empties upstream if they should not pair at all. */
  def minHashLsh(docs: DataFrame, idCol: String, textCol: String,
                 k: Int = 3, numHashes: Int = 32, bands: Int = 8,
                 threshold: Double = 0.7, verify: String = "exact"): DataFrame = {
    pystreamsspark.functions.VectorExpressions.register(docs.sparkSession)
    // hashed shingles (native one-pass expression): the signature and the
    // Jaccard verify both work on the 8-byte gram hashes — the shingle
    // STRINGS are never materialized
    // sorted ascending for the sorted_inter_count exact verify; the
    // signature is a min-fold over the hashes, so element order cannot
    // change it (bit-identical sig, bit-identical jaccard)
    val sh = docs.select(col(idCol).as("id"),
        array_sort(array_distinct(call_function("shingle_hash",
          TextOps.tokens(col(textCol)), lit(k)))).as("sh"))
      .withColumn("sig", minHashSignature(col("sh"), numHashes))
    verify match {
      case "signature" =>
        lshPairsFromSigs(sh.select(col("id"), col("sig")),
          numHashes, bands, threshold)
      case "exact" =>
        // SLIM band join (r14, guide §2.3 — same discipline as
        // [[jaccardPairsPrefix]]): candidates are decided from
        // (band, bucket, id) alone and deduped on the id pair; the gram
        // arrays attach once per SURVIVING pair from the checkpointed
        // substrate — the old shape shipped each doc's gram array once
        // per band (8×) and deduped over array columns.
        val base = sh.localCheckpoint(eager = false)
        val banded = base.select(col("id"),
            posexplode(lshBandKeys(col("sig"), numHashes, bands)))
          .select(col("id"), col("pos").as("band"), col("col").as("bucket"))
        val a = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
        val b = banded.select(col("band"), col("bucket"), col("id").as("id_b"))
        a.join(b, Seq("band", "bucket"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b")).distinct()
          // the deduped pair list is tiny in BYTES but each row carries
          // an array-intersection verify — AQE coalesces it to ~1
          // partition and the broadcast attach would run the whole
          // verify in one task (measured: 19 s single-task). Spread by
          // the pair key across the session's shuffle parallelism (an
          // 16 B/row exchange).
          .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
            col("id_a"), col("id_b"))
          .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
          .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
          // sorted_inter_count merge + derived union (sh is sorted
          // distinct above): same integers, same one division, no
          // per-pair hash sets
          .select(col("id_a"), col("id_b"),
            call_function("sorted_inter_count",
              col("sh_a"), col("sh_b")).as("__ni"),
            (size(col("sh_a")) + size(col("sh_b"))).as("__sz"))
          .select(col("id_a"), col("id_b"),
            when(col("__sz") - col("__ni") === 0, lit(1.0))
              .otherwise(col("__ni").cast("double") /
                (col("__sz") - col("__ni"))).as("jaccard"))
          .filter(col("jaccard") >= threshold)
      case other => throw new IllegalArgumentException(
        s"verify must be exact|signature, got $other")
    }
  }

  /** Band-join + signature-estimate verification over a prepared
    * (id, sig) relation — the family-agnostic half of the signature-
    * verify path, shared by [[minHashLsh]] (xxhash64 family) and the
    * oracle-checkable md5-family key (LlmQueries.qMinhashSigverify).
    * Nothing wider than the fixed-width signature crosses the bucket
    * shuffle, and the per-candidate agree count is the codegen'd
    * `sig_agree` native (functions.SigAgree), not an interpreted HOF
    * chain. `jaccard` = agree / numHashes in one IEEE division. */
  def lshPairsFromSigs(sigs: DataFrame, numHashes: Int, bands: Int,
                       threshold: Double): DataFrame = {
    pystreamsspark.functions.VectorExpressions.register(sigs.sparkSession)
    val banded = sigs.select(col("id"), col("sig"),
        posexplode(lshBandKeys(col("sig"), numHashes, bands)))
      .select(col("id"), col("sig"), col("pos").as("band"), col("col").as("bucket"))
    val a = banded.select(col("band"), col("bucket"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("bucket"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      // sig_a/sig_b are functions of the ids, so the pair-dedup distinct
      // can safely include them (same move as the exact path's jaccard)
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b")).distinct()
      .select(col("id_a"), col("id_b"),
        (call_function("sig_agree", col("sig_a"), col("sig_b"))
          .cast("double") / numHashes).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact token-set Jaccard similarity pairs within a blocking key —
    * COST-BASED dispatch between two physically different but
    * result-identical plans (both exact; parity-tested):
    *
    *  - [[jaccardPairsPrefix]]: exact-recall prefix-filtered join
    *    (AllPairs/PPJoin). Candidate fan-out per join key is bounded by
    *    the df of each set's RAREST token — sub-quadratic on any
    *    Zipfian corpus, the only plan that survives 100 TB blocks.
    *  - [[jaccardPairsBlock]]: all-pairs within the block. Optimal when
    *    the output itself is a large fraction of all pairs (then every
    *    funnel does strictly more work than the thing it's filtering).
    *
    * `strategy = "auto"` picks via a bounded (<=1024-doc) stats sample,
    * the same move as Spark's own CBO join selection: the prefix join's
    * best join key is each doc's rarest token, so if even that token is
    * ubiquitous in the sample (min-df share > 5%), prefix candidates
    * degenerate to all-pairs WITH overhead and the block join wins.
    * MEASURED on the driver's synthetic corpus (31-token near-uniform
    * vocabulary, 72% of within-block pairs >= 0.5): prefix ran ~6-10x
    * slower (q_jaccard_pairs 1.1 -> 11.3 s, q_triangles 1.5 -> 9.6 s at
    * sf0.1) — exactly the regime the sample detects and avoids. On a
    * Zipfian corpus the inequality flips by orders of magnitude.
    * `threshold <= 0` (caller wants EVERY pair, nothing to prune with)
    * always takes the block join. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   blockCols: Seq[String], threshold: Double,
                   strategy: String = "auto"): DataFrame = strategy match {
    case "prefix" => jaccardPairsPrefix(docs, idCol, textCol, blockCols, threshold)
    case "block"  => jaccardPairsBlock(docs, idCol, textCol, blockCols, threshold)
    case "auto" =>
      if (threshold > 0 && prefixPrunes(docs, textCol))
        jaccardPairsPrefix(docs, idCol, textCol, blockCols, threshold)
      else
        jaccardPairsBlock(docs, idCol, textCol, blockCols, threshold)
    case other => throw new IllegalArgumentException(
      s"strategy must be auto|prefix|block, got $other")
  }

  /** Plan-time pruning-power probe on a BOUNDED sample (<=1024 docs,
    * token arrays only — a few KB on the driver; this is stats
    * collection a la CBO/AQE, not a data-path collect). Returns true
    * when a typical doc's rarest token is rare enough (<5% sample df)
    * for prefix candidates to actually prune. */
  private def prefixPrunes(docs: DataFrame, textCol: String): Boolean = {
    pystreamsspark.functions.VectorExpressions.register(docs.sparkSession)
    val sample = docs
      .select(array_distinct(call_function("shingle_hash",
        TextOps.tokens(col(textCol)), lit(1))).as("toks"))
      .limit(1024).collect().map(_.getSeq[Long](0)).filter(_.nonEmpty)
    if (sample.length < 64) return false // tiny input: block join is free
    val df = scala.collection.mutable.HashMap.empty[Long, Int]
    for (ts <- sample; t <- ts) df(t) = df.getOrElse(t, 0) + 1
    val avgMinDfShare = sample.map(ts =>
      ts.map(df(_)).min.toDouble / sample.length).sum / sample.length
    avgMinDfShare <= 0.05
  }

  // id + SORTED distinct hashed token set + block cols: set sizes and
  // intersections are identical to the string sets (xxh64 is injective
  // on any realistic vocabulary), and the pairwise verify runs over
  // longs instead of strings. Sorted ascending so the verify can use the
  // zero-allocation sorted_inter_count merge (the sort runs once per DOC
  // in the shared substrate; every doc participates in many candidate
  // pairs, so it is amortized ~|block|× — guide §1.2 per-task work).
  private def hashedTokenSets(docs: DataFrame, idCol: String, textCol: String,
                              blockCols: Seq[String]): DataFrame = {
    pystreamsspark.functions.VectorExpressions.register(docs.sparkSession)
    docs.select(
      (col(idCol).as("id") +:
        array_sort(array_distinct(call_function("shingle_hash",
          TextOps.tokens(col(textCol)), lit(1)))).as("toks")
        +: blockCols.map(col)): _*)
  }

  /** Exact-verify kernel. CONTRACT: toks_a/toks_b are value-SORTED
    * distinct arrays ([[hashedTokenSets]] order, or `array_sort` at the
    * attach) — sorted_inter_count's merge then equals
    * size(array_intersect(..)) bit-for-bit, and n_union derives as
    * |a|+|b|−n_inter instead of a second hash-set pass (the old
    * intersect+union form measured ~88 µs/pair; the merge is ~60
    * primitive compares). */
  private def pairStats(joined: DataFrame, threshold: Double): DataFrame =
    joined
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        call_function("sorted_inter_count",
          col("toks_a"), col("toks_b")).as("n_inter"),
        (size(col("toks_a")) + size(col("toks_b"))).as("__sz"))
      .select(col("id_a"), col("id_b"), col("n_inter"),
        (col("__sz") - col("n_inter")).as("n_union"))
      // empty∩empty guard (ANSI 0/0 throws; two empty docs ARE dups —
      // the minHashLsh empty-document contract, DedupSigSpec)
      .withColumn("jaccard", when(col("n_union") === 0, lit(1.0))
        .otherwise(col("n_inter").cast("double") / col("n_union")))
      .filter(col("jaccard") >= threshold)

  /** All same-block pairs — O(block²); only for `threshold <= 0`
    * (the caller wants every pair) or as the parity baseline in tests. */
  private[pystreamsspark] def jaccardPairsBlock(
      docs: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], threshold: Double): DataFrame = {
    val base = hashedTokenSets(docs, idCol, textCol, blockCols)
      .localCheckpoint(eager = false)
    val a = base.select(
      (col("id").as("id_a") +: col("toks").as("toks_a") +: blockCols.map(col)): _*)
    val b = base.select(
      (col("id").as("id_b") +: col("toks").as("toks_b") +: blockCols.map(col)): _*)
    pairStats(a.join(b, blockCols), threshold)
  }

  /** EXACT-recall set-similarity join via prefix filtering — the
    * AllPairs / PPJoin candidate scheme (Bayardo, Ma & Srikant, "Scaling
    * Up All Pairs Similarity Search", WWW 2007; Xiao et al., "Efficient
    * Similarity Joins for Near-Duplicate Detection", TODS 2011 — public
    * algorithms). Unlike LSH banding this is NOT probabilistic: every
    * pair with Jaccard >= t is guaranteed to surface.
    *
    * Theorem (prefix filter): order every token set by one global total
    * order and keep only the first  |s| - ceil(t*|s|) + 1  tokens (the
    * "prefix"). If J(x,y) >= t then |x ∩ y| >= ceil(t*max(|x|,|y|)), and
    * two sets whose prefixes are disjoint can overlap in at most
    * (|x| - p_x) < ceil(t*|x|) positions — contradiction. So joining on
    * prefix tokens loses NO true pair; exact verification then removes
    * false candidates.
    *
    * The global order is document-frequency ASCENDING (ties by token
    * value): prefixes then hold each set's RAREST tokens, so the
    * candidate fan-out per join key is bounded by the df of rare tokens
    * — on a Zipfian corpus this collapses the candidate set by orders of
    * magnitude. Cost: one vocab-sized partial aggregate (df), one join
    * to stamp df (broadcast when vocab fits, shuffle otherwise — Spark
    * picks), one groupBy(id) to re-sort each set. A length filter
    * (t*|x| <= |y| <= |x|/t) prunes cross-size candidates before the
    * verify.
    *
    * MEASURED on the driver's synthetic corpus (sf0.1): vocabulary is 31
    * tokens with near-uniform df ≈ 0.77·N, so 72% of all within-block
    * pairs are TRUE pairs at t=0.5 (114 135 of 159 293) — the output
    * itself is quadratic in block size and no candidate scheme can beat
    * the block join there (this corpus is the pruning-hostile worst
    * case). The prefix join is registered anyway because its plan is the
    * one that survives scale: per-key fan-out is df(rarest prefix
    * token)-bounded, while the block join is |block|² regardless of how
    * few pairs pass. */
  def jaccardPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
                         blockCols: Seq[String], threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    val sorted = dfSortedTokenSets(docs, idCol, textCol, blockCols)
    val prefixLen = (size(col("toks"))
      - ceil(lit(threshold) * size(col("toks"))) + 1).cast("int")
    // SLIM candidate rows (guide §2.3 "shuffle keys and metadata instead
    // of payloads" — r14): the prefix join decides WHICH pairs to verify
    // from (ptok, id, |toks|) alone, so the token arrays stay out of the
    // candidate exchange entirely (the old shape shipped each array once
    // per prefix token and re-ran the verify per shared token — measured
    // 126 s of task time on 0.7 MB of input at sf0.1, ~15× redundant).
    val pre = sorted.select(
      (col("id") +: size(col("toks")).as("sz") +: blockCols.map(col)
        :+ explode(slice(col("toks"), lit(1), prefixLen)).as("ptok")): _*)
    val a = pre.select(
      (col("ptok") +: col("id").as("id_a") +: col("sz").as("sz_a")
        +: blockCols.map(col)): _*)
    val b = pre.select(
      (col("ptok") +: col("id").as("id_b") +: col("sz").as("sz_b")
        +: blockCols.map(col)): _*)
    val cand = a.join(b, blockCols :+ "ptok")
      // length filter: J >= t forces t*|x| <= |y| <= |x|/t
      .filter(col("id_a") < col("id_b") &&
              col("sz_b") * lit(threshold) <= col("sz_a") &&
              col("sz_a") * lit(threshold) <= col("sz_b"))
      .select(col("id_a"), col("id_b")).distinct()
      // spread the verify: the slim pair list is tiny in bytes, so AQE
      // coalesces it and a broadcast attach would serialize the
      // CPU-heavy intersections into one task — repartition on the pair
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("id_a"), col("id_b"))
    // attach the arrays once per SURVIVING pair (sorted is the substrate
    // dfSortedTokenSets checkpoints, so both attach joins read its
    // blocks) and verify exactly once per pair — the AllPairs paper's
    // verify discipline.
    // array_sort: re-order the df-ordered sets to VALUE order for the
    // sorted_inter_count verify (once per substrate row per side, not
    // per pair; counts are order-independent so results are identical)
    val withToks = cand
      .join(sorted.select(col("id").as("id_a"),
        array_sort(col("toks")).as("toks_a")), "id_a")
      .join(sorted.select(col("id").as("id_b"),
        array_sort(col("toks")).as("toks_b")), "id_b")
    pairStats(withToks, threshold)
  }

  /** Each doc's distinct hashed token set re-sorted by the GLOBAL
    * document-frequency-ascending total order (df, then token value) —
    * the shared candidate-generation substrate of the prefix-filtered
    * joins: a set's prefix then holds its RAREST tokens, so prefix-token
    * join keys have the smallest possible fan-out. Cost: one vocab-sized
    * partial agg (df), one join to stamp df (broadcast when the vocab
    * fits — Spark picks), one groupBy(id) to re-sort each set. */
  private def dfSortedTokenSets(docs: DataFrame, idCol: String, textCol: String,
                                blockCols: Seq[String]): DataFrame = {
    // checkpoint BOTH levels: `base` feeds the df aggregate AND the stamp
    // join (tokenize once, not twice), and the sorted result feeds both
    // sides of the caller's prefix self-join (sort/stamp once, not
    // twice) — together this cuts the funnel from 4 documents scans to 1
    val base = hashedTokenSets(docs, idCol, textCol, blockCols)
      .localCheckpoint(eager = false)
    val tokDf = base.select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    base
      .select((col("id") +: blockCols.map(col) :+ explode(col("toks")).as("tok")): _*)
      .join(tokDf, "tok")
      .groupBy((col("id") +: blockCols.map(col)): _*)
      .agg(transform(
        sort_array(collect_list(struct(col("df"), col("tok")))),
        s => s.getField("tok")).as("toks"))
      .localCheckpoint(eager = false)
  }

  /** ASYMMETRIC containment pairs: |toks(a) ∩ toks(b)| / |toks(a)| >=
    * threshold within a block — catches quotes, excerpts and
    * boilerplate-wrapped copies that symmetric Jaccard misses (a 50-word
    * quote inside a 5000-word page has Jaccard ~0.01 but containment
    * 1.0). Output is directional: (id_a, id_b) means a's tokens are
    * inside b.
    *
    * COST-BASED dispatch, mirroring [[jaccardPairs]]: the prefix funnel
    * ([[containmentPairsPrefix]]) is the plan that survives 100 TB blocks
    * (candidate fan-out bounded by rare-token df, never |block|²); the
    * block join ([[containmentPairsBlock]]) wins only when prefixes
    * cannot prune — threshold <= 0 or a near-uniform vocabulary, the
    * regime the bounded `prefixPrunes` sample detects. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       blockCols: Seq[String], threshold: Double,
                       strategy: String = "auto"): DataFrame = strategy match {
    case "prefix" => containmentPairsPrefix(docs, idCol, textCol, blockCols, threshold)
    case "block"  => containmentPairsBlock(docs, idCol, textCol, blockCols, threshold)
    case "auto" =>
      if (threshold > 0 && prefixPrunes(docs, textCol))
        containmentPairsPrefix(docs, idCol, textCol, blockCols, threshold)
      else
        containmentPairsBlock(docs, idCol, textCol, blockCols, threshold)
    case other => throw new IllegalArgumentException(
      s"strategy must be auto|prefix|block, got $other")
  }

  /** All same-block ordered pairs — O(block²); the parity baseline and
    * the `threshold <= 0` fallback. */
  private[pystreamsspark] def containmentPairsBlock(
      docs: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], threshold: Double): DataFrame = {
    val base = hashedTokenSets(docs, idCol, textCol, blockCols)
      .localCheckpoint(eager = false)
    val a = base.select(
      (col("id").as("id_a") +: col("toks").as("toks_a") +: blockCols.map(col)): _*)
    val b = base.select(
      (col("id").as("id_b") +: col("toks").as("toks_b") +: blockCols.map(col)): _*)
    containmentStats(a.join(b, blockCols), threshold)
  }

  /** Same sorted-substrate contract as [[pairStats]]. */
  private def containmentStats(joined: DataFrame, threshold: Double): DataFrame =
    joined
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        size(col("toks_a")).as("n_a"),
        call_function("sorted_inter_count",
          col("toks_a"), col("toks_b")).as("n_inter"))
      // the empty set is contained in everything (and ANSI 0/0 throws)
      .withColumn("containment", when(col("n_a") === 0, lit(1.0))
        .otherwise(col("n_inter").cast("double") / col("n_a")))
      .filter(col("containment") >= threshold)

  /** EXACT-recall containment join via the ASYMMETRIC prefix filter —
    * the AllPairs candidate scheme (Bayardo, Ma & Srikant, WWW 2007)
    * adapted to the one-sided overlap bound.
    *
    * Theorem: containment(a→b) >= t means |A∩B| >= ceil(t·|A|) (integer
    * overlap). Order A by the global df-ascending total order and keep
    * its first  p = |A| − ceil(t·|A|) + 1  tokens. If that prefix were
    * disjoint from B, the overlap could only come from A's remaining
    * |A| − p = ceil(t·|A|) − 1 tokens — contradiction. So joining A's
    * PREFIX tokens against B's FULL token list loses no true pair.
    * Containment bounds only |A∩B|/|A|, so nothing can be dropped from
    * the B side (the asymmetry vs the Jaccard prefix join, where both
    * sides keep only prefixes); B's fan-out is its full length — linear
    * in corpus size — while A's is its prefix, and the per-key candidate
    * count is bounded by df(rare prefix token), never |block|².
    * Length filter: |B| >= t·|A| (overlap can't exceed |B|); containment
    * has no upper length bound — a 5-token quote inside a 5000-token
    * page is exactly the target.
    *
    * Candidates deduplicate on the slim (id_a, id_b) pair BEFORE the
    * verify (r14; see [[jaccardPairsPrefix]]): the arrays never enter
    * the candidate exchange and each pair is verified exactly once. */
  def containmentPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
                             blockCols: Seq[String], threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    val sorted = dfSortedTokenSets(docs, idCol, textCol, blockCols)
    val prefixLen = (size(col("toks"))
      - ceil(lit(threshold) * size(col("toks"))) + 1).cast("int")
    // SLIM candidate rows (guide §2.3, r14 — see jaccardPairsPrefix):
    // the asymmetric B side explodes its FULL token list, so the old
    // shape shipped |B| copies of each B array through the exchange;
    // candidates are decided from (ptok, id, |toks|) alone and the
    // arrays are attached once per surviving pair.
    val a = sorted.select(
      (col("id").as("id_a") +: size(col("toks")).as("sz_a") +: blockCols.map(col)
        :+ explode(slice(col("toks"), lit(1), prefixLen)).as("ptok")): _*)
    val b = sorted.select(
      (col("id").as("id_b") +: size(col("toks")).as("sz_b") +: blockCols.map(col)
        :+ explode(col("toks")).as("ptok")): _*)
    val cand = a.join(b, blockCols :+ "ptok")
      // |A∩B| <= |B| and containment >= t force |B| >= t·|A|
      .filter(col("id_a") =!= col("id_b") &&
              col("sz_b") >= lit(threshold) * col("sz_a"))
      .select(col("id_a"), col("id_b")).distinct()
      // spread the verify (see jaccardPairsPrefix)
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("id_a"), col("id_b"))
    val withToks = cand
      .join(sorted.select(col("id").as("id_a"),
        array_sort(col("toks")).as("toks_a")), "id_a")
      .join(sorted.select(col("id").as("id_b"),
        array_sort(col("toks")).as("toks_b")), "id_b")
    containmentStats(withToks, threshold)
  }

  /** End-to-end near-duplicate corpus PRUNE: the output a dedup pass
    * actually ships — every unclustered doc plus one representative
    * (min id) per near-dup cluster. Pairs from [[jaccardPairs]] (cost-
    * based), clusters from [[connectedComponents]], then one left
    * anti-ish filter keeps docs that are their own label or have none. */
  def neardupPrune(docs: DataFrame, idCol: String, textCol: String,
                   blockCols: Seq[String], threshold: Double): DataFrame = {
    val pairs = jaccardPairs(docs, idCol, textCol, blockCols, threshold)
    val labels = connectedComponents(pairs)
    docs.join(labels.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .filter(col("label").isNull || col("label") === col(idCol))
      .drop("label")
  }

  /** [[neardupPrune]] with a QUALITY-BASED canonical policy: per
    * near-dup cluster keep the doc maximizing `qualityCol` (ties to the
    * smaller id) instead of the min-id representative — the selection
    * rule real curation applies (keep the longest / highest-scoring
    * variant). One min_by struct aggregate per cluster over the CC
    * labels; no corpus-wide window. (Query-key twin: q_dedup_keep_best.) */
  def neardupPruneBest(docs: DataFrame, idCol: String, textCol: String,
                       blockCols: Seq[String], threshold: Double,
                       qualityCol: Column): DataFrame = {
    val pairs = jaccardPairs(docs, idCol, textCol, blockCols, threshold)
    val labels = connectedComponents(pairs)
    val lab = docs.join(labels.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("__cluster", coalesce(col("label"), col(idCol)))
    val keep = lab.groupBy(col("__cluster"))
      .agg(min_by(col(idCol),
        struct((-qualityCol).as("negq"), col(idCol))).as("__keep"))
    lab.join(keep, Seq("__cluster"))
      .filter(col(idCol) === col("__keep"))
      .drop("label", "__cluster", "__keep")
  }

  /** Lineage truncation for the iterative CC loops — reliable
    * `checkpoint` when a checkpoint dir is configured (survives executor
    * loss on a real cluster), `localCheckpoint` otherwise. See
    * [[pystreamsspark.operators.Lineage]]. */
  private def truncateLineage(df: DataFrame, eager: Boolean = true): DataFrame =
    pystreamsspark.operators.Lineage.truncate(df, eager)

  /** Connected components over a near-duplicate pair list — turns the
    * LSH pair output into duplicate CLUSTERS, labeling every doc with
    * the smallest id in its component (the canonical representative a
    * dedup pass would keep).
    *
    * Iterative min-label propagation: each round, every node adopts the
    * minimum label among itself and its neighbors; converges in
    * O(diameter) rounds — the standard large-graph formulation (no
    * driver-side graph, scales with the edge list).
    *
    * Per-round cost is kept to the one shuffle the algorithm needs (the
    * groupBy on id):
    *   - the edge list is hash-partitioned on `src` ONCE, so the
    *     per-round edges⋈labels join reuses that partitioning instead of
    *     re-shuffling the (much larger) edge side every round;
    *   - labels only ever DECREASE under min-propagation, so the
    *     fixpoint test is `sum(label)` unchanged between rounds — one
    *     cheap scalar aggregate per round instead of a join + count.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    import pystreamsspark.operators.Pregel
    // undirected edge list, both directions; materialized once (every
    // propagation round re-reads it, and without the checkpoint each
    // round would recompute the whole upstream pair pipeline) and
    // pre-partitioned on the per-round join key — Pregel.materializeOnce
    val edges = Pregel.materializeOnce(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct(),
      partitionOn = Some("src"))
    // first round folded into initialization: label = min(id, neighbors)
    val labels0 = edges
      .select(col("src").as("id"), col("dst").as("label"))
      .union(edges.select(col("src").as("id"), col("src").as("label")))
      .groupBy("id").agg(min(col("label")).as("label"))
    // Pregel policy: persist-per-round (lazy) — the fixpoint SUM
    // aggregate is then the ONE job that both materializes the round and
    // tests convergence (an eager checkpoint would cost a second job per
    // round); lineage truncation every 5 rounds keeps Catalyst
    // re-analysis O(1) per round. Labels only DECREASE under
    // min-propagation, so sum-unchanged IS the fixpoint; coalesce: an
    // EMPTY pair set (nothing near-duplicated — the normal case on clean
    // corpora) sums to NULL and must read as 0, not throw.
    val (labels, _) = Pregel.iterate(labels0, maxIter - 1,
      Pregel.Policy(truncateEvery = 5, persistRounds = true,
        fingerprint = Some(df =>
          df.agg(coalesce(sum(col("label")), lit(0L))).head.getLong(0)))) {
      (labels, _) =>
        // superstep: every node adopts min(own label, neighbors' labels)
        // — self-state unions into the messages before ONE min aggregate
        val neighborLabels = edges
          .join(labels.withColumnRenamed("id", "src"), "src")
          .select(col("dst").as("id"), col("label"))
        labels.select(col("id"), col("label"))
          .union(neighborLabels)
          .groupBy("id").agg(min(col("label")).as("label"))
    }
    labels
  }

  /** Connected components via alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014 — public algorithm): pointer-doubling-style label jumps
    * converge in O(log²) rounds instead of [[connectedComponents]]'
    * O(diameter) — the variant to reach for on deep/chainy graphs.
    *
    *  - large-star: every node u links its LARGER neighbors to
    *    m(u) = min(N(u) ∪ u)  — one groupBy(min) + one join;
    *  - small-star: every node u links its not-larger neighbors and
    *    itself to the min of that closed set — same two shuffles.
    * Fixpoint = canonical edge set unchanged (checked with one scalar
    * aggregate: count + order-insensitive xxhash sum, no driver-side
    * edge list). At convergence the edges form a star forest
    * (child → component-min root), which IS the label assignment.
    */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 50): DataFrame =
    ccStarWithRounds(pairs, maxIter)._1

  private[pystreamsspark] def ccStarWithRounds(
      pairs: DataFrame, maxIter: Int = 50): (DataFrame, Int) = {
    var edges = truncateLineage(pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct())

    def fingerprint(e: DataFrame): (Long, Long) = {
      // bit_xor: order-insensitive and overflow-free (a SUM of xxhash64
      // values overflows Long under ANSI mode)
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val m = nbrs.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      nbrs.filter(col("v") > col("u")).join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val down = nbrs.filter(col("v") <= col("u"))
      val m = down.groupBy("u").agg(min(col("v")).as("m"))
      down.join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(m.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
    }

    // Pregel policy: LAZY truncation every round — the fingerprint
    // aggregate then both tests the fixpoint AND materializes the round
    // (one job per round instead of eager checkpoint + separate agg).
    // A non-converged edge set is NOT a star forest — reading labels off
    // it would silently return wrong components; requireConverged makes
    // Pregel fail loudly instead.
    val (result, rounds) =
      try pystreamsspark.operators.Pregel.iterate(edges, maxIter,
        pystreamsspark.operators.Pregel.Policy(
          truncateEvery = 1, eagerTruncate = false,
          fingerprint = Some(fingerprint), requireConverged = true)) {
        (e, _) => smallStar(largeStar(e))
      } catch {
        case _: IllegalStateException => throw new IllegalStateException(
          s"connectedComponentsStar did not converge within $maxIter rounds; " +
          "raise maxIter (chains of n nodes need ~log2(n)+2 rounds)")
      }
    edges = result
    // star forest: u -> root v; roots label themselves
    val labels = edges.select(col("u").as("id"), col("v").as("label"))
      .union(edges.select(col("v").as("id"), col("v").as("label")).distinct())
      .groupBy("id").agg(min(col("label")).as("label"))
    (labels, rounds)
  }

  /** Incremental (delta) exact dedup with a Bloom pre-filter: rows of
    * `incoming` whose key is NOT in `existing`.
    *
    * The plain formulation is one anti-join — which shuffles ALL of
    * `incoming` and ALL of `existing` on the key. Here instead:
    *  1. build one Bloom filter over `existing`'s keys (partial
    *     aggregation: each executor builds a local filter, merge is
    *     bitwise OR; result is a few MB of bytes on the driver);
    *  2. `incoming` rows whose key misses the filter are DEFINITELY new
    *     (no false negatives) — emitted map-side, never shuffled;
    *  3. only possible-duplicate rows (true dups + the fp fraction)
    *     reach the exact anti-join that removes false positives.
    * At 100 TB with a mostly-new incoming batch this turns the join's
    * shuffle from |incoming| rows into |dups| + fpp·|incoming| rows.
    */
  def deltaWithBloom(existing: DataFrame, incoming: DataFrame,
                     keyCol: String, expectedItems: Long = 4000000L): DataFrame = {
    pystreamsspark.functions.BloomFunctions.register(existing.sparkSession)
    val bytes = existing
      .select(call_function("bloom_agg", xxhash64(col(keyCol)),
        lit(expectedItems)).as("bf"))
      .head.getAs[Array[Byte]](0)
    // BloomFilterAggregate yields NULL over zero rows; bloom_contains(NULL, h)
    // is then NULL, which would drop EVERY incoming row from both branches.
    // An empty `existing` means everything is new.
    if (bytes == null) return incoming
    val mightContain =
      call_function("bloom_contains", lit(bytes), xxhash64(col(keyCol)))
    val definitelyNew = incoming.filter(!mightContain)
    val candidates = incoming.filter(mightContain)
      .join(existing.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
    definitelyNew.unionByName(candidates)
  }

  /** Incremental NEAR-dup detection: which docs of an `incoming` batch
    * are near-duplicates (exact Jaccard >= threshold, within
    * `blockCols` blocks) of ANY doc already in `existing` — the
    * cross-corpus companion of [[deltaWithBloom]] (exact-key delta) and
    * the production shape of continuous corpus ingestion: the existing
    * 100 TB corpus is scanned ONCE, the batch's token sets ride along
    * as the broadcast build side of a block equi-join, and the exact
    * verify is candidate-local. Never batch×batch, never corpus×corpus.
    *
    * Output: one row per flagged incoming doc — (id, n_matches,
    * min_match, max_jaccard) — deterministic: counts and ids are exact,
    * and max over exactly-computed division results is
    * order-independent.
    */
  def neardupDelta(existing: DataFrame, incoming: DataFrame,
                   idCol: String, textCol: String,
                   blockCols: Seq[String], threshold: Double): DataFrame = {
    val e = hashedTokenSets(existing, idCol, textCol, blockCols)
      .select((col("id").as("id_e") +: col("toks").as("toks_e")
        +: blockCols.map(col)): _*)
    val i = hashedTokenSets(incoming, idCol, textCol, blockCols)
      .select((col("id").as("id_i") +: col("toks").as("toks_i")
        +: blockCols.map(col)): _*)
    // a delta batch is small by definition relative to the corpus —
    // broadcast it so the corpus never shuffles
    e.join(broadcast(i), blockCols)
      // sorted_inter_count + derived union (hashedTokenSets arrays are
      // sorted distinct): identical integers, no per-pair hash sets
      .select(col("id_i"), col("id_e"),
        call_function("sorted_inter_count",
          col("toks_i"), col("toks_e")).as("n_inter"),
        (size(col("toks_i")) + size(col("toks_e"))).as("__sz"))
      .withColumn("n_union", col("__sz") - col("n_inter"))
      .drop("__sz")
      // empty∩empty guard — same contract as minHashLsh/pairStats
      .withColumn("jaccard", when(col("n_union") === 0, lit(1.0))
        .otherwise(col("n_inter").cast("double") / col("n_union")))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("id_i").as("id"))
      .agg(count(lit(1)).as("n_matches"), min(col("id_e")).as("min_match"),
        max(col("jaccard")).as("max_jaccard"))
  }

  /** 64-bit SimHash over the token multiset: bit j is the sign of the
    * sum of (+1/-1) votes from each token hash's bit j. Expressed as one
    * SQL expression tree (bit ops need column-typed shift amounts, which
    * only the SQL parser accepts inside lambdas). */
  def simHash(textCol: String): Column = expr(
    s"""aggregate(
       |  transform(sequence(0, 63), j ->
       |    CASE WHEN aggregate(
       |      transform(filter(split($textCol, ' '), t -> t != ''), t -> xxhash64(t)),
       |      0L,
       |      (acc, h) -> acc + IF(((shiftrightunsigned(h, j)) & 1L) = 1L, 1L, -1L)
       |    ) >= 0 THEN shiftleft(1L, j) ELSE 0L END),
       |  0L, (acc, b) -> acc | b)""".stripMargin)

  /** Hamming distance between two 64-bit sketches. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Bulk SimHash — the RELATIONAL formulation of [[simHash]], bit-exact
    * with it (parity-tested): explode tokens, hash each token ONCE in a
    * flat codegen'd projection, then 64 partial-aggregated vote sums per
    * doc and one bit-assembly projection. The scalar [[simHash]]
    * re-aggregates the token list PER BIT inside nested lambdas (64x the
    * work, interpreted) — fine for a handful of rows, 30x slower over a
    * corpus. Token-less docs get sketch -1L (all bits set), matching the
    * scalar expression's empty-aggregate behavior. */
  def simHashBulk(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val votes = docs
      .select(col(idCol).as("id"), explode(TextOps.tokens(col(textCol))).as("t"))
      .select(col("id"), xxhash64(col("t")).as("h"))
    val sumCols = (0 until 64).map(j => sum(
      when(shiftrightunsigned(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"s$j"))
    val sketches = votes.groupBy(col("id"))
      .agg(sumCols.head, sumCols.tail: _*)
      .select(col("id"),
        (0 until 64).map(j =>
          when(col(s"s$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ bitwiseOR _).as("sh64"))
    docs.select(col(idCol).as("id"))
      .join(sketches, Seq("id"), "left")
      .select(col("id"), coalesce(col("sh64"), lit(-1L)).as("sh64"))
  }

  /** SimHash near-dup pairs via chunk banding: the 64-bit sketch is split
    * into 4 16-bit chunks; two docs are candidates iff they share a chunk
    * value at the same position (pigeonhole: any pair within hamming
    * distance 3 shares at least one intact chunk — recall is exact for
    * d<=3, probabilistic above), then verified with the full
    * `hamming <= maxDist` check. Never all-pairs: the self-join shuffles
    * on the (position, 16-bit chunk) key only — same 100 TB shape as the
    * MinHash band join.
    *
    * @param maxDist verification threshold. Recall is EXHAUSTIVE only for
    *   maxDist <= 3 (the 4-chunk pigeonhole bound) — hence the default.
    *   Larger values are accepted but return probabilistic-recall
    *   candidates (pairs at distance 4..maxDist that happen to share an
    *   intact chunk), NOT the complete set — don't use this as an exact
    *   join above 3. */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3): DataFrame = {
    val sk = simHashBulk(docs, idCol, textCol)
    val chunks = array((0 until 4).map(c => struct(
      lit(c).as("bnd"),
      shiftrightunsigned(col("sh64"), 16 * c).bitwiseAND(lit(0xFFFFL)).as("ck"))): _*)
    val banded = sk.select(col("id"), col("sh64"), explode(chunks).as("b"))
      .select(col("id"), col("sh64"), col("b.bnd").as("bnd"), col("b.ck").as("ck"))
    val a = banded.select(col("bnd"), col("ck"),
      col("id").as("id_a"), col("sh64").as("sh_a"))
    val b = banded.select(col("bnd"), col("ck"),
      col("id").as("id_b"), col("sh64").as("sh_b"))
    a.join(b, Seq("bnd", "ck"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming(col("sh_a"), col("sh_b")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }
}
