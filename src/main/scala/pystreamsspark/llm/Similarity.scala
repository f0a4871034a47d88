package pystreamsspark.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Vector math is done with codegen'd higher-order functions, widening
  * each element to double and folding left-to-right — sequential IEEE
  * double accumulation, so results are bit-deterministic and match an
  * ordered SUM in any engine.
  *
  * Brute-force top-k is the correctness baseline (broadcast the probe,
  * one pass, TakeOrderedAndProject — no shuffle of the big side). The
  * scale path is [[lshBuckets]]: sign-random-projection buckets computed
  * map-side from deterministic per-(plane,dim) hash weights; candidate
  * generation joins only within a bucket.
  */
object Similarity {

  private def dbl(c: Column): Column = transform(c, x => x.cast("double"))

  /** Sequential-fold dot product of two float-array columns, in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(dbl(a), dbl(b), (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** L2 norm (sqrt of sequential sum of squares). */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity: dot / (norm(a) * norm(b)) — fixed op order. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Native single-pass cosine (codegen'd VecCosine expression) —
    * bit-identical to [[cosine]] (same IEEE op sequence, property-tested)
    * but one fused loop instead of three interpreted HOF passes. Needs
    * the function registered on the session ([[Similarity.native]] or
    * GraftExtensions). */
  def cosineNative(a: Column, b: Column): Column = call_function("vec_cosine", a, b)

  /** Register the native vector functions on the frame's session and
    * return the frame (convenience for pipelines). */
  private def native(df: DataFrame): DataFrame = {
    pystreamsspark.functions.VectorExpressions.register(df.sparkSession)
    df
  }

  /** Brute-force cosine top-k against one probe vector (given as a 1-row
    * DataFrame with column `probe`). Broadcast + TakeOrderedAndProject:
    * the big side is scanned once, never shuffled. */
  def knn(emb: DataFrame, idCol: String, vecCol: String,
          probe: DataFrame, k: Int): DataFrame =
    native(emb).crossJoin(broadcast(probe))
      .select(col(idCol), cosineNative(col(vecCol), col("probe")).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)

  /** Batched brute-force top-k: one top-k list PER probe vector. Probes
    * (a small query set, column `pid`/`probe`) are broadcast against the
    * corpus — the big side is scanned once with no shuffle on it. The
    * per-probe selection is the BOUNDED map-side top-k UDAF
    * ([[pystreamsspark.operators.TopKAgg]]): each task keeps at most k
    * scored rows per probe, so only |probes|·k·nPartitions rows reach
    * the final aggregate — the retired `row_number()` window instead
    * shuffled and SORTED all |probes|·|corpus| scored rows with one
    * task per probe (a full corpus sort per probe at 100 TB). Ordering
    * (cosine DESC, id ASC) is a total order, so output is deterministic
    * and identical to the window form. At 100 TB you'd pre-filter
    * candidates with [[lshBuckets]] or [[ivfKnn]] cells before this
    * exact re-rank — this is the exact re-rank stage of that funnel. */
  def knnBatch(emb: DataFrame, idCol: String, vecCol: String,
               probes: DataFrame, k: Int): DataFrame = {
    val scored = native(emb).crossJoin(broadcast(probes))
      .select(col("pid"), col(idCol),
        cosineNative(col(vecCol), col("probe")).as("cosine"))
    scored.groupBy(col("pid"))
      .agg(pystreamsspark.operators.TopKAgg.topK(k)(
        col("cosine"), col(idCol)).as("top"))
      .select(col("pid"), posexplode(col("top")))
      .select(col("pid"), col("col._2").as(idCol),
        col("col._1").as("cosine"), (col("pos") + 1).as("rn"))
  }

  /** Sign-random-projection LSH bucket id over `planes` hyperplanes —
    * native fused loop (see functions.LshBucket). Plane weights are
    * deterministic ±1s derived from XXH64(d, p): no stored model, any
    * executor recomputes them. Bucket = the `planes`-bit sign pattern.
    * Requires the session registration ([[annPairs]] does it). */
  def lshBuckets(vec: Column, planes: Int = 8): Column =
    call_function("lsh_bucket", vec, lit(planes))

  /** Bucketed approximate near-duplicate pairs: candidates share an LSH
    * bucket, then exact cosine verifies against `threshold`. At 100 TB
    * the self-join shuffles on the small bucket key only. */
  def annPairs(emb: DataFrame, idCol: String, vecCol: String,
               planes: Int = 8, threshold: Double = 0.8): DataFrame = {
    // norm computed once per vector, not once per pair
    val bucketed = native(emb).select(col(idCol).as("id"), col(vecCol).as("v"),
      sqrt(call_function("vec_dot", col(vecCol), col(vecCol))).as("nrm"),
      lshBuckets(col(vecCol), planes).as("bucket"))
    val a = bucketed.select(col("bucket"), col("id").as("id_a"),
      col("v").as("v_a"), col("nrm").as("nrm_a"))
    val b = bucketed.select(col("bucket"), col("id").as("id_b"),
      col("v").as("v_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (call_function("vec_dot", col("v_a"), col("v_b")) /
          (col("nrm_a") * col("nrm_b"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Distributed k-means (Lloyd's) over DataFrames — fits the centroid
    * set a production IVF index needs (`ivfAssign`/`ivfKnn` accept any
    * centroid frame; random seeds give luck-dependent recall on real
    * embedding distributions, fitted ones don't).
    *
    * Every step is a partial-aggregable DataFrame op — nothing
    * driver-side except the k×dim centroid frame itself (localCheckpoint
    * per round, the same scalar-traffic pattern as the CC loop):
    *  - init: the k vectors with the smallest md5(id) — deterministic,
    *    seedless, reproducible on any executor count;
    *  - assign: broadcast centroids, `min(struct(-sim, cid))` per point —
    *    map-side combine collapses the k candidates before the shuffle
    *    (no per-point window sort);
    *  - update: per-(cell, dim) mean via posexplode + partial agg. Means
    *    use [[pystreamsspark.relational.Det]] decimal sums: exact and
    *    reduction-order-independent, so fitted centroids are
    *    BIT-IDENTICAL at any partition count (and oracle-reproducible —
    *    q_kmeans_cells hash-verifies two full Lloyd rounds vs DuckDB).
    * Cosine similarity (spherical assignment), computed with the same
    * sequential-fold IEEE sequence as [[cosine]] on double-widened
    * values so an oracle can mirror it with list_dot_product.
    *
    * Returns (cid, cvec: Array[Double]) with cid in 1..k. */
  def kmeansFit(emb: DataFrame, idCol: String, vecCol: String,
                k: Int, iters: Int): DataFrame = {
    // the Lloyd loop consumes `e` eagerly (localCheckpoint per round), so
    // persist for the duration of the fit: one materialization instead of
    // iters+1 full re-executions of the source plan (at 100 TB: iters
    // extra corpus reads). Intra-operation only — unpersisted before
    // return, nothing survives the call.
    val e = kmeansInput(emb, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try kmeansFitOn(e, k, iters)
    finally { e.unpersist(blocking = false); () }
  }

  /** The (`__id`, `__v` double[]) projection every cosine Lloyd stage
    * consumes. */
  private def kmeansInput(emb: DataFrame, idCol: String,
                          vecCol: String): DataFrame =
    emb.select(col(idCol).as("__id"),
      transform(col(vecCol), x => x.cast("double")).as("__v"))

  /** Lloyd loop body over an already-derived (and ideally persisted)
    * `e` — shared by [[kmeansFit]] and [[kmeansAssign]] so the final
    * assignment pass can reuse the same materialized input. Fully eager
    * (localCheckpoint per round): `e` is completely consumed when this
    * returns. */
  private def kmeansFitOn(e: DataFrame, k: Int, iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val md5c = md5(col("__id").cast("string").cast("binary"))
    var centroids = e.orderBy(md5c, col("__id")).limit(k)
      .withColumn("cid", row_number().over(Window.orderBy(md5c, col("__id"))))
      .select(col("cid"), col("__v").as("cvec"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val assigned = assignMin(e, centroids)
      val means = assigned
        .select(col("cell").as("cid"), posexplode(col("__v")))
        .groupBy(col("cid"), col("pos"))
        .agg(pystreamsspark.relational.Det.davg(col("col")).as("m"))
        .groupBy(col("cid"))
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("next"))
      // empty-cell guard: a cell that captured no points this round keeps
      // its previous centroid (otherwise k silently shrinks — the classic
      // Lloyd's empty-cluster case when two seeds land in one tight
      // cluster); mirrored in the q_kmeans_cells oracle SQL
      centroids = centroids.join(means, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("next"), col("cvec")).as("cvec"))
        .localCheckpoint()
    }
    centroids
  }

  /** Nearest-centroid assignment via `min(struct(-sim, cid, v))` — the
    * k scored candidates per point collapse in the MAP-side partial
    * aggregate; only one row per point crosses the shuffle. (-sim, cid)
    * is already unique, so the carried array is never compared. Cosine
    * is the native fused expression (accepts double arrays since round
    * 3) — bit-identical to the HOF form, one codegen'd loop instead of
    * three interpreted passes per (point, centroid). */
  private def assignMin(e: DataFrame, centroids: DataFrame): DataFrame = {
    pystreamsspark.functions.VectorExpressions.register(e.sparkSession)
    e.crossJoin(broadcast(centroids))
      .select(col("__id"), struct(
        (lit(0) - cosineNative(col("__v"), col("cvec"))).as("ns"),
        col("cid"), col("__v").as("v")).as("sc"))
      .groupBy(col("__id"))
      .agg(min(col("sc")).as("sc"))
      .select(col("__id"), col("sc.v").as("__v"), col("sc.cid").as("cell"))
  }

  /** Final cell occupancy of a k-means fit: (cell, n_points) — the
    * oracle-checkable surface of [[kmeansFit]] (cluster counts pin the
    * full assign→update→assign pipeline without comparing float arrays
    * structurally). */
  def kmeansCells(emb: DataFrame, idCol: String, vecCol: String,
                  k: Int, iters: Int): DataFrame =
    kmeansAssign(emb, idCol, vecCol, k, iters)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"))

  /** Per-point cell assignment of a k-means fit: (id, cell) — the
    * joinable surface of [[kmeansFit]] (lets downstream keys cross
    * assignments with row attributes, e.g. cluster-purity vs a label
    * column, without re-deriving the fit). Same deterministic pipeline
    * as [[kmeansCells]]; only the terminal agg differs. */
  def kmeansAssign(emb: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int): DataFrame = {
    // one derived input shared by the fit (eager — reads the persisted
    // copy every round) and the final assignment (lazy — recomputes the
    // projection once at consumption, after the unpersist). Source scans
    // per call: 2, independent of iters (was iters+2).
    val e = kmeansInput(emb, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fitted =
      try kmeansFitOn(e, k, iters)
      finally { e.unpersist(blocking = false); () }
    assignMin(e, fitted).select(col("__id").as("id"), col("cell"))
  }

  /** OR-amplified sign-LSH near-dup pairs: `bands` independent bands of
    * `planesPerBand` hyperplanes each; two vectors are candidates iff
    * they agree on ALL planes of AT LEAST ONE band (the same AND-then-OR
    * amplification MinHash banding uses). A single `planes`-bit band
    * ([[annPairs]]) has recall p^planes with p = 1 - acos(cos)/pi — at
    * cosine 0.7 and 8 planes that is ~10%, i.e. luck; 8 bands of 4
    * planes lift it to ~95% while keeping per-band buckets selective.
    *
    * One fused lsh_bucket call computes all bands' bits (one pass over
    * the vector); the signature is then CHUNKED into band keys — same
    * shape as SimHash chunk banding. The self-join shuffles on the
    * (band, chunk) key only; candidates are verified with exact cosine
    * and deduped across bands, so output == [[annPairs]] semantics with
    * band-tunable recall. */
  def annPairsMultiband(emb: DataFrame, idCol: String, vecCol: String,
                        planesPerBand: Int = 4, bands: Int = 8,
                        threshold: Double = 0.8): DataFrame = {
    require(planesPerBand * bands <= 62, "planesPerBand * bands must be <= 62")
    val nbits = planesPerBand * bands
    val mask = (1L << planesPerBand) - 1
    val bucketed = native(emb).select(col(idCol).as("id"), col(vecCol).as("v"),
      sqrt(call_function("vec_dot", col(vecCol), col(vecCol))).as("nrm"),
      lshBuckets(col(vecCol), nbits).as("sig"))
    val chunks = array((0 until bands).map(c => struct(
      lit(c).as("bnd"),
      shiftrightunsigned(col("sig"), planesPerBand * c)
        .bitwiseAND(lit(mask)).as("ck"))): _*)
    val banded = bucketed
      .select(col("id"), col("v"), col("nrm"), explode(chunks).as("b"))
      .select(col("id"), col("v"), col("nrm"),
        col("b.bnd").as("bnd"), col("b.ck").as("ck"))
    val a = banded.select(col("bnd"), col("ck"), col("id").as("id_a"),
      col("v").as("v_a"), col("nrm").as("nrm_a"))
    val b = banded.select(col("bnd"), col("ck"), col("id").as("id_b"),
      col("v").as("v_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("bnd", "ck"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (call_function("vec_dot", col("v_a"), col("v_b")) /
          (col("nrm_a") * col("nrm_b"))).as("cosine"))
      .distinct()
      .filter(col("cosine") >= threshold)
  }

  /** IVF cell assignment: each vector goes to its nearest centroid
    * (cosine, deterministic tie-break on centroid id). `centroids` is a
    * small (cid, cvec) frame — broadcast, so assignment is one scan of
    * the big side. Nearest-centroid selection is `min(struct(-sim, cid))`
    * per point: the |centroids| scored candidates collapse in the
    * MAP-side partial aggregate, so one row per point crosses the
    * shuffle — the row_number() window this replaces shuffled and sorted
    * all |points|·|centroids| scored rows. (-sim, cid) is unique, so the
    * carried vector is never compared; tie-break (min cid) is identical
    * to the window form. Centroids fitted by [[kmeansFit]] (cast to
    * float) or any deterministic set work. */
  def ivfAssign(emb: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame): DataFrame =
    native(emb)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .crossJoin(broadcast(centroids))
      .select(col("__id"), struct(
        (lit(0) - cosineNative(col("__v"), col("cvec"))).as("ns"),
        col("cid"), col("__v").as("v")).as("sc"))
      .groupBy(col("__id"))
      .agg(min(col("sc")).as("sc"))
      .select(col("__id").as(idCol), col("sc.v").as(vecCol),
        col("sc.cid").as("cell"))

  /** IVF top-k search: rank cells by centroid similarity to the probe,
    * scan only the `nprobe` best cells. At 100 TB the assignment is
    * computed once and stored partitioned BY cell, so a query touches
    * nprobe partitions instead of the whole corpus. */
  def ivfKnn(emb: DataFrame, idCol: String, vecCol: String,
             centroids: DataFrame, probe: DataFrame,
             k: Int, nprobe: Int): DataFrame = {
    val assigned = ivfAssign(emb, idCol, vecCol, centroids)
    val probeCells = native(centroids).crossJoin(broadcast(probe))
      .select(col("cid").as("cell"), cosineNative(col("cvec"), col("probe")).as("csim"))
      .orderBy(col("csim").desc, col("cell").asc)
      .limit(nprobe)
      .select(col("cell"))
    assigned
      .join(broadcast(probeCells), Seq("cell"))
      .crossJoin(broadcast(probe))
      .select(col(idCol), cosineNative(col(vecCol), col("probe")).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Build a PERSISTED IVF index at `dir` — the missing piece between
    * [[kmeansFit]]/[[ivfAssign]] (which recompute per query) and a
    * production index (built once, probed many times):
    *
    *  - `dir/centroids`: the fitted (cid, cvec) set, one SnapshotTable
    *    (tiny — k rows);
    *  - `dir/cells`: the full (id, vec, cell) assignment, range-
    *    clustered BY CELL with per-file min/max cell stats in the
    *    manifest — so a probe's nprobe best cells resolve to covering
    *    files by pure driver metadata ([[pystreamsspark.io.SnapshotTable.readWhere]])
    *    and a query reads O(nprobe × cell) rows regardless of corpus
    *    size.
    *
    * Build cost (the Lloyd fit + one assignment scan) is paid ONCE
    * here; [[ivfQueryIndexed]] pays only the pruned reads. Both tables
    * are ordinary snapshot tables: the index refreshes incrementally
    * (append new vectors through [[ivfAssign]] + `SnapshotTable.append`)
    * and time-travels like any other table. Deterministic end-to-end
    * (md5-seeded fit, Det-exact means), so a rebuild from the same
    * corpus is bit-identical — the property that lets an oracle replay
    * queries against the stored cells. */
  def ivfBuild(emb: DataFrame, idCol: String, vecCol: String,
               k: Int, iters: Int, dir: String, cellFiles: Int = 0): Unit = {
    val spark = emb.sparkSession
    val centroids = kmeansFit(emb, idCol, vecCol, k, iters)
    val assigned = ivfAssign(emb, idCol, vecCol, centroids)
    val nFiles = if (cellFiles > 0) cellFiles else k
    pystreamsspark.io.SnapshotTable.createClustered(spark, s"$dir/cells",
      assigned.repartitionByRange(nFiles, col("cell"))
        .sortWithinPartitions(col("cell")),
      clusterCols = Seq("cell"))
    pystreamsspark.io.SnapshotTable.create(spark, s"$dir/centroids",
      centroids, numFiles = 1)
  }

  /** Incrementally extend a persisted IVF index ([[ivfBuild]]) with a
    * new vector batch: assign against the STORED centroids (no refit —
    * one broadcast scan of the batch only) and append to the cells
    * table, range-clustered by cell so the new files' stats stay narrow
    * and keep pruning. The append rides SnapshotTable's optimistic
    * retry/rebase, so concurrent refreshes (two ingest jobs, or a
    * refresh racing a compaction) all land. Centroid DRIFT is the
    * caller's policy: monitor assignment distance and [[ivfBuild]] a
    * fresh index when stale — the standard IVF maintenance contract
    * (a refit reassigns everything by design). Returns the new table
    * version. */
  def ivfAppend(spark: org.apache.spark.sql.SparkSession, dir: String,
                newVecs: DataFrame, idCol: String, vecCol: String,
                batchFiles: Int = 2): Int = {
    val centroids = pystreamsspark.io.SnapshotTable.read(spark, s"$dir/centroids")
    val assigned = ivfAssign(newVecs, idCol, vecCol, centroids)
    pystreamsspark.io.SnapshotTable.append(spark, s"$dir/cells",
      assigned.repartitionByRange(batchFiles, col("cell"))
        .sortWithinPartitions(col("cell")),
      numFiles = 0) // preserve the cell clustering (see append scaladoc)
  }

  /** EXACTLY-ONCE streaming refresh of a persisted IVF index: the
    * `foreachBatch` form of [[ivfAppend]]. Each micro-batch is assigned
    * against the stored centroids and appended under its epoch id —
    * SnapshotTable's epoch-idempotent commit turns foreachBatch's
    * at-least-once replay into an exactly-once index (a replayed epoch
    * is skipped; a racing replay loses the put-if-absent and its batch
    * vacuums). Usage:
    * {{{
    * vecStream.writeStream.foreachBatch { (df, epoch) =>
    *   Similarity.ivfAppendEpoch(spark, dir, df, "vec_id", "embedding", epoch); ()
    * }.option("checkpointLocation", ckpt).start()
    * }}} */
  def ivfAppendEpoch(spark: org.apache.spark.sql.SparkSession, dir: String,
                     newVecs: DataFrame, idCol: String, vecCol: String,
                     epochId: Long, batchFiles: Int = 2): Int = {
    val centroids = pystreamsspark.io.SnapshotTable.read(spark, s"$dir/centroids")
    val assigned = ivfAssign(newVecs, idCol, vecCol, centroids)
    pystreamsspark.io.SnapshotTable.appendEpoch(spark, s"$dir/cells",
      assigned.repartitionByRange(batchFiles, col("cell"))
        .sortWithinPartitions(col("cell")),
      epochId, numFiles = 0) // preserve the cell clustering
  }

  /** Top-k search against a PERSISTED IVF index ([[ivfBuild]]): rank the
    * stored centroids per probe, take the `nprobe` best cells, read ONLY
    * those cells' covering files (one manifest-stats-pruned scan with a
    * cell-set predicate — no full scan of the cells table), then exact
    * cosine + bounded per-probe top-k. `probes` is a (pid, probe) frame.
    *
    * Routing stays DISTRIBUTED: the per-probe (pid, cell) assignment is
    * a broadcast-joined plan, never materialized on the driver — a batch
    * scoring job with millions of probes routes at full parallelism (the
    * round-9 form collected O(|probes| × nprobe) pairs and built an
    * O(#cells)-wide union-read plan). The only driver materialization is
    * the DISTINCT CELL ID set — bounded by the index's nlist (the
    * centroid count fixed at build time), independent of |probes| —
    * because file pruning is driver metadata by nature: the manifest is
    * consulted with the cell set and the covering files are read in ONE
    * job ([[pystreamsspark.io.SnapshotTable.readWhereIn]]). An empty
    * probe frame returns an empty result (no reduce-on-empty crash), and
    * cell ids pass through type-tolerantly (any integral id type).
    * Returns (pid, rn, `idCol`, cosine) with rn 1..k per probe. */
  def ivfQueryIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                      idCol: String, vecCol: String, probes: DataFrame,
                      k: Int, nprobe: Int): DataFrame = {
    val (routed, cellIds) = routeCells(spark, dir, probes, nprobe)
    // ONE stats-pruned scan over the union of covering files, with the
    // cell-set residual; empty cell set → empty frame with the schema
    val members = pystreamsspark.io.SnapshotTable.readWhereIn(
      spark, s"$dir/cells", "cell", cellIds.toSeq)
    // no forced broadcast: AQE broadcasts the routing/probe sides when
    // they are small (interactive batches) and shuffle-joins when a
    // million-probe batch makes them big — both plans stay distributed
    members.join(routed, Seq("cell"))
      .join(probes, Seq("pid"))
      .select(col("pid"), col(idCol),
        cosineNative(col(vecCol), col("probe")).as("cosine"))
      .groupBy(col("pid"))
      .agg(pystreamsspark.operators.TopKAgg.topK(k)(
        col("cosine"), col(idCol)).as("top"))
      .select(col("pid"), posexplode(col("top")))
      .select(col("pid"), (col("pos") + 1).as("rn"),
        col("col._2").as(idCol), col("col._1").as("cosine"))
  }

  /** Coarse routing shared by [[ivfQueryIndexed]] and [[ivfPqQuery]]:
    * rank the stored centroids per probe (|centroids| × |probes| rows,
    * each probe's candidates collapse in the window — a distributed
    * plan reused as the routing side of the member join) and return it
    * with the DISTINCT cell-id set — nlist-bounded driver metadata
    * (never O(|probes|)), rendered in the manifest's own stat string
    * format, tolerant of the id's integral type. */
  private def routeCells(spark: org.apache.spark.sql.SparkSession,
                         dir: String, probes: DataFrame,
                         nprobe: Int): (DataFrame, Seq[String]) = {
    import org.apache.spark.sql.expressions.Window
    val centroids = pystreamsspark.io.SnapshotTable.read(spark, s"$dir/centroids")
    val routed = probes.crossJoin(broadcast(native(centroids)))
      .select(col("pid"), col("cid").as("cell"),
        cosineNative(col("cvec"), col("probe")).as("csim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("pid")).orderBy(col("csim").desc, col("cell").asc)))
      .filter(col("rn") <= nprobe)
      .select(col("pid"), col("cell"))
    val cellIds = routed.select(col("cell")).distinct()
      .collect().map(_.get(0).toString).sorted.toSeq
    (routed, cellIds)
  }

  /** L2 Lloyd fit over an (`__id`, `__v` double[]) frame — the PQ
    * codebook trainer: identical deterministic skeleton to
    * [[kmeansFit]] (md5-ordered seeding, Det-exact means, empty-cell
    * guard) with the SQUARED-L2 assignment metric PQ requires —
    * subvector NORMS carry signal, so the cosine metric of the coarse
    * quantizer would be wrong here. argmin(|v-c|²) drops the constant
    * |v|² term: the scored struct is (|c|² - 2·v·c, cid), ties by cid. */
  // NOTE (r14 measured): an intra-fit persist here (like kmeansFit's) was
  // tried and REVERTED — pqBuild runs m of these fits over slim slice
  // projections of the already-on-disk cells table, and stacking m
  // persists measured 1.34× slower on q_ivf_pq (cache churn beats the
  // cheap columnar re-scan of a 1/m-width projection).
  private def kmeansFitL2(e: DataFrame, k: Int, iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    pystreamsspark.functions.VectorExpressions.register(e.sparkSession)
    val md5c = md5(col("__id").cast("string").cast("binary"))
    var centroids = e.orderBy(md5c, col("__id")).limit(k)
      .withColumn("cid", row_number().over(Window.orderBy(md5c, col("__id"))))
      .select(col("cid"), col("__v").as("cvec"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val assigned = e.crossJoin(broadcast(centroids))
        .select(col("__id"), struct(
          (call_function("vec_dot", col("cvec"), col("cvec")) -
            lit(2.0) * call_function("vec_dot", col("__v"), col("cvec")))
            .as("d"),
          col("cid"), col("__v").as("v")).as("sc"))
        .groupBy(col("__id"))
        .agg(min(col("sc")).as("sc"))
        .select(col("sc.cid").as("cid"), col("sc.v").as("__v"))
      val means = assigned
        .select(col("cid"), posexplode(col("__v")))
        .groupBy(col("cid"), col("pos"))
        .agg(pystreamsspark.relational.Det.davg(col("col")).as("m"))
        .groupBy(col("cid"))
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("next"))
      centroids = centroids.join(means, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("next"), col("cvec")).as("cvec"))
        .localCheckpoint()
    }
    centroids
  }

  /** PRODUCT-QUANTIZED compression for a persisted IVF index (r11
    * verdict #5 — the public IVF-PQ design of Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", 2011; original
    * implementation): each stored vector's `m` subvectors are each
    * replaced by the id of their nearest per-slot codebook centroid
    * (2^nbits codes per slot, trained by the deterministic L2 Lloyd
    * fit), so the candidate scan of a probe reads `m` SMALL INTEGERS
    * per vector — at 100 TB the codes table is ~dim·4/m bytes-fold
    * smaller than the raw float corpus (the Stress row measures the
    * ratio), and raw vectors are touched only for the final exact
    * re-rank short-list. Artifacts land beside the index:
    * `dir/pq_codebook` (slot, code, cvec, c2) and `dir/pq_codes`
    * (id, cell, codes), the codes table cell-clustered exactly like the
    * raw cells table so the SAME manifest-stats pruning serves both. */
  def pqBuild(spark: org.apache.spark.sql.SparkSession, dir: String,
              idCol: String, vecCol: String, m: Int, nbits: Int,
              iters: Int): Unit = {
    pystreamsspark.functions.VectorExpressions.register(spark)
    // NOTE (r14 measured): persisting the cells table for the whole build
    // was tried and REVERTED — the per-slot fits read 1/m-width slice
    // projections a columnar scan serves nearly for free, and the cached
    // full-width copy measured 1.34× slower on q_ivf_pq (cache churn,
    // lost column pruning: every slot read the full vector from cache).
    val cells = pystreamsspark.io.SnapshotTable.read(spark, s"$dir/cells")
    val dim = cells.select(size(col(vecCol)).as("d")).head().getInt(0)
    require(dim % m == 0, s"PQ needs m to divide the dimension: $dim % $m")
    val sub = dim / m
    val k = 1 << nbits
    // per-slot codebooks: m INDEPENDENT deterministic L2 fits over the
    // slot's subvector space. Each fit is a driver-sequenced chain of
    // jobs (iters rounds x localCheckpoint), so running the m fits
    // serially leaves the cluster idle on every fit's stragglers —
    // guide §2.6 "overlap independent jobs": a small thread pool keeps
    // 3 fits in flight (enough to back-fill, not enough to fight for
    // executors). Each fit is deterministic and touches only its own
    // slot's slice, so results are bit-identical to the serial loop;
    // awaiting in slot order keeps the union's shape stable (the slot
    // column, not row order, is the semantic key). Measured (r14,
    // q_ivf_pq cold build): 201 driver-sequenced jobs dominated wall
    // 24.5 s vs 28.8 s TOTAL task time on 32 cores.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val slotFits = try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val fits = (0 until m).map { j => scala.concurrent.Future {
        val e = cells.select(col(idCol).as("__id"),
          transform(slice(col(vecCol), j * sub + 1, sub),
            x => x.cast("double")).as("__v"))
        kmeansFitL2(e, k, iters)
          .select(lit(j).as("slot"), (col("cid") - 1).as("code"),
            col("cvec"))
      }}
      fits.map(scala.concurrent.Await.result(_,
          scala.concurrent.duration.Duration.Inf))
        .reduce(_ unionByName _)
    } finally pool.shutdown()
    val codebook = slotFits
      .withColumn("c2", call_function("vec_dot", col("cvec"), col("cvec")))
    pystreamsspark.io.SnapshotTable.create(spark, s"$dir/pq_codebook",
      codebook, numFiles = 1)
    // encode every stored vector — the shared encode pipeline
    val codes = encodeCodes(cells, idCol, vecCol, codebook, m, sub)
    pystreamsspark.io.SnapshotTable.createClustered(spark, s"$dir/pq_codes",
      codes.repartitionByRange(4, col("cell"))
        .sortWithinPartitions(col("cell")),
      clusterCols = Seq("cell"))
  }

  /** Encode an (`idCol`, `vecCol`, cell) frame against a PQ codebook:
    * per (row, slot) argmin over the slot's codes (map-side min-struct
    * collapse), then the m codes fold back into one positional array.
    * Shared by [[pqBuild]] (initial corpus) and [[pqAppend]] (fresh
    * batches). */
  private def encodeCodes(rows: DataFrame, idCol: String, vecCol: String,
                          codebook: DataFrame, m: Int,
                          sub: Int): DataFrame = {
    val subvecs = array((0 until m).map(j =>
      transform(slice(col(vecCol), j * sub + 1, sub),
        x => x.cast("double"))): _*)
    rows
      .select(col(idCol), col("cell"), posexplode(subvecs))
      .join(broadcast(codebook.withColumnRenamed("slot", "pos")), Seq("pos"))
      .select(col(idCol), col("cell"), col("pos"), struct(
        (col("c2") - lit(2.0) * call_function("vec_dot", col("col"),
          col("cvec"))).as("d"), col("code")).as("sc"))
      .groupBy(col(idCol), col("cell"), col("pos"))
      .agg(min(col("sc")).as("sc"))
      .groupBy(col(idCol), col("cell"))
      .agg(transform(sort_array(collect_list(struct(col("pos"),
        col("sc.code").as("code")))), x => x.getField("code")).as("codes"))
  }

  /** Incrementally ENCODE a fresh vector batch against the STORED
    * codebooks and append to the codes table — the PQ freshness twin of
    * [[ivfAppend]]: run both and [[ivfPqQuery]] serves the new vectors
    * with no codebook refit (codebook DRIFT is the caller's refit
    * policy — monitor assignment distance and [[pqBuild]] anew when
    * stale, the standard PQ maintenance contract; same rebase-safe
    * append, so concurrent refreshes land). */
  def pqAppend(spark: org.apache.spark.sql.SparkSession, dir: String,
               newVecs: DataFrame, idCol: String, vecCol: String,
               batchFiles: Int = 2): Int = {
    pystreamsspark.functions.VectorExpressions.register(spark)
    val cb = pystreamsspark.io.SnapshotTable.read(spark, s"$dir/pq_codebook")
    val m = cb.agg(max(col("slot"))).head().getInt(0) + 1
    val sub = cb.select(size(col("cvec")).as("d")).head().getInt(0)
    val centroids =
      pystreamsspark.io.SnapshotTable.read(spark, s"$dir/centroids")
    val assigned = ivfAssign(newVecs, idCol, vecCol, centroids)
    val codes = encodeCodes(assigned, idCol, vecCol, cb, m, sub)
    pystreamsspark.io.SnapshotTable.append(spark, s"$dir/pq_codes",
      codes.repartitionByRange(batchFiles, col("cell"))
        .sortWithinPartitions(col("cell")),
      numFiles = 0) // preserve the cell clustering
  }

  /** Top-k search against a PQ-compressed IVF index ([[ivfBuild]] +
    * [[pqBuild]]): coarse-route probes to `nprobe` cells, ADC-score the
    * cells' CODES (per-probe lookup tables over the codebook — the
    * candidate scan never touches a raw vector), short-list the top
    * `k·refine` per probe, and EXACTLY re-rank only the short-list
    * against the raw vectors — so the final answer is exact over the
    * short-list (what keeps the key oracle-checkable). ADC estimates
    * cosine as Σ_slot (probe_slot · code-centroid) over |probe| ·
    * sqrt(Σ_slot |code-centroid|²) — both sums are per-candidate
    * zip_with/aggregate HOFs over the m-length code array against the
    * probe's LUT, no explode of the candidate set. At 100 TB the
    * candidate I/O is the CODES table (≫ smaller; Stress-measured) and
    * raw-vector I/O is the short-list's covering files only. */
  def ivfPqQuery(spark: org.apache.spark.sql.SparkSession, dir: String,
                 idCol: String, vecCol: String, probes: DataFrame,
                 k: Int, nprobe: Int, refine: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    pystreamsspark.functions.VectorExpressions.register(spark)
    val (routed, cellIds) = routeCells(spark, dir, probes, nprobe)
    val cb = pystreamsspark.io.SnapshotTable.read(spark, s"$dir/pq_codebook")
    val m = cb.agg(max(col("slot"))).head().getInt(0) + 1
    val dimOverM = cb.select(size(col("cvec")).as("d")).head().getInt(0)
    // per-probe LUTs: luts[slot][code] = probe_slot · cvec, lutn[slot]
    // [code] = |cvec|² — built once per probe over the (m × 2^nbits)-row
    // codebook, carried as nested arrays for the zip_with scoring
    val luts = probes.crossJoin(broadcast(cb))
      .select(col("pid"), col("probe"), col("slot"), col("code"),
        call_function("vec_dot",
          transform(slice(col("probe"), col("slot") * dimOverM + 1,
            lit(dimOverM)), x => x.cast("double")),
          col("cvec")).as("d"),
        col("c2"))
      .groupBy(col("pid"), col("probe"), col("slot"))
      .agg(
        transform(sort_array(collect_list(struct(col("code"), col("d")))),
          x => x.getField("d")).as("ld"),
        transform(sort_array(collect_list(struct(col("code"), col("c2")))),
          x => x.getField("c2")).as("ln"))
      .groupBy(col("pid"), col("probe"))
      .agg(
        transform(sort_array(collect_list(struct(col("slot"), col("ld")))),
          x => x.getField("ld")).as("luts"),
        transform(sort_array(collect_list(struct(col("slot"), col("ln")))),
          x => x.getField("ln")).as("lutn"))
      .withColumn("pnorm", sqrt(call_function("vec_dot",
        transform(col("probe"), x => x.cast("double")),
        transform(col("probe"), x => x.cast("double")))))
      .select(col("pid"), col("luts"), col("lutn"), col("pnorm"))
    // ADC over the probed cells' CODES — no raw vectors in this scan
    val codeRows = pystreamsspark.io.SnapshotTable.readWhereIn(
      spark, s"$dir/pq_codes", "cell", cellIds)
    def lutSum(codesC: Column, lutC: Column): Column =
      aggregate(zip_with(codesC, lutC,
        (c, l) => element_at(l, c.cast("int") + 1)),
        lit(0.0), (acc, x) => acc + x)
    val shortlist = codeRows.join(routed, Seq("cell"))
      .join(broadcast(luts), Seq("pid"))
      .select(col("pid"), col(idCol),
        (lutSum(col("codes"), col("luts")) /
          (col("pnorm") * sqrt(lutSum(col("codes"), col("lutn")))))
          .as("adc"))
      .groupBy(col("pid"))
      .agg(pystreamsspark.operators.TopKAgg.topK(k * refine)(
        col("adc"), col(idCol)).as("top"))
      .select(col("pid"), explode(col("top")).as("t"))
      .select(col("pid"), col("t._2").as(idCol))
    // EXACT re-rank of the short-list only
    val members = pystreamsspark.io.SnapshotTable.readWhereIn(
      spark, s"$dir/cells", "cell", cellIds)
      .select(col(idCol), col(vecCol))
    shortlist.join(members, Seq(idCol))
      .join(probes, Seq("pid"))
      .select(col("pid"), col(idCol),
        cosineNative(col(vecCol), col("probe")).as("cosine"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("pid"))
        .orderBy(col("cosine").desc, col(idCol).asc)))
      .filter(col("rn") <= k)
      .select(col("pid"), col("rn"), col(idCol), col("cosine"))
  }

  /** SEMANTIC deduplication, SemDeDup-style (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", 2023 — public method): embedding-space near-dups
    * that share no tokens (paraphrases, translations-of-boilerplate)
    * are invisible to MinHash; here k-means CELLS are the blocking
    * stage — the published insight that semantic duplicates co-locate
    * under a coarse quantizer, so candidate pairs are within-cell only
    * (never all-pairs; the same cell-blocking the IVF index uses) —
    * then exact cosine ≥ `threshold` edges connect duplicates,
    * connected components label clusters, and each cluster keeps its
    * MIN-ID representative (unclustered rows survive trivially).
    * Deterministic end-to-end (the Det-exact Lloyd fit + the fixed IEEE
    * cosine sequence), so an oracle replays every stage. Scale shape:
    * one broadcast-centroid assignment scan + a cell-keyed self-join +
    * the Pregel CC loop — each audited pieces of this engine. Returns
    * the surviving rows of `emb`. */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int, iters: Int, threshold: Double): DataFrame = {
    // truncate the NARROW (id, cell) assignment once so the fit-priced
    // assignMin subtree runs exactly once — every later reference
    // re-joins it to `emb` instead of re-running the assignment.
    // NOTE (r14 measured): persisting the WIDE (emb ⋈ assign) frame here
    // LOSES — the interleaved A/B showed 2.1× slower with a 100 s worst
    // case (storage pressure: a corpus-wide vector frame cached under
    // the CC rounds' own persist chain thrashes the memory store). At
    // 100 TB the same logic holds: MEMORY_AND_DISK of the full corpus
    // join is a write+read of every byte vs a cheap columnar re-scan;
    // the 2-column assignment is the right thing to pin.
    val assign = pystreamsspark.operators.Lineage.truncate(
        kmeansAssign(emb, idCol, vecCol, k, iters))
      .withColumnRenamed("id", idCol)
      .withColumnRenamed("cell", "__cell")
    val withCell = emb.join(assign, idCol)
    val pairs = blockedPairs(withCell, idCol, vecCol, "__cell", threshold)
    val labels = pystreamsspark.llm.Dedup.connectedComponents(pairs)
      .withColumnRenamed("id", idCol)
      .withColumnRenamed("label", "__cc")
    emb.join(labels, Seq(idCol), "left")
      .filter(col("__cc").isNull || col("__cc") === col(idCol))
      .drop("__cc")
  }

  /** Exact near-duplicate pairs within a blocking column (e.g. a label or
    * coarse-quantizer cell — the IVF pattern): all same-block pairs with
    * cosine >= threshold. Oracle-checkable. */
  def blockedPairs(emb: DataFrame, idCol: String, vecCol: String,
                   blockCol: String, threshold: Double): DataFrame = {
    // norm computed once per vector, not once per pair
    val base = native(emb).select(col(blockCol).as("block"), col(idCol).as("id"),
      col(vecCol).as("v"), sqrt(call_function("vec_dot", col(vecCol), col(vecCol))).as("nrm"))
    val a = base.select(col("block"), col("id").as("id_a"),
      col("v").as("v_a"), col("nrm").as("nrm_a"))
    val b = base.select(col("block"), col("id").as("id_b"),
      col("v").as("v_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .select(col("block"), col("id_a"), col("id_b"),
        (call_function("vec_dot", col("v_a"), col("v_b")) /
          (col("nrm_a") * col("nrm_b"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Sparse TF-weighted cosine top-k over a tokenized text column —
    * COST-BASED dispatch between two result-identical exact plans
    * (parity-tested), the same CBO move as [[Dedup.jaccardPairs]]:
    *
    *  - "index": candidate pairs from a TOKEN-keyed self-join of the
    *    (doc, token, tf) table — the inverted index. Join fan-out is
    *    Σ_t df_t², sub-quadratic on any Zipfian open vocabulary; the
    *    only plan that survives 100 TB corpora (df-cap the stopword
    *    tail exactly as contamination does).
    *  - "dense": vocabulary-indexed dense tf vectors + codegen'd
    *    vec_dot over all id-ordered pairs — ZERO shuffle after the tf
    *    aggregation. Wins when the vocabulary is so small/uniform that
    *    the index join's shuffled row count Σ df² exceeds the all-pairs
    *    count n² (this corpus: 31-token vocabulary, every token in
    *    ~90% of docs → the index join shuffles ~25× more rows than
    *    brute force; measured 10 s → sub-second at sf0.1).
    *
    * Both plans score ONLY pairs sharing ≥1 token (dense filters
    * dot > 0 — co-token ⇔ positive integer dot for tf vectors), with
    * the identical cross-engine-exact arithmetic: integer dot/norms
    * (< 2^53, order-independent in double), correctly-rounded sqrt and
    * division. `auto` probes a bounded ≤1024-doc sample (plan-time
    * stats a la CBO, not a data-path collect). */
  def sparseCosineTopK(docs: DataFrame, idCol: String, textCol: String,
                       k: Int, strategy: String = "auto"): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dense = strategy match {
      case "dense" => true
      case "index" => false
      case "auto"  => indexJoinExplodes(docs, textCol)
      case other   => throw new IllegalArgumentException(
        s"strategy must be auto|index|dense, got $other")
    }
    val dots =
      if (dense) {
        import org.apache.spark.sql.expressions.Window
        val vocab = tf.select(col("token")).distinct()
          .withColumn("vid", row_number().over(Window.orderBy(col("token"))) - 1)
        val v = vocab.count().toInt // plan-time scalar: |vocab| (small by dispatch)
        val vecs = tf.join(broadcast(vocab), Seq("token"))
          .groupBy(col("doc_id"))
          .agg(map_from_entries(collect_list(struct(col("vid"), col("tf")))).as("m"))
          .select(col("doc_id"), transform(sequence(lit(0), lit(v - 1)),
            i => coalesce(element_at(col("m"), i), lit(0L)).cast("double")).as("vec"))
        native(vecs).alias("a")
          .join(vecs.alias("b"), col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
            call_function("vec_dot", col("a.vec"), col("b.vec")).as("dot"))
          .filter(col("dot") > 0)
      } else {
        tf.alias("a")
          .join(tf.alias("b"),
            col("a.token") === col("b.token") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .agg(sum(col("a.tf") * col("b.tf")).cast("double").as("dot"))
      }
    val norms = tf.groupBy(col("doc_id")).agg(sum(col("tf") * col("tf")).as("n2"))
    dots
      .join(norms.select(col("doc_id").as("id_a"), col("n2").as("na")), Seq("id_a"))
      .join(norms.select(col("doc_id").as("id_b"), col("n2").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("dot") / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
          .as("cosine"))
      .orderBy(col("cosine").desc, col("id_a").asc, col("id_b").asc)
      .limit(k)
  }

  /** Plan-time probe (bounded ≤1024-doc sample): true when the inverted
    * index's shuffled row count Σ_t df_t² exceeds the all-pairs count
    * m² — the regime where brute-force dense pairs beat the index —
    * and the sampled vocabulary is small enough to dense-ize. */
  private def indexJoinExplodes(docs: DataFrame, textCol: String): Boolean = {
    val sample = docs
      .select(array_distinct(split(col(textCol), " ")).as("toks"))
      .limit(1024).collect()
      .map(_.getSeq[String](0).filter(_.nonEmpty)).filter(_.nonEmpty)
    if (sample.length < 64) return false // tiny input: index join is free
    val df = scala.collection.mutable.HashMap.empty[String, Long]
    for (ts <- sample; t <- ts) df(t) = df.getOrElse(t, 0L) + 1L
    val sumDf2 = df.valuesIterator.map(d => d * d).sum
    val m = sample.length.toLong
    df.size <= 4096 && sumDf2 > m * m
  }
}
