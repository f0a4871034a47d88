package pystreamsspark.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import pystreamsspark.io.Tables
import pystreamsspark.operators.{Compaction, Salted}

/** Data-LAYOUT operators as driver-checked keys (SURVEY.md §2.2/§6):
  * partition-pruned reads, bucketed co-located joins, and salted skew
  * joins. Each query builds the layout it claims to exploit (writes a
  * partitioned/bucketed copy to scratch), then answers through it, while
  * the oracle reads the ORIGINAL parquet — a green row proves the layout
  * round-trip preserved the data AND the layout-aware plan computes the
  * same answer as the naive one.
  *
  * These are the three levers the builder prompt calls out for 100 TB:
  *  - partition pruning turns a full-corpus scan into a per-partition
  *    directory listing (here: one lang out of five → ~1/5 of the bytes;
  *    at 100 TB with date partitions, ~1/1000);
  *  - bucketing pre-shuffles BOTH join sides once at write time so every
  *    subsequent join on the bucket key is exchange-free (the write is
  *    amortized over every downstream consumer);
  *  - salting spreads one pathologically hot join key over `buckets`
  *    sub-keys, bounding the largest shuffle partition when neither AQE
  *    skew-split (which needs sort-merge) nor broadcast applies.
  */
object LayoutQueries {

  // per-process unique scratch component — same rationale as
  // StorageQueries.runTag: concurrent Bench + test runs must not clobber
  // each other's layout copies mid-read.
  private val runTag: String = java.util.UUID.randomUUID().toString.take(8)

  private def scratch(sfDir: String, what: String): String = {
    val tag = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    s"${System.getProperty("java.io.tmpdir")}/graft_layout/${runTag}/${tag}_$what"
  }

  /** Per-source document stats for one language, answered through a
    * lang-partitioned parquet copy: the write lays one directory per
    * lang, and the `lang = 'en'` filter becomes a PartitionFilter — the
    * scan never opens the other four langs' files. The oracle reads the
    * original flat parquet; equality proves the partitioned layout holds
    * exactly the original rows. `n_chars` sums are BIGINT — exact. */
  def qPartitionPrune(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = scratch(sfDir, "doc_by_lang")
    Tables.documents(spark, sfDir)
      .write.mode("overwrite").partitionBy("lang").parquet(dir)
    spark.read.parquet(dir)
      .filter($"lang" === "en")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
      .orderBy($"source")
  }

  val qPartitionPruneSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |WHERE lang = 'en'
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** Revenue by market segment through BUCKETED copies of orders and
    * customer (8 buckets on the customer key, sorted within buckets):
    * both sides land pre-shuffled on disk, so the join needs no
    * exchange — at 100 TB this is the difference between re-shuffling
    * the fact table on every query and shuffling it once at ingest.
    * Exchange-free-ness is asserted in LayoutSpec (broadcast disabled);
    * here smallness makes Catalyst broadcast instead, which is ALSO
    * correct — bucketing never changes answers, only plans. */
  def qBucketJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tag = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val tOrders = s"graft_bkt_orders_${runTag}_$tag"
    val tCust = s"graft_bkt_customer_${runTag}_$tag"
    Tables.orders(spark, sfDir)
      .write.mode("overwrite").option("path", scratch(sfDir, "bkt_orders"))
      .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(tOrders)
    Tables.customer(spark, sfDir)
      .write.mode("overwrite").option("path", scratch(sfDir, "bkt_customer"))
      .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable(tCust)
    spark.table(tOrders)
      .join(spark.table(tCust), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), Det.dsum($"o_totalprice").as("revenue"))
      .orderBy($"c_mktsegment")
  }

  val qBucketJoinSql: String =
    s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
       |  ${Det.sqlSum("o_totalprice")} AS revenue
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_mktsegment
       |ORDER BY c_mktsegment""".stripMargin

  /** Skew-salted big-big join: ~90% of lineitem rows collapse onto one
    * synthetic hot key (partkey bucket 0), the classic single-hot-key
    * profile that serializes one reducer in a plain shuffle join. The
    * join runs through [[Salted.joinSkewed]] — the hot key's rows spread
    * over 16 salt sub-keys, the (small-but-not-tiny) dimension side is
    * replicated 16×. The salt cancels out of the RESULT (replication ×
    * deterministic-salt equi-join ≡ plain join), so the oracle is the
    * plain join — and the key stays green under any salting. */
  def qSaltedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hot = when($"l_partkey" % 10 =!= 0, lit(0L)).otherwise($"l_partkey")
    val l = Tables.lineitem(spark, sfDir)
      .select(hot.as("k"), $"l_extendedprice")
    val r = Tables.part(spark, sfDir)
      .select(when($"p_partkey" % 10 =!= 0, lit(0L)).otherwise($"p_partkey").as("k"),
        $"p_retailprice")
      .groupBy($"k").agg(count(lit(1)).as("n_parts"))
    Salted.joinSkewed(l, r, "k", buckets = 16)
      .groupBy(($"k" % 7).as("k_mod"))
      .agg(count(lit(1)).as("n_rows"), Det.dsum($"l_extendedprice").as("sum_price"),
        sum($"n_parts").as("sum_parts"))
      .orderBy($"k_mod")
  }

  val qSaltedJoinSql: String =
    s"""WITH l AS (
       |  SELECT CASE WHEN l_partkey % 10 <> 0 THEN 0 ELSE l_partkey END AS k,
       |         l_extendedprice
       |  FROM lineitem
       |), r AS (
       |  SELECT CASE WHEN p_partkey % 10 <> 0 THEN 0 ELSE p_partkey END AS k,
       |         COUNT(*) AS n_parts
       |  FROM part GROUP BY 1
       |)
       |SELECT l.k % 7 AS k_mod, COUNT(*) AS n_rows,
       |  ${Det.sqlSum("l_extendedprice")} AS sum_price,
       |  CAST(SUM(n_parts) AS BIGINT) AS sum_parts
       |FROM l JOIN r ON l.k = r.k
       |GROUP BY 1
       |ORDER BY k_mod""".stripMargin

  /** Small-file compaction round-trip: documents deliberately shattered
    * into 64 tiny files, compacted back to ~target-size files via
    * [[Compaction.compactParquet]], then answered THROUGH the compacted
    * copy with a per-lang md5-fingerprint aggregate. The oracle computes
    * the same fingerprint over the ORIGINAL flat parquet — a green row
    * proves the shatter→compact cycle preserved every row exactly (the
    * bit_xor fingerprint is order-insensitive, so layout can change
    * freely; any lost/duplicated/corrupted row flips it). */
  def qCompaction(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val fragDir = scratch(sfDir, "frag_docs")
    Tables.documents(spark, sfDir)
      .repartition(64).write.mode("overwrite").parquet(fragDir)
    val compDir = scratch(sfDir, "compact_docs")
    Compaction.compactParquet(spark, fragDir, compDir, targetBytes = 8L << 20)
    Tables.parquet(spark, compDir)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("sum_chars"),
        bit_xor(conv(substring(md5(concat($"doc_id".cast("string"), lit("|"),
          $"source", lit("|"), $"text").cast("binary")), 1, 10), 16, 10)
          .cast("long")).as("fingerprint"))
      .orderBy($"lang")
  }

  val qCompactionSql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  BIT_XOR(CAST(concat('0x', substring(md5(
      |    concat(CAST(doc_id AS VARCHAR), '|', source, '|', text)), 1, 10))
      |    AS BIGINT)) AS fingerprint
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** Sorted-write data skipping: orders range-partitioned AND sorted on
    * o_totalprice, written with deliberately small (512 KiB) parquet row
    * groups — so the 100k–110k price filter prunes at TWO layout levels
    * the flat copy can't offer: whole files (range partitioning makes
    * each file a disjoint price slice) and row groups within the one
    * overlapping file (min/max stats vs the pushed predicate). The scan
    * reads a small multiple of the matching rows instead of the table —
    * asserted via scan metrics in LayoutQueriesSpec. Oracle = same
    * filter+agg on the original flat parquet. */
  def qSortedSkip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = scratch(sfDir, "orders_sorted")
    Tables.orders(spark, sfDir)
      .repartitionByRange(8, $"o_totalprice")
      .sortWithinPartitions($"o_totalprice")
      .write.mode("overwrite")
      .option("parquet.block.size", 512 * 1024)
      .parquet(dir)
    Tables.parquet(spark, dir)
      .filter($"o_totalprice" >= 100000.0 && $"o_totalprice" < 110000.0)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), Det.dsum($"o_totalprice").as("revenue"))
      .orderBy($"o_orderstatus")
  }

  val qSortedSkipSql: String =
    s"""SELECT o_orderstatus, COUNT(*) AS n_orders,
       |  ${Det.sqlSum("o_totalprice")} AS revenue
       |FROM orders
       |WHERE o_totalprice >= 100000.0 AND o_totalprice < 110000.0
       |GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin

  /** DYNAMIC partition pruning (runtime sibling of [[qPartitionPrune]]):
    * the fact side is the lang-partitioned copy, but the langs to keep
    * are only known at RUNTIME — they come from a filtered aggregate
    * (langs holding ≥20% corpus share; 'en' at every SF), not a literal
    * predicate, so static pruning can't fire. Spark's
    * DynamicPartitionPruning rule turns the broadcast dim side into a
    * `dynamicpruning#` subquery inside the fact scan's PartitionFilters:
    * the non-qualifying langs' directories are never opened even though
    * no literal filter names them. At 100 TB with date/tenant partition
    * keys this is THE mechanism that keeps dim-driven fact scans from
    * reading the whole table ("prune at runtime what you can't prune at
    * plan time"). Plan shape (dynamicpruning in PartitionFilters +
    * broadcast reuse) is asserted in PlanSpec; the oracle replays the
    * same join over the flat parquet. */
  def qDppJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = scratch(sfDir, "doc_by_lang_dpp")
    if (!new java.io.File(dir).exists())
      Tables.documents(spark, sfDir)
        .write.mode("overwrite").partitionBy("lang").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("doc_part")
    Tables.documents(spark, sfDir).createOrReplaceTempView("documents")
    spark.sql(
      """SELECT d.lang, d.source, COUNT(*) AS n_docs,
        |  CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars
        |FROM doc_part d
        |JOIN (SELECT lang FROM documents GROUP BY lang
        |      HAVING COUNT(*) * 5 >= (SELECT COUNT(*) FROM documents)) dim
        |  ON d.lang = dim.lang
        |GROUP BY d.lang, d.source
        |ORDER BY d.lang, d.source""".stripMargin)
  }

  val qDppJoinSql: String =
    """SELECT d.lang, d.source, COUNT(*) AS n_docs,
      |  CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars
      |FROM documents d
      |JOIN (SELECT lang FROM documents GROUP BY lang
      |      HAVING COUNT(*) * 5 >= (SELECT COUNT(*) FROM documents)) dim
      |  ON d.lang = dim.lang
      |GROUP BY d.lang, d.source
      |ORDER BY d.lang, d.source""".stripMargin

  /** MERGE through the snapshot-manifest table layer
    * ([[pystreamsspark.io.SnapshotTable]]): base = orders with
    * o_orderkey % 4 <> 3, updates = every % 10 == 0 order re-priced ×2
    * (exact double op) with status 'U' — so updates both REPLACE
    * matched keys and INSERT the % 4 == 3 ones absent from the base.
    * The merge is file-granular copy-on-write (one semi-join finds the
    * touched files; untouched files carried by reference — scale story
    * in the SnapshotTable scaladoc). The oracle reconstructs the merged
    * state relationally from the original parquet, so a green row
    * proves create → manifest commit → CoW merge → snapshot read
    * deliver exactly MERGE semantics. Fresh table dir per invocation
    * (snapshots are immutable; re-running must not collide). */
  def qAcidMerge(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = scratch(sfDir,
      s"acid_merge_${java.util.UUID.randomUUID().toString.take(8)}")
    val orders = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    pystreamsspark.io.SnapshotTable.create(spark, dir,
      orders.filter($"o_orderkey" % 4 =!= 3), numFiles = 4)
    val updates = orders.filter($"o_orderkey" % 10 === 0)
      .select($"o_orderkey", lit("U").as("o_orderstatus"),
        ($"o_totalprice" * 2).as("o_totalprice"))
    pystreamsspark.io.SnapshotTable.merge(spark, dir, updates,
      Seq("o_orderkey"))
    pystreamsspark.io.SnapshotTable.read(spark, dir)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"), Det.dsum($"o_totalprice").as("sum_price"))
      .orderBy($"o_orderstatus")
  }

  val qAcidMergeSql: String =
    s"""WITH base AS (
       |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       |  WHERE o_orderkey % 4 <> 3
       |), upd AS (
       |  SELECT o_orderkey, 'U' AS o_orderstatus,
       |    o_totalprice * 2 AS o_totalprice
       |  FROM orders WHERE o_orderkey % 10 = 0
       |), merged AS (
       |  SELECT * FROM base
       |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
       |  UNION ALL SELECT * FROM upd
       |)
       |SELECT o_orderstatus, COUNT(*) AS n,
       |  ${Det.sqlSum("o_totalprice")} AS sum_price
       |FROM merged
       |GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin

  /** TIME TRAVEL through the snapshot layer: v1 = the base orders
    * subset, v2 = DELETE o_orderkey % 7 = 0 (copy-on-write — only the
    * files containing matches are rewritten). The query reads BOTH
    * versions of the SAME table directory and aggregates them side by
    * side: data files are immutable, so the delete cannot disturb v1.
    * The oracle recomputes each version's state relationally. */
  def qTimeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = scratch(sfDir,
      s"acid_tt_${java.util.UUID.randomUUID().toString.take(8)}")
    val orders = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_totalprice")
    pystreamsspark.io.SnapshotTable.create(spark, dir,
      orders.filter($"o_orderkey" % 4 =!= 3), numFiles = 4)
    pystreamsspark.io.SnapshotTable.delete(spark, dir, "o_orderkey % 7 = 0")
    val v1 = pystreamsspark.io.SnapshotTable.read(spark, dir, Some(1))
      .select(lit(1).as("version"), $"o_orderkey", $"o_totalprice")
    val v2 = pystreamsspark.io.SnapshotTable.read(spark, dir, Some(2))
      .select(lit(2).as("version"), $"o_orderkey", $"o_totalprice")
    v1.unionByName(v2)
      .groupBy($"version")
      .agg(count(lit(1)).as("n"),
        sum($"o_orderkey").as("key_sum"),
        Det.dsum($"o_totalprice").as("sum_price"))
      .orderBy($"version")
  }

  val qTimeTravelSql: String =
    s"""WITH base AS (
       |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 4 <> 3
       |), v AS (
       |  SELECT 1 AS version, * FROM base
       |  UNION ALL
       |  SELECT 2 AS version, * FROM base WHERE o_orderkey % 7 <> 0
       |)
       |SELECT version, COUNT(*) AS n,
       |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       |  ${Det.sqlSum("o_totalprice")} AS sum_price
       |FROM v
       |GROUP BY version
       |ORDER BY version""".stripMargin

  /** SCHEMA EVOLUTION through the snapshot layer: v1 = 2-column orders
    * subset, v2 = append of the complementary keys carrying a NEW
    * `o_band` column. Evolution is pure metadata — v1's files are
    * never rewritten; the manifest-recorded schema null-fills `o_band`
    * for them at read time (and keeps the snapshot read O(1) metadata,
    * no per-file footer merge). The aggregate groups on the evolved
    * column with pre-evolution rows surfacing as 'none'; the oracle
    * reconstructs the evolved union relationally. */
  def qAcidEvolve(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = scratch(sfDir,
      s"acid_evolve_${java.util.UUID.randomUUID().toString.take(8)}")
    val orders = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_totalprice")
    pystreamsspark.io.SnapshotTable.create(spark, dir,
      orders.filter($"o_orderkey" % 4 =!= 3), numFiles = 4)
    val batch2 = Tables.orders(spark, sfDir)
      .filter($"o_orderkey" % 4 === 3)
      .select($"o_orderkey", $"o_totalprice",
        concat(lit("B"), ($"o_orderkey" % 3).cast("string")).as("o_band"))
    pystreamsspark.io.SnapshotTable.append(spark, dir, batch2, numFiles = 2)
    pystreamsspark.io.SnapshotTable.read(spark, dir)
      .groupBy(coalesce($"o_band", lit("none")).as("band"))
      .agg(count(lit(1)).as("n"),
        sum($"o_orderkey").as("key_sum"),
        Det.dsum($"o_totalprice").as("sum_price"))
      .orderBy($"band")
  }

  val qAcidEvolveSql: String =
    s"""WITH evolved AS (
       |  SELECT o_orderkey, o_totalprice, NULL AS o_band
       |  FROM orders WHERE o_orderkey % 4 <> 3
       |  UNION ALL
       |  SELECT o_orderkey, o_totalprice,
       |    concat('B', CAST(o_orderkey % 3 AS VARCHAR)) AS o_band
       |  FROM orders WHERE o_orderkey % 4 = 3
       |)
       |SELECT COALESCE(o_band, 'none') AS band, COUNT(*) AS n,
       |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       |  ${Det.sqlSum("o_totalprice")} AS sum_price
       |FROM evolved
       |GROUP BY 1
       |ORDER BY band""".stripMargin

  /** MERGE-ON-READ delete (deletion vectors): the q_time_travel fixture
    * driven through [[pystreamsspark.io.SnapshotTable.deleteVectors]] —
    * the %7==0 rows are marked deleted in a small (file, pos) sidecar
    * and NOT ONE data file is rewritten (asserted in SnapshotDvSpec; at
    * 100 TB this is the difference between bytes of intent and
    * gigabytes of write amplification for a point delete). The read
    * applies the DV as a broadcast anti-join on row position, so both
    * versions aggregate exactly as the copy-on-write q_time_travel
    * states do — the oracle is REUSED verbatim, green proving
    * DV-read ≡ CoW-read end to end. */
  def qDvDelete(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = scratch(sfDir,
      s"dv_del_${java.util.UUID.randomUUID().toString.take(8)}")
    val orders = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_totalprice")
    pystreamsspark.io.SnapshotTable.create(spark, dir,
      orders.filter($"o_orderkey" % 4 =!= 3), numFiles = 4)
    pystreamsspark.io.SnapshotTable.deleteVectors(spark, dir,
      "o_orderkey % 7 = 0")
    val v1 = pystreamsspark.io.SnapshotTable.read(spark, dir, Some(1))
      .select(lit(1).as("version"), $"o_orderkey", $"o_totalprice")
    val v2 = pystreamsspark.io.SnapshotTable.read(spark, dir, Some(2))
      .select(lit(2).as("version"), $"o_orderkey", $"o_totalprice")
    v1.unionByName(v2)
      .groupBy($"version")
      .agg(count(lit(1)).as("n"),
        sum($"o_orderkey").as("key_sum"),
        Det.dsum($"o_totalprice").as("sum_price"))
      .orderBy($"version")
  }

  val qDvDeleteSql: String = qTimeTravelSql

  /** CDC over the snapshot layer ([[pystreamsspark.io.SnapshotTable.changesBetween]]):
    * the NET row changes between the pre-merge and post-merge versions
    * of the q_acid_merge fixture, computed from the manifest FILE diff —
    * only the files the merge actually touched are read (at 100 TB a
    * narrow merge's CDC reads the covering files, never the table), and
    * rewritten-but-identical rows cancel via the bounded exceptAll, so
    * the result equals the full-table `v2 EXCEPT ALL v1 / v1 EXCEPT ALL
    * v2` the oracle reconstructs relationally. Green proves the
    * file-diff CDC is exactly the logical row diff. */
  def qSnapshotCdc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = scratch(sfDir,
      s"cdc_${java.util.UUID.randomUUID().toString.take(8)}")
    val orders = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    pystreamsspark.io.SnapshotTable.createClustered(spark, dir,
      orders.filter($"o_orderkey" % 4 =!= 3)
        .repartitionByRange(8, $"o_orderkey"),
      clusterCols = Seq("o_orderkey"))
    val updates = orders.filter($"o_orderkey" % 10 === 0)
      .select($"o_orderkey", lit("U").as("o_orderstatus"),
        ($"o_totalprice" * 2).as("o_totalprice"))
    pystreamsspark.io.SnapshotTable.merge(spark, dir, updates,
      Seq("o_orderkey"))
    pystreamsspark.io.SnapshotTable.changesBetween(spark, dir, 1, 2)
      .groupBy($"_change_type")
      .agg(count(lit(1)).as("n"),
        sum($"o_orderkey").as("key_sum"),
        Det.dsum($"o_totalprice").as("sum_price"))
      .orderBy($"_change_type")
  }

  /** The CHANGE-DATA-FEED SOURCE end-to-end, oracle-checked (round-11):
    * the same merge fixture plus a deletion-vector DELETE, read back
    * through `spark.read.format(GraftCdcSource)` over the (from, to]
    * version range — exercising the per-version `_cdc/` batch
    * materialization (atomic-rename cache), the `_commit_version`
    * stamping, and the DV-diff netting in one driver-checked key. The
    * oracle reconstructs BOTH commits' net changes relationally:
    * v2 = the merge's insert/delete pairs, v3 = the DV-deleted live
    * rows. The streaming twin is spec-verified (SnapshotCdcStreamSpec
    * proves stream ≡ this same per-version batch). */
  def qCdcFeed(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = scratch(sfDir,
      s"cdcfeed_${java.util.UUID.randomUUID().toString.take(8)}")
    val orders = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    pystreamsspark.io.SnapshotTable.createClustered(spark, dir,
      orders.filter($"o_orderkey" % 4 =!= 3)
        .repartitionByRange(8, $"o_orderkey"),
      clusterCols = Seq("o_orderkey"))
    val updates = orders.filter($"o_orderkey" % 10 === 0)
      .select($"o_orderkey", lit("U").as("o_orderstatus"),
        ($"o_totalprice" * 2).as("o_totalprice"))
    pystreamsspark.io.SnapshotTable.merge(spark, dir, updates,
      Seq("o_orderkey")) // v2
    pystreamsspark.io.SnapshotTable.deleteVectors(spark, dir,
      "o_orderkey % 7 = 0") // v3
    spark.read.format("pystreamsspark.io.GraftCdcSource")
      .option("path", dir).option("fromVersion", 1).option("toVersion", 3)
      .load()
      .groupBy($"_commit_version", $"_change_type")
      .agg(count(lit(1)).as("n"),
        sum($"o_orderkey").as("key_sum"),
        Det.dsum($"o_totalprice").as("sum_price"))
      .orderBy($"_commit_version", $"_change_type")
  }

  val qCdcFeedSql: String =
    s"""WITH base AS (
       |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       |  WHERE o_orderkey % 4 <> 3
       |), upd AS (
       |  SELECT o_orderkey, 'U' AS o_orderstatus,
       |    o_totalprice * 2 AS o_totalprice
       |  FROM orders WHERE o_orderkey % 10 = 0
       |), merged AS (
       |  SELECT * FROM base
       |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
       |  UNION ALL SELECT * FROM upd
       |), changes AS (
       |  SELECT CAST(2 AS BIGINT) AS _commit_version,
       |    'insert' AS _change_type, *
       |  FROM (SELECT * FROM merged EXCEPT ALL SELECT * FROM base)
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), 'delete', *
       |  FROM (SELECT * FROM base EXCEPT ALL SELECT * FROM merged)
       |  UNION ALL
       |  SELECT CAST(3 AS BIGINT), 'delete', *
       |  FROM merged WHERE o_orderkey % 7 = 0
       |)
       |SELECT _commit_version, _change_type, COUNT(*) AS n,
       |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       |  ${Det.sqlSum("o_totalprice")} AS sum_price
       |FROM changes
       |GROUP BY _commit_version, _change_type
       |ORDER BY _commit_version, _change_type""".stripMargin

  val qSnapshotCdcSql: String =
    s"""WITH base AS (
       |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       |  WHERE o_orderkey % 4 <> 3
       |), upd AS (
       |  SELECT o_orderkey, 'U' AS o_orderstatus,
       |    o_totalprice * 2 AS o_totalprice
       |  FROM orders WHERE o_orderkey % 10 = 0
       |), merged AS (
       |  SELECT * FROM base
       |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
       |  UNION ALL SELECT * FROM upd
       |), changes AS (
       |  SELECT 'insert' AS _change_type, *
       |  FROM (SELECT * FROM merged EXCEPT ALL SELECT * FROM base)
       |  UNION ALL
       |  SELECT 'delete' AS _change_type, *
       |  FROM (SELECT * FROM base EXCEPT ALL SELECT * FROM merged)
       |)
       |SELECT _change_type, COUNT(*) AS n,
       |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       |  ${Det.sqlSum("o_totalprice")} AS sum_price
       |FROM changes
       |GROUP BY _change_type
       |ORDER BY _change_type""".stripMargin

  /** STATS-PRUNED snapshot read (data skipping): orders written as a
    * key-clustered snapshot table (range-partitioned on o_orderkey, 16
    * files, per-file min/max recorded in the manifest), then a narrow
    * key-range read answers from ONLY the covering files —
    * [[pystreamsspark.io.SnapshotTable.readRange]] prunes on pure
    * driver metadata before any file opens (SnapshotTableSpec asserts
    * the candidate count; at 100 TB this is the difference between a
    * covering-file read and a full-table scan). The residual filter
    * keeps the result exact, so the oracle is a plain range filter
    * over the original parquet. */
  def qSnapshotSkip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = scratch(sfDir,
      s"snap_skip_${java.util.UUID.randomUUID().toString.take(8)}")
    val orders = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    val maxKey = orders.agg(max($"o_orderkey")).head.getLong(0)
    pystreamsspark.io.SnapshotTable.createClustered(spark, dir,
      orders.repartitionByRange(16, $"o_orderkey"),
      clusterCols = Seq("o_orderkey"))
    // a ~1/16th key window: overlaps 1-2 of the 16 range-clustered files
    val (lo, hi) = (maxKey / 4, maxKey / 4 + maxKey / 16)
    pystreamsspark.io.SnapshotTable.readRange(spark, dir,
        "o_orderkey", lo.toString, hi.toString)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"), sum($"o_orderkey").as("key_sum"),
        Det.dsum($"o_totalprice").as("sum_price"))
      .orderBy($"o_orderstatus")
  }

  val qSnapshotSkipSql: String =
    s"""WITH b AS (SELECT MAX(o_orderkey) AS mk FROM orders)
       |SELECT o_orderstatus, COUNT(*) AS n,
       |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       |  ${Det.sqlSum("o_totalprice")} AS sum_price
       |FROM orders, b
       |WHERE o_orderkey >= mk // 4 AND o_orderkey <= mk // 4 + mk // 16
       |GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin

  /** HIDDEN PARTITION TRANSFORM skipping (round-12, r11 verdict #2):
    * a month of events lands through `clustercols='days(ts)'` — the
    * write funnel groups the batch by calendar day, so the files align
    * to day boundaries WITHOUT the writer pre-deriving a date column —
    * and a one-day window read ([[pystreamsspark.io.SnapshotTable
    * .readWhere]] on the BASE ts column, epoch-micros bounds) prunes to
    * the covering files, asserted in-key (the q_bloom_skip pattern). At
    * 100 TB this is the time-partitioned-ingest staple: an append-only
    * event table whose daily query reads one day's files, not the
    * table. The residual filter keeps the result exact, so the oracle
    * is the plain timestamp-window aggregate. */
  def qPartTransform(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = scratch(sfDir,
      s"part_transform_${java.util.UUID.randomUUID().toString.take(8)}")
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"event_type", $"value")
    pystreamsspark.io.SnapshotTable.createEmpty(dir, ev.schema,
      clusterCols = Seq("days(ts)"))
    pystreamsspark.io.SnapshotTable.append(spark, dir, ev, numFiles = 4)
    // 2024-01-15 UTC — events span 2024-01-01..30 at every SF
    val lo = java.time.LocalDate.of(2024, 1, 15)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli * 1000L
    val hi = java.time.LocalDate.of(2024, 1, 16)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli *
      1000L - 1L
    val total = pystreamsspark.io.SnapshotTable.filePaths(dir).size
    val opened = pystreamsspark.io.SnapshotTable.readCandidates(
      dir, "ts", lo.toString, hi.toString, None)
    require(opened.size < total && opened.size <= 3,
      s"days(ts) transform must prune a one-day window to its covering " +
        s"files, opened ${opened.size} of $total")
    pystreamsspark.io.SnapshotTable.readWhere(spark, dir,
        Map("ts" -> (lo.toString, hi.toString)))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"event_id").as("id_sum"),
        Det.dsum($"value").as("sum_value"))
      .orderBy($"event_type")
  }

  val qPartTransformSql: String =
    s"""SELECT event_type, COUNT(*) AS n,
       |  CAST(SUM(event_id) AS BIGINT) AS id_sum,
       |  ${Det.sqlSum("value")} AS sum_value
       |FROM events
       |WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
       |  AND ts < TIMESTAMP '2024-01-16 00:00:00'
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  /** BLOOM-FILTER data skipping (round-11) — the point-lookup path for
    * a NON-cluster column where min/max stats are useless by
    * construction: orders land ROUND-ROBIN in 16 files (every file
    * spans the full o_orderkey range), `bloomcols='o_orderkey'` records
    * one blob per file at the write funnel, and a 7-key point probe
    * ([[pystreamsspark.io.SnapshotTable.readWhereIn]]) consults the
    * blobs before opening anything — asserted to open FEWER files than
    * the table holds (pure driver metadata; each probed key lives in
    * exactly one file, so ~7+fp of 16 open instead of all 16; at 100 TB
    * the same blobs are what turns an id lookup from a table scan into
    * a handful of file reads). The residual `isin` filter keeps the
    * result exact, so the oracle is the plain IN filter. */
  def qBloomSkip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = scratch(sfDir,
      s"bloom_skip_${java.util.UUID.randomUUID().toString.take(8)}")
    val orders = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    pystreamsspark.io.SnapshotTable.createEmpty(dir, orders.schema,
      bloomCols = Seq("o_orderkey"),
      bloomBits = 1 << 17)
    pystreamsspark.io.SnapshotTable.append(spark, dir, orders,
      numFiles = 16)
    // TPC-H orderkeys 1..7 exist at every scale factor
    val probes = (1 to 7).map(_.toString)
    val opened = pystreamsspark.io.SnapshotTable
      .readCandidatesIn(dir, "o_orderkey", probes)
    require(opened.size <
      pystreamsspark.io.SnapshotTable.filePaths(dir).size,
      s"bloom must skip files for a point probe, opened ${opened.size}")
    pystreamsspark.io.SnapshotTable
      .readWhereIn(spark, dir, "o_orderkey", probes)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"), sum($"o_orderkey").as("key_sum"),
        Det.dsum($"o_totalprice").as("sum_price"))
      .orderBy($"o_orderstatus")
  }

  val qBloomSkipSql: String =
    s"""SELECT o_orderstatus, COUNT(*) AS n,
       |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       |  ${Det.sqlSum("o_totalprice")} AS sum_price
       |FROM orders
       |WHERE o_orderkey IN (1, 2, 3, 4, 5, 6, 7)
       |GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin

  /** Z-ORDER data skipping (multi-dimensional): parts laid out by the
    * Morton key over (p_size, price_bucket) — [[PipelineQueries.qZorder]]'s
    * interleave — into a clustered snapshot table whose manifest records
    * per-file min/max of BOTH dimensions. Because the z-curve gives each
    * file a small hyper-rectangle of the key space, a 2-D box read
    * ([[pystreamsspark.io.SnapshotTable.readWhere]]) prunes on both
    * columns — a lexicographic sort only ever prunes its leading column
    * (SnapshotTableSpec pins the contrast: second-dimension bounds prune
    * z-order to ≤6 of 16 files while the lex layout reads all 16). The
    * residual filters keep the result exact, so the oracle is the plain
    * 2-D box filter over the original parquet. */
  def qZorderSkip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = scratch(sfDir,
      s"zorder_skip_${java.util.UUID.randomUUID().toString.take(8)}")
    // the ONE shared interleave (PipelineQueries.morton6/partZDims) —
    // q_zorder oracle-verifies the key, this layout exploits it
    val (px, py) = PipelineQueries.partZDims(spark)
    val laid = Tables.part(spark, sfDir)
      .select($"p_partkey", $"p_size", py.as("price_bucket"),
        PipelineQueries.morton6(px, py).as("zkey"))
    pystreamsspark.io.SnapshotTable.createClustered(spark, dir,
      laid.repartitionByRange(16, $"zkey").sortWithinPartitions($"zkey"),
      clusterCols = Seq("p_size", "price_bucket"))
    pystreamsspark.io.SnapshotTable.readWhere(spark, dir, Map(
        "p_size" -> ("8", "15"), "price_bucket" -> ("16", "31")))
      .groupBy($"p_size")
      .agg(count(lit(1)).as("n"), sum($"p_partkey").as("key_sum"))
      .orderBy($"p_size")
  }

  val qZorderSkipSql: String =
    """WITH t AS (
      |  SELECT p_partkey, p_size,
      |    CAST(floor(p_retailprice) AS BIGINT) % 64 AS price_bucket
      |  FROM part)
      |SELECT p_size, COUNT(*) AS n, CAST(SUM(p_partkey) AS BIGINT) AS key_sum
      |FROM t
      |WHERE p_size BETWEEN 8 AND 15 AND price_bucket BETWEEN 16 AND 31
      |GROUP BY p_size
      |ORDER BY p_size""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_zorder_skip"     -> (qZorderSkip _),
    "q_snapshot_skip"   -> (qSnapshotSkip _),
    "q_bloom_skip"      -> (qBloomSkip _),
    "q_part_transform"  -> (qPartTransform _),
    "q_acid_evolve"     -> (qAcidEvolve _),
    "q_acid_merge"      -> (qAcidMerge _),
    "q_time_travel"     -> (qTimeTravel _),
    "q_dv_delete"       -> (qDvDelete _),
    "q_snapshot_cdc"    -> (qSnapshotCdc _),
    "q_cdc_feed"        -> (qCdcFeed _),
    "q_dpp_join"        -> (qDppJoin _),
    "q_partition_prune" -> (qPartitionPrune _),
    "q_bucket_join"     -> (qBucketJoin _),
    "q_salted_join"     -> (qSaltedJoin _),
    "q_compaction"      -> (qCompaction _),
    "q_sorted_skip"     -> (qSortedSkip _))

  val oracle: Map[String, String] = Map(
    "q_zorder_skip"     -> qZorderSkipSql,
    "q_snapshot_skip"   -> qSnapshotSkipSql,
    "q_bloom_skip"      -> qBloomSkipSql,
    "q_part_transform"  -> qPartTransformSql,
    "q_acid_evolve"     -> qAcidEvolveSql,
    "q_acid_merge"      -> qAcidMergeSql,
    "q_time_travel"     -> qTimeTravelSql,
    "q_dv_delete"       -> qDvDeleteSql,
    "q_snapshot_cdc"    -> qSnapshotCdcSql,
    "q_cdc_feed"        -> qCdcFeedSql,
    "q_dpp_join"        -> qDppJoinSql,
    "q_partition_prune" -> qPartitionPruneSql,
    "q_bucket_join"     -> qBucketJoinSql,
    "q_salted_join"     -> qSaltedJoinSql,
    "q_compaction"      -> qCompactionSql,
    "q_sorted_skip"     -> qSortedSkipSql)
}
