package pystreamsspark.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import pystreamsspark.io.{SnapshotSql, Tables}

/** SQL row-level DML through the V2 catalog
  * ([[pystreamsspark.io.GraftCatalog]]) as driver-checked keys — the
  * round-10 closing of the "programmatic-only ACID layer" gap: each key
  * builds a snapshot table BY SQL (`CREATE TABLE` + `INSERT INTO`
  * through the catalog), mutates it BY SQL (`MERGE INTO` / `UPDATE` /
  * `DELETE` through the parsed-plan route, [[SnapshotSql.sql]] — same
  * executors the GraftExtensions analyzer rule uses), and answers
  * through a plain `spark.sql` read back (incl. `VERSION AS OF` time
  * travel, served natively by the catalog). The oracles reconstruct the
  * mutated state relationally from the original parquet — q_sql_merge /
  * q_sql_timetravel replay the q_acid_merge / q_time_travel oracles
  * through the SQL surface, green rows proving SQL and programmatic
  * paths share one semantics (they share one copy-on-write machinery:
  * the SQL MERGE runs the same stats-pruned file-granular discovery,
  * asserted in GraftCatalogSpec).
  */
object DmlQueries {

  // per-process scratch warehouse: the catalog instance is cached per
  // session at first use, so the warehouse must be ONE path per process
  // (unique per process to keep concurrent Bench + test runs apart)
  private val runTag: String = java.util.UUID.randomUUID().toString.take(8)
  private def warehouse: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_sqlwh_$runTag"

  /** Register the catalog, create `graft.main.<name>_<uuid>` with the
    * orders DML fixture columns, and SQL-INSERT the base subset
    * (o_orderkey % 4 <> 3 — the shared acid fixture). Returns the fully
    * qualified table name. */
  private def freshOrdersTable(spark: SparkSession, sfDir: String,
                               what: String, props: String = ""): String = {
    SnapshotSql.register(spark, warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.main")
    val t = s"graft.main.${what}_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE $t (o_orderkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE)" +
      (if (props.nonEmpty) s" TBLPROPERTIES($props)" else ""))
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .filter(col("o_orderkey") % 4 =!= 3)
      .createOrReplaceTempView("dml_base_orders")
    SnapshotSql.sql(spark,
      s"INSERT INTO $t SELECT * FROM dml_base_orders")
    t
  }

  /** `MERGE INTO` by SQL — the q_acid_merge fixture driven end-to-end
    * through the SQL surface: every %10==0 order re-priced ×2 with
    * status 'U' upserts into the base (%4<>3) subset, so updates both
    * REPLACE matched keys and INSERT absent ones. Same oracle as
    * q_acid_merge. */
  def qSqlMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshOrdersTable(spark, sfDir, "sqlmerge")
    Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") * 2).as("o_totalprice"))
      .createOrReplaceTempView("dml_merge_src")
    SnapshotSql.sql(spark, s"MERGE INTO $t t USING dml_merge_src s " +
      "ON t.o_orderkey = s.o_orderkey " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    spark.sql(s"SELECT o_orderstatus, COUNT(*) AS n, " +
      s"${Det.sqlSum("o_totalprice")} AS sum_price FROM $t " +
      "GROUP BY o_orderstatus ORDER BY o_orderstatus")
  }

  val qSqlMergeSql: String = LayoutQueries.qAcidMergeSql

  /** GENERAL `MERGE INTO` by SQL (round-10 cont.) — the full ANSI
    * clause surface through [[SnapshotTable.generalMerge]] in one
    * statement: a conditional non-star matched UPDATE (cheap rows
    * re-priced source+target, flagged 'M'), a fall-through matched
    * DELETE (expensive matches removed), a conditional non-star INSERT
    * (only %20==15 keys — unmatched source keys satisfy %4==3, so this
    * residue actually inserts rows; r10's %20==0 was provably dead), and a conditional
    * `WHEN NOT MATCHED BY SOURCE` UPDATE (%7 stale rows flagged 'S').
    * The oracle reconstructs the same four-way outcome relationally
    * with LEFT JOINs + CASE from the original parquet — a green row
    * proves clause ordering, side classification, the insert filter
    * and the NMBS leg all match the reference semantics. */
  def qSqlMergeRich(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshOrdersTable(spark, sfDir, "sqlmergerich")
    Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") * 2).as("o_totalprice"))
      .createOrReplaceTempView("dml_mergerich_src")
    SnapshotSql.sql(spark, s"MERGE INTO $t t USING dml_mergerich_src s " +
      "ON t.o_orderkey = s.o_orderkey " +
      "WHEN MATCHED AND t.o_totalprice < 100000.0 THEN UPDATE SET " +
      "  o_totalprice = s.o_totalprice + t.o_totalprice, o_orderstatus = 'M' " +
      "WHEN MATCHED THEN DELETE " +
      "WHEN NOT MATCHED AND s.o_orderkey % 20 = 15 THEN " +
      "  INSERT (o_orderkey, o_orderstatus, o_totalprice) " +
      "  VALUES (s.o_orderkey, 'N', s.o_totalprice / 2) " +
      "WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 7 = 0 THEN " +
      "  UPDATE SET o_orderstatus = 'S'")
    spark.sql(s"SELECT o_orderstatus, COUNT(*) AS n, " +
      "CAST(SUM(o_orderkey) AS BIGINT) AS key_sum, " +
      s"${Det.sqlSum("o_totalprice")} AS sum_price FROM $t " +
      "GROUP BY o_orderstatus ORDER BY o_orderstatus")
  }

  val qSqlMergeRichSql: String =
    s"""WITH base AS (
       |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       |  WHERE o_orderkey % 4 <> 3),
       |src AS (
       |  SELECT o_orderkey, 'U' AS o_orderstatus,
       |    o_totalprice * 2 AS o_totalprice
       |  FROM orders WHERE o_orderkey % 5 = 0),
       |kept AS (
       |  SELECT b.o_orderkey,
       |    CASE WHEN s.o_orderkey IS NOT NULL THEN 'M'
       |         WHEN b.o_orderkey % 7 = 0 THEN 'S'
       |         ELSE b.o_orderstatus END AS o_orderstatus,
       |    CASE WHEN s.o_orderkey IS NOT NULL
       |         THEN s.o_totalprice + b.o_totalprice
       |         ELSE b.o_totalprice END AS o_totalprice
       |  FROM base b LEFT JOIN src s ON b.o_orderkey = s.o_orderkey
       |  WHERE s.o_orderkey IS NULL OR b.o_totalprice < 100000.0),
       |ins AS (
       |  SELECT s.o_orderkey, 'N' AS o_orderstatus,
       |    s.o_totalprice / 2 AS o_totalprice
       |  FROM src s LEFT JOIN base b ON b.o_orderkey = s.o_orderkey
       |  WHERE b.o_orderkey IS NULL AND s.o_orderkey % 20 = 15),
       |final AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
       |SELECT o_orderstatus, COUNT(*) AS n,
       |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       |  ${Det.sqlSum("o_totalprice")} AS sum_price
       |FROM final
       |GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin

  /** `UPDATE … SET … WHERE` by SQL: every %10==0 order in the base
    * subset re-priced ×2 with status 'U' in place (no inserts — UPDATE
    * only touches existing rows). Copy-on-write on the covering files. */
  def qSqlUpdate(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshOrdersTable(spark, sfDir, "sqlupdate")
    SnapshotSql.sql(spark, s"UPDATE $t SET o_totalprice = o_totalprice * 2, " +
      "o_orderstatus = 'U' WHERE o_orderkey % 10 = 0")
    spark.sql(s"SELECT o_orderstatus, COUNT(*) AS n, " +
      s"${Det.sqlSum("o_totalprice")} AS sum_price FROM $t " +
      "GROUP BY o_orderstatus ORDER BY o_orderstatus")
  }

  val qSqlUpdateSql: String =
    s"""WITH upd AS (
       |  SELECT o_orderkey,
       |    CASE WHEN o_orderkey % 10 = 0 THEN 'U' ELSE o_orderstatus END
       |      AS o_orderstatus,
       |    CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2
       |         ELSE o_totalprice END AS o_totalprice
       |  FROM orders WHERE o_orderkey % 4 <> 3
       |)
       |SELECT o_orderstatus, COUNT(*) AS n,
       |  ${Det.sqlSum("o_totalprice")} AS sum_price
       |FROM upd
       |GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin

  /** `DELETE … WHERE` by SQL: %7==0 keys removed from the base subset.
    * Result shape mirrors the q_time_travel v2 state. */
  def qSqlDelete(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshOrdersTable(spark, sfDir, "sqldelete")
    SnapshotSql.sql(spark, s"DELETE FROM $t WHERE o_orderkey % 7 = 0")
    spark.sql(s"SELECT o_orderstatus, COUNT(*) AS n, " +
      "CAST(SUM(o_orderkey) AS BIGINT) AS key_sum, " +
      s"${Det.sqlSum("o_totalprice")} AS sum_price FROM $t " +
      "GROUP BY o_orderstatus ORDER BY o_orderstatus")
  }

  val qSqlDeleteSql: String =
    s"""SELECT o_orderstatus, COUNT(*) AS n,
       |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       |  ${Det.sqlSum("o_totalprice")} AS sum_price
       |FROM orders
       |WHERE o_orderkey % 4 <> 3 AND o_orderkey % 7 <> 0
       |GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin

  /** MERGE-ON-READ `DELETE` by SQL: the q_sql_delete fixture on a
    * `TBLPROPERTIES('delete.mode'='merge-on-read')` table — the DELETE
    * takes the [[pystreamsspark.io.SnapshotTable.deleteVectors]] form (a
    * (file, row-position) sidecar write, ZERO data-file rewrites —
    * asserted here), and the answer reads through the DV-aware reader.
    * Same oracle as q_sql_delete: a green row proves the DV read path
    * and the CoW path compute identical survivors through SQL. */
  def qSqlDeleteMor(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshOrdersTable(spark, sfDir, "sqldelmor",
      "'delete.mode'='merge-on-read'")
    val dir = pystreamsspark.io.SnapshotSql
      .resolveTable(spark, t.split('.').toSeq).get
    val preFiles = pystreamsspark.io.SnapshotTable.filePaths(dir).toSet
    SnapshotSql.sql(spark, s"DELETE FROM $t WHERE o_orderkey % 7 = 0")
    require(pystreamsspark.io.SnapshotTable.filePaths(dir).toSet == preFiles,
      "merge-on-read DELETE must not rewrite data files")
    require(pystreamsspark.io.SnapshotTable.snapshot(dir).hasDeletionVectors,
      "merge-on-read DELETE must record deletion vectors")
    pystreamsspark.io.SnapshotTable.read(spark, dir)
      .createOrReplaceTempView("dml_mor_del_state")
    spark.sql("SELECT o_orderstatus, COUNT(*) AS n, " +
      "CAST(SUM(o_orderkey) AS BIGINT) AS key_sum, " +
      s"${Det.sqlSum("o_totalprice")} AS sum_price " +
      "FROM dml_mor_del_state " +
      "GROUP BY o_orderstatus ORDER BY o_orderstatus")
  }

  val qSqlDeleteMorSql: String = qSqlDeleteSql

  /** MERGE-ON-READ `UPDATE` by SQL: the q_sql_update fixture on an
    * `'update.mode'='merge-on-read'` table —
    * [[pystreamsspark.io.SnapshotTable.updateVectors]] DV-marks the
    * matched rows and appends their rewritten images in one commit
    * (every pre-update data file still present — asserted). Same oracle
    * as q_sql_update. */
  def qSqlUpdateMor(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshOrdersTable(spark, sfDir, "sqlupdmor",
      "'update.mode'='merge-on-read'")
    val dir = pystreamsspark.io.SnapshotSql
      .resolveTable(spark, t.split('.').toSeq).get
    val preFiles = pystreamsspark.io.SnapshotTable.filePaths(dir).toSet
    SnapshotSql.sql(spark, s"UPDATE $t SET o_totalprice = o_totalprice * 2, " +
      "o_orderstatus = 'U' WHERE o_orderkey % 10 = 0")
    require(preFiles.subsetOf(
      pystreamsspark.io.SnapshotTable.filePaths(dir).toSet),
      "merge-on-read UPDATE must keep every pre-update data file")
    pystreamsspark.io.SnapshotTable.read(spark, dir)
      .createOrReplaceTempView("dml_mor_upd_state")
    spark.sql("SELECT o_orderstatus, COUNT(*) AS n, " +
      s"${Det.sqlSum("o_totalprice")} AS sum_price " +
      "FROM dml_mor_upd_state " +
      "GROUP BY o_orderstatus ORDER BY o_orderstatus")
  }

  val qSqlUpdateMorSql: String = qSqlUpdateSql

  /** MERGE-ON-READ `MERGE INTO` by SQL: the q_sql_merge upsert fixture
    * on a `TBLPROPERTIES('merge.mode'='merge-on-read')` table — every
    * shape (incl. this star upsert) takes
    * [[pystreamsspark.io.SnapshotTable.generalMerge]]'s DV write phase:
    * matched rows DV-mark in their untouched files, images + inserts
    * append as one batch (op `merge-dv`; every pre-merge data file
    * still present — asserted). Same oracle as q_sql_merge. */
  def qSqlMergeMor(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshOrdersTable(spark, sfDir, "sqlmrgmor",
      "'merge.mode'='merge-on-read'")
    val dir = pystreamsspark.io.SnapshotSql
      .resolveTable(spark, t.split('.').toSeq).get
    val preFiles = pystreamsspark.io.SnapshotTable.filePaths(dir).toSet
    Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") * 2).as("o_totalprice"))
      .createOrReplaceTempView("dml_mergemor_src")
    SnapshotSql.sql(spark, s"MERGE INTO $t t USING dml_mergemor_src s " +
      "ON t.o_orderkey = s.o_orderkey " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    require(preFiles.subsetOf(
      pystreamsspark.io.SnapshotTable.filePaths(dir).toSet),
      "merge-on-read MERGE must keep every pre-merge data file")
    require(pystreamsspark.io.SnapshotTable.snapshot(dir).hasDeletionVectors,
      "merge-on-read MERGE must record deletion vectors")
    pystreamsspark.io.SnapshotTable.read(spark, dir)
      .createOrReplaceTempView("dml_mor_mrg_state")
    spark.sql("SELECT o_orderstatus, COUNT(*) AS n, " +
      s"${Det.sqlSum("o_totalprice")} AS sum_price " +
      "FROM dml_mor_mrg_state " +
      "GROUP BY o_orderstatus ORDER BY o_orderstatus")
  }

  val qSqlMergeMorSql: String = qSqlMergeSql

  /** `COPY INTO` — idempotent landing-zone ingestion by SQL: an orders
    * subset staged as parquet files, loaded with `COPY INTO … FROM`,
    * then the SAME statement re-run — the second run must load ZERO
    * files (identity ledger committed atomically with the data;
    * asserted), so the aggregate equals exactly one copy of the staged
    * rows. The oracle recomputes the subset from the original parquet —
    * a green row proves listing, by-name cast alignment, and the
    * idempotence ledger end-to-end. */
  def qCopyInto(spark: SparkSession, sfDir: String): DataFrame = {
    SnapshotSql.register(spark, warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.main")
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val t = s"graft.main.copyinto_$tag"
    spark.sql(s"CREATE TABLE $t (o_orderkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE)")
    val stg = s"${System.getProperty("java.io.tmpdir")}/graft_copy_stage_$tag"
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .filter(col("o_orderkey") % 3 === 0)
      .coalesce(2).write.parquet(stg)
    val first = SnapshotSql.sql(spark,
      s"COPY INTO $t FROM '$stg' FILEFORMAT = PARQUET").head
    require(first.getInt(1) >= 1, "first COPY must load the staged files")
    val second = SnapshotSql.sql(spark,
      s"COPY INTO $t FROM '$stg' FILEFORMAT = PARQUET").head
    require(second.getInt(1) == 0,
      s"re-run COPY must be a no-op, loaded ${second.getInt(1)}")
    // the staged landing files are scratch: the table owns its own
    // copies, so delete them (no per-invocation tmp leak)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(stg))
    spark.sql(s"SELECT o_orderstatus, COUNT(*) AS n, " +
      "CAST(SUM(o_orderkey) AS BIGINT) AS key_sum, " +
      s"${Det.sqlSum("o_totalprice")} AS sum_price FROM $t " +
      "GROUP BY o_orderstatus ORDER BY o_orderstatus")
  }

  val qCopyIntoSql: String =
    s"""SELECT o_orderstatus, COUNT(*) AS n,
       |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       |  ${Det.sqlSum("o_totalprice")} AS sum_price
       |FROM orders
       |WHERE o_orderkey % 3 = 0
       |GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin

  /** `VERSION AS OF` by SQL — the q_time_travel fixture through the
    * catalog's time-travel loadTable: v2 = the SQL-inserted base, v3 =
    * after the SQL DELETE; both versions of the SAME table read side by
    * side and labeled 1/2 to replay the q_time_travel oracle verbatim. */
  def qSqlTimetravel(spark: SparkSession, sfDir: String): DataFrame = {
    SnapshotSql.register(spark, warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.main")
    val t = s"graft.main.sqltt_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE $t (o_orderkey BIGINT, o_totalprice DOUBLE)")
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"))
      .filter(col("o_orderkey") % 4 =!= 3)
      .createOrReplaceTempView("dml_tt_base")
    SnapshotSql.sql(spark, s"INSERT INTO $t SELECT * FROM dml_tt_base") // v2
    SnapshotSql.sql(spark, s"DELETE FROM $t WHERE o_orderkey % 7 = 0")  // v3
    spark.sql(
      s"""WITH v AS (
         |  SELECT 1 AS version, o_orderkey, o_totalprice
         |  FROM $t VERSION AS OF 2
         |  UNION ALL
         |  SELECT 2 AS version, o_orderkey, o_totalprice
         |  FROM $t VERSION AS OF 3
         |)
         |SELECT version, COUNT(*) AS n,
         |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
         |  ${Det.sqlSum("o_totalprice")} AS sum_price
         |FROM v
         |GROUP BY version
         |ORDER BY version""".stripMargin)
  }

  val qSqlTimetravelSql: String = LayoutQueries.qTimeTravelSql

  /** STORAGE-PARTITIONED JOIN over hash-bucketed snapshot tables: both
    * sides created with `TBLPROPERTIES('bucketcols'=<join key>,
    * 'buckets'='8')`, so every file is bucket-pure (bucket = pmod(
    * murmur3(key), 8), recorded in the manifest) and the V2 scans
    * report `KeyGroupedPartitioning(bucket(8, key))` — the MERGE-hinted
    * join then plans with ZERO exchanges on either side (the plan shape
    * is asserted in BucketedJoinSpec; at 100 TB the join shuffle is the
    * dominant cost and this layout removes it). The oracle replays the
    * same join over the original parquet — a green row proves the
    * bucketed round-trip holds exactly the source rows AND the
    * exchange-free plan computes the same answer as the naive one. */
  def qSpjSnapshot(spark: SparkSession, sfDir: String): DataFrame = {
    SnapshotSql.register(spark, warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.main")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val co = s"graft.main.spjo_$tag"
    val cc = s"graft.main.spjc_$tag"
    spark.sql(s"CREATE TABLE $co (o_custkey BIGINT, o_totalprice DOUBLE) " +
      "TBLPROPERTIES ('bucketcols'='o_custkey', 'buckets'='8')")
    spark.sql(s"CREATE TABLE $cc (c_custkey BIGINT, c_acctbal DOUBLE) " +
      "TBLPROPERTIES ('bucketcols'='c_custkey', 'buckets'='8')")
    Tables.orders(spark, sfDir).select(col("o_custkey"), col("o_totalprice"))
      .createOrReplaceTempView("spj_orders_src")
    Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_acctbal"))
      .createOrReplaceTempView("spj_cust_src")
    SnapshotSql.sql(spark, s"INSERT INTO $co SELECT * FROM spj_orders_src")
    SnapshotSql.sql(spark, s"INSERT INTO $cc SELECT * FROM spj_cust_src")
    spark.sql(
      s"""SELECT /*+ MERGE(c) */ pmod(c.c_custkey, 7) AS grp,
         |  COUNT(*) AS n_orders,
         |  CAST(SUM(c.c_custkey) AS BIGINT) AS key_sum,
         |  ${Det.sqlSum("o.o_totalprice")} AS sum_price
         |FROM $co o JOIN $cc c ON o.o_custkey = c.c_custkey
         |GROUP BY pmod(c.c_custkey, 7)
         |ORDER BY grp""".stripMargin)
  }

  val qSpjSnapshotSql: String =
    s"""SELECT c.c_custkey % 7 AS grp, COUNT(*) AS n_orders,
       |  CAST(SUM(c.c_custkey) AS BIGINT) AS key_sum,
       |  ${Det.sqlSum("o.o_totalprice")} AS sum_price
       |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |GROUP BY c.c_custkey % 7
       |ORDER BY grp""".stripMargin

  /** COLUMN MAPPING by SQL (round-11): RENAME COLUMN (incl. the CLUSTER
    * column), DROP COLUMN + re-ADD, all METADATA-ONLY — asserted: zero
    * data files change across the renames, and stats pruning still
    * skips files under the renamed cluster key. The final state reads
    * pre-rename files THROUGH the mapping; the re-added o_orderstatus
    * must be NULL everywhere (the dropped column's physical name is
    * retired — old values cannot resurrect), which the oracle pins with
    * COUNT(o_orderstatus) = 0 per group. */
  def qEvolveRename(spark: SparkSession, sfDir: String): DataFrame = {
    SnapshotSql.register(spark, warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.main")
    val t = s"graft.main.evorename_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE $t (o_orderkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE) TBLPROPERTIES('clustercols'='o_orderkey')")
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .filter(col("o_orderkey") % 4 =!= 3)
      .createOrReplaceTempView("evo_rename_base")
    SnapshotSql.sql(spark, s"INSERT INTO $t SELECT * FROM evo_rename_base")
    val dir = SnapshotSql.resolveTable(spark, t.split('.').toSeq).get
    val preFiles = pystreamsspark.io.SnapshotTable.filePaths(dir).toSet
    spark.sql(s"ALTER TABLE $t RENAME COLUMN o_totalprice TO price")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN o_orderkey TO okey")
    require(pystreamsspark.io.SnapshotTable.filePaths(dir).toSet == preFiles,
      "RENAME COLUMN must be metadata-only")
    // post-rename append speaks the NEW names; lands physical
    Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 4 === 3)
      .select(col("o_orderkey").as("okey"), col("o_orderstatus"),
        col("o_totalprice").as("price"))
      .createOrReplaceTempView("evo_rename_rest")
    SnapshotSql.sql(spark, s"INSERT INTO $t SELECT * FROM evo_rename_rest")
    // stats pruning survives the cluster-column rename (the verdict's
    // named done-criterion, asserted on the real fixture)
    require(pystreamsspark.io.SnapshotTable
      .readCandidates(dir, "okey", "1", "64").size <
      pystreamsspark.io.SnapshotTable.filePaths(dir).size,
      "stats pruning must survive renaming the cluster column")
    spark.sql(s"ALTER TABLE $t DROP COLUMN o_orderstatus")
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (o_orderstatus STRING)")
    pystreamsspark.io.SnapshotTable.read(spark, dir)
      .createOrReplaceTempView("evo_rename_state")
    spark.sql("SELECT okey % 5 AS grp, COUNT(*) AS n, " +
      "COUNT(o_orderstatus) AS n_status, " +
      "CAST(SUM(okey) AS BIGINT) AS key_sum, " +
      s"${Det.sqlSum("price")} AS sum_price FROM evo_rename_state " +
      "GROUP BY okey % 5 ORDER BY grp")
  }

  val qEvolveRenameSql: String =
    s"""SELECT o_orderkey % 5 AS grp, COUNT(*) AS n,
       |  CAST(0 AS BIGINT) AS n_status,
       |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       |  ${Det.sqlSum("o_totalprice")} AS sum_price
       |FROM orders
       |GROUP BY o_orderkey % 5
       |ORDER BY grp""".stripMargin

  /** TYPE WIDENING by SQL (round-11): `ALTER COLUMN … TYPE BIGINT` /
    * `TYPE DOUBLE` as pure metadata commits — zero data files change
    * (asserted); the INT/FLOAT pages written before the widening read
    * through the widened schema via the parquet reader's native type
    * promotion, and the post-widening append writes the wide types.
    * The oracle replays the narrow-then-wide value lineage: the first
    * batch float-rounds o_totalprice (CAST AS REAL), the second keeps
    * full doubles — a green hash proves the promotion is value-exact. */
  def qEvolveWiden(spark: SparkSession, sfDir: String): DataFrame = {
    SnapshotSql.register(spark, warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.main")
    val t = s"graft.main.evowiden_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.sql(s"CREATE TABLE $t (o_orderkey INT, o_totalprice FLOAT)")
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"))
      .filter(col("o_orderkey") % 4 =!= 3)
      .createOrReplaceTempView("evo_widen_base")
    SnapshotSql.sql(spark, s"INSERT INTO $t SELECT * FROM evo_widen_base")
    val dir = SnapshotSql.resolveTable(spark, t.split('.').toSeq).get
    val preFiles = pystreamsspark.io.SnapshotTable.filePaths(dir).toSet
    spark.sql(s"ALTER TABLE $t ALTER COLUMN o_orderkey TYPE BIGINT")
    spark.sql(s"ALTER TABLE $t ALTER COLUMN o_totalprice TYPE DOUBLE")
    require(pystreamsspark.io.SnapshotTable.filePaths(dir).toSet == preFiles,
      "type widening must be metadata-only")
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"))
      .filter(col("o_orderkey") % 4 === 3)
      .createOrReplaceTempView("evo_widen_rest")
    SnapshotSql.sql(spark, s"INSERT INTO $t SELECT * FROM evo_widen_rest")
    pystreamsspark.io.SnapshotTable.read(spark, dir)
      .createOrReplaceTempView("evo_widen_state")
    spark.sql("SELECT o_orderkey % 5 AS grp, COUNT(*) AS n, " +
      "CAST(SUM(o_orderkey) AS BIGINT) AS key_sum, " +
      s"${Det.sqlSumF("o_totalprice")} AS sum_price FROM evo_widen_state " +
      "GROUP BY o_orderkey % 5 ORDER BY grp")
  }

  val qEvolveWidenSql: String =
    s"""WITH t AS (
       |  SELECT o_orderkey,
       |    CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS o_totalprice
       |  FROM orders WHERE o_orderkey % 4 <> 3
       |  UNION ALL
       |  SELECT o_orderkey, o_totalprice
       |  FROM orders WHERE o_orderkey % 4 = 3)
       |SELECT o_orderkey % 5 AS grp, COUNT(*) AS n,
       |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       |  ${Det.sqlSumF("o_totalprice")} AS sum_price
       |FROM t
       |GROUP BY o_orderkey % 5
       |ORDER BY grp""".stripMargin

  /** `MERGE WITH SCHEMA EVOLUTION` by SQL (round-11): the source
    * carries o_custkey, which the target LACKS — the statement first
    * widens the target schema by one metadata commit (old rows/files
    * null-fill) and then runs the general merge (conditional INSERT
    * forces the general path) against the widened schema, so the star
    * UPDATE carries the new column onto matched rows. The oracle
    * replays evolve+merge relationally: o_custkey is non-null exactly
    * on the actioned rows. */
  def qSqlMergeEvolve(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshOrdersTable(spark, sfDir, "sqlmergeevo")
    Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") * 2).as("o_totalprice"), col("o_custkey"))
      .createOrReplaceTempView("dml_mergeevo_src")
    SnapshotSql.sql(spark,
      s"MERGE WITH SCHEMA EVOLUTION INTO $t t USING dml_mergeevo_src s " +
      "ON t.o_orderkey = s.o_orderkey " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED AND s.o_orderkey % 20 = 15 THEN INSERT *")
    val dir = SnapshotSql.resolveTable(spark, t.split('.').toSeq).get
    require(pystreamsspark.io.SnapshotTable.schemaOf(dir)
      .fieldNames.contains("o_custkey"),
      "MERGE WITH SCHEMA EVOLUTION must add the source-only column")
    spark.sql(s"SELECT o_orderstatus, COUNT(*) AS n, " +
      "COUNT(o_custkey) AS n_cust, " +
      "CAST(SUM(o_orderkey) AS BIGINT) AS key_sum, " +
      "CAST(SUM(o_custkey) AS BIGINT) AS cust_sum, " +
      s"${Det.sqlSum("o_totalprice")} AS sum_price FROM $t " +
      "GROUP BY o_orderstatus ORDER BY o_orderstatus")
  }

  val qSqlMergeEvolveSql: String =
    s"""WITH base AS (
       |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       |  WHERE o_orderkey % 4 <> 3),
       |src AS (
       |  SELECT o_orderkey, 'U' AS o_orderstatus,
       |    o_totalprice * 2 AS o_totalprice, o_custkey
       |  FROM orders WHERE o_orderkey % 5 = 0),
       |kept AS (
       |  SELECT b.o_orderkey,
       |    CASE WHEN s.o_orderkey IS NOT NULL THEN 'U'
       |         ELSE b.o_orderstatus END AS o_orderstatus,
       |    CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
       |         ELSE b.o_totalprice END AS o_totalprice,
       |    s.o_custkey
       |  FROM base b LEFT JOIN src s ON b.o_orderkey = s.o_orderkey),
       |ins AS (
       |  SELECT s.o_orderkey, s.o_orderstatus, s.o_totalprice, s.o_custkey
       |  FROM src s LEFT JOIN base b ON b.o_orderkey = s.o_orderkey
       |  WHERE b.o_orderkey IS NULL AND s.o_orderkey % 20 = 15),
       |final AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
       |SELECT o_orderstatus, COUNT(*) AS n,
       |  COUNT(o_custkey) AS n_cust,
       |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       |  CAST(SUM(o_custkey) AS BIGINT) AS cust_sum,
       |  ${Det.sqlSum("o_totalprice")} AS sum_price
       |FROM final
       |GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin

  /** ANSI column DEFAULTS by SQL (round-11): `ALTER TABLE … ADD
    * COLUMNS (o_prio INT DEFAULT 3)` is METADATA-ONLY (zero files
    * change — asserted); pre-ADD rows read the frozen EXISTS default
    * natively through the manifest schema's field metadata; an INSERT
    * omitting the column MATERIALIZES the current default at the
    * shared batch funnel; `ALTER COLUMN … SET DEFAULT 7` moves only
    * FUTURE omitting writes. The oracle replays the three-regime
    * lineage (pre-ADD fill, materialized 3, materialized 7)
    * relationally. */
  def qEvolveDefault(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshOrdersTable(spark, sfDir, "evodefault")
    val dir = SnapshotSql.resolveTable(spark, t.split('.').toSeq).get
    val preFiles = pystreamsspark.io.SnapshotTable.filePaths(dir).toSet
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (o_prio INT DEFAULT 3)")
    require(pystreamsspark.io.SnapshotTable.filePaths(dir).toSet == preFiles,
      "ADD COLUMNS DEFAULT must be metadata-only")
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .filter(col("o_orderkey") % 4 === 3)
      .createOrReplaceTempView("evo_default_rest")
    SnapshotSql.sql(spark, s"INSERT INTO $t " +
      "(o_orderkey, o_orderstatus, o_totalprice) " +
      "SELECT * FROM evo_default_rest")
    spark.sql(s"ALTER TABLE $t ALTER COLUMN o_prio SET DEFAULT 7")
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .filter(col("o_orderkey") % 20 === 0)
      .createOrReplaceTempView("evo_default_dup")
    SnapshotSql.sql(spark, s"INSERT INTO $t " +
      "(o_orderkey, o_orderstatus, o_totalprice) " +
      "SELECT * FROM evo_default_dup")
    spark.sql(s"SELECT o_prio, COUNT(*) AS n, " +
      "CAST(SUM(o_orderkey) AS BIGINT) AS key_sum, " +
      s"${Det.sqlSum("o_totalprice")} AS sum_price FROM $t " +
      "GROUP BY o_prio ORDER BY o_prio")
  }

  val qEvolveDefaultSql: String =
    s"""WITH t AS (
       |  SELECT o_orderkey, o_totalprice, 3 AS o_prio FROM orders
       |  UNION ALL
       |  SELECT o_orderkey, o_totalprice, 7 AS o_prio FROM orders
       |  WHERE o_orderkey % 20 = 0)
       |SELECT o_prio, COUNT(*) AS n,
       |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       |  ${Det.sqlSum("o_totalprice")} AS sum_price
       |FROM t
       |GROUP BY o_prio
       |ORDER BY o_prio""".stripMargin

  /** Persistent VIEWS through the graft catalog (round-12, r11 verdict
    * #7): a CREATE VIEW over the orders snapshot table, read back
    * through the SQL tier with an extra predicate — the body INLINES
    * before optimization, so the filter lands in the V2 parquet scan as
    * PushedFilters, asserted IN-KEY on the executed plan (the view
    * boundary costs nothing at any scale). The oracle replays the
    * composed query relationally. */
  def qViewPushdown(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshOrdersTable(spark, sfDir, "viewpd")
    val v = s"graft.main.vpd_${java.util.UUID.randomUUID().toString.take(8)}"
    SnapshotSql.sql(spark, s"CREATE VIEW $v AS " +
      s"SELECT o_orderkey, o_orderstatus, o_totalprice * 0.9 AS disc " +
      s"FROM $t WHERE o_orderstatus <> 'X'")
    val df = SnapshotSql.sql(spark,
      s"SELECT o_orderstatus, COUNT(*) AS n, " +
        s"${Det.sqlSum("disc")} AS sum_disc FROM $v " +
        "WHERE o_orderkey % 100 < 50 AND o_orderkey > 0 " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus")
    // the default 100-char metadata render elides the filter list —
    // widen it for the assertion, restore after
    val prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4096")
    val plan =
      try df.queryExecution.executedPlan.toString
      finally spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    require(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(o_orderkey,0)") &&
      plan.contains("Not(EqualTo(o_orderstatus,X))"),
      s"both the outer predicate and the view body's own filter must " +
        s"push through into the scan:\n$plan")
    df
  }

  val qViewPushdownSql: String =
    s"""WITH v AS (
       |  SELECT o_orderkey, o_orderstatus, o_totalprice * 0.9 AS disc
       |  FROM orders WHERE o_orderstatus <> 'X' AND o_orderkey % 4 <> 3
       |)
       |SELECT o_orderstatus, COUNT(*) AS n,
       |  ${Det.sqlSum("disc")} AS sum_disc
       |FROM v
       |WHERE o_orderkey % 100 < 50 AND o_orderkey > 0
       |GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sql_merge"      -> (qSqlMerge _),
    "q_sql_merge_rich" -> (qSqlMergeRich _),
    "q_sql_update"     -> (qSqlUpdate _),
    "q_sql_delete"     -> (qSqlDelete _),
    "q_sql_delete_mor" -> (qSqlDeleteMor _),
    "q_sql_update_mor" -> (qSqlUpdateMor _),
    "q_sql_merge_mor"  -> (qSqlMergeMor _),
    "q_copy_into"      -> (qCopyInto _),
    "q_sql_timetravel" -> (qSqlTimetravel _),
    "q_spj_snapshot"   -> (qSpjSnapshot _),
    "q_evolve_rename"  -> (qEvolveRename _),
    "q_evolve_widen"   -> (qEvolveWiden _),
    "q_sql_merge_evolve" -> (qSqlMergeEvolve _),
    "q_evolve_default" -> (qEvolveDefault _),
    "q_view_pushdown"  -> (qViewPushdown _))

  val oracle: Map[String, String] = Map(
    "q_sql_merge"      -> qSqlMergeSql,
    "q_sql_merge_rich" -> qSqlMergeRichSql,
    "q_sql_update"     -> qSqlUpdateSql,
    "q_sql_delete"     -> qSqlDeleteSql,
    "q_sql_delete_mor" -> qSqlDeleteMorSql,
    "q_sql_update_mor" -> qSqlUpdateMorSql,
    "q_sql_merge_mor"  -> qSqlMergeMorSql,
    "q_copy_into"      -> qCopyIntoSql,
    "q_sql_timetravel" -> qSqlTimetravelSql,
    "q_spj_snapshot"   -> qSpjSnapshotSql,
    "q_evolve_rename"  -> qEvolveRenameSql,
    "q_evolve_widen"   -> qEvolveWidenSql,
    "q_sql_merge_evolve" -> qSqlMergeEvolveSql,
    "q_evolve_default" -> qEvolveDefaultSql,
    "q_view_pushdown"  -> qViewPushdownSql)
}
