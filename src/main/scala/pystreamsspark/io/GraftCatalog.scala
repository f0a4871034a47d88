package pystreamsspark.io

import java.nio.file.{Files, Path, Paths}
import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.GraftSqlShims
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.{DataFrame, GraftSqlShims}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.connector.write.streaming.StreamingWrite
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** V2 `TableCatalog` over [[SnapshotTable]] directories — the catalog
  * plumbing that makes the snapshot-manifest ACID layer addressable from
  * SQL: register with
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft",
  *     classOf[pystreamsspark.io.GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/wh")
  * }}}
  * and `graft.<ns>.<table>` resolves anywhere SQL takes a table name:
  * `SELECT … FROM graft.main.orders`, `SELECT … VERSION AS OF 3` (the
  * time-travel `loadTable(ident, version)` entry point maps straight to
  * manifest selection), `CREATE TABLE` / `DROP TABLE`, and — through
  * [[SnapshotSql]] or the GraftExtensions resolution rule — `INSERT
  * INTO`, `UPDATE`, `DELETE` and `MERGE INTO` riding the existing
  * clustered copy-on-write machinery.
  *
  * Layout is the obvious one: `warehouse/<ns…>/<table>` is a
  * SnapshotTable directory (a table is any directory with committed
  * manifests; a namespace is any other directory). All catalog calls
  * are pure driver metadata — O(#files) manifest reads, never data I/O.
  *
  * `CREATE TABLE … TBLPROPERTIES ('clustercols'='a,b')` arms cluster-key
  * stats recording from the first append (the write-side half of the
  * stats-pruned MERGE/read story).
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
  with FunctionCatalog {

  private var catName: String = _
  private var warehouse: Path = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = Paths.get(Option(options.get("warehouse")).getOrElse(
      s"${System.getProperty("java.io.tmpdir")}/graft_warehouse"))
    Files.createDirectories(warehouse)
    ()
  }

  override def name(): String = catName

  // `CREATE TABLE … (c INT DEFAULT 5)` is legal: Spark folds the
  // declared defaults into the schema's field metadata
  // (CURRENT_DEFAULT/EXISTS_DEFAULT), which the manifest records and
  // the read/write paths honor (see SnapshotTable's default-value law)
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** The on-disk directory for an identifier — public so the DML
    * executor can map a parsed table name to its SnapshotTable dir. */
  def tableDir(ident: Identifier): String =
    ident.namespace().foldLeft(warehouse)(_ resolve _)
      .resolve(ident.name()).toString

  private def isTable(dir: String): Boolean =
    SnapshotTable.latestVersion(dir) >= 1

  private def listDirs(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala.filter(Files.isDirectory(_)).toSeq
      finally s.close()
    }

  // ---------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsDir = namespace.foldLeft(warehouse)(_ resolve _)
    if (!Files.isDirectory(nsDir)) throw new NoSuchNamespaceException(namespace)
    listDirs(nsDir)
      .filter(d => isTable(d.toString))
      .map(d => Identifier.of(namespace, d.getFileName.toString))
      .toArray
  }

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** Time travel: `SELECT … FROM graft.ns.t VERSION AS OF n` lands here
    * — a snapshot pin is manifest selection, nothing else. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = try version.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft table versions are integers, got '$version'")
    }
    load(ident, Some(v))
  }

  /** Time travel by TIME: `SELECT … TIMESTAMP AS OF '…'` — Spark hands
    * the instant as epoch MICROS; the latest commit at-or-before it is
    * the snapshot (commit times recorded in every manifest header). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val v = SnapshotTable.versionAt(dir, timestampMicros / 1000L).getOrElse(
      throw new IllegalArgumentException(
        s"no committed version of ${ident} at or before " +
          s"epoch-micros $timestampMicros"))
    load(ident, Some(v))
  }

  /** The table at its version `v` (the latest when None), resolved
    * once: the one listing that finds the latest version also decides
    * whether the table exists. */
  private def load(ident: Identifier, v: Option[Int]): SnapshotV2Table = {
    val dir = tableDir(ident)
    // a graft VIEW is not a V2 table — its body inlines at the SQL
    // tier (the injected resolution rule / SnapshotSql.sql). The miss
    // must be NoSuchTableException: the analyzer's own ResolveRelations
    // probes loadTable BEFORE the injected view rule runs in the same
    // fixpoint iteration, and only a table-miss lets resolution fall
    // through to the rule (any other throw aborts analysis outright).
    val latest = SnapshotTable.latestVersion(dir)
    if (latest < 1) throw new NoSuchTableException(ident)
    new SnapshotV2Table(
      (catName +: (ident.namespace() :+ ident.name())).mkString("."),
      dir, v, SnapshotTable.snapshot(dir, Some(v.getOrElse(latest))))
  }

  override def tableExists(ident: Identifier): Boolean =
    isTable(tableDir(ident))

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "graft tables cluster via TBLPROPERTIES('clustercols'='…'), " +
        "not PARTITIONED BY")
    val dir = tableDir(ident)
    if (isTable(dir)) throw new TableAlreadyExistsException(ident)
    // the mirror of GraftViews.create's "views cannot shadow tables":
    // a pre-existing view file would silently shadow the new table on
    // every read (view inlining runs before table resolution), so the
    // name collision must fail the CREATE TABLE loudly
    if (Files.exists(Paths.get(dir + ".view")))
      throw new IllegalStateException(
        s"${ident.toString} is a graft VIEW; drop the view before " +
          "creating a table of the same name")
    Files.createDirectories(Paths.get(dir))
    // entries may be hidden partition TRANSFORMS — days(ts),
    // truncate(4,name) — so the split is paren-aware
    val clusterCols = Option(properties.get("clustercols"))
      .map(SnapshotTable.splitClusterSpecs).getOrElse(Nil)
    // TBLPROPERTIES('bucketcols'='id','buckets'='8') declares the
    // hash-bucket layout behind zero-shuffle storage-partitioned joins
    val bucketSpec = Option(properties.get("bucketcols")).map { c =>
      (c.trim, Option(properties.get("buckets")).map(_.trim.toInt)
        .getOrElse(throw new IllegalArgumentException(
          "bucketcols requires TBLPROPERTIES('buckets'='<n>')")))
    }
    // TBLPROPERTIES('delete.mode'/'update.mode'='merge-on-read') routes
    // SQL DELETE/UPDATE to the deletion-vector paths (SnapshotSql)
    SnapshotTable.createEmpty(dir, schema, clusterCols, bucketSpec,
      Option(properties.get("delete.mode")).map(_.trim),
      Option(properties.get("update.mode")).map(_.trim),
      Option(properties.get("merge.mode")).map(_.trim),
      // TBLPROPERTIES('check'='<predicate>') — enforced on every batch
      // write path (conjoin terms for multiple constraints)
      Option(properties.get("check")).map(_.trim),
      // TBLPROPERTIES('bloomcols'='c1,c2'[,'bloombits'='65536']) — per-
      // file bloom blobs for point-predicate file skipping on
      // non-cluster columns
      Option(properties.get("bloomcols"))
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(Nil),
      Option(properties.get("bloombits")).map(_.trim.toInt)
        .getOrElse(SnapshotTable.DEFAULT_BLOOM_BITS))
    load(ident, None)
  }

  /** Schema evolution + properties as metadata commits:
    * `ADD COLUMNS` (files null-fill), `RENAME COLUMN` / `DROP COLUMN`
    * (column mapping — physical names stay, logical names move;
    * [[SnapshotTable.renameColumn]]/[[SnapshotTable.dropColumn]]),
    * `ALTER COLUMN … TYPE` for safe widenings (int→long, float→double —
    * the parquet reader promotes old pages natively), and `SET
    * TBLPROPERTIES` (row-level modes / check). No data file is touched
    * by any of them. */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    val setProps = changes.collect { case s: TableChange.SetProperty => s }
    val renames = changes.collect { case r: TableChange.RenameColumn => r }
    val drops = changes.collect { case d: TableChange.DeleteColumn => d }
    val widens = changes.collect { case u: TableChange.UpdateColumnType => u }
    val defaults = changes.collect {
      case d: TableChange.UpdateColumnDefaultValue => d }
    require(adds.size + setProps.size + renames.size + drops.size +
      widens.size + defaults.size == changes.size,
      "graft ALTER TABLE supports ADD COLUMNS, RENAME COLUMN, DROP " +
        "COLUMN, ALTER COLUMN … TYPE (safe widenings) / SET|DROP " +
        "DEFAULT, and SET TBLPROPERTIES; " +
        s"got ${changes.map(_.getClass.getSimpleName).mkString(", ")}")
    // validate EVERY change before committing ANY: a mixed statement
    // whose later part fails after an earlier commit landed would leave
    // the single ALTER half-applied across two commits
    (adds.map(_.fieldNames) ++ renames.map(_.fieldNames) ++
      drops.map(_.fieldNames) ++ widens.map(_.fieldNames) ++
      defaults.map(_.fieldNames)).foreach(fn =>
      require(fn.length == 1,
        s"graft ALTER TABLE changes top-level columns, got nested " +
          fn.mkString(".")))
    // every kind's metadata validation runs against the CURRENT
    // manifest BEFORE the first commit (r11 ADVICE): a mixed statement
    // can no longer half-apply when a later kind fails its own checks
    SnapshotTable.validateAlter(
      org.apache.spark.sql.SparkSession.active, dir,
      adds.map(_.fieldNames.head),
      renames.map(r => r.fieldNames.head -> r.newName),
      drops.map(d => d.fieldNames.head -> d.ifExists()),
      widens.map(u => u.fieldNames.head -> u.newDataType),
      defaults.map(d => d.fieldNames.head ->
        Option(d.newCurrentDefault()).flatMap(x =>
          Option(x.getSql)).filter(_.nonEmpty)))
    // SET TBLPROPERTIES: one metadata commit updating the mutable
    // properties; a retroactive CHECK validates existing rows first
    if (setProps.nonEmpty)
      SnapshotTable.setProperties(
        org.apache.spark.sql.SparkSession.active, dir,
        setProps.map(p => p.property() -> p.value()).toMap)
    if (adds.nonEmpty)
      SnapshotTable.evolveSchema(dir, StructType(adds.map { a =>
        // `ADD COLUMNS (c INT DEFAULT e)`: both markers freeze to e —
        // EXISTS_DEFAULT fills pre-ADD files at read (natively, via the
        // schema metadata), CURRENT_DEFAULT materializes in future
        // writes that omit the column (SET DEFAULT moves only the
        // latter)
        val md = Option(a.defaultValue()).map { d =>
          val sqlTxt = Option(d.getSql).getOrElse(
            throw new IllegalArgumentException(
              s"default for ${a.fieldNames.head} must be a SQL " +
                "expression"))
          // EXISTS_DEFAULT is the FROZEN fill for pre-ADD rows:
          // evaluate the expression ONCE now and store the folded
          // literal's SQL (a raw current_date() would re-evaluate on
          // every read and drift); CURRENT_DEFAULT keeps the raw text
          // — ANSI re-evaluates it per omitting write
          val spark = org.apache.spark.sql.SparkSession.active
          val folded = spark.sql(
            s"SELECT CAST(($sqlTxt) AS ${a.dataType.sql})").head.get(0)
          val existsTxt = org.apache.spark.sql.catalyst.expressions
            .Literal.create(folded, a.dataType).sql
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString("CURRENT_DEFAULT", sqlTxt)
            .putString("EXISTS_DEFAULT", existsTxt).build()
        }.getOrElse(org.apache.spark.sql.types.Metadata.empty)
        StructField(a.fieldNames.head, a.dataType, nullable = true,
          metadata = md)
      }))
    renames.foreach(r =>
      SnapshotTable.renameColumn(dir, r.fieldNames.head, r.newName))
    drops.foreach { d =>
      // case-INSENSITIVE existence check, matching dropColumn's own
      // resolution (Spark SQL default) — a case-variant IF EXISTS must
      // drop the column, not silently no-op
      val exists = SnapshotTable.schemaOf(dir).fieldNames
        .exists(_.equalsIgnoreCase(d.fieldNames.head))
      if (exists || !d.ifExists())
        SnapshotTable.dropColumn(dir, d.fieldNames.head)
    }
    widens.foreach(u =>
      SnapshotTable.widenColumn(dir, u.fieldNames.head, u.newDataType))
    defaults.foreach { d =>
      // SET DEFAULT e / DROP DEFAULT (Spark renders the drop as an
      // empty/null new default)
      val sqlTxt = Option(d.newCurrentDefault()).flatMap(v =>
        Option(v.getSql)).filter(_.nonEmpty)
      SnapshotTable.setColumnDefault(
        org.apache.spark.sql.SparkSession.active, dir,
        d.fieldNames.head, sqlTxt)
    }
    load(ident, None)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = Paths.get(tableDir(ident))
    if (!isTable(dir.toString)) false
    else { deleteRec(dir); true }
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    val src = Paths.get(tableDir(from))
    if (!isTable(src.toString)) throw new NoSuchTableException(from)
    val dst = Paths.get(tableDir(to))
    if (isTable(dst.toString)) throw new TableAlreadyExistsException(to)
    Files.createDirectories(dst.getParent)
    Files.move(src, dst)
    ()
  }

  private def deleteRec(p: Path): Unit = {
    if (Files.isDirectory(p)) listAll(p).foreach(deleteRec)
    Files.deleteIfExists(p)
    ()
  }
  private def listAll(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  // ------------------------------------------------------- functions

  /** The one catalog function: `bucket(n, col)` — how Spark resolves a
    * bucketed scan's reported `KeyGroupedPartitioning(bucket(n, col))`
    * into a catalyst TransformExpression (storage-partitioned joins
    * compare the two sides' canonical function + numBuckets, and the
    * V2-bucketing shuffle path evaluates it to co-partition an unkeyed
    * side). Must agree with the WRITE layout: `repartition(n, col)`
    * places rows at pmod(murmur3(col), n), which is exactly what
    * [[GraftBucketFunction]] computes. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))

  override def loadFunction(ident: Identifier): functions.UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) new GraftBucketFunction
    else throw new NoSuchFunctionException(ident)

  override def functionExists(ident: Identifier): Boolean =
    ident.name().equalsIgnoreCase("bucket")

  // ------------------------------------------------------ namespaces

  override def listNamespaces(): Array[Array[String]] =
    listDirs(warehouse).filterNot(d => isTable(d.toString))
      .map(d => Array(d.getFileName.toString)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val nsDir = namespace.foldLeft(warehouse)(_ resolve _)
    if (namespace.nonEmpty && !Files.isDirectory(nsDir))
      throw new NoSuchNamespaceException(namespace)
    listDirs(nsDir).filterNot(d => isTable(d.toString))
      .map(d => namespace :+ d.getFileName.toString).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    Files.isDirectory(namespace.foldLeft(warehouse)(_ resolve _))

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    Files.createDirectories(namespace.foldLeft(warehouse)(_ resolve _))
    ()
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val nsDir = namespace.foldLeft(warehouse)(_ resolve _)
    if (!Files.isDirectory(nsDir)) false
    else {
      if (!cascade)
        require(listDirs(nsDir).isEmpty, s"namespace not empty: $nsDir")
      deleteRec(nsDir); true
    }
  }
}

/** The V2 `Table` a [[GraftCatalog]] serves: schema and file list come
  * from the (optionally version-pinned) manifest — pure driver metadata
  * — and the SCAN delegates to Spark's own parquet DSV2 table over
  * exactly the snapshot's files, so reads get the full native path
  * (column pruning, filter pushdown to row groups, vectorized reader,
  * whole-stage codegen) with zero custom reader code. Writes
  * intentionally do NOT go through a V2 WriteBuilder: the manifest
  * commit protocol (put-if-absent publish, rebase, epochs) is the
  * transaction boundary, and the DML rule / [[SnapshotSql]] route
  * INSERT/UPDATE/DELETE/MERGE onto [[SnapshotTable]]'s clustered
  * copy-on-write machinery instead.
  *
  * PINNED READS: the table resolves its [[SnapshotTable.Snapshot]] once,
  * when it is constructed (the catalog constructs it at load), and
  * `schema`, `properties()`, the deletion-vector and column-mapping
  * refusals, the scan's files, buckets, row count and CBO stats all
  * come from that one value. A frame analyzed from a catalog table
  * therefore answers from the version it was analyzed at, however many
  * commits land before its action runs; a new SQL statement or
  * `spark.table` call loads the table again and sees the latest commit.
  * `versionAsOf` is the version the caller asked for (None = latest at
  * load), which only decides whether the table takes writes. */
class SnapshotV2Table private[io] (fullName: String, val dir: String,
                                   val versionAsOf: Option[Int],
                                   val snapshot: SnapshotTable.Snapshot)
  extends Table with SupportsRead with SupportsWrite {

  def this(fullName: String, dir: String, versionAsOf: Option[Int]) =
    this(fullName, dir, versionAsOf, SnapshotTable.snapshot(dir, versionAsOf))

  override def name(): String = fullName

  override lazy val schema: StructType = snapshot.schema.getOrElse(
    throw new IllegalStateException(s"manifest v${snapshot.version} at " +
      s"$dir records no schema"))

  // Batch writes are V1-FALLBACK (V1_BATCH_WRITE): the insert arrives
  // as a driver-side DataFrame and maps 1:1 onto the manifest commit
  // protocol (SnapshotTable.append / overwrite with its rebase +
  // clustering/bucketing write laws) — this is what makes CTAS,
  // `df.writeTo(t).append()` and plain-session `INSERT INTO` work
  // natively. Where the SnapshotDmlRule / SnapshotSql routes are active
  // they still intercept INSERT first (same executors either way).
  // Streaming writes are the full V2 StreamingWrite with
  // executor-written files.
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE).asJava

  /** `df.writeStream.toTable` (exactly-once epoch appends with
    * executor-written files — [[SnapshotStreamingWrite]]) and the V1
    * batch fallback (append/overwrite through the manifest commit). */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(versionAsOf.isEmpty,
      s"cannot write to version-pinned snapshot $fullName")
    new WriteBuilder with SupportsTruncate {
      private var truncateRequested = false
      override def truncate(): WriteBuilder = {
        truncateRequested = true; this
      }
      override def build(): Write = new V1Write {
        override def toStreaming: StreamingWrite =
          new SnapshotStreamingWrite(dir, info.schema())
        override def toInsertableRelation: InsertableRelation =
          (data: DataFrame, overwrite: Boolean) => {
            if (truncateRequested || overwrite)
              SnapshotTable.overwrite(GraftSqlShims.activeClassic(), dir,
                data)
            else
              SnapshotTable.append(GraftSqlShims.activeClassic(), dir, data)
            ()
          }
      }
    }
  }

  override def properties(): util.Map[String, String] = {
    val layout =
      if (snapshot.statsCols.nonEmpty)
        // a transform-clustered table SHOWs its declared specs, not the
        // derived source-column list
        Map("clustercols" -> (snapshot.transforms match {
          case ts if ts.exists(!_.isIdentity) => ts.map(_.spec).mkString(",")
          case _ => snapshot.statsCols.mkString(",")
        }))
      else snapshot.bucketSpec match {
        case Some((c, n)) => Map("bucketcols" -> c, "buckets" -> n.toString)
        case None => Map.empty[String, String]
      }
    (Map("location" -> dir, "version" -> snapshot.version.toString,
      "provider" -> "graft-snapshot") ++ layout ++ snapshot.tableProps).asJava
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // a V2 scan is a raw file read: it cannot apply the merge-on-read
    // deletion-vector anti-join. On a GraftExtensions session the
    // SnapshotDvReadRule rewrites the relation into the DV-aware plan
    // BEFORE any scan is built; reaching this point with live DVs means
    // a plain session — refuse loudly rather than resurrect deleted
    // rows (compact()/OPTIMIZE materializes DVs away and restores plain
    // readability).
    if (snapshot.hasDeletionVectors)
      throw new UnsupportedOperationException(
        s"$fullName carries deletion vectors (merge-on-read DELETE/" +
          "UPDATE); read it on a GraftExtensions session (DV-aware " +
          "rewrite), via SnapshotTable.read, or OPTIMIZE/compact() first")
    // same law for COLUMN MAPPING: a raw file scan reads physical
    // names, so a renamed snapshot needs the logical projection — the
    // extensions rule rewrites it; a plain session refuses loudly
    if (snapshot.colmap.nonEmpty)
      throw new UnsupportedOperationException(
        s"$fullName has renamed columns (column mapping); read it on a " +
          "GraftExtensions session, via SnapshotTable.read, or " +
          "OPTIMIZE/compact() first to materialize the mapping")
    // planned from the manifest: one driver stat per file, no listing
    // job, and pushed-down filters skip files by their stats. The
    // ParquetScanBuilder SUBCLASS: full native pushdown inherited for
    // batch, plus toMicroBatchStream for `readStream.table(...)`, plus
    // KeyGroupedPartitioning on bucketed tables (zero-shuffle SPJ) and
    // the snapshot's row count and ANALYZE stats for the CBO.
    new GraftScanBuilder(dir, snapshot,
      SnapshotTable.manifestIndex(GraftSqlShims.activeClassic(), dir,
        snapshot, snapshot.files),
      options)
  }
}

/** The V2 catalog `bucket(numBuckets, col)` function — the SAME hash the
  * write layout uses: `df.repartition(n, col)` places each row in
  * partition index `pmod(murmur3(col), n)` (Spark's HashPartitioning,
  * seed 42), so a bound bucket(n, col) evaluated on a join key yields
  * exactly the file bucket that key's rows live in. Integral key types
  * only (the create-time contract); null keys hash to the seed, exactly
  * like Murmur3Hash over a null column. */
class GraftBucketFunction
  extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {

  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.hash.Murmur3_x86_32.{hashInt, hashLong}

  override def name(): String = "bucket"
  override def description(): String =
    "bucket(numBuckets, col): pmod(murmur3(col), numBuckets) — the " +
      "graft bucketed-table layout function"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket takes (numBuckets, col), got ${inputType.simpleString}")
    val keyType = inputType.fields(1).dataType
    keyType match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType => ()
      case dt => throw new UnsupportedOperationException(
        s"graft bucket() supports integral key columns, got $dt")
    }
    new ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] =
        Array(IntegerType, keyType)
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft.bucket"
      override def isResultNullable: Boolean = false
      override def produceResult(input: InternalRow): Integer = {
        val n = input.getInt(0)
        // Murmur3Hash semantics: byte/short/int hash as ints, longs as
        // longs, a NULL key leaves the hash at the seed (42)
        val h =
          if (input.isNullAt(1)) 42
          else keyType match {
            case _: LongType => hashLong(input.getLong(1), 42)
            case _: IntegerType => hashInt(input.getInt(1), 42)
            case _: ShortType => hashInt(input.getShort(1).toInt, 42)
            case _ => hashInt(input.getByte(1).toInt, 42)
          }
        ((h % n) + n) % n
      }
    }
  }
}
