package pystreamsspark.io

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.CharVarcharUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types._

/** A minimal SNAPSHOT-MANIFEST table layer over parquet — the ACID
  * piece (MERGE / time travel / snapshot-isolated compaction) that
  * LayoutQueries' q_upsert/q_scd2/q_compaction implement as bare
  * dataframe primitives, here made durable with versioned metadata.
  * Same public design space as the Delta/Iceberg logs (a table is an
  * ordered sequence of manifest files, each listing immutable data
  * files); this is an original, deliberately small implementation, not
  * a port of either.
  *
  * Layout:
  * {{{
  *   tableDir/_manifests/v%08d.manifest   // one per committed snapshot
  *   tableDir/data/<batch-uuid>/part-*.parquet
  * }}}
  *
  * Manifest = a text file: header line `op=<op>\tparent=<n>[\t…]`, then
  * a body. A FULL manifest's body is one data-file entry per line: a
  * RELATIVE path, optionally followed by a tab and per-file column
  * stats (`col=min,max` URL-encoded, `;`-joined) for the table's
  * cluster keys. A DELTA manifest (`delta=1` header — what every hot
  * write path publishes) lists only ACTIONS against its parent:
  * `-<path>` removes, `+<entry>` adds — so a 1-row append into a
  * million-file table commits O(bytes of change), never an O(#files)
  * rewrite; every CHECKPOINT_INTERVAL-th commit materializes a full
  * manifest so resolution walks a bounded chain (the public
  * Delta-log/Iceberg checkpoint design, original implementation), and
  * vacuum writes `.checkpoint` sidecars before dropping a surviving
  * delta's ancestors. Commit protocol = write all data files first —
  * straight to their final names in a fresh batch directory
  * ([[BatchWriter]]: no `_temporary`, no rename, no `_SUCCESS`), with
  * their stats computed by the write tasks — then put-if-absent the
  * next manifest: creation is the atomic publish point. A losing
  * concurrent committer gets [[ConcurrentCommitException]] and its
  * orphaned data files are reclaimed by [[vacuum]]; a crash before the manifest exists leaves
  * the table state untouched (the RegistrySink abort discipline, at the
  * table level). The arbitration holds ACROSS PROCESSES, not just
  * threads (CrossProcessCommitSpec forks a second JVM racing real
  * commits) — with the honest caveat every put-if-absent log shares:
  * atomicity is the shared filesystem's POSIX hard-link create; an object
  * store deployment must swap the publish for a conditional-put /
  * if-none-match (or a lightweight commit coordinator), exactly as
  * Delta-on-S3 does.
  *
  * Why this scales:
  *  - manifests list FILES, not rows — O(#files) driver metadata, all
  *    row work distributed;
  *  - [[merge]] is file-granular COPY-ON-WRITE: manifest-recorded
  *    per-file min/max stats of the cluster keys prune the candidate
  *    set FIRST (a narrow-key merge into a clustered table reads only
  *    the covering files, not the whole table), then one distributed
  *    semi-join over the surviving candidates finds the files that
  *    actually contain matched keys; only those are rewritten and
  *    untouched files are carried by reference;
  *  - time travel ([[read]] with `versionAsOf`) is manifest selection —
  *    data files are immutable, so old snapshots stay readable until
  *    [[vacuum]] drops the versions that reference them;
  *  - [[compact]] rewrites small files into `target` larger ones under
  *    a NEW snapshot: concurrent readers of older versions never see a
  *    half-compacted state;
  *  - SCHEMA EVOLUTION is a manifest property: each manifest records
  *    the table schema (Spark schema JSON), so adding a column is pure
  *    metadata — pre-evolution files are never rewritten and null-fill
  *    through the recorded schema at read time, and snapshot reads are
  *    O(1) metadata (no per-file footer merge);
  *  - [[appendEpoch]] makes a `foreachBatch` streaming sink
  *    EXACTLY-ONCE: commits are idempotent per epoch id. The set of
  *    committed epochs is carried FORWARD in every manifest header as a
  *    compressed range-set (`epochs=0-41,57`), so [[vacuum]] deleting
  *    old manifests can never un-commit an epoch, and the idempotency
  *    check is O(1) metadata on the latest manifest rather than a scan
  *    of every historical manifest (monotonic streaming epochs collapse
  *    to a single range, so the header stays O(1) bytes too).
  */
object SnapshotTable {

  final class ConcurrentCommitException(v: Int)
    extends RuntimeException(s"version $v was committed concurrently")

  /** The injectable atomic-publish primitive (see [[CommitStore]]).
    * Production default is the filesystem put-if-absent; specs inject
    * contended/flaky implementations to drive the rebase laws through
    * forced losses and delayed visibility. Volatile: a test swap must
    * be seen by Spark task/driver threads immediately. */
  @volatile private[pystreamsspark] var commitStore: CommitStore =
    LocalCommitStore

  private def manifestDir(dir: String): Path = Paths.get(dir, "_manifests")
  private def manifestPath(dir: String, v: Int): Path =
    manifestDir(dir).resolve(f"v$v%08d.manifest")

  /** Files.list holds a directory fd until closed — materialize the
    * listing under try/finally so frequent commits/vacuums in a
    * long-lived driver cannot exhaust file descriptors. */
  private def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** The versions that ACTUALLY exist on disk, ascending. Vacuum
    * deletes old manifests, so the committed range is NOT contiguous
    * from 1 — anything iterating versions must start from this, never
    * from `1 to latest`. */
  def existingVersions(dir: String): Seq[Int] = {
    val md = manifestDir(dir)
    if (!Files.isDirectory(md)) Seq.empty
    else listDir(md)
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".manifest") =>
        s.stripPrefix("v").stripSuffix(".manifest").toInt }
      .sorted
  }

  /** Highest committed version, 0 if the table does not exist yet. */
  def latestVersion(dir: String): Int =
    existingVersions(dir).lastOption.getOrElse(0)

  /** TIMESTAMP AS OF resolution: the latest existing version whose
    * commit time is <= `tsMillis` — pure driver metadata (header reads
    * over the surviving manifests). None when every surviving commit is
    * newer than the asked time. Manifests without a `ts` header
    * (pre-round-10 tables) resolve as epoch 0: always eligible, so old
    * tables keep time-traveling rather than erroring. */
  def versionAt(dir: String, tsMillis: Long): Option[Int] =
    existingVersions(dir).reverseIterator.find { v =>
      readHeaderMap(dir, v).get("ts").map(_.toLong).getOrElse(0L) <=
        tsMillis
    }

  /** One manifest data-file line: RELATIVE path plus optional per-file
    * min/max stats for the table's cluster keys (both rendered as
    * strings; typed comparison happens at prune time against the
    * manifest schema), plus an optional DELETION-VECTOR reference — the
    * merge-on-read path: `dv` names the relative directory of a parquet
    * (file, pos) set whose positions are dropped from this file at read
    * time, so a point DELETE is O(batch) metadata + DV write instead of
    * a covering-file rewrite (see [[SnapshotTable.deleteVectors]]).
    * Serialized as up to three tab-separated fields
    * (`path[\tstats[\tdv=relpath]]`, stats possibly empty) — manifests
    * written before DVs existed parse unchanged. Values are URL-encoded
    * so arbitrary string keys cannot corrupt the tab/`;`/`,` framing. */
  private[io] case class FileEntry(path: String,
                                   stats: Map[String, (String, String)],
                                   dv: Option[String] = None,
                                   bucket: Option[Int] = None,
                                   rows: Option[Long] = None,
                                   bloom: Map[String, String] = Map.empty,
                                   bloomRef: Option[String] = None) {
    def serialize: String = {
      val statsStr = stats.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
        s"$c=${FileEntry.enc(lo)},${FileEntry.enc(hi)}"
      }.mkString(";")
      // positional: field 2 is always the (possibly empty) stats string
      // when ANY tagged field follows; fields 3+ are `key=value` tagged
      // (dv=…, bucket=…, rows=…, bloom=…, bloomref=…) so older and
      // newer readers agree on framing. `bloom=` (inline blobs) is the
      // legacy form still parsed; writers now record `bloomref=` — the
      // relative path of the batch’s SIDECAR blob file — so manifests
      // stay O(bytes-per-file) however many bloom columns are declared.
      val bloomStr =
        if (bloom.isEmpty) None
        else Some("bloom=" + bloom.toSeq.sortBy(_._1).map { case (c, b64) =>
          s"${FileEntry.enc(c)}:$b64" }.mkString(";"))
      val tagged = dv.map(d => s"dv=$d").toSeq ++
        bucket.map(b => s"bucket=$b").toSeq ++
        rows.map(r => s"rows=$r").toSeq ++ bloomStr.toSeq ++
        bloomRef.map(r => s"bloomref=$r").toSeq
      if (tagged.nonEmpty) (Seq(path, statsStr) ++ tagged).mkString("\t")
      else if (stats.nonEmpty) s"$path\t$statsStr"
      else path
    }
  }

  private[io] object FileEntry {
    def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
    def dec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")
    private def parseStats(statsStr: String): Map[String, (String, String)] =
      statsStr.split(";").iterator.filter(_.nonEmpty).map { kv =>
        val Array(c, range) = kv.split("=", 2)
        val Array(lo, hi) = range.split(",", 2)
        c -> (dec(lo), dec(hi))
      }.toMap
    private def parseBloom(s: String): Map[String, String] =
      s.split(";").iterator.filter(_.nonEmpty).map { kv =>
        val Array(c, b64) = kv.split(":", 2)
        dec(c) -> b64
      }.toMap
    def parse(line: String): FileEntry = line.split("\t") match {
      case Array(p)           => FileEntry(p, Map.empty)
      case Array(p, statsStr) => FileEntry(p, parseStats(statsStr))
      case parts if parts.length >= 3 =>
        val tagged = parts.drop(2).map { f =>
          val Array(k, v) = f.split("=", 2); k -> v
        }.toMap
        FileEntry(parts(0), parseStats(parts(1)),
          tagged.get("dv"), tagged.get("bucket").map(_.toInt),
          tagged.get("rows").map(_.toLong),
          tagged.get("bloom").map(parseBloom).getOrElse(Map.empty),
          tagged.get("bloomref"))
      case other => throw new IllegalStateException(
        s"malformed manifest line: ${other.mkString("\\t")}")
    }
  }

  /** ONE RESOLVED VERSION of a table: its manifest header (schema,
    * column mapping, stats columns, layout, modes, ANALYZE stats) and
    * its live files with their stats, buckets and deletion vectors — an
    * immutable value. Every table fact an operation uses comes from the
    * one `Snapshot` it resolved ([[SnapshotTable.snapshot]]), so no
    * reader can mix facts of two versions: a catalog table answers its
    * schema, properties, refusals, scan files and CBO stats from the
    * snapshot it was loaded at, and a writer shapes, maps, checks and
    * commits its batch against the manifest it commits on (the design
    * of Delta Lake's `Snapshot`; Armbrust et al., VLDB 2020). Values are
    * shared through the JVM-wide manifest cache, so they are never
    * mutated. */
  final case class Snapshot(version: Int, op: String, parent: Int,
                            files: Seq[FileEntry],
                            header: Map[String, String]) {
    def paths: Seq[String] = files.map(_.path)
    // lazy: the schema JSON parses at most once per manifest read, not
    // once per accessor call on the hot driver-metadata paths
    lazy val schema: Option[StructType] =
      header.get("schema").map(j =>
        DataType.fromJson(j).asInstanceOf[StructType])
    def statsCols: Seq[String] =
      header.get("statscols").map(_.split(",").toSeq.filter(_.nonEmpty))
        .getOrElse(Nil)
    /** Hash-bucket layout declared at create time: (column, numBuckets).
      * Every data file of a bucketed table is bucket-PURE and carries
      * its bucket id — what storage-partitioned joins group on. */
    def bucketSpec: Option[(String, Int)] = for {
      c <- header.get("bucketcols"); n <- header.get("buckets")
    } yield (c, n.toInt)
    /** COLUMN MAPPING (the field-id idea by stable PHYSICAL names —
      * public design of Delta column mapping / Iceberg field ids,
      * original implementation): logical → physical column-name pairs,
      * NON-IDENTITY entries only. A column's physical name is fixed at
      * birth and is what every data file stores; `ALTER TABLE … RENAME
      * COLUMN` changes only the logical name (one metadata commit) and
      * old + new files alike read through the mapping. Empty map =
      * never renamed = files are readable by name directly. */
    def colmap: Map[String, String] =
      header.get("colmap").map(_.split(";").iterator.filter(_.nonEmpty)
        .map { kv =>
          val Array(l, p) = kv.split("=", 2)
          FileEntry.dec(l) -> FileEntry.dec(p)
        }.toMap).getOrElse(Map.empty)
    /** Physical names RETIRED by `DROP COLUMN`: still present in old
      * data files, so a later ADD COLUMNS of the same logical name must
      * bind to a FRESH physical name — otherwise the dropped column's
      * stale values would resurrect into the new column. */
    def retired: Set[String] =
      header.get("retired").map(_.split(";").iterator.filter(_.nonEmpty)
        .map(FileEntry.dec).toSet).getOrElse(Set.empty)
    /** Columns with PER-FILE BLOOM FILTERS recorded in the manifest —
      * point-predicate file skipping for NON-cluster columns, where
      * min/max stats cannot help (a round-robin or foreign-key column
      * spans every file's full range). */
    def bloomCols: Seq[String] =
      header.get("bloomcols").map(_.split(",").toSeq.filter(_.nonEmpty))
        .getOrElse(Nil)
    /** Bloom size in BITS (power of two); fixed per table so every
      * file's blob is comparable. */
    def bloomBits: Int =
      header.get("bloombits").map(_.toInt).getOrElse(DEFAULT_BLOOM_BITS)
    /** Headers every child commit must carry forward so vacuum cannot
      * destroy them: the committed-epoch range-set, the cluster-key
      * stats column list, the stats-format marker, and the bucket
      * layout. */
    def carried: Seq[(String, String)] =
      (header.get("epochs").map("epochs" -> _) ++
        header.get("statscols").map("statscols" -> _) ++
        header.get("statsfmt").map("statsfmt" -> _) ++
        header.get("transforms").map("transforms" -> _) ++
        header.get("bucketcols").map("bucketcols" -> _) ++
        header.get("buckets").map("buckets" -> _) ++
        header.get("deletemode").map("deletemode" -> _) ++
        header.get("updatemode").map("updatemode" -> _) ++
        header.get("mergemode").map("mergemode" -> _) ++
        header.get("copyledger").map("copyledger" -> _) ++
        header.get("check").map("check" -> _) ++
        header.get("colmap").map("colmap" -> _) ++
        header.get("retired").map("retired" -> _) ++
        header.get("bloomcols").map("bloomcols" -> _) ++
        header.get("bloombits").map("bloombits" -> _) ++
        header.get("colstats").map("colstats" -> _) ++
        header.get("colhist").map("colhist" -> _) ++
        header.get("analyzedv").map("analyzedv" -> _)).toSeq
    /** Distance (in commits) to the nearest FULL manifest along the
      * parent chain — 0 for a full manifest, n for the n-th delta in a
      * row. What [[SnapshotTable.commitDelta]] bounds by
      * [[SnapshotTable.CHECKPOINT_INTERVAL]], so delta-chain resolution
      * is O(interval) small reads, never O(#versions). */
    def ckdist: Int = header.get("ckdist").map(_.toInt).getOrElse(0)
    /** Timestamp stats are epoch-micros only under the `micros-v2`
      * marker; a clustered table written before the marker existed has
      * session-local string renderings that must never be compared
      * numerically — see [[SnapshotTable.pruneWhere]]. */
    def tsStatsAreMicros: Boolean = header.get("statsfmt").contains(STATS_FMT)
    /** The mutable table properties under their TBLPROPERTIES names
      * (row-level modes, CHECK, bloom columns) — the SHOW TBLPROPERTIES
      * surface. */
    def tableProps: Map[String, String] =
      (header.get("deletemode").map("delete.mode" -> _) ++
        header.get("updatemode").map("update.mode" -> _) ++
        header.get("mergemode").map("merge.mode" -> _) ++
        header.get("check").map(c => "check" -> FileEntry.dec(c)) ++
        header.get("bloomcols").map("bloomcols" -> _) ++
        header.get("bloombits").map("bloombits" -> _)).toMap
    /** The declared cluster transforms (identity entries for a plain
      * clustered table). */
    private[io] def transforms: Seq[ClusterTransform] =
      header.get("transforms")
        .map(t => splitClusterSpecs(t).map(parseClusterSpec)).getOrElse(Nil)
    /** True when any live file carries a deletion vector — the state the
      * V2 catalog scan cannot serve (a V2 scan is a file read; the DV
      * anti-join needs a plan). */
    def hasDeletionVectors: Boolean = files.exists(_.dv.isDefined)
    /** relative path → bucket id of every file that carries one — what
      * the storage-partitioned scan groups files by. */
    def fileBuckets: Map[String, Int] =
      files.flatMap(f => f.bucket.map(f.path -> _)).toMap
    /** EXACT row count — the sum of the per-file row counts, when every
      * entry carries one (tables written before the `rows=` tag existed
      * have unknown entries) and no deletion vector is live (a DV hides
      * rows the files still hold); None = unknown. */
    def rowCount: Option[Long] =
      if (files.exists(f => f.dv.isDefined || f.rows.isEmpty)) None
      else Some(files.flatMap(_.rows).sum)
    /** The recorded ANALYZE column statistics (empty when never
      * analyzed); [[analyzedVersion]] is the version they describe. */
    lazy val columnStats: Map[String, ColumnStats] =
      header.get("colstats").map(_.split(";").iterator
        .filter(_.nonEmpty).map { e =>
          val Array(c, rest) = e.split(":", 2)
          val p = rest.split(",", 6)
          def opt(s: String) = if (s.isEmpty) None else Some(FileEntry.dec(s))
          def optL(s: String) = { val x = s.toLong; if (x < 0) None else Some(x) }
          FileEntry.dec(c) -> ColumnStats(p(0).toLong, p(1).toLong,
            opt(p(2)), opt(p(3)), optL(p(4)), optL(p(5)))
        }.toMap).getOrElse(Map.empty)
    def analyzedVersion: Option[Int] = header.get("analyzedv").map(_.toInt)
    /** The recorded equi-height histograms (empty when never analyzed
      * or no ordered columns). */
    lazy val columnHist: Map[String, ColHist] =
      header.get("colhist").map(_.split(";").iterator
        .filter(_.nonEmpty).map { e =>
          val Array(c, rest) = e.split(":", 2)
          val Array(h, bs, ns) = rest.split("\\|", 3)
          FileEntry.dec(c) -> ColHist(h.toDouble,
            bs.split(",").toSeq.map(_.toDouble),
            ns.split(",").toSeq.map(_.toLong))
        }.toMap).getOrElse(Map.empty)
    /** The DESCRIBE DETAIL row after its location: (version, n_files,
      * n_dv_files, clustercols, bucketcols, buckets, epochs, n_rows). */
    def detail: Seq[Any] =
      Seq(version, files.size, files.count(_.dv.isDefined),
        if (statsCols.isEmpty) null else statsCols.mkString(","),
        bucketSpec.map(_._1).orNull,
        bucketSpec.map(b => Int.box(b._2)).orNull,
        header.get("epochs").orNull,
        rowCount.map(Long.box).orNull)
  }

  /** Stats-format version recorded in every manifest that carries
    * cluster stats. `micros-v2` = TimestampType min/max rendered as
    * epoch-micros strings (timezone/DST-proof). Tables whose manifests
    * LACK the marker (written by the pre-round-9 code, which rendered
    * timestamps as session-local strings) are detected explicitly:
    * their timestamp stats never prune (conservative-correct) instead
    * of silently hitting the NumberFormatException fallback, and a
    * one-time [[compact]] under the new code rewrites the stats and
    * regains pruning. */
  private[io] val STATS_FMT = "micros-v2"

  /** A delta chain longer than this materializes a FULL manifest at
    * commit time (the Delta-log/Iceberg checkpoint idea, original
    * implementation): commits are O(changed files) — `+entry`/`-path`
    * action lines against the parent — and every INTERVAL-th commit
    * pays the O(#live files) serialization ONCE, so resolution walks a
    * bounded chain and amortized commit cost is O(delta + #files/16). */
  private[io] val CHECKPOINT_INTERVAL = 16

  /** Checkpoint SIDECAR of version v: the fully-resolved file list in
    * the full-manifest format, written by [[vacuumKeep]] when deleting
    * ancestor manifests would break a surviving delta’s chain (and
    * idempotently re-writable — content is deterministic from the
    * immutable manifests). Preferred by resolution when present. */
  private def checkpointPath(dir: String, v: Int): Path =
    manifestDir(dir).resolve(f"v$v%08d.checkpoint")

  /** Manifest PROTOCOL version this binary can read. v1 = full file
    * lists; v2 = delta action lines (`delta=1`, `+entry`/`-path`
    * bodies). Delta manifests carry a BARE `graft-reader-2` token (no
    * `=`) as their first header field: a pre-delta binary's header
    * parser destructures every field as `k=v` and fails LOUDLY
    * (MatchError) on the bare token instead of silently parsing action
    * lines as literal paths — the Delta/Iceberg reader-version idea,
    * where an old-binary vacuum must crash, never treat live data files
    * as unreferenced and delete them. Readers at this version gate on
    * the declared number and refuse future formats with an explicit
    * upgrade message. Full manifests and checkpoints stay v1 (readable
    * by every binary ever shipped). */
  private[io] val READER_VERSION = 2
  private val ReaderToken = "graft-reader-(\\d+)".r

  /** Split one manifest header line into its kv map, enforcing the
    * reader-version gate: bare `graft-reader-N` tokens are protocol
    * declarations, not header fields. */
  private def parseHeaderLine(line: String): Map[String, String] =
    line.split("\t").flatMap {
      case ReaderToken(n) =>
        if (n.toInt > READER_VERSION) throw new IllegalStateException(
          s"manifest requires reader version $n; this binary supports " +
            s"$READER_VERSION — upgrade before reading (or vacuuming) " +
            "this table")
        None
      case kv =>
        val Array(k, value) = kv.split("=", 2); Some(k -> value)
    }.toMap

  /** Parse one manifest file’s lines. For a FULL manifest the body
    * lines are entries; for a DELTA (`delta=1` header) they are
    * `+<entry>` adds / `-<path>` removes against the parent version.
    * Returns (manifest-with-adds-as-files, isDelta, removes). */
  private def parseManifest(lines: Seq[String],
                            v: Int): (Snapshot, Boolean, Seq[String]) = {
    val header = parseHeaderLine(lines.head)
    val body = lines.tail.filter(_.nonEmpty)
    if (!header.get("delta").contains("1"))
      (Snapshot(v, header("op"), header("parent").toInt,
        body.map(FileEntry.parse), header), false, Nil)
    else
      (Snapshot(v, header("op"), header("parent").toInt,
        body.filter(_.startsWith("+")).map(l => FileEntry.parse(l.tail)),
        header),
        true, body.filter(_.startsWith("-")).map(_.tail))
  }

  /** JVM-wide RESOLVED-manifest cache. Manifests are immutable once
    * put-if-absent-published, so caching by path is safe across tables,
    * sessions and the rebase retry loops; entries validate against the
    * file’s (mtime, size) so an out-of-band rewrite (test fixtures
    * doctoring a manifest in place) is still observed. Bounded LRU —
    * memory is O(entries × #files), so keep it small; a miss costs at
    * most CHECKPOINT_INTERVAL small reads. */
  private val manifestCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[
        String, (java.nio.file.attribute.FileTime, Long, Snapshot)](
        64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[
            String, (java.nio.file.attribute.FileTime, Long, Snapshot)])
          : Boolean = size > 48
    })

  private def readManifest(dir: String, v: Int): Snapshot = {
    val mp = manifestPath(dir, v)
    val key = mp.toAbsolutePath.toString
    val attrs = Files.readAttributes(mp,
      classOf[java.nio.file.attribute.BasicFileAttributes])
    val hit = manifestCache.get(key)
    if (hit != null && hit._1 == attrs.lastModifiedTime &&
      hit._2 == attrs.size) return hit._3
    val lines = Files.readAllLines(mp, StandardCharsets.UTF_8).asScala.toSeq
    val (raw, isDelta, removes) = parseManifest(lines, v)
    val resolved =
      if (!isDelta) raw
      else if (Files.exists(checkpointPath(dir, v)))
        // vacuum materialized this version (its ancestors may be gone)
        parseManifest(Files.readAllLines(checkpointPath(dir, v),
          StandardCharsets.UTF_8).asScala.toSeq, v)._1
      else {
        // removes apply first, then adds — so a re-added path (a DV
        // re-point rewrites the entry in place) takes the NEW entry
        val parent = readManifest(dir, raw.parent)
        val removed = removes.toSet
        raw.copy(files =
          parent.files.filterNot(f => removed(f.path)) ++ raw.files)
      }
    manifestCache.put(key, (attrs.lastModifiedTime, attrs.size, resolved))
    resolved
  }

  /** Header map of one manifest WITHOUT resolving its delta chain —
    * the vacuum chain-walk helper (one first-line read). */
  private def readHeaderMap(dir: String, v: Int): Map[String, String] = {
    val r = Files.newBufferedReader(manifestPath(dir, v),
      StandardCharsets.UTF_8)
    val first = try r.readLine() finally r.close()
    parseHeaderLine(first)
  }

  /** Idempotently materialize version v’s resolved state as a
    * checkpoint sidecar (full-manifest format, `delta`/`ckdist` headers
    * stripped). Racing writers produce identical bytes by construction
    * — resolution over immutable manifests is deterministic — so
    * losing the put-if-absent is a no-op. */
  private def writeCheckpoint(dir: String, v: Int): Unit = {
    val m = readManifest(dir, v)
    val header = ((m.header - "delta" - "ckdist").toSeq.sortBy(_._1))
      .map { case (k, value) => s"$k=$value" }.mkString("\t")
    val lines = m.files.map(_.serialize)
    val body = (header +: lines).mkString("\n")
    // a lost race means another writer published the same bytes
    LocalCommitStore.putIfAbsent(checkpointPath(dir, v),
      body.getBytes(StandardCharsets.UTF_8))
    writeCkIndexFor(dir, v, header, m.files, lines, m.header)
  }

  // ---------------------------------------------------------------------
  // TWO-TIER READ-SIDE FILE PRUNING (round 13 — the public Iceberg
  // manifest-list idea re-expressed for this single-file log, original
  // implementation). Before this, every bounded read resolved the
  // manifest chain into a full in-driver Seq[FileEntry] and scanned it:
  // O(#files) driver heap and CPU per cold query — GBs at 10^6 files.
  // Now each ANCHOR manifest (a full manifest or a checkpoint sidecar)
  // gets a `.ckindex` SIDECAR: the anchor's entry region split into
  // SEGMENT_SIZE-line segments, each recorded as an absolute byte range
  // plus the enclosing per-cluster-column [min,max] box. A point/range
  // read parses the index (O(#files / SEGMENT_SIZE) tiny lines), picks
  // the overlapping segments, and byte-range-reads ONLY those — on an
  // object store these are ranged GETs — then applies the delta chain
  // (O(delta) lines) on top. Driver cost per read drops from O(#files)
  // to O(overlapping entries + chain delta + #segments). The index is
  // deterministic from the immutable anchor, so it is built EAGERLY at
  // commit/checkpoint time (the entries are already in memory) and
  // LAZILY on first read of a pre-round-13 table, put-if-absent idempotent
  // either way; a size-mismatched or unparseable sidecar falls back to
  // the full parse (conservative-correct, never wrong).
  // ---------------------------------------------------------------------

  /** Entries per indexed segment. Smaller = finer segment pruning but a
    * longer index; 64 keeps the index at ~1.6% of the manifest's lines
    * while a clustered point read lands in 1-2 segments. */
  private[pystreamsspark] val SEGMENT_SIZE = 64

  private def ckindexPath(dir: String, v: Int): Path =
    manifestDir(dir).resolve(f"v$v%08d.ckindex")

  /** Entries parsed by the LAST bounded-candidate resolution on this
    * JVM — the observable the two-tier Stress probe and specs assert
    * (wall clock alone cannot separate manifest-parse cost from Spark
    * overhead). -1 until the first bounded read. */
  private[pystreamsspark] val lastPruneParsed =
    new java.util.concurrent.atomic.AtomicLong(-1)

  /** One segment of an anchor's entry region: absolute byte range
    * [off, off+len) in the anchor file, entry count, and the enclosing
    * per-column [min,max] box. A column ABSENT from the box is
    * unbounded for this segment (some entry lacked stats or the values
    * resisted typed comparison) — the segment always survives requests
    * on it. */
  private case class SegmentRef(off: Long, len: Long, n: Int,
                                box: Map[String, (String, String)])

  private case class CkIndex(anchorSize: Long, segs: Seq[SegmentRef])

  /** Group pre-serialized entry lines (with their absolute byte
    * offsets) into [[SEGMENT_SIZE]] chunks and compute each chunk's
    * enclosing box. Shared by the eager (commit-time) and lazy
    * (first-read) index builders.
    *
    * Each entry's stat rendering is parsed to its TYPED key exactly
    * once (r13 verdict #6): the old fold called [[statLess]] — a fresh
    * `BigDecimal` parse of BOTH operands — twice per entry, re-parsing
    * the running lo/hi rendering O(SEGMENT_SIZE) times per chunk. The
    * fold compares [[statKey]]s, the order every pruning tier shares. */
  private def segmentize(entries: Seq[(Long, Long, FileEntry)],
                         schema: Option[StructType],
                         statsCols: Seq[String]): Seq[SegmentRef] = {
    val dts: Seq[(String, DataType)] = schema.map(s => statsCols.flatMap(c =>
      s.fields.find(_.name == c).map(f => c -> f.dataType))).getOrElse(Nil)
    def lt(a: AnyRef, b: AnyRef): Boolean = statCompare(a, b).exists(_ < 0)
    entries.grouped(SEGMENT_SIZE).map { chunk =>
      val off = chunk.head._1
      val len = chunk.last._1 + chunk.last._2 - off
      val box = dts.flatMap { case (c, dt) =>
        var lo: String = null; var hi: String = null
        var loK: AnyRef = null; var hiK: AnyRef = null
        var ok = true
        chunk.foreach { case (_, _, e) =>
          if (ok) e.stats.get(c) match {
            case Some((l, h)) =>
              // null key = resists comparison: the segment stays unbounded
              val lK = statKey(dt, l)
              val hK = statKey(dt, h)
              if (lK == null || hK == null) ok = false
              else if (lo == null) { lo = l; hi = h; loK = lK; hiK = hK }
              else {
                if (lt(lK, loK)) { lo = l; loK = lK }
                if (lt(hiK, hK)) { hi = h; hiK = hK }
              }
            case None => ok = false
          }
        }
        if (ok && lo != null) Some(c -> (lo, hi)) else None
      }.toMap
      SegmentRef(off, len, chunk.size, box)
    }.toSeq
  }

  /** Persist an index sidecar — put-if-absent idempotent: content is
    * deterministic from the immutable anchor, so a racing/extant write
    * is a no-op. */
  private def writeCkIndexFile(p: Path, idx: CkIndex): Unit = {
    val hdrLine = s"graft-ckindex-1\tasize=${idx.anchorSize}\t" +
      s"nsegs=${idx.segs.size}"
    val body = (hdrLine +:
      idx.segs.map { s =>
        val box =
          if (s.box.isEmpty) "-"
          else s.box.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
            s"${FileEntry.enc(c)}=${FileEntry.enc(lo)},${FileEntry.enc(hi)}"
          }.mkString(";")
        s"${s.off}\t${s.len}\t${s.n}\t$box"
      }).mkString("\n")
    LocalCommitStore.putIfAbsent(p, body.getBytes(StandardCharsets.UTF_8))
    ()
  }

  /** None on any malformation — the caller rebuilds from the anchor. */
  private def parseCkIndexFile(p: Path): Option[CkIndex] =
    try {
      val lines = Files.readAllLines(p, StandardCharsets.UTF_8)
        .asScala.toSeq
      val hdr = lines.head.split("\t")
      if (hdr.isEmpty || hdr(0) != "graft-ckindex-1") return None
      val kv = hdr.tail.map { s =>
        val Array(k, v) = s.split("=", 2); k -> v }.toMap
      val segs = lines.tail.filter(_.nonEmpty).map { l =>
        val parts = l.split("\t", 4)
        val box =
          if (parts(3) == "-") Map.empty[String, (String, String)]
          else parts(3).split(";").iterator.filter(_.nonEmpty).map { e =>
            val Array(c, r) = e.split("=", 2)
            val Array(lo, hi) = r.split(",", 2)
            FileEntry.dec(c) -> ((FileEntry.dec(lo), FileEntry.dec(hi)))
          }.toMap
        SegmentRef(parts(0).toLong, parts(1).toLong, parts(2).toInt, box)
      }
      val asize = kv("asize").toLong
      // STRUCTURAL VALIDATION (r13 advice): a sidecar truncated at a
      // line boundary (crash mid-write, or the delete+rewrite heal
      // window) parses line-by-line, and asize describes the ANCHOR,
      // not the sidecar — so without these checks a partial index would
      // silently prune over only the surviving segments and bounded
      // reads would MISS rows. Reject unless (a) the declared segment
      // count matches the lines read and (b) the segments tile the
      // anchor's entry region: contiguous byte ranges (one '\n' between
      // entries) ending at asize (anchors carry no trailing newline;
      // tolerate one for foreign-written files).
      if (segs.size != kv("nsegs").toInt) return None
      val contiguous = segs.zip(segs.drop(1)).forall { case (a, b) =>
        b.off == a.off + a.len + 1 }
      val endsAtAnchor = segs.isEmpty || {
        val end = segs.last.off + segs.last.len
        end == asize || end + 1 == asize
      }
      if (!contiguous || !endsAtAnchor || segs.exists(s => s.off <= 0 || s.len <= 0))
        return None
      Some(CkIndex(asize, segs))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Lazy index build: one full parse of the anchor (the cost every
    * read used to pay), tracking byte offsets so segments can be
    * byte-range-read later. Entry lines are pure ASCII (paths,
    * URL-encoded stats, base64 blobs), so char offsets == byte
    * offsets within the entry region. */
  private def buildCkIndexFromFile(anchor: Path): CkIndex = {
    val bytes = Files.readAllBytes(anchor)
    var e0 = 0
    while (e0 < bytes.length && bytes(e0) != '\n') e0 += 1
    val hdrMap = parseHeaderLine(
      new String(bytes, 0, e0, StandardCharsets.UTF_8))
    val hm = Snapshot(0, "", 0, Nil, hdrMap)
    val entries =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, FileEntry)]
    var start = e0 + 1
    var p = start
    while (p <= bytes.length) {
      if (p == bytes.length || bytes(p) == '\n') {
        if (p > start) {
          val line = new String(bytes, start, p - start,
            StandardCharsets.UTF_8)
          entries += ((start.toLong, (p - start).toLong,
            FileEntry.parse(line)))
        }
        start = p + 1
      }
      p += 1
    }
    CkIndex(bytes.length.toLong,
      segmentize(entries.toSeq, hm.schema, hm.statsCols))
  }

  /** Build + persist the index for a just-written anchor whose entries
    * and header are still in memory — the eager path, near-free at
    * commit time. `headerLine` is the anchor's first line exactly as
    * written (offset arithmetic needs its byte length) and `lines` the
    * already-serialized entry lines, in order — passed through so a
    * 10^6-entry commit never serializes the list a second time just to
    * measure lengths (r13 review fix). */
  private def writeCkIndexFor(dir: String, v: Int, headerLine: String,
                              files: Seq[FileEntry], lines: Seq[String],
                              header: Map[String, String]): Unit =
    if (files.size > SEGMENT_SIZE) {
      val hm = Snapshot(v, "", 0, Nil, header)
      var off = headerLine.getBytes(StandardCharsets.UTF_8).length.toLong + 1
      val entries = files.zip(lines).map { case (f, line) =>
        val len = line.getBytes(StandardCharsets.UTF_8).length.toLong
        val t = (off, len, f)
        off += len + 1
        t
      }
      // off overshoots the (absent) trailing newline by 1
      writeCkIndexFile(ckindexPath(dir, v),
        CkIndex(off - 1, segmentize(entries, hm.schema, hm.statsCols)))
    }

  /** JVM-wide index cache, keyed by anchor path and validated against
    * the anchor's (mtime, size) — anchors are immutable once published,
    * but test fixtures doctor them in place and must be observed. */
  private val ckindexCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[
        String, (java.nio.file.attribute.FileTime, Long, CkIndex)](
        32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[
            String, (java.nio.file.attribute.FileTime, Long, CkIndex)])
          : Boolean = size > 24
    })

  private def loadCkIndex(dir: String, v: Int, anchor: Path): CkIndex = {
    val key = anchor.toAbsolutePath.toString
    val attrs = Files.readAttributes(anchor,
      classOf[java.nio.file.attribute.BasicFileAttributes])
    val hit = ckindexCache.get(key)
    if (hit != null && hit._1 == attrs.lastModifiedTime &&
      hit._2 == attrs.size) return hit._3
    val ip = ckindexPath(dir, v)
    val extant = Files.exists(ip)
    val idx = (if (extant) parseCkIndexFile(ip) else None)
      .filter(_.anchorSize == attrs.size)
      .getOrElse {
        val built = buildCkIndexFromFile(anchor)
        // HEAL a bad extant sidecar (truncated by a crash mid-write,
        // or stale after a doctored anchor): the index is derived data
        // recomputable from the immutable anchor, so delete-and-rewrite
        // is safe — without it every future cold process would re-pay
        // the full O(#files) parse forever (r13 review fix). A racing
        // healer writes identical bytes; losing the put-if-absent is fine.
        if (extant) Files.deleteIfExists(ip)
        writeCkIndexFile(ip, built)
        built
      }
    ckindexCache.put(key, (attrs.lastModifiedTime, attrs.size, idx))
    idx
  }

  /** Byte-range-read the selected segments — the local analogue of an
    * object store's ranged GET. */
  private def readSegments(anchor: Path,
                           segs: Seq[SegmentRef]): Seq[FileEntry] =
    if (segs.isEmpty) Nil
    else {
      val ch = java.nio.channels.FileChannel.open(anchor,
        StandardOpenOption.READ)
      try segs.flatMap { s =>
        val buf = java.nio.ByteBuffer.allocate(s.len.toInt)
        var pos = s.off
        while (buf.hasRemaining) {
          val r = ch.read(buf, pos)
          if (r <= 0) throw new java.io.IOException(
            s"short read at $pos in $anchor")
          pos += r
        }
        val es = new String(buf.array(), StandardCharsets.UTF_8).split("\n")
          .iterator.filter(_.nonEmpty).map(FileEntry.parse).toSeq
        // the recorded per-segment entry count makes a misaligned byte
        // range DETECTABLE even when the garbage happens to parse (a
        // boundary shifted mid-line changes the '\n' census): throw so
        // the caller's never-wrong fallback heals + full-parses
        if (es.size != s.n) throw new java.io.IOException(
          s"segment at ${s.off} parsed ${es.size} entries, expected " +
            s"${s.n} — corrupt .ckindex offsets for $anchor")
        es
      } finally ch.close()
    }

  /** Header-only manifest of version v: schema, stats columns, modes —
    * everything O(#columns) — without resolving the file list. */
  private def headerManifest(dir: String, v: Int): Snapshot = {
    val hdr = readHeaderMap(dir, v)
    Snapshot(v, hdr.getOrElse("op", ""),
      hdr.get("parent").map(_.toInt).getOrElse(0), Nil, hdr)
  }

  /** TWO-TIER bounded candidate resolution: the entries of version `v`
    * that may satisfy `requests` (per column, a disjunction of
    * [lo, hi] ranges — a point-IN is a list of degenerate ranges),
    * WITHOUT materializing the full file list on the driver. Requests
    * on non-stat columns, unknown columns, or legacy (pre-micros)
    * timestamp stats never prune — the same conservative laws as
    * [[pruneWhere]], which this path provably refines:
    * a segment's box encloses every member entry's range, so segment
    * pruning removes only files entry pruning would remove. Sets
    * [[lastPruneParsed]] to the number of entry lines actually parsed. */
  private def boundedCandidates(dir: String, v: Int,
      requests0: Map[String, Seq[(String, String)]])
      : (Snapshot, Seq[FileEntry]) = {
    val hm = headerManifest(dir, v)
    val dts = prunableStats(hm).map(f => f.name -> f.dataType).toMap
    val requests = requests0.filter { case (c, _) => dts.contains(c) }
    // walk to the anchor (nearest checkpointed or full version),
    // collecting the delta bodies on the way — O(ckdist) small reads
    var deltas = List.empty[(Seq[FileEntry], Seq[String])]
    var cur = v
    var anchor: Path = null
    // the anchor's nfiles when the chain walk already parsed its header
    // (a full manifest) — saves re-opening the anchor just to re-read
    // the first line below; checkpoint anchors still pay the one open
    var anchorNf: Option[Int] = None
    while (anchor == null) {
      if (Files.exists(checkpointPath(dir, cur)))
        anchor = checkpointPath(dir, cur)
      else {
        val h = if (cur == v) hm.header else readHeaderMap(dir, cur)
        if (!h.get("delta").contains("1")) {
          anchor = manifestPath(dir, cur)
          anchorNf = h.get("nfiles").map(_.toInt)
        }
        else {
          val (raw, _, removes) = parseManifest(
            Files.readAllLines(manifestPath(dir, cur),
              StandardCharsets.UTF_8).asScala.toSeq, cur)
          deltas = (raw.files, removes) :: deltas // ends oldest-first
          cur = h("parent").toInt
        }
      }
    }
    var parsed = 0L
    def entryOk(f: FileEntry): Boolean = requests.forall { case (c, rs) =>
      f.stats.get(c) match {
        case Some((fLo, fHi)) =>
          rs.exists { case (lo, hi) =>
            rangesOverlap(dts(c), fLo, fHi, lo, hi) }
        case None => true
      }
    }
    // unprunable or small anchors resolve through readManifest — the
    // JVM-wide LRU — so REPEATED metadata reads (bloom point lookups,
    // unclustered tables, sub-segment tables) cost one parse per
    // anchor, not one per call (r13 probe fix; the segment tier only
    // pays off when it can actually skip bytes)
    def cachedFull(): Seq[FileEntry] = {
      val fs = readManifest(dir, cur).files
      parsed += fs.size
      fs
    }
    val anchorEntries: Seq[FileEntry] =
      if (requests.isEmpty) cachedFull() // nothing to prune on
      else {
        val nf = anchorNf.orElse {
          val r = Files.newBufferedReader(anchor, StandardCharsets.UTF_8)
          val firstLine = try r.readLine() finally r.close()
          parseHeaderLine(firstLine).get("nfiles").map(_.toInt)
        }
        if (nf.forall(_ <= SEGMENT_SIZE)) cachedFull().filter(entryOk)
        else try {
          val idx = loadCkIndex(dir, cur, anchor)
          val hit = idx.segs.filter { s =>
            requests.forall { case (c, rs) =>
              s.box.get(c) match {
                case Some((blo, bhi)) =>
                  rs.exists { case (lo, hi) =>
                    rangesOverlap(dts(c), blo, bhi, lo, hi) }
                case None => true
              }
            }
          }
          val es = readSegments(anchor, hit)
          parsed += es.size
          es.filter(entryOk)
        } catch {
          // a sidecar that passed the asize and structural checks can
          // still carry wrong byte offsets (bit-flip, stale content of
          // matching size): readSegments short-reads or FileEntry.parse
          // hits a misaligned line. The documented law is "never
          // wrong": HEAL the sidecar (derived data, recomputable from
          // the immutable anchor) and fall back to the conservative
          // full parse instead of failing the read (r13 advice).
          case scala.util.control.NonFatal(_) =>
            Files.deleteIfExists(ckindexPath(dir, cur))
            ckindexCache.remove(anchor.toAbsolutePath.toString)
            cachedFull().filter(entryOk)
        }
      }
    // delta application mirrors readManifest exactly: per version,
    // removes first, then adds (a re-add takes the NEW entry and moves
    // to the end, like filterNot-then-append does); an add whose new
    // stats no longer overlap EVICTS any prior candidate for the path
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, FileEntry]
    anchorEntries.foreach(e => acc.update(e.path, e))
    deltas.foreach { case (adds, removes) =>
      removes.foreach(acc.remove)
      adds.foreach { e =>
        parsed += 1
        acc.remove(e.path)
        if (entryOk(e)) acc.update(e.path, e)
      }
    }
    lastPruneParsed.set(parsed)
    (hm, acc.values.toSeq)
  }

  // ---------------------------------------------------------------------
  // Epoch range-set: committed streaming epoch ids as "0-41,57,60-62".
  // Monotonic foreachBatch epochs collapse to one range, so carrying the
  // full committed set in every manifest header is O(1) bytes in the
  // intended use while staying correct for arbitrary (non-negative) ids.
  // ---------------------------------------------------------------------
  private[io] def parseRanges(s: String): Seq[(Long, Long)] =
    if (s.isEmpty) Nil
    else s.split(",").toSeq.map { r =>
      r.split("-", 2) match {
        case Array(a)    => (a.toLong, a.toLong)
        case Array(a, b) => (a.toLong, b.toLong)
      }
    }

  private[io] def encodeRanges(rs: Seq[(Long, Long)]): String =
    rs.map { case (a, b) => if (a == b) s"$a" else s"$a-$b" }.mkString(",")

  private[io] def rangesContain(rs: Seq[(Long, Long)], id: Long): Boolean =
    rs.exists { case (a, b) => id >= a && id <= b }

  private[io] def addToRanges(rs: Seq[(Long, Long)], id: Long): Seq[(Long, Long)] = {
    val sorted = ((id, id) +: rs).sortBy(_._1)
    sorted.foldLeft(List.empty[(Long, Long)]) {
      case ((a, b) :: tail, (c, d)) if c <= b + 1 => (a, math.max(b, d)) :: tail
      case (acc, r) => r :: acc
    }.reverse
  }

  // ---------------------------------------------------------------------
  // Column-mapping helpers (see Snapshot.colmap): encode/decode of the
  // manifest headers plus the cheap "may this table be mapped at all"
  // marker the analyzer rule checks per iteration.
  // ---------------------------------------------------------------------
  private def encodeColmap(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (l, p) =>
      s"${FileEntry.enc(l)}=${FileEntry.enc(p)}" }.mkString(";")

  private def encodeRetired(s: Set[String]): String =
    s.toSeq.sorted.map(FileEntry.enc).mkString(";")

  /** Rename (Some) or drop (None) one column's entry in the encoded
    * ANALYZE `colstats` header — rename/drop must not leave the CBO
    * serving a dead column's statistics under a reused name. */
  private def adjustColstats(h: String, from: String,
                             to: Option[String]): String =
    h.split(";").iterator.filter(_.nonEmpty).flatMap { e =>
      val Array(c, rest) = e.split(":", 2)
      if (FileEntry.dec(c) == from)
        to.map(t => s"${FileEntry.enc(t)}:$rest")
      else Some(e)
    }.mkString(";")

  /** Cached per-version CDC batches store the LOGICAL column names
    * current at materialization time — a rename/drop would make later
    * by-name reads silently null-fill the renamed column, so the cache
    * is derived data and the evolution commits DROP it (the next read
    * re-materializes from the mapping-aware manifests, or fails loudly
    * if they were vacuumed — never silent nulls). */
  private def dropCdcCache(dir: String): Unit = {
    val root = Paths.get(dir, "_cdc")
    if (Files.isDirectory(root)) listDir(root).foreach { b =>
      listDir(b).foreach(Files.delete)
      Files.delete(b)
    }
  }

  /** One-stat-call pre-check for the CDC reader: a table that never
    * renamed/dropped a column has no marker file, so the common case
    * costs no manifest read. */
  def mayHaveColumnMapping(dir: String): Boolean =
    Files.exists(manifestDir(dir).resolve(".mapped"))

  private def markMapped(dir: String): Unit =
    try { Files.createFile(manifestDir(dir).resolve(".mapped")); () }
    catch { case _: java.nio.file.FileAlreadyExistsException => () }

  // ---------------------------------------------------------------------
  // PER-FILE BLOOM FILTERS — point-predicate file skipping for
  // NON-cluster columns. Min/max stats only prune the clustered keys: a
  // foreign-key or id column in round-robin files spans every file's
  // full range, so a point lookup opens all of them. A `bloomcols`
  // table property makes the shared batch funnel record one small bloom
  // blob per (file, column) — k=3 seeded xxhash64 positions over
  // `bloombits` bits, base64 of the bitset, stored in a per-batch
  // SIDECAR file referenced by the manifest entry (`bloomref=`), keyed
  // by PHYSICAL column name (rename-stable) — and the point readers
  // test probe values against the blobs BEFORE opening files: tiny
  // driver-side sidecar reads (cached, O(#batches) not O(#commits)),
  // no data-file I/O, no false negatives. Legacy inline `bloom=` blobs
  // keep parsing and pruning. Sizing: `bloombits` (default 2^16)
  // handles ~10k distinct values per file at <5% false-positive; blobs
  // cost O(#files × bits/8) SIDECAR bytes and O(1) manifest bytes.
  // ---------------------------------------------------------------------
  private[io] val DEFAULT_BLOOM_BITS = 65536
  private val BLOOM_SEEDS = Seq(0, 1, 2)

  /** Column-side position expressions — MUST stay in lockstep with
    * [[bloomPositions]] (the driver-side probe): seed 0 is the plain
    * xxhash64(col), seeds 1/2 chain an int literal. */
  private[io] def bloomPosExprs(c: Column, bits: Int): Seq[Column] =
    BLOOM_SEEDS.map {
      case 0 => pmod(xxhash64(c), lit(bits.toLong)).cast("int")
      case s => pmod(xxhash64(c, lit(s)), lit(bits.toLong)).cast("int")
    }

  /** Driver-side probe positions for one rendered value — evaluates the
    * SAME catalyst XxHash64 the column expressions use, with the
    * literal typed EXACTLY like the column (int and long values hash
    * differently). */
  private def bloomPositions(value: String, dt: DataType,
                             bits: Int): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val v: Literal = dt match {
      case _: ByteType    => Literal(value.toByte)
      case _: ShortType   => Literal(value.toShort)
      case _: IntegerType => Literal(value.toInt)
      case _: LongType    => Literal(value.toLong)
      case _: StringType  => Literal.create(value, StringType)
      case other => throw new IllegalArgumentException(
        s"bloom columns are integral or string, got $other")
    }
    BLOOM_SEEDS.map { s =>
      val args = if (s == 0) Seq(v) else Seq(v, Literal(s))
      val h = XxHash64(args, 42L).eval(null).asInstanceOf[Long]
      (((h % bits) + bits) % bits).toInt
    }
  }

  /** A type the bloom path supports (matches [[bloomPositions]]). */
  private def bloomSupports(dt: DataType): Boolean = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
         _: StringType => true
    case _ => false
  }

  private def bloomEncode(bits: java.util.BitSet): String =
    java.util.Base64.getEncoder.encodeToString(bits.toByteArray)

  private def bloomDecode(b64: String): java.util.BitSet =
    java.util.BitSet.valueOf(java.util.Base64.getDecoder.decode(b64))

  /** Per-sidecar blob cache: `<abs sidecar path>` → file name →
    * physical column → base64 blob. Sidecars are immutable once a
    * manifest references them (written before the publish, UUID batch
    * dirs), so no validation is needed; bounded LRU like the manifest
    * cache. A MISSING sidecar (external deletion) reads as "no blobs" —
    * conservative-correct, files stay candidates. */
  private val bloomSidecarCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String,
        Map[String, Map[String, String]]](32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String,
            Map[String, Map[String, String]]]): Boolean = size > 16
    })

  private def sidecarBlooms(dir: String,
                            ref: String): Map[String, Map[String, String]] = {
    val key = Paths.get(dir, ref).toAbsolutePath.toString
    val hit = bloomSidecarCache.get(key)
    if (hit != null) return hit
    val loaded =
      try Files.readAllLines(Paths.get(dir, ref), StandardCharsets.UTF_8)
        .asScala.filter(_.nonEmpty).map { line =>
          val Array(name, blobs) = line.split("\t", 2)
          name -> blobs.split(";").iterator.filter(_.nonEmpty).map { kv =>
            val Array(c, b64) = kv.split(":", 2)
            FileEntry.dec(c) -> b64
          }.toMap
        }.toMap
      catch { case _: java.io.IOException => Map.empty[String, Map[String, String]] }
    bloomSidecarCache.put(key, loaded)
    loaded
  }

  /** Keep only the files whose bloom for `keyCol` may contain AT LEAST
    * ONE probe value. Blobs come from the inline `bloom=` field (legacy
    * manifests; keyed by LOGICAL name, re-keyed on rename) or from the
    * batch sidecar (`bloomref=`; keyed by PHYSICAL name, resolved
    * through the column mapping — rename-stable). Files without a blob
    * (written before the property, or bloom-free paths) always stay —
    * conservative-correct, never a false negative. */
  private def bloomPrune(dir: String, m: Snapshot, files: Seq[FileEntry],
                         keyCol: String, values: Seq[String],
                         dt: DataType): Seq[FileEntry] =
    if (!m.bloomCols.contains(keyCol) || !bloomSupports(dt) ||
      values.isEmpty) files
    else {
      val probes = values.map(v => bloomPositions(v, dt, m.bloomBits))
      val phys = m.colmap.getOrElse(keyCol, keyCol)
      files.filter { f =>
        f.bloom.get(keyCol)
          .orElse(f.bloomRef.flatMap { ref =>
            sidecarBlooms(dir, ref)
              .get(f.path.substring(f.path.lastIndexOf('/') + 1))
              .flatMap(_.get(phys))
          }) match {
          case Some(b64) =>
            val bits = bloomDecode(b64)
            probes.exists(_.forall(bits.get))
          case None => true
        }
      }
    }

  /** Atomic publish: [[CommitStore.putIfAbsent]] on the manifest path
    * is the commit point (put-if-absent locally; a conditional PUT on an
    * object store — see [[CommitStore]]). The manifest
    * header records the table SCHEMA (as Spark's schema JSON) so a
    * snapshot read is `O(1)` metadata — no per-file footer merge at
    * 100 TB — and so SCHEMA EVOLUTION is a manifest property: files
    * written before a column existed are simply read through the newer
    * schema (missing columns null-fill). `extras` carries op-specific
    * header fields (e.g. the streaming epoch range-set). */
  private def commit(dir: String, v: Int, op: String, parent: Int,
                     files: Seq[FileEntry], schema: Option[StructType] = None,
                     extras: Seq[(String, String)] = Nil): Unit = {
    Files.createDirectories(manifestDir(dir))
    // every commit records its wall-clock time — what TIMESTAMP AS OF
    // resolves against ([[versionAt]]); manifests written before the
    // header existed resolve as epoch 0 (always eligible)
    val header = (Seq("op" -> op, "parent" -> parent.toString,
      "ts" -> System.currentTimeMillis.toString,
      // live-file COUNT in every header: DESCRIBE HISTORY and other
      // header-only consumers answer without resolving the file list
      "nfiles" -> files.size.toString) ++ extras ++
      schema.map(s => "schema" -> s.json)) // JSON escapes tabs/newlines
      .map { case (k, value) => s"$k=$value" }.mkString("\t")
    val lines = files.map(_.serialize)
    val body = (header +: lines).mkString("\n")
    if (!commitStore.putIfAbsent(manifestPath(dir, v),
        body.getBytes(StandardCharsets.UTF_8)))
      throw new ConcurrentCommitException(v)
    // eager two-tier index: the entries are in memory, so the segment
    // sidecar costs one small extra write here instead of an O(#files)
    // re-parse on some later reader's first bounded query
    writeCkIndexFor(dir, v, header, files, lines, parseHeaderLine(header))
  }

  /** O(delta) commit — the 100 TB posture of the manifest log: the new
    * version publishes only `-path` remove / `+entry` add action lines
    * against `parentM`, so a 1-row append into a million-file table
    * writes a few hundred BYTES of manifest, not a full file-list
    * rewrite (headers — schema, carried properties — still travel in
    * every commit; they are O(#columns), not O(#files)). Every
    * [[CHECKPOINT_INTERVAL]]-th commit in a chain materializes the full
    * list instead, bounding read-side chain resolution. Put-if-absent
    * remains the one atomic publish point, identical to [[commit]];
    * the two forms interleave freely in one table’s history. */
  private def commitDelta(dir: String, v: Int, op: String,
                          parentM: Snapshot, adds: Seq[FileEntry],
                          removes: Seq[String],
                          schema: Option[StructType] = None,
                          extras: Seq[(String, String)] = Nil): Unit = {
    // a delta with no explicit schema INHERITS the parent's — the
    // resolved child must never lose the table schema to a None arg
    val sch = schema.orElse(parentM.schema)
    val dist = parentM.ckdist + 1
    if (dist > CHECKPOINT_INTERVAL) {
      val removed = removes.toSet
      commit(dir, v, op, parentM.version,
        parentM.files.filterNot(f => removed(f.path)) ++ adds,
        sch, extras)
    } else {
      Files.createDirectories(manifestDir(dir))
      val nfiles = parentM.files.size - removes.size + adds.size
      // the bare reader-version token leads the header: pre-delta
      // binaries MatchError on it instead of misreading action lines
      val header = (s"graft-reader-$READER_VERSION" +:
        (Seq("op" -> op, "parent" -> parentM.version.toString,
          "ts" -> System.currentTimeMillis.toString,
          "nfiles" -> nfiles.toString,
          "delta" -> "1", "ckdist" -> dist.toString) ++ extras ++
          sch.map(s => "schema" -> s.json))
          .map { case (k, value) => s"$k=$value" }).mkString("\t")
      val body = (header +:
        (removes.map("-" + _) ++ adds.map(e => "+" + e.serialize)))
        .mkString("\n")
      if (!commitStore.putIfAbsent(manifestPath(dir, v),
          body.getBytes(StandardCharsets.UTF_8)))
        throw new ConcurrentCommitException(v)
    }
  }

  /** Structural type equality IGNORING nullability flags at every
    * nesting level: `array<float> (containsNull=false)` vs `=true` is
    * the same type — a Dataset round-trip or a readStream-declared
    * schema flips these flags freely and must not read as "evolution
    * changed the type". */
  private def sameTypeIgnoreNull(a: DataType, b: DataType): Boolean =
    (a, b) match {
      case (x: ArrayType, y: ArrayType) =>
        sameTypeIgnoreNull(x.elementType, y.elementType)
      case (x: MapType, y: MapType) =>
        sameTypeIgnoreNull(x.keyType, y.keyType) &&
          sameTypeIgnoreNull(x.valueType, y.valueType)
      case (x: StructType, y: StructType) =>
        x.fields.length == y.fields.length &&
          x.fields.zip(y.fields).forall { case (f, g) =>
            f.name == g.name && sameTypeIgnoreNull(f.dataType, g.dataType) }
      case _ => a == b
    }

  /** Nullable at EVERY nesting level — the only read schema that is
    * safe over a mix of files whose writers disagreed on containsNull
    * flags (reading non-null data through a nullable schema is always
    * correct; the reverse reads garbage). */
  private def deepNullable(dt: DataType): DataType = dt match {
    case a: ArrayType =>
      a.copy(elementType = deepNullable(a.elementType), containsNull = true)
    case m: MapType =>
      m.copy(keyType = deepNullable(m.keyType),
        valueType = deepNullable(m.valueType), valueContainsNull = true)
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = deepNullable(f.dataType), nullable = true)))
    case other => other
  }

  /** Widest common schema after an evolution step: existing columns
    * keep their position and type (a type CHANGE is refused — that
    * would need a rewrite, not metadata; nullability-only drift is NOT
    * a change), new columns append, and everything becomes deeply
    * nullable (pre-evolution files null-fill the new columns; writers
    * disagreeing on containsNull flags stay readable). */
  private def unionSchema(a: StructType, b: StructType): StructType = {
    a.fields.foreach { f =>
      b.fields.find(_.name == f.name).foreach { g =>
        require(sameTypeIgnoreNull(g.dataType, f.dataType),
          s"schema evolution cannot change ${f.name}: ${f.dataType} -> ${g.dataType}")
      }
    }
    val extra = b.fields.filterNot(f => a.fieldNames.contains(f.name))
    StructType((a.fields ++ extra).map(f =>
      f.copy(dataType = deepNullable(f.dataType), nullable = true)))
  }

  // ---------------------------------------------------------------------
  // HIDDEN PARTITION TRANSFORMS (round-12, r11 verdict #2 — the public
  // Iceberg partition-transform idea, original implementation):
  // `clustercols` entries may be `days(ts)` / `months(ts)` / `years(ts)`
  // / `hours(ts)` over a timestamp/date column, or `truncate(w, c)` over
  // a string (prefix) / integral (floor-to-width) column, alongside
  // bare columns (identity). Per-file min/max stats stay on the SOURCE
  // column — base-column predicates prune with no transform math — and
  // the WRITE SHAPING groups every batch by transform value first, so
  // files align to calendar/prefix boundaries and a narrow base-column
  // query opens only the covering group's files (spec- and key-asserted
  // skips). `bucket(n)` is deliberately absent: point lookups are the
  // bloom filters' job here, and a hash layout for joins is the
  // bucketcols declaration.
  // ---------------------------------------------------------------------
  private[io] case class ClusterTransform(spec: String, fn: String,
                                          width: Int, src: String) {
    def isIdentity: Boolean = fn == "identity"
    /** The shaping expression (never persisted — derived per batch). */
    def column(dt: DataType): Column = fn match {
      case "identity" => col(src)
      case "days" | "months" | "years" | "hours" =>
        date_trunc(fn.stripSuffix("s").toUpperCase, col(src))
      case "truncate" => dt match {
        case _: StringType => substring(col(src), 1, width)
        case _             => col(src) - pmod(col(src), lit(width))
      }
    }
    def validate(schema: StructType): Unit = {
      val f = schema.fields.find(_.name == src).getOrElse(
        throw new IllegalArgumentException(s"cluster transform $spec: " +
          s"no column $src in ${schema.fieldNames.mkString(",")}"))
      fn match {
        case "identity" => ()
        case "truncate" =>
          require(width >= 1, s"truncate width must be >= 1 in $spec")
          require(f.dataType.isInstanceOf[StringType] ||
            f.dataType.isInstanceOf[ByteType] ||
            f.dataType.isInstanceOf[ShortType] ||
            f.dataType.isInstanceOf[IntegerType] ||
            f.dataType.isInstanceOf[LongType],
            s"truncate needs a string or integral column; $src is " +
              s"${f.dataType}")
        case _ =>
          require(f.dataType.isInstanceOf[TimestampType] ||
            f.dataType.isInstanceOf[TimestampNTZType] ||
            f.dataType.isInstanceOf[DateType],
            s"$fn needs a timestamp/date column; $src is ${f.dataType}")
      }
    }
    /** RENAME COLUMN follows the source through the spec text. */
    def renamed(from: String, to: String): ClusterTransform =
      if (src != from) this
      else copy(spec =
        if (isIdentity) to
        else if (fn == "truncate") s"truncate($width,$to)"
        else s"$fn($to)", src = to)
  }

  private val timeTransformRe =
    "(days|months|years|hours)\\s*\\(\\s*([^)]+?)\\s*\\)".r
  private val truncateRe =
    "truncate\\s*\\(\\s*(\\d+)\\s*,\\s*([^)]+?)\\s*\\)".r

  private[io] def parseClusterSpec(s0: String): ClusterTransform =
    s0.trim match {
      case timeTransformRe(fn, c) => ClusterTransform(s0.trim, fn, 0, c.trim)
      case truncateRe(w, c) =>
        ClusterTransform(s0.trim, "truncate", w.toInt, c.trim)
      case c if !c.contains("(") && c.nonEmpty =>
        ClusterTransform(c, "identity", 0, c)
      case other => throw new IllegalArgumentException(
        s"unsupported cluster transform: $other (supported: a column, " +
          "days/months/years/hours(col), truncate(w, col))")
    }

  /** Split a clustercols declaration on commas NOT inside parentheses —
    * `truncate(4,name),days(ts)` is two specs. */
  private[io] def splitClusterSpecs(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    val cur = new StringBuilder
    s.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case ch => cur += ch
    }
    out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Upper bound on transform-derived file counts per batch — a batch
    * spanning thousands of days must not explode into thousands of
    * 1-row files; beyond the cap, neighboring transform groups share
    * files (range-contiguous, so pruning degrades gracefully). */
  private val TRANSFORM_MAX_FILES = 512

  /** Write `df` as a fresh immutable file batch through the one
    * [[BatchWriter]]; returns one [[FileEntry]] per parquet file
    * produced, with its row count, the per-file min/max of `statsCols`
    * (the metadata that makes narrow-key MERGE discovery skip
    * non-overlapping files instead of scanning every live file) and the
    * bloom bits of the table's bloom columns — all computed in the write
    * tasks, so no batch is read back. The batch is written under the
    * layout, mapping, defaults and CHECK of `m`, the snapshot the caller
    * commits on (None for a table being created). */
  private def writeBatch(df: DataFrame, dir: String, m: Option[Snapshot],
                         numFiles: Option[Int] = None,
                         statsCols: Seq[String] = Nil,
                         mapOverride: Option[Map[String, String]] = None)
      : Seq[FileEntry] = {
    val batch = s"data/${java.util.UUID.randomUUID().toString.take(8)}"
    val out = Paths.get(dir, batch)
    // a BUCKETED table's files must stay bucket-pure: `repartition(n,
    // col)` puts every row in partition index pmod(murmur3(col), n) —
    // exactly the layout's bucket function — so the task/part index IS
    // the bucket id and every write path (append, merge rewrite,
    // compact) preserves the invariant by construction. Overrides any
    // caller shaping: bucket purity is the layout's hard contract.
    val bucketSpec = m.flatMap(_.bucketSpec)
    bucketSpec.foreach { case (c, _) => require(df.columns.contains(c),
      s"bucketed table $dir requires column $c in every write batch") }
    // COLUMN MAPPING, write side: the batch frame speaks LOGICAL names
    // (shaping/stats/checks all do); the files store PHYSICAL names, so
    // a renamed table's old and new files agree. `mapOverride` lets
    // compact() write under a different (e.g. identity) mapping to
    // MATERIALIZE renames away. A batch column outside the mapping is a
    // schema-evolution newcomer: its physical name becomes its logical
    // name, which must not collide with a retired or mapped-away
    // physical name (the dropped/renamed column's stale file values
    // would silently resurrect into it) — evolveSchema assigns fresh
    // physical names for such adds; implicit evolution refuses.
    val colmap = mapOverride.getOrElse(m.map(_.colmap).getOrElse(Map.empty))
    if (mapOverride.isEmpty) {
      val retired = m.map(_.retired).getOrElse(Set.empty)
      val occupied = retired ++ colmap.values
      df.columns.filterNot(colmap.contains).foreach(c =>
        require(!occupied.contains(c),
          s"column name $c collides with a retired/renamed physical " +
            "column of this table; add it via ALTER TABLE ADD COLUMNS " +
            "(which assigns a fresh physical name) or OPTIMIZE first"))
    }
    // ANSI default materialization, once for every write path: a batch
    // omitting a column whose schema declares a CURRENT_DEFAULT gets it
    // filled here (so a later SET DEFAULT never re-interprets these
    // rows); columns without defaults stay absent (read null-fills)
    val dfD = m.flatMap(_.schema) match {
      case Some(sch) => sch.fields
        .filter(f => !df.columns.contains(f.name) &&
          // any field that EVER had a default materializes: after DROP
          // DEFAULT the CURRENT fill is NULL, and writing it explicitly
          // stops the read-time EXISTS fill from resurrecting the old
          // default for these rows
          (currentDefaultSql(f).isDefined ||
            f.metadata.contains("EXISTS_DEFAULT")))
        .foldLeft(df)((d, f) => d.withColumn(f.name, defaultFill(f)))
      case None => df
    }
    val shaped = bucketSpec match {
      case Some((c, n)) => dfD.repartition(n, col(c))
      case None         => numFiles.map(dfD.repartition(_)).getOrElse(dfD)
    }
    // the logical→physical projection is NARROW (select of aliases):
    // partition indices and within-partition order — the bucket and
    // clustering laws — survive it by construction
    val physDf =
      if (colmap.isEmpty) shaped
      else shaped.select(shaped.columns.toSeq.map(c =>
        col(c).as(colmap.getOrElse(c, c))): _*)
    val partIdx = "^part-(\\d+)-.*".r
    def bucketOf(name: String): Option[Int] = bucketSpec.flatMap(_ =>
      name match {
        case partIdx(i) => Some(i.toInt)
        case _ => throw new IllegalStateException(
          s"bucketed write produced unparseable file name $name")
      })
    def phys(c: String) = colmap.getOrElse(c, c)
    val bloomHere = m.map(_.bloomCols).getOrElse(Nil)
      .filter(c => df.schema.fieldNames.contains(c) &&
        bloomSupports(df.schema(c).dataType))
    val written = BatchWriter.write(physDf, out.toString,
      fileFacts(df.sparkSession, m, physDf.schema, colmap, statsCols, bloomHere))
    // stats record under the LOGICAL key (re-keyed by RENAME, which
    // rewrites entries), bloom blobs under the PHYSICAL key in a
    // per-batch SIDECAR file (`<batch>/_blooms`, referenced by
    // `bloomref=`) — physical names never change, so a rename costs no
    // sidecar rewrite, and the manifest itself stays O(bytes per file)
    // however many bloom columns are declared. The sidecar is written
    // BEFORE the manifest references it (same durability order as the
    // data files); a file without rows has no blobs (never pruned).
    val bloomRef =
      if (bloomHere.isEmpty) None
      else {
        val lines = written.filter(_.rows > 0).map(w =>
          w.name + "\t" + w.blooms.toSeq.sortBy(_._1).map { case (c, bits) =>
            s"${FileEntry.enc(c)}:${bloomEncode(bits)}" }.mkString(";"))
        val refRel = s"$batch/_blooms"
        Files.write(Paths.get(dir, refRel),
          lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
        Some(refRel)
      }
    written.map(w => FileEntry(s"$batch/${w.name}",
      statsCols.flatMap(c => w.stats.get(phys(c)).map(c -> _)).toMap,
      bucket = bucketOf(w.name), rows = Some(w.rows), bloomRef = bloomRef))
  }

  /** The per-file facts ([[FileFacts]]) the write tasks compute for
    * `written` rows (physical names under `colmap`) going into the table
    * at snapshot `m`: the min/max of the `statsCols` the rows carry, the
    * bloom bits of `bloomCols`, and the table's CHECK predicate, which
    * they evaluate on every row with SQL NULL semantics (an unknown
    * predicate passes) over the rows a read will see: logical names, and
    * columns the rows lack filled with their declared default (the
    * read-time EXISTS fill), else NULL. A violation fails the write job
    * before anything is committed. Batch and streaming writes both build
    * their facts here, so every data file of a table is checked and
    * recorded alike. */
  private[io] def fileFacts(spark: SparkSession, m: Option[Snapshot],
                            written: StructType, colmap: Map[String, String],
                            statsCols: Seq[String],
                            bloomCols: Seq[String] = Nil): FileFacts = {
    def phys(c: String) = colmap.getOrElse(c, c)
    val schemaCols = m.flatMap(_.schema).map(_.fields.toSeq).getOrElse(Nil)
    val check = m.flatMap(_.header.get("check")).map(FileEntry.dec).map { pred =>
      val inv = colmap.map(_.swap)
      pred -> { (rows: DataFrame) =>
        val logical =
          if (colmap.isEmpty) rows
          else rows.select(rows.columns.toSeq.map(c =>
            col(c).as(inv.getOrElse(c, c))): _*)
        schemaCols.filterNot(f => logical.columns.contains(f.name))
          .foldLeft(logical)((d, f) => d.withColumn(f.name, defaultFill(f)))
      }
    }
    FileFacts(spark, written,
      statsCols.map(phys).filter(written.fieldNames.contains),
      bloomCols.map(phys), m.map(_.bloomBits).getOrElse(DEFAULT_BLOOM_BITS),
      check)
  }

  /** Shape one write batch under the table's clustering law: on a
    * CLUSTERED table (non-empty `statsCols`) a positive `numFiles`
    * range-repartitions the batch on the cluster keys — a round-robin
    * reshape would give every new file full-range stats, silently
    * stopping pruning for all appended data (the exact failure
    * merge/delete/compact were fixed for; ADVICE r9 flagged append).
    * `numFiles <= 0` always preserves the caller's partitioning; an
    * unclustered table keeps the plain round-robin shape; a batch
    * MISSING some cluster column (evolution edge) falls back to the
    * caller's partitioning rather than failing the repartition. */
  private def writeShaped(df: DataFrame, dir: String, m: Option[Snapshot],
                          numFiles: Int): Seq[FileEntry] = {
    val statsCols = m.map(_.statsCols).getOrElse(Nil)
    val transforms = m.map(_.transforms).getOrElse(Nil)
    // Range-shaping SAMPLES its input to compute partition boundaries,
    // then the write re-executes it from scratch — so a merge/delete
    // batch plan (touched-file read + anti-join + union) ran TWICE per
    // commit (three times on transform tables, which also count
    // distinct transform values). Persist the batch for the duration
    // of the shaped write so the count, the boundary sample and the
    // write all read ONE materialization (r14, guide §5 — reuse over
    // recompute; MEMORY_AND_DISK spills rather than OOMs, and the
    // cache lives only inside this one commit).
    def cachedShapedWrite(f: DataFrame => Seq[FileEntry]): Seq[FileEntry] = {
      val cached = df.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try f(cached)
      finally { cached.unpersist(blocking = false); () }
    }
    if (numFiles <= 0) writeBatch(df, dir, m, None, statsCols)
    else if (transforms.exists(!_.isIdentity) &&
      transforms.forall(t => df.columns.contains(t.src))) {
      // HIDDEN-TRANSFORM shaping: group by the transform values FIRST
      // (then the source columns), with enough output files that each
      // transform group gets its own — one tiny distinct-count job per
      // batch (bounded by TRANSFORM_MAX_FILES) buys calendar/prefix-
      // aligned files, the layout a day-window read prunes down to.
      // The count runs over the NON-identity exprs only: a bare cluster
      // column beside days(ts) must size files by DAYS, not by its own
      // near-unique values (r12 review — the cap exists to prevent
      // exactly that tiny-file explosion)
      cachedShapedWrite { cached =>
        val exprs = transforms.map(t => t.column(cached.schema(t.src).dataType))
        val groupExprs = transforms.filterNot(_.isIdentity)
          .map(t => t.column(cached.schema(t.src).dataType))
        val nvals = math.min(TRANSFORM_MAX_FILES.toLong,
          cached.select(groupExprs.zipWithIndex.map { case (e, i) =>
            e.as(s"_t$i") }: _*).distinct().count()).toInt
        val n = math.min(TRANSFORM_MAX_FILES, math.max(numFiles, nvals))
        val order = exprs ++ statsCols.filter(cached.columns.contains).map(col)
        writeBatch(cached.repartitionByRange(math.max(1, n), order: _*)
          .sortWithinPartitions(order: _*), dir, m, None, statsCols)
      }
    }
    else if (statsCols.nonEmpty && statsCols.forall(df.columns.contains))
      cachedShapedWrite { cached =>
        writeBatch(cached.repartitionByRange(numFiles, statsCols.map(col): _*)
          .sortWithinPartitions(statsCols.map(col): _*), dir, m, None, statsCols)
      }
    else writeBatch(df, dir, m, Some(numFiles), statsCols)
  }

  /** Create the table at version 1 (fails if it already has commits). */
  def create(spark: SparkSession, dir: String, df: DataFrame,
             numFiles: Int = 4): Int = {
    val files = writeBatch(df, dir, None, Some(numFiles))
    commit(dir, 1, "create", 0, files, Some(df.schema))
    1
  }

  /** Create PRESERVING the caller's partitioning — the key-clustered
    * layout (`repartitionByRange` / z-order upstream) that makes
    * file-granular copy-on-write effective: an update batch touching a
    * narrow key range rewrites only the files covering that range,
    * while [[create]]'s round-robin shaping smears every key range
    * across all files (any merge then rewrites the whole table).
    * `clusterCols` (when given) are recorded in the manifest and every
    * file entry carries their min/max — MERGE/DELETE discovery then
    * SKIPS files whose range cannot contain the update keys, turning a
    * narrow merge from a full-table scan into a covering-file read. */
  def createClustered(spark: SparkSession, dir: String, df: DataFrame,
                      clusterCols: Seq[String] = Nil): Int = {
    val specs = clusterCols.map(parseClusterSpec)
    specs.foreach(_.validate(df.schema))
    val srcCols = specs.map(_.src).distinct
    val files = writeBatch(df, dir, None, None, srcCols)
    val extras =
      if (specs.isEmpty) Nil
      else Seq("statscols" -> srcCols.mkString(","),
        "statsfmt" -> STATS_FMT) ++
        (if (specs.forall(_.isIdentity)) Nil
         else Seq("transforms" -> specs.map(_.spec).mkString(",")))
    commit(dir, 1, "create", 0, files, Some(df.schema), extras)
    1
  }

  /** Create an EMPTY table at version 1 — the catalog `CREATE TABLE`
    * form: pure metadata (schema + optional cluster-key declaration),
    * no data files. `clusterCols` arms stats recording for every later
    * append/merge exactly like [[createClustered]]. */
  def createEmpty(dir: String, schema: StructType,
                  clusterCols: Seq[String] = Nil,
                  bucketSpec: Option[(String, Int)] = None,
                  deleteMode: Option[String] = None,
                  updateMode: Option[String] = None,
                  mergeMode: Option[String] = None,
                  check: Option[String] = None,
                  bloomCols: Seq[String] = Nil,
                  bloomBits: Int = DEFAULT_BLOOM_BITS): Int = {
    bloomCols.foreach { c =>
      val dt = schema.fields.find(_.name == c).map(_.dataType).getOrElse(
        throw new IllegalArgumentException(
          s"bloom column $c not in ${schema.fieldNames.mkString(",")}"))
      require(bloomSupports(dt),
        s"bloom column $c must be integral or string, got $dt")
    }
    require(bloomCols.isEmpty ||
      (bloomBits >= 1024 && Integer.bitCount(bloomBits) == 1),
      s"bloombits must be a power of two >= 1024, got $bloomBits")
    Seq("delete.mode" -> deleteMode, "update.mode" -> updateMode,
      "merge.mode" -> mergeMode).foreach {
      case (k, Some(mo)) => require(
        mo == "copy-on-write" || mo == "merge-on-read",
        s"$k must be copy-on-write or merge-on-read, got $mo")
      case _ => ()
    }
    // a CHECK predicate must at least PARSE at declaration time —
    // EAGERLY (Spark 4 Column nodes defer parsing to analysis, so a
    // bare functions.expr would let a malformed predicate commit and
    // poison every later write); resolution against real batches
    // happens at write time
    check.foreach(org.apache.spark.sql.catalyst.parser
      .CatalystSqlParser.parseExpression(_))
    val clusterSpecs = clusterCols.map(parseClusterSpec)
    clusterSpecs.foreach(_.validate(schema))
    val clusterSrc = clusterSpecs.map(_.src).distinct
    bucketSpec.foreach { case (c, n) =>
      require(clusterCols.isEmpty,
        "a table is either range-CLUSTERED (clustercols — stats-pruned " +
          "reads/merges) or hash-BUCKETED (bucketcols — zero-shuffle " +
          "storage-partitioned joins), not both: the two layouts impose " +
          "contradictory file shapes")
      require(n >= 1, s"buckets must be >= 1, got $n")
      val dt = schema.fields.find(_.name == c).map(_.dataType).getOrElse(
        throw new IllegalArgumentException(
          s"bucket column $c not in ${schema.fieldNames.mkString(",")}"))
      require(dt.isInstanceOf[ByteType] || dt.isInstanceOf[ShortType] ||
        dt.isInstanceOf[IntegerType] || dt.isInstanceOf[LongType],
        s"bucket column $c must be integral (join-key ids), got $dt")
    }
    val extras =
      (if (clusterSpecs.isEmpty) Nil
       else Seq("statscols" -> clusterSrc.mkString(","),
         "statsfmt" -> STATS_FMT) ++
         (if (clusterSpecs.forall(_.isIdentity)) Nil
          else Seq("transforms" -> clusterSpecs.map(_.spec).mkString(",")))) ++
        bucketSpec.toSeq.flatMap { case (c, n) =>
          Seq("bucketcols" -> c, "buckets" -> n.toString) } ++
        deleteMode.filter(_ == "merge-on-read").map("deletemode" -> _) ++
        updateMode.filter(_ == "merge-on-read").map("updatemode" -> _) ++
        mergeMode.filter(_ == "merge-on-read").map("mergemode" -> _) ++
        check.map(p => "check" -> FileEntry.enc(p)) ++
        (if (bloomCols.isEmpty) Nil
         else Seq("bloomcols" -> bloomCols.mkString(","),
           "bloombits" -> bloomBits.toString))
    commit(dir, 1, "create", 0, Nil, Some(deepNullable(schema)
      .asInstanceOf[StructType]), extras)
    1
  }

  /** The version `versionAsOf` names (the latest when None), checked to
    * exist: what [[snapshot]] resolves, and the bounded readers prune. */
  private def resolveVersion(dir: String, versionAsOf: Option[Int]): Int = {
    val v = versionAsOf.getOrElse(latestVersion(dir))
    require(v >= 1, s"no committed version at $dir")
    require(Files.exists(manifestPath(dir, v)),
      s"version $v at $dir does not exist (vacuumed?)")
    v
  }

  /** THE RESOLVER: version `versionAsOf` of the table at `dir` (the
    * latest when None) as one immutable [[Snapshot]] — one listing, one
    * (cached) manifest resolution. An operation resolves it once and
    * takes every table fact from it. Fails when the table has no commit
    * or the version was vacuumed. */
  def snapshot(dir: String, versionAsOf: Option[Int] = None): Snapshot =
    readManifest(dir, resolveVersion(dir, versionAsOf))

  /** The snapshot's schema — pure driver metadata. */
  def schemaOf(dir: String, versionAsOf: Option[Int] = None): StructType = {
    val m = snapshot(dir, versionAsOf)
    m.schema.getOrElse(throw new IllegalStateException(
      s"manifest v${m.version} at $dir records no schema"))
  }

  /** (path, dv) entries of a version's manifest — driver metadata for
    * the streaming source's append-only diff. Fails loudly when the
    * version's manifest was vacuumed (a checkpointed stream offset must
    * not silently skip data). */
  private[io] def manifestEntries(dir: String,
                                  v: Int): Seq[(String, Option[String])] = {
    require(Files.exists(manifestPath(dir, v)),
      s"version $v at $dir does not exist (vacuumed?) — raise vacuum " +
        "retention or restart the stream from a newer startingVersion")
    readManifest(dir, v).files.map(f => (f.path, f.dv))
  }

  /** The snapshot's data files as ABSOLUTE paths — what a V2 scan over
    * the table reads. Driver metadata only. */
  def filePaths(dir: String, versionAsOf: Option[Int] = None): Seq[String] =
    snapshot(dir, versionAsOf).paths.map(f => Paths.get(dir, f).toString)

  /** Snapshot read; `versionAsOf = Some(v)` time-travels. An empty file
    * list (everything deleted) still needs the schema — kept by always
    * carrying at least the latest batch's directory; callers with an
    * empty table read an empty relation with the create-time schema. */
  def read(spark: SparkSession, dir: String,
           versionAsOf: Option[Int] = None): DataFrame = {
    val m = snapshot(dir, versionAsOf)
    // an EMPTY snapshot (a just-created catalog table, or a full delete)
    // still has a schema in the manifest — read it as an empty relation
    // rather than asking the parquet source to infer from zero files.
    // The shared entry reader applies deletion vectors and null-fills
    // evolved columns through the manifest schema (O(1) metadata).
    if (m.files.isEmpty && m.schema.isDefined)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema.get)
    else readEntries(spark, dir, m, m.files)
  }

  /** DV-AWARE read of a subset of a manifest's entries — the ONE place
    * row data meets deletion vectors, shared by every read and by
    * row-level DML discovery ([[readTagged]]). Entries carrying a `dv`
    * reference anti-join their (file, pos) deletion set away by parquet
    * row position (`_metadata.row_index` — stable because data files are
    * immutable); the DV set is broadcast (DVs are point-delete-sized by
    * design — a mass delete belongs on the copy-on-write path). */
  private def readEntries(spark: SparkSession, dir: String, m: Snapshot,
                          entries: Seq[FileEntry]): DataFrame =
    scanEntries(spark, dir, m, entries, tagged = false)._1

  /** [[readEntries]] plus each row's identity: the file's RELATIVE
    * manifest path (from `_metadata.file_path`) and the row's position
    * in it — what row-level DML keys its touched set and deletion
    * vectors on. Returns the frame and the names of those two columns,
    * chosen apart from the data columns (`_src_file`/`_src_pos` unless a
    * data column already takes the name). */
  private def readTagged(spark: SparkSession, dir: String, m: Snapshot,
                         entries: Seq[FileEntry]): (DataFrame, String, String) =
    scanEntries(spark, dir, m, entries, tagged = true)

  private def scanEntries(spark: SparkSession, dir: String, m: Snapshot,
                          entries: Seq[FileEntry],
                          tagged: Boolean): (DataFrame, String, String) = {
    val dvDirs = entries.flatMap(_.dv).distinct
    val schemaOpt = m.schema
    // row identity and DV working columns are named apart from the data
    // columns, logical and physical: a data column `_src_file` or
    // `__dv_file` is neither overwritten nor ambiguous
    def fresh(taken: Seq[String], names: String*): Seq[String] =
      names.map(freshName(taken ++ schemaOpt.toSeq.flatMap(_.fieldNames), _))
    if (entries.isEmpty) {
      val schema = schemaOpt.getOrElse(throw new IllegalStateException(
        s"empty entry set at $dir needs a manifest schema"))
      val Seq(srcFile, srcPos) = fresh(Nil, "_src_file", "_src_pos")
      val out = if (tagged)
        schema.add(srcFile, StringType).add(srcPos, LongType)
      else schema
      return (spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], out),
        srcFile, srcPos)
    }
    val index = manifestIndex(spark, dir, m, entries)
    // COLUMN MAPPING, read side: files store PHYSICAL names — read with
    // the physically-renamed schema, then project back to logical names
    // (identity for never-renamed tables). The projection runs AFTER
    // the _metadata/DV work below: a select drops the pseudo-column.
    val colmap = if (schemaOpt.isEmpty) Map.empty[String, String]
                 else m.colmap
    val physSchema = schemaOpt.map(s =>
      if (colmap.isEmpty) s
      else StructType(s.fields.map(f =>
        f.copy(name = colmap.getOrElse(f.name, f.name)))))
    val format = new ParquetFileFormat()
    // a schema-less (legacy) manifest infers from the files, as
    // `spark.read.parquet` would
    val dataSchema = physSchema
      .map(CharVarcharUtils.replaceCharVarcharWithStringInSchema)
      .orElse(format.inferSchema(spark, Map.empty, index.allFiles()))
      .getOrElse(throw new IllegalStateException(
        s"cannot infer a schema for manifest v${m.version} at $dir"))
    val base = PlanBridge.ofRows(spark, LogicalRelation(HadoopFsRelation(
      index, new StructType(), dataSchema, None, format, Map.empty)(spark)))
    def logicalCols: Seq[Column] = schemaOpt match {
      case Some(s) if colmap.nonEmpty =>
        s.fields.toSeq.map(f => col(colmap.getOrElse(f.name, f.name)).as(f.name))
      case _ => base.columns.toSeq.map(col)
    }
    val Seq(srcFile, srcPos) = fresh(base.columns.toSeq, "_src_file", "_src_pos")
    if (!tagged && dvDirs.isEmpty)
      return (if (colmap.isEmpty) base else base.select(logicalCols: _*),
        srcFile, srcPos)
    // the relative manifest path is always the last 3 URI components:
    // data/<batch>/<part-file>
    val withMeta = base
      .withColumn(srcFile, concat_ws("/",
        slice(split(col("_metadata.file_path"), "/"), -3, 3)))
      .withColumn(srcPos, col("_metadata.row_index"))
    val applied =
      if (dvDirs.isEmpty) withMeta
      else {
        val Seq(dvFile, dvPos) = fresh(withMeta.columns.toSeq, "__dv_file", "__dv_pos")
        val dv = spark.read.schema(DvSchema)
          .parquet(dvDirs.map(d => Paths.get(dir, d).toString): _*)
          .select(col("file").as(dvFile), col("pos").as(dvPos))
        withMeta.join(broadcast(dv),
          col(srcFile) === col(dvFile) && col(srcPos) === col(dvPos),
          "left_anti")
      }
    (if (tagged) applied.select(logicalCols ++ Seq(col(srcFile), col(srcPos)): _*)
     else applied.select(logicalCols: _*), srcFile, srcPos)
  }

  /** The scan index over `entries` of manifest `m`: the manifest names
    * the files, so the index stats them on the driver instead of
    * listing (no "Listing leaf files" job), and it carries their stats
    * under PHYSICAL names, so a pushed-down filter on a stats column
    * skips files ([[ManifestFileIndex]]). Legacy (pre-micros) timestamp
    * stats never prune, as in [[pruneWhere]]. */
  private[io] def manifestIndex(spark: SparkSession, dir: String, m: Snapshot,
                                entries: Seq[FileEntry]): ManifestFileIndex = {
    val prunable = prunableStats(m)
    def phys(c: String) = m.colmap.getOrElse(c, c)
    new ManifestFileIndex(spark, dir, m.version,
      entries.map(f => Paths.get(dir, f.path).toString),
      entries.map(e => prunable.flatMap(f =>
        e.stats.get(f.name).map(phys(f.name) -> _)).toMap),
      prunable.map(f => phys(f.name) -> f.dataType).toMap)
  }

  /** The schema fields whose manifest stats may prune: the stats
    * columns, less timestamps whose stats predate the micros-v2 marker
    * (`statsfmt`) — session-local renderings that would compare wrongly,
    * so every file stays a candidate until a compact() rewrites them. */
  private def prunableStats(m: Snapshot): Seq[StructField] =
    m.schema.toSeq.flatMap(_.fields).filter(f =>
      m.statsCols.contains(f.name) &&
        !(f.dataType.isInstanceOf[TimestampType] && !m.tsStatsAreMicros))

  /** The entries of `m` that may hold a row matching the SQL
    * `predicate`, by the scan index's stats test over its conjuncts —
    * bounded BEFORE a row-level DML builds its discovery read, so that
    * read, and the deletion-vector anti-join inside it, cover only the
    * candidate files. */
  private def predicateCandidates(spark: SparkSession, m: Snapshot,
                                  predicate: String): Seq[FileEntry] = {
    val prunable = prunableStats(m)
    if (prunable.isEmpty) m.files
    else {
      import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
      import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
      val rel = LocalRelation(org.apache.spark.sql.catalyst.types.DataTypeUtils
        .toAttributes(m.schema.get))
      val cond = PlanBridge.ofRows(spark, rel).filter(predicate)
        .queryExecution.analyzed match {
          // constants folded as the optimizer would (casts of literals);
          // one that fails to evaluate stays, to fail where it always did
          case Filter(c, _) => c.transformUp {
            case e: Expression if e.foldable && !e.isInstanceOf[Literal] =>
              scala.util.Try(Literal.create(e.eval(), e.dataType)).getOrElse(e)
          }
          case _ => Literal.TrueLiteral
        }
      val mayHold = ManifestFileIndex.statsTest(Seq(cond),
        prunable.map(f => f.name -> f.dataType).toMap)
      m.files.filter(f => mayHold(f.stats))
    }
  }

  /** `name`, or `name` with leading underscores added, so that it is
    * none of `taken` — a working column named apart from every data
    * column (column resolution is case-insensitive). */
  private def freshName(taken: Seq[String], name: String): String =
    Iterator.iterate(name)("_" + _)
      .find(c => !taken.exists(_.equalsIgnoreCase(c))).get

  /** The file subset a conjunctive box read must scan per manifest
    * stats — the READ-side twin of [[discoveryCandidates]]. Public so
    * specs and operators can assert/observe the skip. Files without
    * stats for a bound column are always candidates
    * (conservative-correct); bounds on non-stat columns never prune. */
  def readCandidates(dir: String, bounds: Map[String, (String, String)],
                     versionAsOf: Option[Int] = None): Seq[String] = {
    val v = resolveVersion(dir, versionAsOf)
    val m = headerManifest(dir, v)
    // fail fast on a typo'd column (same contract as readWhere) — a
    // silently-ignored bound would read as "no pruning happened"
    m.schema.foreach { s =>
      bounds.foreach { case (c, (lo, hi)) =>
        require(s.fieldNames.contains(c),
          s"no column $c in ${s.fieldNames.mkString(",")}")
        // readWhere's epoch-micros bound contract, shared: a local-time /
        // ISO bound on a TimestampType column would silently hit the
        // conservative no-prune fallback and read as "no pruning
        // happened" — the opposite of this API's purpose
        if (s.fields.find(_.name == c).exists(_.dataType.isInstanceOf[TimestampType]))
          Seq(lo, hi).foreach { b =>
            try b.toLong catch {
              case _: NumberFormatException => throw new IllegalArgumentException(
                s"bound '$b' for timestamp column $c must be an EPOCH-MICROS " +
                  "string (e.g. a unix_micros value), not a rendered timestamp " +
                  "— local-time strings are not order-safe across timezones/DST")
            }
          }
      }
    }
    boundedCandidates(dir, v,
      bounds.map { case (c, r) => c -> Seq(r) })._2.map(_.path)
  }

  /** Single-column convenience overload. */
  def readCandidates(dir: String, keyCol: String, lo: String, hi: String,
                     versionAsOf: Option[Int]): Seq[String] =
    readCandidates(dir, Map(keyCol -> (lo, hi)), versionAsOf)
  def readCandidates(dir: String, keyCol: String, lo: String,
                     hi: String): Seq[String] =
    readCandidates(dir, Map(keyCol -> (lo, hi)), None)

  /** The files of `m` whose stats overlap every bound (a closed
    * [lo, hi] per column, rendered like the stats); a bound on a column
    * that cannot prune ([[prunableStats]]), or a file without stats for
    * it (all-null in that file), keeps the file. */
  private def pruneWhere(m: Snapshot,
                         bounds: Map[String, (String, String)]): Seq[FileEntry] = {
    val dts = prunableStats(m).map(f => f.name -> f.dataType).toMap
    val statBounds = bounds.filter { case (c, _) => dts.contains(c) }
    if (statBounds.isEmpty) m.files
    else m.files.filter(f => statBounds.forall { case (c, (lo, hi)) =>
      f.stats.get(c).forall { case (fLo, fHi) =>
        rangesOverlap(dts(c), fLo, fHi, lo, hi) }
    })
  }

  /** STATS-PRUNED snapshot read (data skipping — the read-side payoff
    * of clustering): only files whose recorded stats overlap EVERY
    * requested `[lo, hi]` bound are opened; the exact predicates are
    * then applied as residual filters, so the result equals
    * `read(...).filter(...)` while a narrow box over a clustered
    * 100 TB table reads the covering files instead of every file.
    * Pruning is pure driver metadata (the manifest), no file I/O;
    * unclustered tables degrade gracefully to a filtered full read.
    * Bounds are strings rendered like the stats themselves and
    * compared TYPED: numerics numerically, dates/NTZ-timestamps/strings
    * lexically (their renderings are monotonic), and TimestampType as
    * EPOCH-MICROS strings — pass e.g. `unix_micros` values, never a
    * local-time rendering (session-timezone strings invert across DST).
    * Multi-column bounds are the Z-ORDER payoff: a z-clustered layout
    * gives every file a small hyper-rectangle of the key space, so a
    * box prunes on BOTH dimensions — a lexicographic sort only ever
    * prunes its leading column. */
  def readWhere(spark: SparkSession, dir: String,
                bounds: Map[String, (String, String)],
                versionAsOf: Option[Int] = None): DataFrame = {
    require(bounds.nonEmpty, "readWhere needs at least one column bound")
    val v = resolveVersion(dir, versionAsOf)
    // two-tier: candidates resolve without materializing the file list
    val (m, statFiles) = boundedCandidates(dir, v,
      bounds.map { case (c, r) => c -> Seq(r) })
    val schema = m.schema.getOrElse(
      throw new IllegalStateException(s"manifest v$v at $dir records no schema"))
    val dts = bounds.keys.map { c =>
      c -> schema.fields.find(_.name == c).map(_.dataType)
        .getOrElse(throw new IllegalArgumentException(
          s"no column $c in ${schema.fieldNames.mkString(",")}"))
    }.toMap
    // point predicates (lo == hi) additionally consult the per-file
    // bloom blobs — the non-cluster-column skipping path
    val files = bounds.foldLeft(statFiles) { case (fs, (c, (lo, hi))) =>
      if (lo == hi) bloomPrune(dir, m, fs, c, Seq(lo), dts(c)) else fs
    }
    val base = readEntries(spark, dir, m, files)
    def bound(c: String, v: String): org.apache.spark.sql.Column =
      dts(c) match {
        // epoch-micros convention, matching the manifest stats rendering
        case _: TimestampType =>
          val us = try v.toLong catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"bound '$v' for timestamp column $c must be an EPOCH-MICROS " +
                "string (e.g. a unix_micros value), not a rendered timestamp " +
                "— local-time strings are not order-safe across timezones/DST")
          }
          timestamp_micros(lit(us))
        case dt => lit(v).cast(dt)
      }
    bounds.foldLeft(base) { case (df, (c, (lo, hi))) =>
      df.filter(col(c) >= bound(c, lo) && col(c) <= bound(c, hi))
    }
  }

  /** Single-column range read — [[readWhere]] with one bound. */
  def readRange(spark: SparkSession, dir: String, keyCol: String,
                lo: String, hi: String,
                versionAsOf: Option[Int] = None): DataFrame =
    readWhere(spark, dir, Map(keyCol -> (lo, hi)), versionAsOf)

  /** The files a `keyCol IN values` read would open (stats + bloom
    * pruning) — public so specs, keys and operators can assert/observe
    * the skip, the point-lookup twin of [[readCandidates]]. */
  def readCandidatesIn(dir: String, keyCol: String, values: Seq[String],
                       versionAsOf: Option[Int] = None): Seq[String] = {
    val v = resolveVersion(dir, versionAsOf)
    val (m, statFiles) = boundedCandidates(dir, v,
      Map(keyCol -> values.map(x => (x, x))))
    val dt = m.schema.flatMap(_.fields.find(_.name == keyCol))
      .map(_.dataType).getOrElse(throw new IllegalArgumentException(
        s"no column $keyCol in ${m.schema.map(_.fieldNames.mkString(","))
          .getOrElse("<no schema>")}"))
    bloomPrune(dir, m, statFiles, keyCol, values, dt).map(_.path)
  }

  /** STATS-PRUNED point-set read: rows where `keyCol IN values`, opening
    * only the files whose recorded [min,max] covers at least one
    * requested value — ONE scan with an `isin` residual filter, never a
    * per-value read loop (the IVF probe path reads its nprobe cells this
    * way: the file set is pure driver metadata, the row work one job).
    * Values use the same string rendering as [[readWhere]] bounds
    * (epoch-micros for timestamps). An empty `values` returns an empty
    * frame with the table schema. */
  def readWhereIn(spark: SparkSession, dir: String, keyCol: String,
                  values: Seq[String],
                  versionAsOf: Option[Int] = None): DataFrame = {
    val v = resolveVersion(dir, versionAsOf)
    val (m, statFiles) = boundedCandidates(dir, v,
      Map(keyCol -> values.map(x => (x, x))))
    val schema = m.schema.getOrElse(
      throw new IllegalStateException(s"manifest v$v at $dir records no schema"))
    val dt = schema.fields.find(_.name == keyCol).map(_.dataType)
      .getOrElse(throw new IllegalArgumentException(
        s"no column $keyCol in ${schema.fieldNames.mkString(",")}"))
    val files = bloomPrune(dir, m, statFiles, keyCol, values, dt)
    val base = readEntries(spark, dir, m,
      if (values.isEmpty) Seq.empty else files)
    val lits = values.map { x =>
      dt match {
        case _: TimestampType => timestamp_micros(lit(x.toLong))
        case other            => lit(x).cast(other)
      }
    }
    if (lits.isEmpty) base else base.filter(col(keyCol).isin(lits: _*))
  }

  /** Retry/rebase driver for optimistic commits — the piece that makes
    * two RACING writers both land instead of one caller having to
    * orchestrate a retry (what Delta/Iceberg call commit rebase).
    * `body(parent, manifest)` prepares and publishes version
    * `parent + 1`; on [[ConcurrentCommitException]] the LATEST manifest
    * is re-read and the body re-runs against it, up to `maxRetries`
    * times. The rebase is only taken when the caller did NOT pin
    * `fromVersion`: a pinned snapshot means the caller chose its own
    * isolation point, and silently rebasing past a concurrent commit
    * would fabricate a read the caller never made — that case still
    * throws, as before. Each attempt's orphaned data files (a rebased
    * merge rewrites a fresh batch) are reclaimed by [[vacuum]], the
    * same fate as any losing committer's batch. */
  private def commitWithRebase(dir: String, fromVersion: Option[Int],
                               maxRetries: Int)
                              (body: (Int, Snapshot) => Int): Int = {
    var m = snapshot(dir, fromVersion)
    var attempt = 0
    while (true) {
      try return body(m.version, m)
      catch {
        case e: ConcurrentCommitException =>
          if (fromVersion.isDefined || attempt >= maxRetries) throw e
          attempt += 1
          m = snapshot(dir)
      }
    }
    -1 // unreachable
  }

  /** Append-only commit: prior files carried by reference.
    * `fromVersion` pins the snapshot this transaction read (optimistic
    * concurrency): if someone else committed after it, the put-if-absent
    * publish loses and throws [[ConcurrentCommitException]] instead of
    * silently building on state the caller never saw. WITHOUT a pinned
    * version, a losing appender REBASES: appends commute with any
    * concurrent commit, so the batch (already durable on disk — it is
    * written once, not per attempt) is re-committed on top of the new
    * latest manifest, up to `maxRetries` times. `numFiles <= 0`
    * PRESERVES the caller's partitioning — required when appending to a
    * clustered table (a round-robin reshape would smear every key range
    * across the new files, so the appended data would never prune). */
  def append(spark: SparkSession, dir: String, df: DataFrame,
             numFiles: Int = 4, fromVersion: Option[Int] = None,
             maxRetries: Int = 5): Int = {
    // write the batch ONCE against the first-seen manifest's stat
    // columns; a rebase onto a manifest with different statsCols leaves
    // these entries without the new stats — conservative-correct (they
    // are never pruned), and vanishingly rare (statsCols change only at
    // createClustered time)
    var written: Option[Seq[FileEntry]] = None
    commitWithRebase(dir, fromVersion, maxRetries) { (base, m) =>
      val files = written.getOrElse {
        val fs = writeShaped(df, dir, Some(m), numFiles)
        written = Some(fs); fs
      }
      val v = base + 1
      // appending a batch with NEW columns evolves the table schema as
      // pure metadata: prior files are untouched and null-fill on read
      val evolved = m.schema.map(unionSchema(_, df.schema)).getOrElse(df.schema)
      commitDelta(dir, v, "append", m, files, Nil, Some(evolved), m.carried)
      v
    }
  }

  /** INSERT OVERWRITE: replace the snapshot's contents with `df` under a
    * new version — prior files are dropped from the manifest (not from
    * disk: older versions keep reading them until [[vacuum]]). Same
    * clustering law as [[append]]. */
  def overwrite(spark: SparkSession, dir: String, df: DataFrame,
                numFiles: Int = 4, maxRetries: Int = 5): Int = {
    var written: Option[Seq[FileEntry]] = None
    commitWithRebase(dir, None, maxRetries) { (base, m) =>
      val files = written.getOrElse {
        val fs = writeShaped(df, dir, Some(m), numFiles)
        written = Some(fs); fs
      }
      val v = base + 1
      val evolved = m.schema.map(unionSchema(_, df.schema)).getOrElse(df.schema)
      commit(dir, v, "overwrite", base, files, Some(evolved), m.carried)
      v
    }
  }

  /** EXACTLY-ONCE streaming ingestion: append `df` under `epochId`,
    * SKIPPING the commit when the table already records this epoch.
    * `foreachBatch` replays a failed epoch with the same batch id and
    * (for replayable sources) the same data, so epoch-idempotent
    * commits turn at-least-once delivery into an exactly-once table —
    * the same discipline as RegistrySink's two-phase commit, at the
    * table-format level. The committed-epoch set lives in EVERY
    * manifest header as a carried-forward range-set, so the check is
    * O(1) metadata on the latest manifest and survives [[vacuum]]
    * deleting historical manifests (an epoch can never be re-applied
    * because its original manifest was reclaimed). A racing replay of
    * the SAME epoch is arbitrated by put-if-absent (the loser's batch
    * becomes a vacuumable orphan). Returns the version holding the
    * epoch, or the latest version when the holder was vacuumed. */
  def appendEpoch(spark: SparkSession, dir: String, df: DataFrame,
                  epochId: Long, numFiles: Int = 2,
                  maxRetries: Int = 5): Int = appendEpochOnce(
    spark, dir, df, epochId, numFiles, maxRetries)

  /** One rebase-wrapped attempt chain: each attempt re-reads the latest
    * manifest and RE-CHECKS the committed-epoch set — so when two
    * replays of the SAME epoch race, the loser's retry sees the epoch
    * already committed and returns idempotently instead of double-
    * applying, while races between DIFFERENT epochs (or an epoch racing
    * a merge) rebase like any append. */
  private def appendEpochOnce(spark: SparkSession, dir: String,
                              df: DataFrame, epochId: Long, numFiles: Int,
                              maxRetries: Int): Int = {
    var attempt = 0
    while (true) {
      try return appendEpochBody(spark, dir, df, epochId, numFiles)
      catch {
        case e: ConcurrentCommitException =>
          if (attempt >= maxRetries) throw e
          attempt += 1
      }
    }
    -1 // unreachable
  }

  private def appendEpochBody(spark: SparkSession, dir: String,
                              df: DataFrame, epochId: Long,
                              numFiles: Int): Int = {
    val versions = existingVersions(dir)
    val latest = versions.lastOption.getOrElse(0)
    val latestM = if (latest == 0) None else Some(readManifest(dir, latest))
    // the carried range-set is authoritative; a table written before
    // the range-set existed (per-commit `epoch=N` headers only) must
    // not LOSE idempotency on upgrade — seed the set from the surviving
    // manifests' headers once, and this commit will carry it forward
    val ranges = latestM.flatMap(_.header.get("epochs")).map(parseRanges)
      .getOrElse(
        versions.flatMap(v => readHeaderMap(dir, v).get("epoch"))
          .map(_.toLong)
          .foldLeft(Seq.empty[(Long, Long)])(addToRanges))
    if (rangesContain(ranges, epochId)) {
      // committed before: find the surviving manifest that holds it, or
      // fall back to latest if vacuum reclaimed the holder. NEWEST first
      // (streaming replays are of recent epochs, so the holder is near
      // the tail — the common case is O(1) reads, not O(#versions)), and
      // a manifest deleted by a CONCURRENT vacuum between the listing
      // and the read is skipped, not fatal (the return value is advisory
      // — the epoch IS committed either way).
      versions.reverseIterator.flatMap { v =>
        try {
          if (readHeaderMap(dir, v).get("epoch")
            .contains(epochId.toString)) Some(v)
          else None
        } catch { case _: java.nio.file.NoSuchFileException => None }
      }.nextOption().getOrElse(latest)
    } else {
      val evolved = latestM.flatMap(_.schema)
        .map(unionSchema(_, df.schema)).getOrElse(df.schema)
      // same shaping law as append: clustered tables range-repartition
      // the batch on the cluster keys; numFiles <= 0 preserves the
      // caller's partitioning
      val files = writeShaped(df, dir, latestM, numFiles)
      val v = latest + 1
      val carried = latestM.map(_.carried.filterNot(_._1 == "epochs"))
        .getOrElse(Nil)
      val hdrs = carried ++ Seq("epoch" -> epochId.toString,
        "epochs" -> encodeRanges(addToRanges(ranges, epochId)))
      latestM match {
        case Some(lm) =>
          commitDelta(dir, v, "append", lm, files, Nil, Some(evolved), hdrs)
        case None =>
          commit(dir, v, "append", latest, files, Some(evolved), hdrs)
      }
      v
    }
  }

  /** The V2 StreamingWrite commit: append files ALREADY WRITTEN by
    * executor tasks (the writeStream.toTable path — rows never pass
    * through the driver; this call is pure manifest metadata) under
    * `epochId` with the same idempotency/rebase discipline as
    * [[appendEpoch]]. Returns true when this call committed, false when
    * the epoch was already present — the caller then deletes its
    * now-orphaned batch files (a replayed epoch re-writes data before
    * the skip can be seen; the data is UUID-pathed so deletion is
    * safe). */
  private[io] def appendEpochFiles(dir: String, epochId: Long,
                                   files: Seq[FileEntry],
                                   writeSchema: StructType,
                                   maxRetries: Int = 5): Boolean = {
    var attempt = 0
    while (true) {
      val versions = existingVersions(dir)
      val latest = versions.lastOption.getOrElse(0)
      val latestM = if (latest == 0) None else Some(readManifest(dir, latest))
      val ranges = latestM.flatMap(_.header.get("epochs")).map(parseRanges)
        .getOrElse(
          versions.flatMap(v => readHeaderMap(dir, v).get("epoch"))
            .map(_.toLong)
            .foldLeft(Seq.empty[(Long, Long)])(addToRanges))
      if (rangesContain(ranges, epochId)) return false
      // executor tasks wrote these files under the frame's LOGICAL
      // names — on a column-mapped table they would disagree with every
      // other file's physical names; refuse rather than corrupt
      // (OPTIMIZE materializes the mapping away and restores the path)
      require(!latestM.exists(_.colmap.nonEmpty),
        s"streaming write into column-mapped table $dir: run OPTIMIZE " +
          "to materialize the rename mapping first")
      latestM.map(_.retired).getOrElse(Set.empty)
        .intersect(writeSchema.fieldNames.toSet).foreach(c =>
          throw new IllegalArgumentException(
            s"streamed column $c collides with a retired physical " +
              s"column of $dir; OPTIMIZE first or rename the stream side"))
      val evolved = latestM.flatMap(_.schema)
        .map(unionSchema(_, writeSchema)).getOrElse(writeSchema)
      val carried = latestM.map(_.carried.filterNot(_._1 == "epochs"))
        .getOrElse(Nil)
      try {
        val hdrs = carried ++ Seq("epoch" -> epochId.toString,
          "epochs" -> encodeRanges(addToRanges(ranges, epochId)))
        latestM match {
          case Some(lm) => commitDelta(dir, latest + 1, "append", lm,
            files, Nil, Some(evolved), hdrs)
          case None => commit(dir, latest + 1, "append", latest, files,
            Some(evolved), hdrs)
        }
        return true
      } catch {
        case e: ConcurrentCommitException =>
          if (attempt >= maxRetries) throw e
          attempt += 1
      }
    }
    false // unreachable
  }

  /** The typed order key of one stat rendering — the ONE comparison
    * every pruning tier uses (entries, `.ckindex` segment boxes, the
    * scan's file index). Numerics AND TimestampType compare numerically
    * (timestamps render as epoch-micros — a session-local-time string
    * inverts order across a DST fall-back and differs between writer
    * and reader timezones). Strings, DateType and TimestampNTZType
    * compare as UTF-8 bytes: that is the order of Spark's min/max, which
    * rendered the stats (Java `String` order is UTF-16 and disagrees on
    * supplementary characters), and the ISO date/NTZ renderings are
    * zero-padded ASCII, hence monotonic. null = resists comparison: an
    * unparseable numeric ("NaN"/"Infinity" stats from a float column)
    * or an unknown type — never prunes, never throws. */
  private[io] def statKey(dt: DataType, s: String): AnyRef = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
         _: FloatType | _: DoubleType | _: DecimalType | _: TimestampType =>
      try BigDecimal(s) catch { case _: NumberFormatException => null }
    case _: StringType | _: DateType | _: TimestampNTZType =>
      org.apache.spark.unsafe.types.UTF8String.fromString(s)
    case _ => null
  }

  /** Order of two [[statKey]]s of one type; None when either resists. */
  private[io] def statCompare(a: AnyRef, b: AnyRef): Option[Int] = (a, b) match {
    case (x: BigDecimal, y: BigDecimal) => Some(x.compare(y))
    case (x: org.apache.spark.unsafe.types.UTF8String,
          y: org.apache.spark.unsafe.types.UTF8String) => Some(x.compareTo(y))
    case _ => None
  }

  /** TYPED overlap test between two [min,max] ranges rendered as
    * strings, in [[statKey]] order; any side that resists comparison
    * keeps the file a candidate (conservative-correct). */
  private def rangesOverlap(dt: DataType, fLo: String, fHi: String,
                            uLo: String, uHi: String): Boolean =
    Seq(fLo, fHi, uLo, uHi).map(statKey(dt, _)) match {
      case Seq(a, b, c, d) if !Seq(a, b, c, d).contains(null) =>
        !(statCompare(b, c).exists(_ < 0) || statCompare(d, a).exists(_ < 0))
      case _ => true
    }

  /** Render one side of a column's [min,max] stat as the string the
    * manifest stores and [[rangesOverlap]] compares: epoch-micros for
    * TimestampType (timezone-proof, DST-proof), plain string cast
    * otherwise. Used identically at write time (writeBatch), at
    * merge-discovery time (updates' bounding box) and — via the micros
    * convention on bounds — at read time, so all three speak one
    * format. */
  private[io] def statAgg(c: String, dt: DataType, isMin: Boolean):
      org.apache.spark.sql.Column = {
    val agg = if (isMin) min(col(c)) else max(col(c))
    dt match {
      case _: TimestampType => unix_micros(agg).cast("string")
      case _ => agg.cast("string")
    }
  }

  /** The files a MERGE/DELETE discovery scan must READ for `updates` on
    * `keyCols`: manifest stats prune every file whose recorded
    * cluster-key range cannot overlap the updates' key range (one tiny
    * agg over the updates computes that range). Files without stats —
    * unclustered tables, all-null keys, non-stat key columns — are
    * always candidates, so pruning is conservative-correct. Public so
    * specs can assert the set that [[merge]] reads. */
  def discoveryCandidates(spark: SparkSession, dir: String,
                          updates: DataFrame, keyCols: Seq[String],
                          fromVersion: Option[Int] = None): Seq[String] =
    pruneCandidates(snapshot(dir, fromVersion), updates, keyCols).map(_.path)

  private def pruneCandidates(m: Snapshot, updates: DataFrame,
                              keyCols: Seq[String]): Seq[FileEntry] = {
    val statCols = m.statsCols.filter(keyCols.contains)
    if (statCols.isEmpty || m.schema.isEmpty) m.files
    else pruneWhere(m, updateBox(updates, statCols))
  }

  /** The updates' bounding box over `statCols`, from one tiny agg in
    * the SAME rendering the write path records; a column null in every
    * update row gives no bound (cannot prune). */
  private def updateBox(updates: DataFrame,
                        statCols: Seq[String]): Map[String, (String, String)] = {
    val aggs = statCols.flatMap(c => Seq(
      statAgg(c, updates.schema(c).dataType, isMin = true),
      statAgg(c, updates.schema(c).dataType, isMin = false)))
    val r = updates.agg(aggs.head, aggs.tail: _*).head()
    statCols.zipWithIndex.flatMap { case (c, i) =>
      Option(r.getString(2 * i)).zip(Option(r.getString(2 * i + 1))).map(c -> _)
    }.toMap
  }

  /** How a row-level operation finds its rows. */
  private sealed trait RowMatch
  /** The rows where the SQL `predicate` is TRUE. FALSE and NULL do not
    * match, so a row whose predicate is NULL is neither deleted nor
    * updated (the SQL `WHERE` rule; Delta keeps `NOT (cond <=> true)`). */
  private final case class Where(predicate: String) extends RowMatch {
    def matched: Column = coalesce(expr(predicate), lit(false))
  }
  /** The rows whose `keyCols` appear in `keys` (a NULL key matches
    * nothing). */
  private final case class KeysIn(keys: DataFrame,
                                  keyCols: Seq[String]) extends RowMatch

  /** What a row-level operation does to the rows it matched. */
  private sealed trait RowChange
  private case object Remove extends RowChange
  /** `SET column = SQL expression`, values cast to the declared types. */
  private final case class Assign(sets: Seq[(String, String)]) extends RowChange
  /** Replace the matched rows with `updates`; its other rows insert. */
  private final case class Upsert(updates: DataFrame) extends RowChange

  /** The write mode a table declares under header `key`: true when
    * `TBLPROPERTIES('<op>.mode'='merge-on-read')`. */
  private def declaredMergeOnRead(key: String)(m: Snapshot): Boolean =
    m.header.get(key).contains("merge-on-read")

  /** THE ROW-LEVEL CORE: every DELETE, UPDATE and key-matched MERGE,
    * copy-on-write or merge-on-read, runs this one pipeline per commit
    * attempt, against the manifest it commits on:
    *  1. candidates — the files whose stats may hold a matched row
    *     ([[predicateCandidates]] / [[pruneCandidates]]);
    *  2. discovery — one tagged DV-aware read of the candidates keeps the
    *     matched rows; the driver collects only their file set;
    *  3. [[writeRowLevel]] — copy-on-write rewrites the touched files
    *     (kept rows, images, upserts); merge-on-read DV-marks the
    *     matched rows and appends images and upserts; one commit.
    * `mergeOnRead` reads the mode off that same manifest, so a statement
    * uses the mode of the snapshot it commits on. A rebase re-runs the
    * whole pipeline against the snapshot that won (the losing attempt's
    * batch is a vacuumable orphan). An operation that changes nothing
    * commits nothing and returns the version it read. */
  private def rowLevel(spark: SparkSession, dir: String, op: String,
                       rows: RowMatch, change: RowChange,
                       mergeOnRead: Snapshot => Boolean, numFiles: Int,
                       fromVersion: Option[Int], maxRetries: Int,
                       epoch: Option[Long] = None): Int =
    commitWithRebase(dir, fromVersion, maxRetries) { (_, m) =>
    val mor = mergeOnRead(m)
    lazy val schemaNow = m.schema.getOrElse(throw new IllegalStateException(
      s"manifest at $dir records no schema"))
    change match {
      case Assign(sets) => sets.foreach { case (c, _) =>
        require(schemaNow.fieldNames.contains(c),
          s"UPDATE of unknown column $c (have ${schemaNow.fieldNames.mkString(",")})") }
      case _ =>
    }
    val candidates = rows match {
      case Where(p)              => predicateCandidates(spark, m, p)
      case KeysIn(keys, keyCols) => pruneCandidates(m, keys, keyCols)
    }
    val (tagged, file, pos) = readTagged(spark, dir, m, candidates)
    val matches = rows match {
      // ≡ filter(matched): a filter drops a NULL condition, and the bare
      // predicate still pushes down to the scan
      case Where(p) => tagged.filter(p)
      case KeysIn(keys, keyCols) => tagged.join(
        keys.select(keyCols.map(col): _*).distinct(), keyCols, "left_semi")
    }
    val touched =
      if (candidates.isEmpty) Set.empty[String]
      else matches.select(col(file)).distinct()
        .collect().map(_.getString(0)).toSet // O(#files) driver metadata
    // SET assignments as a projection of the table's columns; `where`
    // limits them to the matched rows of a copy-on-write rewrite
    def assigned(sets: Seq[(String, String)], where: Option[Column]) =
      schemaNow.fields.toSeq.map { f =>
        sets.find(_._1 == f.name).fold(col(f.name)) { case (_, e) =>
          val v = expr(e).cast(f.dataType)
          where.fold(v)(when(_, v).otherwise(col(f.name))).as(f.name)
        }
      }
    val rewrite: Option[DataFrame] =
      if (touched.isEmpty) None
      else if (mor) change match {
        case Assign(sets) => Some(matches.select(assigned(sets, None): _*))
        case _            => None
      } else {
        // the DV-aware reader: a touched file's deleted rows must not be
        // resurrected by the rewrite (the rewrite also RETIRES its DV —
        // the fresh entry carries none)
        val kept = readEntries(spark, dir, m, m.files.filter(f => touched(f.path)))
        Some((rows, change) match {
          case (w: Where, Assign(sets)) => kept.select(assigned(sets, Some(w.matched)): _*)
          case (_, Assign(_)) => throw new IllegalArgumentException(
            "SET assignments need a predicate")
          case (w: Where, _) => kept.filter(!w.matched)
          case (KeysIn(keys, keyCols), _) => kept.join(keys, keyCols, "left_anti")
        })
      }
    val inserts = Some(change).collect { case Upsert(updates) => updates }
    // upserts may EVOLVE the schema (new columns null-fill in carried
    // rows and files) or omit columns (null-filled in the written rows)
    val schema = inserts.fold(m.schema)(u =>
      Some(m.schema.map(unionSchema(_, u.schema)).getOrElse(u.schema)))
    // an epoch-stamped merge (the streaming-upsert path) records the
    // epoch in the SAME commit, under the carried range-set — the
    // idempotency law appendEpoch established (incl. its legacy-header
    // seeding, so upgrading a pre-range-set table never loses ids)
    val headers = epoch.fold(m.carried)(e =>
      m.carried.filterNot(_._1 == "epochs") ++ Seq("epoch" -> e.toString,
        "epochs" -> encodeRanges(addToRanges(seededEpochRanges(dir, Some(m)), e))))
    writeRowLevel(spark, dir, m, op, mor, touched, rewrite, inserts,
      matches.select(col(file).as("file"), col(pos).as("pos")),
      numFiles, schema, headers)
  }

  /** The write-and-commit step every row-level operation ends in.
    * `touched` holds the relative paths of the files with a matched row.
    *  - Copy-on-write: `rewrite` (the touched files' kept rows and
    *    images) and `inserts` go out as one shaped batch that replaces
    *    the touched files.
    *  - Merge-on-read: `marked` ((file, pos) of the matched rows) joins
    *    the touched files' deletion vectors, and `rewrite` (the images)
    *    and `inserts` append as one shaped batch; no data file is
    *    rewritten. The op is recorded as `<op>-dv`.
    * Written batches keep the clustering law ([[writeShaped]]). An
    * operation that changes nothing — no touched file, no insert row, the
    * carried headers as they were — commits nothing and returns the
    * version it read. */
  private def writeRowLevel(spark: SparkSession, dir: String, m: Snapshot,
                            op: String, mergeOnRead: Boolean,
                            touched: Set[String], rewrite: Option[DataFrame],
                            inserts: Option[DataFrame], marked: DataFrame,
                            numFiles: Int, schema: Option[StructType],
                            headers: Seq[(String, String)]): Int =
    if (touched.isEmpty && headers == m.carried &&
      inserts.forall(_.limit(1).collect().isEmpty)) m.version
    else {
      val files = (rewrite.filter(_ => touched.nonEmpty) ++ inserts)
        .reduceOption(_.unionByName(_, allowMissingColumns = true)).toSeq
        .flatMap(writeShaped(_, dir, Some(m), numFiles))
      val dvs =
        if (mergeOnRead && touched.nonEmpty) attachDv(spark, dir, m, touched, marked)
        else Nil
      val v = m.version + 1
      commitDelta(dir, v, if (mergeOnRead) s"$op-dv" else op, m, dvs ++ files,
        touched.toSeq, schema, headers)
      v
    }

  /** MERGE (upsert by `keyCols`): file-granular copy-on-write through
    * the row-level core. Discovery is TWO-TIER: (1) manifest min/max
    * stats prune files whose cluster-key range cannot contain any update
    * key — pure driver metadata, no I/O; (2) one distributed semi-join
    * over ONLY the surviving candidate files finds those that actually
    * contain matched keys (driver collects only the FILE list). Touched
    * files are rewritten as (their rows anti-joined on the update keys)
    * ∪ updates — so updates replace matches and unmatched update rows
    * are inserts — and every untouched file is carried by reference. If
    * no file matches, the updates batch is a pure append (an empty one
    * commits nothing). At 100 TB a narrow-key merge into a clustered
    * table is therefore a covering-file read + single-file rewrite, not a
    * table scan. Always copy-on-write: a `merge.mode` declaration governs
    * the SQL MERGE routing ([[generalMerge]]), not this primitive. */
  def merge(spark: SparkSession, dir: String, updates: DataFrame,
            keyCols: Seq[String], numFiles: Int = 4,
            fromVersion: Option[Int] = None,
            maxRetries: Int = 5, epoch: Option[Long] = None): Int =
    rowLevel(spark, dir, "merge", KeysIn(updates, keyCols), Upsert(updates),
      _ => false, numFiles, fromVersion, maxRetries, epoch)

  /** EXACTLY-ONCE STREAMING UPSERT — the `foreachBatch` building block
    * (how every table format does streaming MERGE): an epoch-guarded
    * [[merge]]. The epoch check and the merge base are the SAME pinned
    * snapshot, and the epoch id commits in the same manifest as the
    * merged files under the carried range-set — so a replayed
    * micro-batch (restart from checkpoint, speculative re-execution)
    * sees its epoch already committed and returns without re-applying,
    * while a concurrent FOREIGN commit rebases and re-checks. Wire it
    * as `df.writeStream.foreachBatch((batch, epoch) =>
    * SnapshotTable.mergeEpoch(spark, dir, batch, keyCols, epoch))`.
    * Always the clustered copy-on-write upsert primitive ([[merge]]) —
    * a `merge.mode=merge-on-read` declaration governs the SQL MERGE
    * routing, not this programmatic streaming path. */
  def mergeEpoch(spark: SparkSession, dir: String, updates: DataFrame,
                 keyCols: Seq[String], epochId: Long, numFiles: Int = 4,
                 maxRetries: Int = 5): Int = {
    var attempt = 0
    while (true) {
      val latest = latestVersion(dir)
      val ranges =
        if (latest < 1) Seq.empty
        else seededEpochRanges(dir, Some(readManifest(dir, latest)))
      if (rangesContain(ranges, epochId)) return latest
      try return merge(spark, dir, updates, keyCols, numFiles,
        fromVersion = Some(latest), maxRetries = 0, epoch = Some(epochId))
      catch {
        case e: ConcurrentCommitException =>
          if (attempt >= maxRetries) throw e
          attempt += 1
      }
    }
    -1 // unreachable
  }

  /** The committed-epoch range-set seen from manifest `m` — the carried
    * `epochs` header when present, else SEEDED once from the surviving
    * manifests' legacy per-commit `epoch=N` headers (tables written
    * before the range-set existed must not lose idempotency on
    * upgrade; the same rule appendEpochBody applies). */
  private def seededEpochRanges(dir: String,
                                m: Option[Snapshot]): Seq[(Long, Long)] =
    m.flatMap(_.header.get("epochs")).map(parseRanges).getOrElse(
      existingVersions(dir)
        .flatMap(v => readHeaderMap(dir, v).get("epoch"))
        .map(_.toLong)
        .foldLeft(Seq.empty[(Long, Long)])(addToRanges))

  /** DELETE the rows where `predicate` is TRUE, through the row-level
    * core: a row whose predicate is NULL stays. Discovery reads only the
    * files whose stats can match ([[predicateCandidates]]). The mode is
    * the one the snapshot it commits on declares: copy-on-write rewrites
    * the files holding a matched row (rewritten files keep recording
    * cluster stats); `TBLPROPERTIES('delete.mode'='merge-on-read')` marks
    * the rows in deletion vectors instead ([[deleteVectors]]). A
    * predicate that matches no row commits nothing and returns the
    * version it read. */
  def delete(spark: SparkSession, dir: String, predicate: String,
             numFiles: Int = 4, fromVersion: Option[Int] = None,
             maxRetries: Int = 5): Int =
    rowLevel(spark, dir, "delete", Where(predicate), Remove,
      declaredMergeOnRead("deletemode"), numFiles, fromVersion, maxRetries)

  /** UPDATE the rows where `predicate` is TRUE — the SQL `UPDATE t SET
    * c = e WHERE p` primitive, through the row-level core. `sets` maps
    * column name -> SQL expression (evaluated against the row, cast to
    * the column's declared type: ANSI rejects silent narrowing at run
    * time); a row whose predicate is NULL keeps its values. The mode is
    * the one the snapshot it commits on declares: copy-on-write rewrites
    * the files holding a matched row (other rows carried unchanged,
    * untouched files by reference, rewritten files key-clustered);
    * `TBLPROPERTIES('update.mode'='merge-on-read')` takes the
    * [[updateVectors]] form. A predicate that matches no row commits
    * nothing and returns the version it read. */
  def update(spark: SparkSession, dir: String, predicate: String,
             sets: Seq[(String, String)], numFiles: Int = 4,
             fromVersion: Option[Int] = None,
             maxRetries: Int = 5): Int =
    rowLevel(spark, dir, "update", Where(predicate), Assign(sets),
      declaredMergeOnRead("updatemode"), numFiles, fromVersion, maxRetries)

  /** DELETE-BY-KEY (the `MERGE … WHEN MATCHED THEN DELETE` primitive):
    * remove the rows whose `keyCols` appear in `keys`, with [[merge]]'s
    * full two-tier discovery — manifest stats prune the candidate files
    * on the keys' bounding box first, then one semi-join finds the files
    * actually holding matches; only those rewrite (anti-join on the
    * keys), untouched files carry by reference. A narrow-key delete into
    * a clustered 100 TB table is a covering-file rewrite, not a scan.
    * Always copy-on-write, like [[merge]]. */
  def deleteMatched(spark: SparkSession, dir: String, keys: DataFrame,
                    keyCols: Seq[String], numFiles: Int = 4,
                    fromVersion: Option[Int] = None,
                    maxRetries: Int = 5): Int =
    rowLevel(spark, dir, "delete", KeysIn(keys, keyCols), Remove,
      _ => false, numFiles, fromVersion, maxRetries)

  /** The marker columns of [[generalMerge]]'s joined-row namespace —
    * no table column may take one of these names. */
  private val MergeMarkers = Set("_s_exists", "_t_exists", "_action", "_rn", "_ins")

  /** One action clause of a [[generalMerge]]. `kind` is `"update"`,
    * `"delete"` or `"insert"`; `condition` is an optional SQL predicate
    * over the JOINED row namespace — target columns by plain name,
    * source columns as `` `_s_<name>` `` — and `sets` maps target
    * column → SQL expression in the same namespace. An EMPTY `sets` is
    * the star form: every target column takes the same-named source
    * column where the source has one (update keeps the target value
    * otherwise; insert null-fills). Rendering from parsed/analyzed SQL
    * — including the side classification that produces the `_s_`
    * prefix — lives in [[SnapshotSql.runMergePlan]]. */
  case class MergeClause(kind: String, condition: Option[String],
                         sets: Seq[(String, String)] = Nil)

  /** GENERAL MERGE — the full ANSI/Delta clause surface over the same
    * file-granular copy-on-write machinery as [[merge]]: any number of
    * `WHEN MATCHED [AND c] THEN UPDATE SET …|DELETE` clauses (first
    * applicable wins, per row), `WHEN NOT MATCHED [AND c] THEN INSERT`
    * clauses over the source rows with no target match, and `WHEN NOT
    * MATCHED BY SOURCE [AND c] THEN UPDATE|DELETE` clauses over the
    * target rows with no source match.
    *
    * Plan shape (one discovery join + one rewrite, both distributed):
    * candidate files — stats-pruned on the `keyCols` bounding box when
    * the ON condition yielded same-name equi keys, EVERY file when a
    * NOT-MATCHED-BY-SOURCE clause exists (such a clause inspects every
    * target row by definition) — are read DV-aware and tagged with
    * (file, pos) row identity, outer-joined once against the source on
    * `onSql`, and each row's first applicable clause becomes its
    * `_action`. Only files holding at least one actioned row rewrite;
    * every other candidate carries by reference, so reading a file for
    * discovery never forces its rewrite. The ANSI cardinality rule is
    * enforced distributedly: a target row matched by MORE than one
    * applicable source row fails loudly (nondeterministic result)
    * rather than applying an arbitrary winner. Unlike the star-upsert
    * fast path ([[merge]]), the general path never evolves the schema:
    * assignments must target declared columns (values CAST to the
    * declared types, ANSI errors surfacing at run time), star inserts
    * null-fill missing source columns.
    *
    * At 100 TB the narrow-key forms keep [[merge]]'s posture — a
    * clustered-key merge is a covering-file join + rewrite, not a table
    * scan — while NOT MATCHED BY SOURCE is honestly a full-table
    * operation (as in every table format). On a
    * `TBLPROPERTIES('merge.mode'='merge-on-read')` table the write
    * phase switches to the DV form: actioned rows DV-mark in place,
    * updated images + inserts append as one batch (op `merge-dv`) —
    * O(actioned rows) write, the streaming-upsert posture. The joined
    * frame persists across the discovery/cardinality/rewrite passes
    * and unpersists before commit. */
  def generalMerge(spark: SparkSession, dir: String, source: DataFrame,
                   keyCols: Seq[String], onSql: String,
                   matched: Seq[MergeClause],
                   notMatched: Seq[MergeClause],
                   notMatchedBySource: Seq[MergeClause],
                   numFiles: Int = 4, fromVersion: Option[Int] = None,
                   maxRetries: Int = 5): Int = commitWithRebase(
      dir, fromVersion, maxRetries) { (_, m) =>
    val schemaNow = m.schema.getOrElse(throw new IllegalStateException(
      s"manifest at $dir records no schema"))
    matched.foreach(c => require(c.kind == "update" || c.kind == "delete",
      s"WHEN MATCHED clause must be update/delete, got ${c.kind}"))
    notMatched.foreach(c => require(c.kind == "insert",
      s"WHEN NOT MATCHED clause must be insert, got ${c.kind}"))
    notMatchedBySource.foreach(c =>
      require(c.kind == "update" || c.kind == "delete",
        s"WHEN NOT MATCHED BY SOURCE clause must be update/delete, got ${c.kind}"))
    val srcCols = source.columns.toSet
    // the joined-row namespace reserves marker names; a user column
    // that would collide (a source column named `exists` renames to
    // the `_s_exists` marker, a target column named `_action` would be
    // clobbered by withColumn) must fail LOUDLY — silent clobbering
    // would produce wrong merge results with no error. The row identity
    // needs no reservation: the tagged read names it apart
    // every explicit assignment target must resolve to a declared
    // column — Spark's default resolution is case-insensitive, and the
    // parsed SnapshotSql route delivers raw attribute text, so a
    // typo'd or case-variant SET/INSERT column would otherwise be
    // silently dropped (the update/updateVectors validation, mirrored);
    // keys normalize to the schema's declared case before projection
    val colByLower = schemaNow.fields.map(f => f.name.toLowerCase -> f.name).toMap
    def normalizeSets(cl: MergeClause, what: String): MergeClause =
      if (cl.sets.isEmpty) cl
      else cl.copy(sets = cl.sets.map { case (k, e) =>
        colByLower.getOrElse(k.toLowerCase,
          throw new IllegalArgumentException(
            s"MERGE $what targets unknown column $k (have " +
              s"${schemaNow.fieldNames.mkString(",")})")) -> e })
    val matchedN = matched.map(normalizeSets(_, "UPDATE SET"))
    val notMatchedN = notMatched.map(normalizeSets(_, "INSERT"))
    val notMatchedBySourceN =
      notMatchedBySource.map(normalizeSets(_, "UPDATE SET"))
    source.columns.foreach(c => require(
      !MergeMarkers(s"_s_$c") && !MergeMarkers(c),
      s"MERGE source column `$c` collides with an internal marker name"))
    schemaNow.fieldNames.foreach(c => require(
      !MergeMarkers(c) && !(c.startsWith("_s_") &&
        srcCols.contains(c.stripPrefix("_s_"))),
      s"MERGE target column `$c` collides with the joined-row namespace"))
    val srcR = source
      .select(source.columns.toSeq.map(c => col(c).as(s"_s_$c")): _*)
      .withColumn("_s_exists", lit(true))
    // discovery candidates: the matched/insert determination only needs
    // files whose cluster-key range can overlap the source keys' box
    // (conservative — see pruneCandidates); an NMBS clause must see
    // every target row, so pruning is off then
    val prunable = keyCols.filter(c =>
      schemaNow.fieldNames.contains(c) && srcCols.contains(c))
    val candidates =
      if (notMatchedBySource.nonEmpty || prunable.isEmpty) m.files
      else pruneCandidates(m, source, prunable)
    val (targetRows, file, pos) = readTagged(spark, dir, m, candidates)
    val tagged = targetRows.withColumn("_t_exists", lit(true))
    val joinType = if (notMatchedN.nonEmpty) "full_outer" else "left_outer"
    val tEx = coalesce(col("_t_exists"), lit(false))
    val sEx = coalesce(col("_s_exists"), lit(false))
    // first applicable clause per row — CaseWhen gives the in-order,
    // first-match-wins semantics; a None condition is uncondition(ally)
    // applicable
    def firstIdx(clauses: Seq[MergeClause], offset: Int): Column =
      clauses.zipWithIndex.foldRight(lit(null).cast("int")) {
        case ((cl, i), els) =>
          when(cl.condition.map(expr).getOrElse(lit(true)),
            lit(i + offset)).otherwise(els)
      }
    val action =
      when(tEx && sEx,
        if (matchedN.isEmpty) lit(null).cast("int") else firstIdx(matchedN, 0))
        .when(tEx && !sEx,
          if (notMatchedBySourceN.isEmpty) lit(null).cast("int")
          else firstIdx(notMatchedBySourceN, 1000))
        .otherwise(lit(null).cast("int"))
    val joined = tagged.join(srcR, expr(onSql), joinType)
      .withColumn("_action", action)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ANSI cardinality rule: >1 APPLICABLE source match for one
      // target row is nondeterministic — fail loudly (matches with no
      // applicable clause are harmless: the row carries once)
      if (matchedN.nonEmpty) {
        val dup = joined
          .filter(tEx && sEx && col("_action").isNotNull)
          .groupBy(col(file), col(pos))
          .agg(count(lit(1)).as("_n")).agg(max(col("_n"))).head().get(0)
        if (dup != null && dup.asInstanceOf[Long] > 1L)
          throw new IllegalStateException(
            "MERGE cardinality violation: a target row matched more " +
              "than one applicable source row; make the ON condition " +
              "or the clause conditions more selective")
      }
      val actioned = joined.filter(tEx && col("_action").isNotNull)
      val touchedRel = actioned.select(col(file)).distinct()
        .collect().map(_.getString(0)).toSet // O(#files) driver metadata
      // one representative row per (file, pos) target row in a touched
      // file: the applied pair if one exists (cardinality-checked ≤ 1),
      // else any pair — a carried row uses only its target columns
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(file), col(pos))
        .orderBy(col("_action").asc_nulls_last)
      val deleteActions: Seq[Int] =
        matchedN.zipWithIndex.collect { case (c, i) if c.kind == "delete" => i } ++
          notMatchedBySourceN.zipWithIndex.collect {
            case (c, i) if c.kind == "delete" => i + 1000 }
      def setExpr(f: StructField, cl: MergeClause): Column =
        if (cl.sets.isEmpty) { // star: same-named source column
          if (srcCols.contains(f.name)) col(s"_s_${f.name}")
          else col(f.name) // update keeps target where source lacks
        } else cl.sets.find(_._1 == f.name) match {
          case Some((_, e)) => expr(e)
          case None         => col(f.name)
        }
      val updateByAction: Seq[(Int, MergeClause)] =
        matchedN.zipWithIndex.collect {
          case (c, i) if c.kind == "update" => (i, c) } ++
          notMatchedBySourceN.zipWithIndex.collect {
            case (c, i) if c.kind == "update" => (i + 1000, c) }
      val outCols = schemaNow.fields.toSeq.map { f =>
        updateByAction.foldRight(col(f.name)) { case ((idx, cl), els) =>
          when(col("_action") === idx, setExpr(f, cl)).otherwise(els)
        }.cast(f.dataType).as(f.name)
      }
      val inserts =
        if (notMatchedN.isEmpty) None
        else {
          val unmatched = joined.filter(!tEx && sEx)
            .withColumn("_ins", firstIdx(notMatchedN, 0))
          val perClause = notMatchedN.zipWithIndex.map { case (cl, i) =>
            unmatched.filter(col("_ins") === i)
              .select(schemaNow.fields.toSeq.map { f =>
                (if (cl.sets.isEmpty) {
                  if (srcCols.contains(f.name)) col(s"_s_${f.name}")
                  // ANSI: an INSERT that does not assign the column
                  // takes its declared DEFAULT (null when none)
                  else defaultFill(f)
                } else cl.sets.find(_._1 == f.name) match {
                  case Some((_, e)) => expr(e)
                  case None         => defaultFill(f)
                }).cast(f.dataType).as(f.name)
              }: _*)
          }
          perClause.reduceOption(_ unionByName _)
        }
      val kept =
        if (deleteActions.isEmpty) lit(true)
        else col("_action").isNull || !col("_action").isin(deleteActions: _*)
      val mor = declaredMergeOnRead("mergemode")(m)
      // merge-on-read: every actioned target row (update OR delete) is
      // DV-marked and the updated rows' IMAGES append with the inserts —
      // a narrow streaming upsert writes O(actioned rows); the
      // cardinality check already guarantees ≤ 1 applied pair per target
      // row. Copy-on-write: one representative row per target row of a
      // touched file, deleted rows dropped, rewrites the file.
      val rewrite =
        if (mor) Some(actioned).filter(_ => updateByAction.nonEmpty)
        else Some(joined
          .filter(tEx && col(file).isin(touchedRel.toSeq: _*))
          .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1))
      writeRowLevel(spark, dir, m, "merge", mor, touchedRel,
        rewrite.map(_.filter(kept).select(outCols: _*)), inserts,
        actioned.select(col(file).as("file"), col(pos).as("pos")),
        numFiles, m.schema, m.carried)
    } finally joined.unpersist()
  }

  /** The fixed schema of a DV batch — (relative data-file path, row
    * position). DV reads pass it so no read infers it from a footer. */
  private val DvSchema =
    new StructType().add("file", StringType).add("pos", LongType)

  /** The DV-attach step of the merge-on-read row-level writes
    * ([[writeRowLevel]]): write ONE dv batch holding `newRows`
    * ((file, pos) pairs) unioned with the touched files' existing
    * deletion sets (each entry points at a single batch), and return
    * ONLY the touched files' entries re-pointed at it — the O(delta)
    * add-set of the commit (the untouched files carry by parent
    * reference in the delta manifest). */
  private def attachDv(spark: SparkSession, dir: String, m: Snapshot,
                       touchedRel: Set[String],
                       newRows: DataFrame): Seq[FileEntry] = {
    val touched = m.files.filter(f => touchedRel.contains(f.path))
    val oldDvDirs = touched.flatMap(_.dv).distinct
    val oldRows =
      if (oldDvDirs.isEmpty) None
      else Some(spark.read.schema(DvSchema)
        .parquet(oldDvDirs.map(d => Paths.get(dir, d).toString): _*)
        .filter(col("file").isin(touchedRel.toSeq: _*)))
    val allRows = oldRows.map(newRows.unionByName(_)).getOrElse(newRows)
    val batch = s"dv/${java.util.UUID.randomUUID().toString.take(8)}"
    // DVs are point-mutation-sized by contract: one file suffices and
    // keeps the read-side broadcast build trivial; a one-partition
    // shuffle, so the (pruned) discovery scan still runs in parallel
    BatchWriter.write(allRows.repartition(1), Paths.get(dir, batch).toString)
    touched.map(_.copy(dv = Some(batch)))
  }

  /** MERGE-ON-READ DELETE (deletion vectors): [[delete]] in the
    * merge-on-read mode whatever the table declares — mark the rows
    * where `predicate` is TRUE deleted WITHOUT rewriting their files,
    * the point-delete path every modern table format grew, because
    * copy-on-write turns a 10-row delete into a rewrite of every
    * covering file (at 100 TB: gigabytes of write amplification for
    * bytes of intent).
    *
    * Mechanics: one scan finds the matching (file, row-position) pairs
    * among the LIVE rows (existing DVs applied — re-deleting is a
    * no-op); positions are written as a small parquet batch under
    * `dir/dv/`, and the new manifest re-points each touched file's entry
    * at its (old ∪ new) deletion set (op `delete-dv`). Data files are
    * untouched, so time travel to pre-delete versions still sees the
    * rows, and vacuum reclaims DV batches exactly like data batches.
    * Every reader — [[read]], [[readWhere]]/[[readWhereIn]], and the
    * row-level discovery scans — routes through the one DV-aware entry
    * reader, so the deleted rows are invisible everywhere; a later CoW
    * rewrite of a touched file (merge/update/delete/compact)
    * MATERIALIZES the DV away (the fresh entry carries none). Cost:
    * O(matching rows) DV write + O(#files) metadata; the read-side price
    * is a broadcast anti-join on (file, pos) — keep DVs
    * point-delete-sized and [[compact]] when they accumulate (the
    * classic MoR maintenance contract). Returns the new version (or the
    * current one if nothing matched — a no-match delete commits
    * nothing). */
  def deleteVectors(spark: SparkSession, dir: String, predicate: String,
                    fromVersion: Option[Int] = None,
                    maxRetries: Int = 5): Int =
    rowLevel(spark, dir, "delete", Where(predicate), Remove, _ => true,
      numFiles = 1, fromVersion, maxRetries)

  /** MERGE-ON-READ UPDATE: [[update]] in the merge-on-read mode whatever
    * the table declares, the point-update twin of [[deleteVectors]] —
    * the rows where `predicate` is TRUE are DV-marked deleted in their
    * (untouched) files AND their rewritten images (the `sets`
    * assignments applied, values CAST to the declared types) are
    * appended as a fresh batch, all in ONE commit (op `update-dv`). A
    * narrow UPDATE into a 100 TB table is therefore O(matched rows)
    * write — a small DV sidecar plus a small data batch — instead of
    * copy-on-write's covering-file rewrite; the read-side price is the
    * same broadcast DV anti-join every reader already pays, and
    * [[compact]] materializes it away. The matched set is read LIVE
    * (existing DVs applied), so stacked updates compose; the appended
    * batch keeps the clustering law (range-shaped with recorded stats
    * on a clustered table), so later pruned reads stay pruned. */
  def updateVectors(spark: SparkSession, dir: String, predicate: String,
                    sets: Seq[(String, String)], numFiles: Int = 1,
                    fromVersion: Option[Int] = None,
                    maxRetries: Int = 5): Int =
    rowLevel(spark, dir, "update", Where(predicate), Assign(sets), _ => true,
      numFiles, fromVersion, maxRetries)

  /** `COPY INTO` — IDEMPOTENT file ingestion (the lakehouse staple for
    * landing-zone loads): list the files under `sourcePath` (a
    * directory or a glob), skip every file the table has ALREADY
    * loaded, read only the fresh ones with `format`, align them to the
    * table schema by name (SQL assignment casts; missing columns
    * null-fill; UNKNOWN source columns fail loudly — schema drift is a
    * signal, not an evolution), and append them as one commit (op
    * `copy`).
    *
    * Idempotence is ATOMIC with the data commit: the fresh files'
    * identities (path, size, mtime) are written as a small parquet
    * LEDGER batch under `dir/copy/` BEFORE the manifest publish, and
    * the manifest header's `copyledger` key (carried forward by every
    * later commit, like the epoch range-set) lists the live ledger
    * batches — a crash between ledger write and commit leaves an
    * unreferenced orphan (ignored; vacuum reclaims it), never a
    * half-loaded state. Re-running the same COPY is a no-op; a rebase
    * after a concurrent commit re-reads the winner's ledger, so two
    * racing COPYs of the same files load them exactly once. The
    * loaded-set check is a DISTRIBUTED anti-join of this run's listing
    * against the ledger parquet — the driver holds only the staged
    * listing (inherent to FS listing) and the fresh subset, never
    * O(#files ever copied) identities.
    * Returns (version, filesLoaded). */
  def copyInto(spark: SparkSession, dir: String, sourcePath: String,
               format: String = "parquet",
               options: Map[String, String] = Map.empty,
               numFiles: Int = 4, fromVersion: Option[Int] = None,
               maxRetries: Int = 5): (Int, Int) = {
    require(Seq("parquet", "csv", "json").contains(format.toLowerCase),
      s"COPY INTO supports parquet/csv/json, got $format")
    val hadoopPath = new org.apache.hadoop.fs.Path(sourcePath)
    val fs = hadoopPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // a directory lists its (non-hidden) files; a glob expands first
    val listed: Seq[org.apache.hadoop.fs.FileStatus] =
      Option(fs.globStatus(hadoopPath)).map(_.toSeq).getOrElse(Nil)
        .flatMap { st =>
          if (st.isDirectory) fs.listStatus(st.getPath).toSeq else Seq(st)
        }
        .filter(st => st.isFile && {
          val n = st.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        })
    var loadedCount = 0
    val v = commitWithRebase(dir, fromVersion, maxRetries) { (base, m) =>
      val schemaNow = m.schema.getOrElse(throw new IllegalStateException(
        s"manifest at $dir records no schema"))
      val ledgerDirs = m.header.get("copyledger")
        .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
      // the already-loaded set stays DISTRIBUTED: the staged listing
      // (small, this run's landing files — already driver-side by
      // nature of FS listing) anti-joins the ledger parquet, so the
      // driver never materializes O(#files ever copied) identities —
      // only this run's fresh subset comes back
      val fresh: Seq[org.apache.hadoop.fs.FileStatus] =
        if (ledgerDirs.isEmpty || listed.isEmpty) listed
        else {
          import spark.implicits._
          // FULL URI string — a scheme-less path would alias two
          // staging sources on different filesystems/buckets that share
          // a path (and size/mtime), silently skipping a real load.
          // (Ledgers written by the pre-r11 code carry scheme-less
          // paths; their files re-key once under the new rendering.)
          val listedDf = listed.map(st => (st.getPath.toUri.toString,
            st.getLen, st.getModificationTime))
            .toDF("path", "size", "mtime")
          val ledger = spark.read
            .parquet(ledgerDirs.map(d => Paths.get(dir, d).toString): _*)
          val keep = listedDf.join(ledger,
            Seq("path", "size", "mtime"), "left_anti")
            .select(col("path")).collect().map(_.getString(0)).toSet
          listed.filter(st => keep.contains(st.getPath.toUri.toString))
        }
      loadedCount = fresh.size
      if (fresh.isEmpty) base
      else {
        val raw = spark.read.format(format.toLowerCase).options(options)
          .load(fresh.map(_.getPath.toString): _*)
        val extra = raw.columns.filterNot(schemaNow.fieldNames.contains)
        require(extra.isEmpty,
          s"COPY source has columns not in the table: ${extra.mkString(",")}")
        val provided = raw.columns.toSet
        val aligned = raw.select(schemaNow.fields.toSeq.map { f =>
          if (provided.contains(f.name))
            col(f.name).cast(f.dataType).as(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }: _*)
        val files = writeShaped(aligned, dir, Some(m), numFiles)
        // the ledger batch commits ATOMICALLY with the data: written
        // first, referenced only by the new manifest's header
        val batch = s"copy/${java.util.UUID.randomUUID().toString.take(8)}"
        import spark.implicits._
        BatchWriter.write(fresh.map(st => (st.getPath.toUri.toString,
            st.getLen, st.getModificationTime))
          .toDF("path", "size", "mtime").coalesce(1),
          Paths.get(dir, batch).toString)
        val newLedger = (ledgerDirs :+ batch).mkString(",")
        val headers = m.carried.filterNot(_._1 == "copyledger") :+
          ("copyledger" -> newLedger)
        val v = base + 1
        commitDelta(dir, v, "copy", m, files, Nil, m.schema, headers)
        v
      }
    }
    (v, loadedCount)
  }

  /** Compaction: rewrite the CURRENT snapshot into `target` files under
    * a new version. Content-identical by construction; older versions
    * keep reading their original files (snapshot isolation). Also the
    * MATERIALIZATION step for both merge-on-read sidecars and COLUMN
    * MAPPING: the rewrite reads through DVs + the logical projection
    * and writes plain files under the LOGICAL names (identity
    * mapOverride), dropping the colmap/retired headers — renamed/
    * dropped-column history costs one amortized rewrite, after which
    * raw V2 scans work again (old snapshots keep their own mapping). */
  def compact(spark: SparkSession, dir: String, target: Int): Int = {
    val m = snapshot(dir)
    val base = m.version
    val rows = read(spark, dir, Some(base))
    // a CLUSTERED table must stay clustered through compaction: a
    // round-robin reshape would smear every key range across every
    // output file, silently turning the recorded stats useless (each
    // file's min/max covers everything — nothing ever prunes again);
    // range-repartition on the stat columns keeps files key-disjoint
    val files =
      if (m.statsCols.nonEmpty)
        writeBatch(rows.repartitionByRange(target, m.statsCols.map(col): _*)
          .sortWithinPartitions(m.statsCols.map(col): _*),
          dir, Some(m), None, m.statsCols, mapOverride = Some(Map.empty))
      else writeBatch(rows, dir, Some(m), Some(target), m.statsCols,
        mapOverride = Some(Map.empty))
    val v = base + 1
    // compact rewrites every file's stats under the CURRENT renderer, so
    // it also upgrades a legacy (pre-micros-v2) table: stamp the format
    // marker and timestamp pruning resumes — the documented one-time fix
    val extras = m.carried.filterNot(e =>
      Set("statsfmt", "colmap", "retired")(e._1)) ++
      (if (m.statsCols.nonEmpty) Seq("statsfmt" -> STATS_FMT) else Nil)
    commit(dir, v, "compact", base, files, Some(rows.schema), extras)
    v
  }

  /** PARTIAL compaction — `OPTIMIZE t WHERE k BETWEEN lo AND hi
    * [FILES n]`: rewrite ONLY the files whose recorded cluster-key
    * stats overlap the given bounds, carrying every other file by
    * reference — the "compact the hot tail" maintenance shape: a
    * streaming table accumulates small files in a narrow recent key
    * range, and compacting them must cost O(that range), never a
    * 100 TB full rewrite (the bill [[compact]] pays). Bound strings
    * follow [[readWhere]]'s contract (epoch-micros for timestamps);
    * bounds on non-stat columns select every file (conservative —
    * degrades to a full compact rather than missing files). Touched
    * files' deletion vectors materialize away (the rewrite reads
    * DV-aware); untouched files keep theirs. The column MAPPING is
    * preserved, not materialized — untouched files still store
    * physical names, so only a FULL [[compact]] may drop the colmap.
    * The clustering law holds: rewritten files range-repartition on
    * the stat columns, so the compacted range stays pruned. No
    * overlapping files → no-op (current version returned). */
  def compactWhere(spark: SparkSession, dir: String,
                   bounds: Map[String, (String, String)],
                   target: Int = 4, maxRetries: Int = 5): Int = {
    require(bounds.nonEmpty, "compactWhere needs at least one bound")
    commitWithRebase(dir, None, maxRetries) { (base, m) =>
      m.schema.foreach { s =>
        bounds.keys.foreach(c => require(s.fieldNames.contains(c),
          s"no column $c in ${s.fieldNames.mkString(",")}"))
      }
      val touched = pruneWhere(m, bounds)
      if (touched.isEmpty) base
      else {
        val rewritten = readEntries(spark, dir, m, touched)
        val files = writeShaped(rewritten, dir, Some(m), target)
        val v = base + 1
        commitDelta(dir, v, "compact", m, files, touched.map(_.path),
          m.schema, m.carried)
        v
      }
    }
  }

  /** `OPTIMIZE t ZORDER BY (a, b[, c])`: rewrite the snapshot
    * Morton-clustered on up to three NUMERIC dimensions so every output
    * file covers a small HYPER-RECTANGLE of the key space — a
    * multi-column box predicate ([[readWhere]]) then prunes on EVERY
    * dimension, where a lexicographic sort only ever prunes its leading
    * column. Mechanics:
    *
    *  - each dimension is bucketed into 2^bitsPerDim quantile cells
    *    (cuts from `approxQuantile`, so skewed columns still split
    *    evenly — a uniform-width grid would put most rows in one cell);
    *  - cell indices bit-interleave into the Morton key, the rewrite
    *    range-partitions + sorts on it, and the declared dimensions
    *    become the table's `statscols` — recorded per file and carried
    *    forward, so ALL later reads/merges prune on them;
    *  - deletion vectors materialize away (the rewrite reads through
    *    the DV-aware reader), like [[compact]].
    *
    * Cost: one full-table rewrite (the same bill every table format
    * charges for OPTIMIZE ZORDER) — paid once, amortized over every
    * subsequent pruned read. Refused on hash-bucketed tables (the two
    * layouts impose contradictory file shapes). */
  def zorderBy(spark: SparkSession, dir: String, cols: Seq[String],
               numFiles: Int = 16, bitsPerDim: Int = 6): Int = {
    require(cols.nonEmpty && cols.size <= 3,
      s"ZORDER BY takes 1-3 columns, got ${cols.size}")
    val m = snapshot(dir)
    val base = m.version
    require(m.bucketSpec.isEmpty,
      "ZORDER BY on a hash-bucketed table: the bucket layout owns the " +
        "file shape (zero-shuffle joins); z-ordering would destroy it")
    val rows = read(spark, dir, Some(base))
    cols.foreach { c =>
      val dt = rows.schema.fields.find(_.name == c).map(_.dataType)
        .getOrElse(throw new IllegalArgumentException(
          s"no column $c in ${rows.columns.mkString(",")}"))
      require(dt.isInstanceOf[NumericType] || dt.isInstanceOf[DateType] ||
        dt.isInstanceOf[TimestampType],
        s"ZORDER BY needs orderable numeric/date/timestamp columns; $c is $dt")
    }
    val nCells = 1 << bitsPerDim
    def asDouble(c: String): org.apache.spark.sql.Column =
      rows.schema(c).dataType match {
        case _: TimestampType => unix_micros(col(c)).cast("double")
        case _                => col(c).cast("double")
      }
    val probs = (1 until nCells).map(_.toDouble / nCells).toArray
    // one pass over the declared dimensions; 1% quantile error only
    // shifts cell BOUNDARIES (never correctness — stats are recorded
    // from the actual written values)
    val dims = rows.select(cols.map(c => asDouble(c).as(c)): _*)
    val cuts = dims.stat.approxQuantile(cols.toArray, probs, 0.01)
    // cell index = #cuts <= value (null sorts to cell 0); interleave
    // bitsPerDim bits per dimension, dimension 0 in the LOW bits
    val cells = cols.zip(cuts.toSeq).map { case (c, cut) =>
      val arr = array(cut.toSeq.map(lit): _*)
      when(col(c).isNull, lit(0))
        .otherwise(size(filter(arr, x => x <= asDouble(c)))).cast("long")
    }
    val zkey = (0 until bitsPerDim).foldLeft(lit(0L)) { (acc, bit) =>
      cells.zipWithIndex.foldLeft(acc) { case (a, (cell, d)) =>
        a.bitwiseOR(shiftleft(
          cell.bitwiseAND(lit(1L << bit)).cast("long"),
          bit * (cells.size - 1) + d))
      }
    }
    val laid = rows.withColumn("__zkey", zkey)
      .repartitionByRange(math.max(1, numFiles), col("__zkey"))
      .sortWithinPartitions(col("__zkey"))
      .drop("__zkey")
    val files = writeBatch(laid, dir, Some(m), None, cols)
    val v = base + 1
    val extras = m.carried
      .filterNot(e => e._1 == "statscols" || e._1 == "statsfmt") ++
      Seq("statscols" -> cols.mkString(","), "statsfmt" -> STATS_FMT)
    commit(dir, v, "zorder", base, files, Some(rows.schema), extras)
    v
  }

  /** Drop every data file not referenced by the latest `keepVersions`
    * EXISTING manifests, and the older manifests themselves — after
    * vacuum, time travel reaches only the kept versions. Also reclaims
    * orphan batches from aborted/losing commits. Safe to run
    * repeatedly: version enumeration is the on-disk listing, never an
    * assumed-contiguous range, and exactly-once epoch markers survive
    * because every manifest carries the full committed-epoch range-set
    * forward. */
  def vacuum(dir: String, keepVersions: Int = 1): Unit = {
    val versions = existingVersions(dir)
    vacuumKeep(dir, versions, versions.takeRight(math.max(1, keepVersions)))
  }

  /** TIME-BASED retention — `VACUUM … RETAIN n HOURS` / `EXPIRE
    * SNAPSHOTS`: keep every version whose COMMIT TIME (the `ts` header
    * every commit records) is within `retainMillis` of `nowMillis`,
    * plus ALWAYS the latest version (a table never vacuums itself
    * unreadable). Manifests without a `ts` header (pre-round-10) read
    * as epoch 0 — expired unless latest, consistent with
    * [[versionAt]]'s resolution rule. Same reclamation laws as the
    * version-count form: data/DV/CDC batches of dropped versions go,
    * carried epoch range-sets and COPY ledgers survive. `nowMillis` is
    * injectable so retention laws are testable deterministically. */
  def vacuumRetain(dir: String, retainMillis: Long,
                   nowMillis: Long = System.currentTimeMillis): Unit = {
    require(retainMillis >= 0, s"retention must be >= 0, got $retainMillis")
    val versions = existingVersions(dir)
    if (versions.isEmpty) return
    val cutoff = nowMillis - retainMillis
    val fresh = versions.filter { v =>
      readHeaderMap(dir, v).get("ts").map(_.toLong).getOrElse(0L) >=
        cutoff
    }
    vacuumKeep(dir, versions, (fresh :+ versions.last).distinct.sorted)
  }

  private def vacuumKeep(dir: String, versions: Seq[Int],
                         keep: Seq[Int]): Unit = {
    val dropSet = versions.filterNot(keep.contains).toSet
    // DELTA-chain safety: a kept delta version whose resolution chain
    // passes through a to-be-dropped manifest must be MATERIALIZED as a
    // checkpoint sidecar BEFORE the ancestors go (ascending order, so a
    // later kept version's walk terminates at an earlier kept one's
    // fresh checkpoint). The walk reads headers only — one line each.
    keep.sorted.foreach { v =>
      def chainSafe: Boolean = {
        var cur = v
        while (true) {
          if (Files.exists(checkpointPath(dir, cur))) return true
          val h = readHeaderMap(dir, cur)
          if (!h.get("delta").contains("1")) return true
          val parent = h("parent").toInt
          if (dropSet.contains(parent)) return false
          cur = parent
        }
        true // unreachable
      }
      if (!chainSafe) writeCheckpoint(dir, v)
    }
    val keptManifests = keep.map(v => readManifest(dir, v))
    // a bloom SIDECAR is live while any kept entry references it — it
    // shares the data batches' reclamation law exactly (both are plain
    // `referenced` relative paths under data/)
    val referenced = keptManifests.flatMap(m =>
      m.paths ++ m.files.flatMap(_.bloomRef)).toSet
    val dataRoot = Paths.get(dir, "data")
    if (Files.isDirectory(dataRoot)) {
      listDir(dataRoot).foreach { batch =>
        listDir(batch).foreach { f =>
          val rel = s"data/${batch.getFileName}/${f.getFileName}"
          if (!referenced.contains(rel)) Files.delete(f)
        }
        if (listDir(batch).isEmpty) Files.delete(batch)
      }
    }
    // deletion-vector batches follow the same law: a DV directory is
    // live while ANY kept manifest's entry points at it
    val referencedDv = keptManifests.flatMap(_.files.flatMap(_.dv)).toSet
    val dvRoot = Paths.get(dir, "dv")
    if (Files.isDirectory(dvRoot)) {
      listDir(dvRoot).foreach { batch =>
        val rel = s"dv/${batch.getFileName}"
        if (!referencedDv.contains(rel)) {
          listDir(batch).foreach(Files.delete)
          Files.delete(batch)
        } else listDir(batch).foreach { f =>
          if (!f.getFileName.toString.endsWith(".parquet")) Files.delete(f)
        }
      }
    }
    // copy-ledger batches follow the dv law: live while any kept
    // manifest's copyledger header references them — so COPY INTO
    // idempotence survives vacuum
    val referencedCopy = keptManifests
      .flatMap(_.header.get("copyledger"))
      .flatMap(_.split(",")).filter(_.nonEmpty).toSet
    val copyRoot = Paths.get(dir, "copy")
    if (Files.isDirectory(copyRoot)) {
      listDir(copyRoot).foreach { batch =>
        val rel = s"copy/${batch.getFileName}"
        if (!referencedCopy.contains(rel)) {
          listDir(batch).foreach(Files.delete)
          Files.delete(batch)
        } else listDir(batch).foreach { f =>
          if (!f.getFileName.toString.endsWith(".parquet")) Files.delete(f)
        }
      }
    }
    // materialized CDC batches of vacuumed versions follow the manifest
    // law: CDC reaches only the kept versions after a vacuum
    val cdcRoot = Paths.get(dir, "_cdc")
    if (Files.isDirectory(cdcRoot)) {
      val keptNames = keep.map(v => f"v$v%08d").toSet
      listDir(cdcRoot).foreach { batch =>
        val n = batch.getFileName.toString
        if ((n.startsWith("v") && !keptNames.contains(n)) ||
          n.startsWith(".tmp-")) {
          listDir(batch).foreach(Files.delete)
          Files.delete(batch)
        }
      }
    }
    versions.filterNot(keep.contains).foreach { v =>
      Files.deleteIfExists(manifestPath(dir, v))
      Files.deleteIfExists(checkpointPath(dir, v))
      Files.deleteIfExists(ckindexPath(dir, v))
      ()
    }
  }

  /** SHALLOW CLONE — `CREATE TABLE t2 SHALLOW CLONE t1`: a new table
    * whose v1 holds the SOURCE's current snapshot without copying a
    * byte of row data. Data and DV batches HARDLINK into the clone's
    * own directory under the same relative layout, so every existing
    * path (relative manifests, `_src_file` keying, vacuum walking the
    * local `data/` tree) works verbatim, and the two tables age
    * independently: writes/merges/vacuum on either side never disturb
    * the other — even vacuuming the SOURCE leaves the clone readable,
    * because the shared inode lives until its last link drops
    * (spec-asserted). Layout/property headers (cluster stats, bucket
    * spec, column mapping, retired names, bloom declaration, modes,
    * CHECK, ANALYZE stats) copy; the TRANSACTIONAL identity resets —
    * committed-epoch range-set and COPY ledger do NOT carry, a clone
    * is a new target for new streams (the Delta-clone contract).
    * Hardlinks need one filesystem — the local analogue of a
    * production shallow clone's shared-object absolute references;
    * at 100 TB the point is identical: cloning a petabyte table is
    * O(#files) metadata, not a data copy. Fails if `destDir` already
    * has commits. Per-file row counts and stats ride along in the
    * copied entries. */
  def shallowClone(spark: SparkSession, srcDir: String,
                   destDir: String): Int = {
    require(latestVersion(destDir) == 0,
      s"clone destination $destDir already has commits")
    val v = latestVersion(srcDir)
    require(v >= 1, s"no committed version at $srcDir")
    val m = readManifest(srcDir, v)
    Files.createDirectories(Paths.get(destDir))
    (m.files.map(_.path) ++ m.files.flatMap(_.bloomRef).distinct ++
      m.files.flatMap(_.dv)
      .distinct.flatMap(d => listDir(Paths.get(srcDir, d))
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => s"$d/${p.getFileName}")))
      .foreach { rel =>
        val dst = Paths.get(destDir, rel)
        Files.createDirectories(dst.getParent)
        try { Files.createLink(dst, Paths.get(srcDir, rel)); () }
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
      }
    val headers = m.carried.filterNot(e =>
      Set("epochs", "copyledger")(e._1))
    commit(destDir, 1, "clone", 0, m.files, m.schema, headers)
    if (m.colmap.nonEmpty) markMapped(destDir)
    1
  }

  /** RESTORE: make `toVersion`'s contents the NEW latest version — a
    * pure-metadata commit that re-points at the old manifest's file
    * entries (schema included), never copying data. History is kept,
    * not rewritten: the restore is itself a commit, so the undone
    * versions stay time-travelable until [[vacuum]] and the restored
    * files are referenced by the new head (vacuum keeps them). The
    * committed-EPOCH set carries forward from the CURRENT head, not the
    * restored version — epochs applied after `toVersion` stay recorded,
    * so a restore can never let a replayed micro-batch double-apply. */
  def restore(dir: String, toVersion: Int, maxRetries: Int = 5): Int = {
    require(Files.exists(manifestPath(dir, toVersion)),
      s"version $toVersion at $dir does not exist (vacuumed?)")
    val target = readManifest(dir, toVersion)
    commitWithRebase(dir, None, maxRetries) { (base, m) =>
      val v = base + 1
      commit(dir, v, "restore", base, target.files, target.schema, m.carried)
      v
    }
  }

  /** ALTER TABLE ADD COLUMNS: evolve the table schema by METADATA ONLY —
    * one commit whose manifest records the widened schema; existing
    * files are untouched and null-fill the new columns on read (the
    * same evolution law appends with new columns already follow). A new
    * column whose name matches a RETIRED or renamed-away physical name
    * binds to a FRESH physical name through the column mapping, so the
    * dropped/renamed column's stale file values can never resurrect
    * into it. */
  def evolveSchema(dir: String, newCols: StructType,
                   maxRetries: Int = 5): Int = {
    var mapped = false
    val out = commitWithRebase(dir, None, maxRetries) { (base, m) =>
      val cur = m.schema.getOrElse(throw new IllegalStateException(
        s"manifest v$base at $dir records no schema"))
      newCols.fields.foreach(f => require(!cur.fieldNames.contains(f.name),
        s"column ${f.name} already exists"))
      // physical-name assignment: the logical name itself when free,
      // else the first free `<name>_<i>` — `occupied` accumulates so
      // two colliding adds in one statement get distinct names
      var occupied = cur.fields.map(f =>
        m.colmap.getOrElse(f.name, f.name)).toSet ++ m.retired ++
        cur.fieldNames ++ newCols.fieldNames
      var cm = m.colmap
      newCols.fields.foreach { f =>
        if ((m.retired ++ m.colmap.values).contains(f.name)) {
          val phys = Iterator.from(2).map(i => s"${f.name}_$i")
            .find(p => !occupied.contains(p)).get
          occupied += phys
          cm += f.name -> phys
        }
      }
      val headers = m.carried.filterNot(_._1 == "colmap") ++
        (if (cm.isEmpty) Nil else Seq("colmap" -> encodeColmap(cm)))
      mapped = cm.nonEmpty
      val v = base + 1
      commitDelta(dir, v, "evolve", m, Nil, Nil,
        Some(unionSchema(cur, deepNullable(newCols).asInstanceOf[StructType])),
        headers)
      v
    }
    if (mapped) markMapped(dir)
    out
  }

  /** Best-effort COMPENSATION for an [[evolveSchema]] that was part of
    * a failed composite statement (MERGE WITH SCHEMA EVOLUTION — r11
    * ADVICE: the evolve commit used to survive a merge that then
    * failed, leaving the schema permanently widened): drop the named
    * just-added columns again IFF the evolve commit is still the table
    * head. The compensation PINS `atVersion` as its parent, so a
    * concurrent foreign commit wins the put-if-absent race and the
    * evolution stands (documented residue — rolling back past someone
    * else's commit would rewrite history they built on). The columns
    * hold no committed data by construction (the statement failed
    * before its write committed — any half-written batch is an
    * unreferenced orphan vacuum reclaims), so their physical names are
    * NOT retired: a later re-add binds the same identity-mapped
    * physical and plain-session reads keep working. */
  private[io] def unevolve(dir: String, cols: Seq[String],
                           atVersion: Int): Boolean = {
    if (cols.isEmpty || latestVersion(dir) != atVersion) return false
    val m = readManifest(dir, atVersion)
    val cur = m.schema.getOrElse(return false)
    val newSchema = StructType(
      cur.fields.filterNot(f => cols.contains(f.name)))
    if (newSchema.length == cur.length || newSchema.isEmpty) return false
    val cm = m.colmap -- cols
    val headers = m.carried.filterNot(_._1 == "colmap") ++
      (if (cm.isEmpty) Nil else Seq("colmap" -> encodeColmap(cm)))
    try {
      commitDelta(dir, atVersion + 1, "unevolve", m, Nil, Nil,
        Some(newSchema), headers)
      true
    } catch { case _: ConcurrentCommitException => false }
  }

  /** DEFAULT-VALUE support (ANSI column defaults, the Delta/Iceberg v3
    * semantics by the same two-marker law Spark itself uses):
    * `EXISTS_DEFAULT` (frozen at ADD COLUMNS time) fills the column for
    * files written BEFORE it existed — natively, by the parquet
    * reader, because the manifest schema's field METADATA carries the
    * markers and every read path passes that schema; `CURRENT_DEFAULT`
    * (mutable via ALTER COLUMN SET DEFAULT) is MATERIALIZED by the
    * write paths for batches that omit the column, so changing it
    * never rewrites or re-interprets existing files. */
  private[io] def currentDefaultSql(f: StructField): Option[String] =
    if (f.metadata.contains("CURRENT_DEFAULT"))
      Some(f.metadata.getString("CURRENT_DEFAULT")) else None

  /** The write-time filler for a column a batch omits: the declared
    * CURRENT_DEFAULT expression, else NULL — both cast to the declared
    * type. */
  private[io] def defaultFill(f: StructField): Column =
    currentDefaultSql(f).map(sqlTxt => expr(sqlTxt))
      .getOrElse(lit(null)).cast(f.dataType)

  /** `ALTER TABLE … ALTER COLUMN c SET DEFAULT e` / `DROP DEFAULT`
    * (None): ONE metadata commit updating the column's
    * CURRENT_DEFAULT. EXISTS_DEFAULT is deliberately untouched — it is
    * the frozen fill for pre-ADD files, so the change affects only
    * FUTURE writes that omit the column (which materialize the new
    * default), exactly the ANSI semantics. The new expression must
    * parse and be castable at declaration time. */
  def setColumnDefault(spark: SparkSession, dir: String, name: String,
                       defaultSql: Option[String],
                       maxRetries: Int = 5): Int =
    commitWithRebase(dir, None, maxRetries) { (base, m) =>
      val cur = m.schema.getOrElse(throw new IllegalStateException(
        s"manifest v$base at $dir records no schema"))
      val f = cur.fields.find(_.name == name)
        .orElse(cur.fields.find(_.name.equalsIgnoreCase(name)))
        .getOrElse(throw new IllegalArgumentException(
          s"no column $name in ${cur.fieldNames.mkString(",")}"))
      // must RESOLVE, fold and cast at declaration time — a typo'd
      // column reference or an un-castable literal would otherwise
      // commit and poison every later omitting write (ANSI cast
      // failures surface here, once, instead of at each INSERT; this
      // also subsumes eager parsing — Spark 4 Column nodes alone would
      // defer it to analysis)
      defaultSql.foreach { sqlTxt =>
        spark.sql(s"SELECT CAST(($sqlTxt) AS ${f.dataType.sql})").collect()
        ()
      }
      val md = defaultSql match {
        case Some(sqlTxt) => new MetadataBuilder().withMetadata(f.metadata)
          .putString("CURRENT_DEFAULT", sqlTxt).build()
        case None =>
          val b = new MetadataBuilder().withMetadata(f.metadata)
          b.remove("CURRENT_DEFAULT").build()
      }
      val newSchema = StructType(cur.fields.map(x =>
        if (x.name == f.name) x.copy(metadata = md) else x))
      val v = base + 1
      commitDelta(dir, v, "setdefault", m, Nil, Nil, Some(newSchema),
        m.carried)
      v
    }

  /** True when the CHECK predicate text references column `c` —
    * detected on the UNRESOLVED expression tree, so it works without a
    * session. Conservative gate for rename/drop: rewriting predicate
    * text is not attempted; the user drops the constraint first. */
  private def predReferences(pred: String, c: String): Boolean =
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(pred).collect {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          u.nameParts.last.toLowerCase
      }.contains(c.toLowerCase)

  /** `ALTER TABLE … RENAME COLUMN old TO new` — METADATA ONLY, the
    * column-mapping payoff: the commit rewrites the schema (new logical
    * name), points the mapping at the column's unchanged PHYSICAL name,
    * and renames the cluster/bucket declarations and every file entry's
    * stats key (manifests re-serialize per commit, so this is pure
    * driver metadata). No data file is touched at any size; old files,
    * new appends and stats-pruned reads/merges all keep working through
    * the mapping — a spec asserts pruning survives renaming a cluster
    * column. Reads on plain (non-extensions) sessions via the raw V2
    * scan are refused like live DVs; [[compact]]/OPTIMIZE materializes
    * the mapping away and restores them. A CHECK-referenced column
    * refuses to rename (predicate text is not rewritten). */
  def renameColumn(dir: String, oldName: String, newName: String,
                   maxRetries: Int = 5): Int = {
    val out = commitWithRebase(dir, None, maxRetries) { (base, m) =>
      val cur = m.schema.getOrElse(throw new IllegalStateException(
        s"manifest v$base at $dir records no schema"))
      val f = cur.fields.find(_.name == oldName)
        .orElse(cur.fields.find(_.name.equalsIgnoreCase(oldName)))
        .getOrElse(throw new IllegalArgumentException(
          s"no column $oldName in ${cur.fieldNames.mkString(",")}"))
      require(!cur.fieldNames.exists(_.equalsIgnoreCase(newName)),
        s"column $newName already exists")
      require(!newName.startsWith("_s_") && !MergeMarkers(newName),
        s"$newName collides with the merge namespace")
      m.header.get("check").map(FileEntry.dec).foreach(pred =>
        require(!predReferences(pred, f.name),
          s"cannot rename ${f.name}: referenced by CHECK ($pred); drop " +
            "the constraint first (ALTER … SET TBLPROPERTIES)"))
      val phys = m.colmap.getOrElse(f.name, f.name)
      val newSchema = StructType(cur.fields.map(x =>
        if (x.name == f.name) x.copy(name = newName) else x))
      val cm = (m.colmap - f.name) ++
        (if (phys == newName) Map.empty[String, String]
         else Map(newName -> phys))
      val newStats = m.statsCols.map(c => if (c == f.name) newName else c)
      // entries re-key only when they carry the column's inline stats
      // or legacy inline blobs (sidecar blobs are PHYSICAL-keyed and
      // rename-stable); when none do — the common non-cluster rename —
      // this is a pure-metadata delta commit
      val entriesTouched = m.files.exists(fe =>
        fe.stats.contains(f.name) || fe.bloom.contains(f.name))
      val files = m.files.map(fe => fe.copy(
        stats = fe.stats.map {
          case (k, v) => (if (k == f.name) newName else k) -> v },
        bloom = fe.bloom.map {
          case (k, v) => (if (k == f.name) newName else k) -> v }))
      val headers = m.carried.filterNot(e =>
        Set("colmap", "statscols", "bucketcols", "bloomcols",
          "colstats", "colhist", "transforms")(e._1)) ++
        (if (cm.isEmpty) Nil else Seq("colmap" -> encodeColmap(cm))) ++
        (if (m.statsCols.isEmpty) Nil
         else Seq("statscols" -> newStats.mkString(","))) ++
        m.header.get("transforms").map(t => "transforms" ->
          splitClusterSpecs(t).map(sp =>
            parseClusterSpec(sp).renamed(f.name, newName).spec)
            .mkString(",")) ++
        m.header.get("bucketcols").map(c =>
          "bucketcols" -> (if (c == f.name) newName else c)) ++
        // the bloom declaration and the ANALYZE stats follow the column
        m.header.get("bloomcols").map(bc => "bloomcols" -> bc.split(",")
          .map(c => if (c == f.name) newName else c).mkString(",")) ++
        m.header.get("colstats").map(cs =>
          "colstats" -> adjustColstats(cs, f.name, Some(newName))) ++
        m.header.get("colhist").map(ch =>
          "colhist" -> adjustColstats(ch, f.name, Some(newName)))
      val v = base + 1
      if (entriesTouched)
        commit(dir, v, "rename", base, files, Some(newSchema), headers)
      else commitDelta(dir, v, "rename", m, Nil, Nil, Some(newSchema),
        headers)
      v
    }
    // cached CDC batches carry the OLD logical names — derived data,
    // dropped so replays re-materialize under the new names
    dropCdcCache(dir)
    markMapped(dir)
    out
  }

  /** `ALTER TABLE … DROP COLUMN` — METADATA ONLY: the commit removes
    * the field from the schema and RETIRES its physical name (old files
    * keep the bytes; readers never project them; a later ADD COLUMNS of
    * the same name binds to a fresh physical name, so the stale values
    * cannot resurrect). Cluster/bucket/CHECK-referenced columns refuse
    * — they are write-law declarations, not plain data. [[compact]]
    * physically sheds the dropped bytes as a side effect of its
    * rewrite. */
  def dropColumn(dir: String, name: String, maxRetries: Int = 5): Int = {
    val out = commitWithRebase(dir, None, maxRetries) { (base, m) =>
      val cur = m.schema.getOrElse(throw new IllegalStateException(
        s"manifest v$base at $dir records no schema"))
      val f = cur.fields.find(_.name == name)
        .orElse(cur.fields.find(_.name.equalsIgnoreCase(name)))
        .getOrElse(throw new IllegalArgumentException(
          s"no column $name in ${cur.fieldNames.mkString(",")}"))
      require(cur.fields.length > 1, "cannot drop the only column")
      require(!m.statsCols.contains(f.name),
        s"cannot drop cluster column ${f.name} (the table's layout law)")
      m.bucketSpec.foreach { case (c, _) => require(c != f.name,
        s"cannot drop bucket column ${f.name} (the table's layout law)") }
      m.header.get("check").map(FileEntry.dec).foreach(pred =>
        require(!predReferences(pred, f.name),
          s"cannot drop ${f.name}: referenced by CHECK ($pred); drop " +
            "the constraint first (ALTER … SET TBLPROPERTIES)"))
      val phys = m.colmap.getOrElse(f.name, f.name)
      val newSchema = StructType(cur.fields.filterNot(_.name == f.name))
      val cm = m.colmap - f.name
      val entriesTouched = m.files.exists(fe =>
        fe.stats.contains(f.name) || fe.bloom.contains(f.name))
      val files = m.files.map(fe => fe.copy(stats = fe.stats - f.name,
        bloom = fe.bloom - f.name))
      // a dropped bloom column leaves the declaration; a dropped
      // ANALYZE entry must go — a later re-ADD of the name would be
      // served the DEAD column's NDV/nulls otherwise
      val newBloomCols = m.bloomCols.filterNot(_ == f.name)
      val headers = m.carried.filterNot(e =>
        Set("colmap", "retired", "bloomcols", "colstats",
          "colhist")(e._1)) ++
        (if (cm.isEmpty) Nil else Seq("colmap" -> encodeColmap(cm))) ++
        Seq("retired" -> encodeRetired(m.retired + phys)) ++
        (if (newBloomCols.isEmpty) Nil
         else Seq("bloomcols" -> newBloomCols.mkString(","))) ++
        m.header.get("colstats").map(cs =>
          "colstats" -> adjustColstats(cs, f.name, None)) ++
        m.header.get("colhist").map(ch =>
          "colhist" -> adjustColstats(ch, f.name, None))
      val v = base + 1
      if (entriesTouched)
        commit(dir, v, "drop", base, files, Some(newSchema), headers)
      else commitDelta(dir, v, "drop", m, Nil, Nil, Some(newSchema), headers)
      v
    }
    dropCdcCache(dir)
    markMapped(dir)
    out
  }

  /** Safe type WIDENINGS `ALTER TABLE … ALTER COLUMN c TYPE t` may
    * apply as pure metadata: the parquet reader natively promotes the
    * narrower stored values at scan time (int32 pages read through a
    * BIGINT schema, float through DOUBLE), so no file rewrite happens
    * at any size. Everything else — narrowing, long→double (lossy above
    * 2^53), string↔numeric — is refused: that is a data rewrite, not an
    * evolution. */
  private val widenable: Map[DataType, Set[DataType]] = Map(
    ByteType -> Set[DataType](ShortType, IntegerType, LongType, DoubleType),
    ShortType -> Set[DataType](IntegerType, LongType, DoubleType),
    IntegerType -> Set[DataType](LongType, DoubleType),
    FloatType -> Set[DataType](DoubleType))

  /** Widen a column's declared type (see [[widenable]]): ONE metadata
    * commit; old files read through the widened schema via the parquet
    * reader's native type promotion, new appends write the wide type.
    * Manifest min/max stats stay valid (their string renderings compare
    * under the NEW type's numeric parse). A BUCKET column refuses:
    * Spark hashes int32 and int64 differently, so widening would break
    * the files' bucket-purity law. */
  def widenColumn(dir: String, name: String, to: DataType,
                  maxRetries: Int = 5): Int =
    commitWithRebase(dir, None, maxRetries) { (base, m) =>
      val cur = m.schema.getOrElse(throw new IllegalStateException(
        s"manifest v$base at $dir records no schema"))
      val f = cur.fields.find(_.name == name)
        .orElse(cur.fields.find(_.name.equalsIgnoreCase(name)))
        .getOrElse(throw new IllegalArgumentException(
          s"no column $name in ${cur.fieldNames.mkString(",")}"))
      if (sameTypeIgnoreNull(f.dataType, to)) base // no-op
      else {
        require(widenable.get(f.dataType).exists(_.contains(to)),
          s"cannot change ${f.name}: ${f.dataType} -> $to is not a safe " +
            s"widening (allowed: ${widenable.getOrElse(f.dataType, Set.empty)
              .mkString(", ")})")
        m.bucketSpec.foreach { case (c, _) => require(c != f.name,
          s"cannot widen bucket column ${f.name}: int32/int64 hash " +
            "differently, the bucket layout would break") }
        // xxhash64 of INT and BIGINT values differ too: widening a
        // bloom column would make every recorded blob silently miss
        // the probes — files holding the key would be wrongly pruned
        require(!m.bloomCols.contains(f.name),
          s"cannot widen bloom column ${f.name}: the recorded blobs " +
            "hash the narrow type; drop it from bloomcols (SET " +
            "TBLPROPERTIES) or OPTIMIZE first")
        // float→double is value-exact for the DATA (native promotion)
        // but NOT for the recorded min/max strings: '1.1' understates
        // the promoted double 1.10000002..., so a box read could prune
        // a file that holds the probed value. Strip the column's
        // per-file stats (conservative no-prune until a compact
        // re-records them at double precision); integer widenings keep
        // theirs (exact renders).
        val statsStrip = f.dataType.isInstanceOf[FloatType] &&
          m.statsCols.contains(f.name) &&
          m.files.exists(_.stats.contains(f.name))
        val files =
          if (statsStrip)
            m.files.map(fe => fe.copy(stats = fe.stats - f.name))
          else m.files
        val newSchema = StructType(cur.fields.map(x =>
          if (x.name == f.name) x.copy(dataType = to) else x))
        // ANALYZE min/max renders are narrow-typed too — drop the entry
        // (the histogram's double boundaries stay valid under widening,
        // but the paired colstats entry is gone, so drop both — one
        // re-ANALYZE restores them consistently)
        val headers = m.carried.filterNot(e =>
          e._1 == "colstats" || e._1 == "colhist") ++
          m.header.get("colstats").map(cs =>
            "colstats" -> adjustColstats(cs, f.name, None)) ++
          m.header.get("colhist").map(ch =>
            "colhist" -> adjustColstats(ch, f.name, None))
        val v = base + 1
        if (statsStrip)
          commit(dir, v, "widen", base, files, Some(newSchema), headers)
        else commitDelta(dir, v, "widen", m, Nil, Nil, Some(newSchema),
          headers)
        v
      }
    }

  /** PRE-VALIDATION for a MIXED-kind ALTER statement (r11 ADVICE): the
    * catalog executes each change kind as its own commit, so a later
    * kind's validation failure after an earlier commit landed would
    * leave one ALTER statement half-applied across versions. This runs
    * the SAME metadata checks the individual ops enforce — against the
    * CURRENT manifest — BEFORE the first commit. Cross-kind
    * interactions created inside one statement (e.g. widening a column
    * the same statement declares as a bloom column) still validate at
    * their own op; single-kind statements — the whole SQL ALTER surface
    * — are covered exactly. */
  private[io] def validateAlter(spark: SparkSession, dir: String,
      adds: Seq[String],
      renames: Seq[(String, String)],
      drops: Seq[(String, Boolean)],
      widens: Seq[(String, DataType)],
      defaults: Seq[(String, Option[String])]): Unit = {
    val v = latestVersion(dir)
    if (v < 1) return
    val m = readManifest(dir, v)
    val cur = m.schema.getOrElse(return)
    // SIMULATE the statement's own execution order (adds, renames,
    // drops, widens, defaults) over an evolving field map — so
    // SAME-KIND sequential interactions (dropping both of a 2-column
    // table's columns, adding a name twice) fail here too, not after
    // an earlier kind's commit landed. Just-added columns carry a
    // NullType sentinel: widen/default of a column the same statement
    // adds defers to the op's own validation.
    val fields = scala.collection.mutable.LinkedHashMap[String, StructField](
      cur.fields.map(f => f.name -> f).toSeq: _*)
    def resolve(n: String): Option[(String, StructField)] =
      fields.get(n).map(n -> _)
        .orElse(fields.find(_._1.equalsIgnoreCase(n)))
    def checkPred: Option[String] = m.header.get("check").map(FileEntry.dec)
    adds.foreach { n =>
      require(!fields.contains(n), s"column $n already exists")
      fields.put(n, StructField(n, NullType))
      ()
    }
    renames.foreach { case (oldName, newName) =>
      val (key, f) = resolve(oldName).getOrElse(
        throw new IllegalArgumentException(
          s"no column $oldName in ${fields.keys.mkString(",")}"))
      require(!fields.keys.exists(_.equalsIgnoreCase(newName)),
        s"column $newName already exists")
      require(!newName.startsWith("_s_") && !MergeMarkers(newName),
        s"$newName collides with the merge namespace")
      checkPred.foreach(pred => require(!predReferences(pred, f.name),
        s"cannot rename ${f.name}: referenced by CHECK ($pred); drop " +
          "the constraint first (ALTER … SET TBLPROPERTIES)"))
      fields.remove(key)
      fields.put(newName, f.copy(name = newName))
      ()
    }
    drops.foreach { case (name, ifExists) =>
      resolve(name) match {
        case None => require(ifExists,
          s"no column $name in ${fields.keys.mkString(",")}")
        case Some((key, f)) =>
          require(fields.size > 1, "cannot drop the only column")
          require(!m.statsCols.contains(f.name),
            s"cannot drop cluster column ${f.name} (the table's layout law)")
          m.bucketSpec.foreach { case (c, _) => require(c != f.name,
            s"cannot drop bucket column ${f.name} (the table's layout law)") }
          checkPred.foreach(pred => require(!predReferences(pred, f.name),
            s"cannot drop ${f.name}: referenced by CHECK ($pred); drop " +
              "the constraint first (ALTER … SET TBLPROPERTIES)"))
          fields.remove(key)
          ()
      }
    }
    widens.foreach { case (name, to) =>
      val (_, f) = resolve(name).getOrElse(
        throw new IllegalArgumentException(
          s"no column $name in ${fields.keys.mkString(",")}"))
      if (!f.dataType.isInstanceOf[NullType] &&
        !sameTypeIgnoreNull(f.dataType, to)) {
        require(widenable.get(f.dataType).exists(_.contains(to)),
          s"cannot change ${f.name}: ${f.dataType} -> $to is not a safe " +
            s"widening (allowed: ${widenable.getOrElse(f.dataType, Set.empty)
              .mkString(", ")})")
        m.bucketSpec.foreach { case (c, _) => require(c != f.name,
          s"cannot widen bucket column ${f.name}: int32/int64 hash " +
            "differently, the bucket layout would break") }
        require(!m.bloomCols.contains(f.name),
          s"cannot widen bloom column ${f.name}: the recorded blobs " +
            "hash the narrow type; drop it from bloomcols (SET " +
            "TBLPROPERTIES) or OPTIMIZE first")
      }
    }
    defaults.foreach { case (name, sqlOpt) =>
      val (_, f) = resolve(name).getOrElse(
        throw new IllegalArgumentException(
          s"no column $name in ${fields.keys.mkString(",")}"))
      if (!f.dataType.isInstanceOf[NullType]) sqlOpt.foreach { sqlTxt =>
        spark.sql(s"SELECT CAST(($sqlTxt) AS ${f.dataType.sql})").collect()
        ()
      }
    }
  }

  /** `ALTER TABLE … SET TBLPROPERTIES`: update the mutable table
    * properties (`delete.mode` / `update.mode` / `merge.mode` /
    * `check`) as ONE metadata commit (op `altertbl`) — so a constraint
    * or a row-level mode can be declared AFTER creation. A new/changed
    * CHECK validates against the CURRENT contents first (one scan) —
    * SQL's ADD CONSTRAINT contract: existing rows must already
    * satisfy it, otherwise reads and writes would disagree about the
    * invariant. Layout properties (clustercols/bucketcols) are fixed
    * at create time and refused — they are write-law declarations, not
    * flags. */
  def setProperties(spark: SparkSession, dir: String,
                    props: Map[String, String],
                    maxRetries: Int = 5): Int = {
    val allowed = Set("delete.mode", "update.mode", "merge.mode", "check",
      "bloomcols", "bloombits", "clustercols")
    val unknown = props.keySet -- allowed
    require(unknown.isEmpty,
      s"ALTER TABLE SET TBLPROPERTIES supports ${allowed.mkString(", ")}; " +
        s"got ${unknown.mkString(", ")} (the hash-bucket layout is fixed " +
        "at create time)")
    props.filterKeys(_.endsWith(".mode")).foreach { case (k, mo) =>
      require(mo == "copy-on-write" || mo == "merge-on-read",
        s"$k must be copy-on-write or merge-on-read, got $mo")
    }
    // must parse at declaration — eagerly (Spark 4 lazy-Column law,
    // same as createEmpty); the retroactive scan below then surfaces
    // resolution errors before anything commits
    props.get("check").foreach(org.apache.spark.sql.catalyst.parser
      .CatalystSqlParser.parseExpression(_))
    props.get("bloombits").foreach(b => require(
      b.toInt >= 1024 && Integer.bitCount(b.toInt) == 1,
      s"bloombits must be a power of two >= 1024, got $b"))
    commitWithRebase(dir, None, maxRetries) { (base, m) =>
      // CLUSTER-SPEC EVOLUTION (round 12 — the public Iceberg
      // partition-spec-evolution idea, original implementation):
      // re-declaring clustercols (raw columns or hidden transforms)
      // changes the WRITE LAW only — future batches shape and record
      // stats by the new spec; files written under the old spec keep
      // their old per-file stats and simply never prune on the new
      // columns (conservative-correct by the no-stats rule), and
      // pruning follows the CURRENT declaration (bounds on retired
      // cluster columns stop pruning rather than half-pruning). A full
      // OPTIMIZE/compact rewrites everything under the new law and
      // restores uniform pruning. Refused on hash-bucketed tables
      // (contradictory file shapes, same as create). An empty value
      // UN-clusters the table (future batches round-robin).
      val clusterEvo = props.get("clustercols").map { spec =>
        require(m.bucketSpec.isEmpty,
          "cannot cluster a hash-bucketed table: the bucket layout " +
            "owns the file shape")
        val specs = splitClusterSpecs(spec).map(parseClusterSpec)
        m.schema.foreach(sch => specs.foreach(_.validate(sch)))
        specs
      }
      // a bloomcols declaration must name supported columns; it arms
      // blob recording for FUTURE batches only (files written before it
      // carry no blob and are simply never bloom-pruned)
      props.get("bloomcols").foreach(_.split(",").filter(_.nonEmpty)
        .foreach { c =>
          val dt = m.schema.flatMap(_.fields.find(_.name == c.trim))
            .map(_.dataType).getOrElse(throw new IllegalArgumentException(
              s"bloom column ${c.trim} not in the table schema"))
          require(bloomSupports(dt),
            s"bloom column ${c.trim} must be integral or string, got $dt")
        })
      // a retroactive CHECK must hold for the rows already committed
      props.get("check").foreach { pred =>
        val viol = readEntries(spark, dir, m, m.files)
          .filter(!coalesce(expr(pred).cast("boolean"), lit(true)))
          .limit(1).collect()
        require(viol.isEmpty,
          s"cannot add CHECK ($pred): existing rows violate it, " +
            s"e.g. ${viol.headOption.getOrElse("")}")
      }
      val headerKey = Map("delete.mode" -> "deletemode",
        "update.mode" -> "updatemode", "merge.mode" -> "mergemode",
        "check" -> "check", "bloomcols" -> "bloomcols",
        "bloombits" -> "bloombits")
      val updates = props.filterNot(_._1 == "clustercols").map {
        case (k, v0) =>
          headerKey(k) -> (if (k == "check") FileEntry.enc(v0) else v0)
      } ++ clusterEvo.toSeq.flatMap { specs =>
        if (specs.isEmpty) Seq.empty // un-cluster: keys drop below
        else {
          // stamping statsfmt=micros-v2 in a METADATA-ONLY commit must
          // not re-label stats it did not write: a pre-micros-v2 table
          // keeps timestamp min/max as session-local renderings on its
          // existing file entries, and the tsStatsAreMicros legacy
          // guard is the only thing stopping pruneWhere from comparing
          // those strings as epoch-micros (wrongly skipping files).
          // Stamp only when the prior manifest already carried the
          // marker, or when no live entry holds TimestampType stats —
          // otherwise leave the table unstamped until a compact()
          // rewrites every file's stats under the new format.
          val tsCols: Set[String] = m.schema.map(_.fields.collect {
            case f if f.dataType.isInstanceOf[TimestampType] => f.name
          }.toSet).getOrElse(Set.empty)
          val stampSafe = m.tsStatsAreMicros ||
            !m.files.exists(_.stats.keys.exists(tsCols))
          Seq("statscols" -> specs.map(_.src).distinct.mkString(",")) ++
            (if (stampSafe) Seq("statsfmt" -> STATS_FMT) else Nil) ++
            (if (specs.forall(_.isIdentity)) Nil
             else Seq("transforms" -> specs.map(_.spec).mkString(",")))
        }
      }
      // copy-on-write is the default: setting it back REMOVES the key;
      // an EMPTY bloomcols likewise disarms blob recording; an empty
      // clustercols drops the whole clustering declaration
      val cleaned = updates.filterNot { case (k, v0) =>
        (k.endsWith("mode") && v0 == "copy-on-write") ||
          (k == "bloomcols" && v0.isEmpty) }
      val dropped = (updates.keySet -- cleaned.keySet) ++
        (if (clusterEvo.exists(_.isEmpty))
          Set("statscols", "statsfmt", "transforms")
         else if (clusterEvo.exists(_.forall(_.isIdentity)))
          Set("transforms") // evolving to raw columns retires the specs
         else Set.empty[String])
      val headers = m.carried
        .filterNot { case (k, _) => cleaned.contains(k) || dropped.contains(k) } ++
        cleaned.toSeq
      val v = base + 1
      commitDelta(dir, v, "altertbl", m, Nil, Nil, m.schema, headers)
      v
    }
  }

  /** One analyzed column's statistics, as the manifest records them:
    * NDV is approximate (HLL++, the industry ANALYZE norm), null count
    * exact, min/max rendered in the shared stats string format
    * (numeric/date/timestamp families only — a free-text min/max would
    * bloat the header for no estimator value), avg/max byte length for
    * strings. */
  case class ColumnStats(ndv: Long, nulls: Long,
                         min: Option[String], max: Option[String],
                         avgLen: Option[Long], maxLen: Option[Long])

  /** `ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS` — ONE distributed
    * pass over the live snapshot (DV-aware, mapping-aware) computing
    * per-column NDV/nulls/min/max/lengths, recorded in the manifest
    * header (`colstats`, carried forward; `analyzedv` names the
    * version analyzed so consumers can judge staleness — the industry
    * contract: advisory estimator input, refreshed by re-running
    * ANALYZE, never a correctness input). The V2 scan serves them as
    * connector `columnStats`, so a CBO-enabled session sees real
    * NDV/null counts for join estimation instead of guessing from
    * sizes. Empty `cols` analyzes every supported column. */
  def analyzeColumns(spark: SparkSession, dir: String,
                     cols: Seq[String] = Nil,
                     maxRetries: Int = 5): Int =
    commitWithRebase(dir, None, maxRetries) { (base, m) =>
      val schema = m.schema.getOrElse(throw new IllegalStateException(
        s"manifest v$base at $dir records no schema"))
      val targets =
        (if (cols.isEmpty) schema.fields.toSeq
         else cols.map(c => schema.fields.find(_.name == c)
           .orElse(schema.fields.find(_.name.equalsIgnoreCase(c)))
           .getOrElse(throw new IllegalArgumentException(
             s"no column $c in ${schema.fieldNames.mkString(",")}"))))
          .filter(f => f.dataType match {
            case _: NumericType | _: StringType | _: DateType |
                 _: TimestampType | _: TimestampNTZType | _: BooleanType => true
            case _ => false
          })
      require(targets.nonEmpty, "no analyzable columns")
      val df = readEntries(spark, dir, m, m.files)
      val aggs = targets.flatMap { f =>
        val c = col(f.name)
        val minMax = f.dataType match {
          case _: NumericType | _: DateType | _: TimestampType |
               _: TimestampNTZType => Seq(
            statAgg(f.name, f.dataType, isMin = true).as(s"mn_${f.name}"),
            statAgg(f.name, f.dataType, isMin = false).as(s"mx_${f.name}"))
          case _ => Seq(lit(null).cast("string").as(s"mn_${f.name}"),
            lit(null).cast("string").as(s"mx_${f.name}"))
        }
        val lens = f.dataType match {
          case _: StringType => Seq(
            avg(length(c)).cast("long").as(s"al_${f.name}"),
            max(length(c)).cast("long").as(s"ml_${f.name}"))
          case dt => Seq(lit(dt.defaultSize.toLong).as(s"al_${f.name}"),
            lit(dt.defaultSize.toLong).as(s"ml_${f.name}"))
        }
        Seq(approx_count_distinct(c).as(s"nd_${f.name}"),
          (count(lit(1)) - count(c)).as(s"nu_${f.name}")) ++ minMax ++ lens
      }
      val r = df.agg(aggs.head, aggs.tail: _*).head()
      def num(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
      val stats = targets.zipWithIndex.map { case (f, i) =>
        val o = i * 6
        f.name -> ColumnStats(num(o), num(o + 1),
          Option(r.getString(o + 2)), Option(r.getString(o + 3)),
          if (r.isNullAt(o + 4)) None else Some(r.getLong(o + 4)),
          if (r.isNullAt(o + 5)) None else Some(r.getLong(o + 5)))
      }
      def enc(v: Option[String]) = v.map(FileEntry.enc).getOrElse("")
      val encoded = stats.map { case (c, st) =>
        s"${FileEntry.enc(c)}:${st.ndv},${st.nulls},${enc(st.min)}," +
          s"${enc(st.max)},${st.avgLen.getOrElse(-1L)}," +
          s"${st.maxLen.getOrElse(-1L)}"
      }.mkString(";")
      // EQUI-HEIGHT HISTOGRAMS (round 13): per ordered column,
      // HIST_BINS buckets of equal row mass — approx-percentile
      // boundaries (pass 2), then per-bin approximate NDV (pass 3, one
      // job: HIST_BINS conditional sketches per column). Boundaries and
      // the V2/catalyst histogram contract are DOUBLES, so timestamps
      // analyze as epoch-micros and dates as epoch-days — the same
      // numeric view FilterEstimation applies to range predicates.
      // Skewed columns are exactly where min/max-only selectivity lies;
      // the histogram is what tightens it (served via the connector
      // columnStats → transformV2Stats → FilterEstimation).
      val histTargets = targets.filter(f => f.dataType match {
        case _: NumericType | _: DateType | _: TimestampType => true
        case _ => false
      })
      val colhist: Option[String] =
        if (histTargets.isEmpty) None
        else {
          def dcol(f: StructField) = f.dataType match {
            case _: TimestampType => unix_micros(col(f.name)).cast("double")
            case _: DateType => unix_date(col(f.name)).cast("double")
            case _ => col(f.name).cast("double")
          }
          val qs = (0 to HIST_BINS).map(_.toDouble / HIST_BINS)
          val bAggs = histTargets.map(f =>
            percentile_approx(dcol(f), typedLit(qs), lit(10000))
              .as(s"pb_${f.name}"))
          val bRow = df.agg(bAggs.head, bAggs.tail: _*).head()
          val boundaries: Seq[(StructField, Seq[Double])] =
            histTargets.zipWithIndex.flatMap { case (f, i) =>
              if (bRow.isNullAt(i)) None // all-null column: no histogram
              else Some(f -> bRow.getSeq[Double](i))
            }
          if (boundaries.isEmpty) None
          else {
            val nAggs = boundaries.flatMap { case (f, bs) =>
              val d = dcol(f)
              // bin id = #interior boundaries strictly below the value
              val bin = (1 until HIST_BINS).map(i =>
                when(d > lit(bs(i)), 1).otherwise(0))
                .reduce[org.apache.spark.sql.Column](_ + _)
              (0 until HIST_BINS).map(i =>
                approx_count_distinct(when(bin === i, d))
                  .as(s"bn_${f.name}_$i")) :+
                count(d).as(s"cn_${f.name}")
            }
            val nRow = df.agg(nAggs.head, nAggs.tail: _*).head()
            val per = HIST_BINS + 1
            Some(boundaries.zipWithIndex.map { case ((f, bs), j) =>
              val ndvs = (0 until HIST_BINS).map(i => nRow.getLong(j * per + i))
              val nonNull = nRow.getLong(j * per + HIST_BINS)
              val height = nonNull.toDouble / HIST_BINS
              s"${FileEntry.enc(f.name)}:$height|" +
                bs.mkString(",") + "|" + ndvs.mkString(",")
            }.mkString(";"))
          }
        }
      val headers = m.carried.filterNot(e =>
        Set("colstats", "colhist", "analyzedv")(e._1)) ++
        Seq("colstats" -> encoded, "analyzedv" -> base.toString) ++
        colhist.map("colhist" -> _)
      val v = base + 1
      commitDelta(dir, v, "analyze", m, Nil, Nil, m.schema, headers)
      v
    }

  /** Equi-height buckets per analyzed column — 16 matches the useful
    * resolution of a double-rendered boundary list at O(100) header
    * bytes per column. */
  private[io] val HIST_BINS = 16

  /** One analyzed column's equi-height histogram as the manifest
    * records it: bin height in rows, HIST_BINS+1 ascending boundaries
    * (the double view — micros for timestamps, days for dates), and
    * HIST_BINS per-bin approximate NDVs. */
  case class ColHist(height: Double, bounds: Seq[Double], ndvs: Seq[Long])

  /** Commit history as a DataFrame:
    * (version, op, parent, n_files, epoch, ts). Enumerates the manifests
    * that EXIST — after vacuum the history is the surviving suffix. `ts`
    * is the commit wall-clock millis (null for pre-round-10 manifests). */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // header-only walk: one first-line read per version — O(#versions)
    // tiny reads, never O(#versions × #files) list resolution (the
    // r12 nfiles header; manifests written before it fall back to the
    // cached full resolution)
    existingVersions(dir)
      .map { v =>
        val h = readHeaderMap(dir, v)
        val n = h.get("nfiles").map(_.toInt)
          .getOrElse(readManifest(dir, v).files.size)
        (v, h("op"), h("parent").toInt, n,
          h.get("epoch").map(_.toLong), h.get("ts").map(_.toLong))
      }
      .toDF("version", "op", "parent", "n_files", "epoch", "ts")
  }

  /** The CDC row schema: the table's data columns plus the change
    * metadata every feed consumer keys on. */
  def cdcSchema(schema: StructType): StructType =
    schema.add("_change_type", StringType).add("_commit_version", LongType)

  /** Per-version CDC batch as parquet files, MATERIALIZED ONCE under
    * `dir/_cdc/v%08d` and reused by every later reader — the persisted-
    * change-files idea (public design of Delta's change data feed),
    * computed LAZILY at first read instead of taxing every commit:
    * version v's batch is [[changesBetween]](v-1, v) (file-diff +
    * signed netting — only changed files are ever read) stamped with
    * `_commit_version = v`; the FIRST surviving version emits its full
    * snapshot as inserts. Publication is atomic (write to a temp dir,
    * rename) so a crashed or racing materializer never leaves a
    * half-written batch; a cached batch keeps serving even after the
    * underlying manifests are vacuumed, and vacuum reclaims `_cdc`
    * dirs of vacuumed versions. Returns the batch's parquet file
    * paths (empty for metadata-only commits). */
  private[io] def cdcFiles(spark: SparkSession, dir: String,
                           v: Int, retries: Int = 3): Seq[String] = {
    val target = Paths.get(dir, "_cdc", f"v$v%08d")
    if (!Files.isDirectory(target)) {
      val versions = existingVersions(dir)
      require(versions.contains(v),
        s"version $v at $dir does not exist (vacuumed?) — CDC cannot " +
          "replay it; restart the feed from a newer startingVersion")
      // the full-snapshot-as-inserts form is ONLY for the table's TRUE
      // first commit (parent 0). After a vacuum the oldest survivor has
      // parent v-1: emitting its whole snapshot as inserts would make a
      // resuming consumer double-count the entire table — that case
      // must fail loudly like any vacuumed-history read.
      val changes =
        if (v == versions.head && readManifest(dir, v).parent == 0)
          read(spark, dir, Some(v)).withColumn("_change_type", lit("insert"))
        else {
          require(versions.contains(v - 1),
            s"version ${v - 1} at $dir was vacuumed — CDC for version " +
              s"$v needs both adjacent manifests (or a pre-materialized " +
              "_cdc batch); restart the feed from a newer startingVersion")
          changesBetween(spark, dir, v - 1, v)
        }
      // COLUMN-MAPPING lineage rewrite (r11 ADVICE): `changes` speaks
      // version-v LOGICAL names (changesBetween reads per-version
      // manifests), but the reader scans every batch under the CURRENT
      // cdc schema — without this projection a renamed column would
      // silently null-fill for pre-rename versions, and a DROP+re-ADD
      // would resurrect the dropped column's stale values through the
      // reused name. Each column follows its PHYSICAL identity: rename
      // emits under the current logical name, a retired physical drops
      // out (the re-added namesake has a fresh physical and null-fills
      // at scan time). Evolution commits drop this cache, so "current"
      // is the reader's current at materialization time.
      val mapped =
        if (!mayHaveColumnMapping(dir)) changes
        else {
          val cur = readManifest(dir, versions.last)
          val vM = readManifest(dir, v)
          def curLogicalOf(phys: String): Option[String] =
            cur.colmap.collectFirst { case (cl, cp) if cp == phys => cl }
              .orElse(cur.schema.flatMap(_.fieldNames.find(n =>
                n == phys && !cur.colmap.contains(n))))
          // changesBetween ALIGNS the two adjacent versions' schemas
          // by name, so a batch at a rename boundary carries both the
          // old and the new name of one physical column (the boundary
          // batch is empty by construction — a rename is metadata-only
          // — but the projection must still be duplicate-free): dedupe
          // by target, preferring the column of v's OWN schema over the
          // aligned-in ghost
          val vNames = vM.schema.map(_.fieldNames.toSet).getOrElse(
            Set.empty[String])
          val picked = scala.collection.mutable.LinkedHashMap[String, String]()
          changes.columns.foreach {
            case "_change_type" => ()
            case l =>
              val phys = vM.colmap.getOrElse(l, l)
              if (!cur.retired.contains(phys))
                curLogicalOf(phys).foreach { t =>
                  if (!picked.contains(t) ||
                    (vNames.contains(l) && !vNames.contains(picked(t))))
                    picked.put(t, l)
                }
          }
          changes.select(picked.toSeq.map { case (t, l) =>
            col(l).as(t) } :+ col("_change_type"): _*)
        }
      val tmp = Paths.get(dir, "_cdc",
        s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      BatchWriter.write(mapped.withColumn("_commit_version", lit(v.toLong)),
        tmp.toString)
      try { Files.move(tmp, target); () }
      catch {
        case _: java.nio.file.FileAlreadyExistsException |
             _: java.nio.file.DirectoryNotEmptyException =>
          // a racing materializer published first — same-era content by
          // deterministic replay (both read the same manifests; the
          // staleness re-check below covers a racing EVOLUTION); drop
          // ours
          listDir(tmp).foreach(Files.delete)
          Files.delete(tmp)
      }
      // TOCTOU guard (r12 review): a RENAME/DROP may have committed —
      // and run its cache-drop — while this materialization was in
      // flight, leaving a stale-named batch that the cache would then
      // serve forever. Re-check the mapping state after publish; on a
      // mismatch drop the batch and re-materialize under the new
      // current names (bounded: another concurrent evolution per retry).
      if (retries > 0) {
        val nowM = readManifest(dir, latestVersion(dir))
        val usedM = readManifest(dir, versions.last)
        if (nowM.colmap != usedM.colmap || nowM.retired != usedM.retired) {
          if (Files.isDirectory(target)) {
            listDir(target).foreach(Files.deleteIfExists(_))
            Files.deleteIfExists(target)
          }
          return cdcFiles(spark, dir, v, retries - 1)
        }
      }
    }
    listDir(target).map(_.toString)
      .filter(_.endsWith(".parquet")).sorted
  }

  /** CDC-style NET row changes between two snapshots, computed from the
    * manifest FILE diff — the scale property: only files that CHANGED
    * between the versions are read, never the whole table (a 100 TB
    * table whose day touched 3 files reads 3 files' worth from each
    * side). Mechanics: entries identical in both manifests (same path
    * AND same deletion-vector reference) cancel by construction; the
    * remaining entries are read per side (each through its own
    * manifest's schema + DVs) and NETTED in one pass — every old row
    * weighs -1, every new row +1, one group-by over the data columns
    * sums the weights, and a row with net weight d ≠ 0 is emitted |d|
    * times as 'insert' (d > 0) or 'delete' (d < 0). A rewritten-but-
    * identical row therefore cancels too, so the result equals the
    * brute-force `read(v2) exceptAll read(v1)` / `read(v1) exceptAll
    * read(v2)` over the full table (spec-asserted) while touching only
    * the changed files. Returns the union of data columns plus
    * `_change_type` ('insert' rows exist only in `toV`, 'delete' rows
    * only in `fromV`); multiset semantics — a row whose duplicate count
    * changed nets the difference. */
  def changesBetween(spark: SparkSession, dir: String,
                     fromV: Int, toV: Int): DataFrame = {
    require(fromV >= 1 && toV >= 1, "versions are >= 1")
    val a = readManifest(dir, fromV)
    val b = readManifest(dir, toV)
    def key(f: FileEntry) = (f.path, f.dv)
    val bKeys = b.files.map(key).toSet
    val aKeys = a.files.map(key).toSet
    val aOnly = a.files.filterNot(f => bKeys.contains(key(f)))
    val bOnly = b.files.filterNot(f => aKeys.contains(key(f)))
    val oldRows = readEntries(spark, dir, a, aOnly)
    val newRows = readEntries(spark, dir, b, bOnly)
    // schema may have evolved between the versions: align by name,
    // null-filling columns the other side predates
    def aligned(df: DataFrame, other: DataFrame): DataFrame = {
      val missing = other.columns.filterNot(df.columns.contains)
      missing.foldLeft(df)((d, c) =>
        d.withColumn(c, lit(null).cast(other.schema(c).dataType)))
    }
    val o = aligned(oldRows, newRows)
    val n = aligned(newRows, oldRows).select(o.columns.map(col).toSeq: _*)
    // SINGLE-PASS netting (r15; guide §1.2 step 1 "don't compute things
    // twice"): the previous `n.exceptAll(o)` + `o.exceptAll(n)` pair made
    // Spark execute each side's changed-file scan TWICE — Catalyst
    // rewrites EVERY exceptAll into union → count-aggregate → replicate
    // (RewriteExceptAll), so the two calls built that whole pipeline
    // twice just to read opposite signs of the SAME per-row net count
    // (JobsDetail: paired 13.7+13.6 s jobs per materialized _cdc batch).
    // Computing the signed multiset difference ONCE and deriving both
    // change directions from its sign is semantically identical —
    // inserts appear (count_n − count_o)⁺ times, deletes (count_o −
    // count_n)⁺ times, the exact exceptAll multiset law (spec-asserted
    // against brute-force exceptAll in SnapshotCdcSpec) — at half the
    // scans and half the shuffles.
    val dataCols = o.columns.toSeq
    // a user column `__w` must not be overwritten
    val Seq(w, d, r) = Seq("__w", "__d", "__r").map(freshName(dataCols, _))
    val net = o.withColumn(w, lit(-1L))
      .unionByName(n.withColumn(w, lit(1L)))
      .groupBy(dataCols.map(col): _*)
      .agg(sum(col(w)).as(d))
      .filter(col(d) =!= 0L)
    net
      .withColumn("_change_type",
        when(col(d) > 0L, lit("insert")).otherwise(lit("delete")))
      .withColumn(r, explode(sequence(lit(1L), abs(col(d)))))
      .select(dataCols.map(col) :+ col("_change_type"): _*)
  }
}
