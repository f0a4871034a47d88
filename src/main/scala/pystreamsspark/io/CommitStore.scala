package pystreamsspark.io

import java.nio.file.{Files, Path, StandardOpenOption}

/** The ONE atomic primitive the snapshot-manifest log needs from its
  * storage: put-if-absent. A version's manifest file either publishes
  * (this writer won version v) or already exists (some other committer
  * won — rebase and retry). Everything else in the protocol — rebase,
  * epochs, vacuum chain safety, sidecars — is built on immutable files
  * plus this single decision point, so porting the log to an object
  * store is exactly one method:
  *
  *  - local / HDFS-like: a hard link of a fully written temp file
  *    (the [[LocalCommitStore]] below);
  *  - S3: conditional PUT with `If-None-Match: *` (natively atomic
  *    since 2024) — a 412 Precondition Failed is `false`;
  *  - GCS: upload with precondition `ifGenerationMatch=0`;
  *  - Azure Blob: Put Blob with `If-None-Match: *`.
  *
  * Contract: at most one concurrent caller for a given path observes
  * `true`, and after any call has returned `true` the path's bytes are
  * durably visible to readers. A `false` with DELAYED visibility (the
  * winner's bytes not yet listable — eventual-consistency stores) is
  * legal: the commit loop treats it as a lost race and re-reads the
  * latest version, retrying until the winner surfaces or retries
  * exhaust. Implementations must never partially write a visible path
  * (upload to a temp key + atomic finalize, the norm on object
  * stores). */
trait CommitStore {
  /** Atomically create `path` with `bytes` iff absent.
    * @return true = this call published; false = the path already
    *         exists (another committer won the race). */
  def putIfAbsent(path: Path, bytes: Array[Byte]): Boolean
}

/** Filesystem implementation: the bytes go to a private temp file in
  * the same directory, and a hard link publishes it — `link(2)` is
  * atomic and fails if the path exists, on POSIX and on any shared
  * filesystem with POSIX semantics (proven cross-process in
  * CrossProcessCommitSpec). A `CREATE_NEW` write of the path itself
  * would make it visible before its bytes: a racing reader could parse
  * an empty manifest. */
object LocalCommitStore extends CommitStore {
  override def putIfAbsent(path: Path, bytes: Array[Byte]): Boolean = {
    val tmp = path.resolveSibling(
      s".${path.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    try {
      Files.write(tmp, bytes, StandardOpenOption.CREATE_NEW)
      Files.createLink(path, tmp)
      true
    } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }
}
