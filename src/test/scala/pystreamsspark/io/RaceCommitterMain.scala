package pystreamsspark.io

import java.nio.file.{Files, Paths, StandardCopyOption}

/** SECOND-PROCESS committer for [[CrossProcessCommitSpec]]: a plain
  * JVM (no SparkSession — the commit protocol is pure filesystem
  * metadata, which is exactly the property under test) that appends
  * `n` batches to an existing snapshot table by copying a SEED parquet
  * file into fresh UUID batch dirs and committing each through the
  * epoch-stamped append funnel ([[SnapshotTable.appendEpochFiles]] —
  * the same put-if-absent arbitration + retry/rebase every writer uses).
  * Prints `LANDED=<count>` and exits 0; any exception exits nonzero.
  *
  * Usage: RaceCommitterMain <tableDir> <n> <seedAbsPath> <epochBase>
  */
object RaceCommitterMain {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val n = args(1).toInt
    val seed = Paths.get(args(2))
    val epochBase = args(3).toLong
    val schema = SnapshotTable.schemaOf(dir)
    var landed = 0
    (0 until n).foreach { i =>
      val batch = s"data/${java.util.UUID.randomUUID().toString.take(8)}"
      val out = Paths.get(dir, batch)
      Files.createDirectories(out)
      val name = "part-00000-race.parquet"
      Files.copy(seed, out.resolve(name), StandardCopyOption.COPY_ATTRIBUTES)
      val ok = SnapshotTable.appendEpochFiles(dir, epochBase + i,
        Seq(SnapshotTable.FileEntry(s"$batch/$name", Map.empty)),
        schema, maxRetries = 50)
      if (ok) landed += 1
    }
    // visible to the spawning test on stdout
    println(s"LANDED=$landed")
    if (landed != n) sys.exit(2)
  }
}
