package perfbench

/** A fixed list of keys (plus the workload's own extra operations),
  * issued in an order the seed permutes afresh for every pass. */
final class KeyWorkload(spark: org.apache.spark.sql.SparkSession, dir: String,
                        keys: Seq[String], rng: scala.util.Random,
                        extra: Seq[Op], once: Seq[Op] = Nil) extends Workload {
  private val ops = keys.map(k => Ops.key(spark, dir, k)) ++ extra
  def pass(i: Int): Seq[Op] = rng.shuffle(ops)
  override def traceOnly: Seq[Op] = once
}

/** Fingerprints recorded from checked runs of the program
  * (`run.py --record`). An entry without a hash is an operation whose
  * hash was not stable across the two recording runs; it gets the
  * row-count check only. */
object Expected {
  import com.fasterxml.jackson.databind.ObjectMapper
  import scala.jdk.CollectionConverters._

  def load(path: String, workload: String): Map[String, Fp] = {
    val f = new java.io.File(path)
    if (!f.exists()) Map.empty
    else {
      val root = new ObjectMapper().readTree(f).path(workload)
      root.fieldNames().asScala.map { k =>
        val n = root.get(k)
        k -> Fp(n.get("rows").asLong(),
          Option(n.get("hash")).filterNot(_.isNull).map(_.asText()))
      }.toMap
    }
  }

  def write(path: java.nio.file.Path, fps: Seq[(String, Fp)]): Unit =
    Fs.writeString(path, Json.obj(fps.map { case (k, f) =>
      k -> Seq("rows" -> f.rows, "hash" -> f.hash) }))
}
