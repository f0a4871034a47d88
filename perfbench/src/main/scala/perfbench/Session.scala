package perfbench

import org.apache.spark.sql.SparkSession

/** The session every run uses: `local[nproc]`, one shuffle partition per
  * core, UTC — the configuration of the program's own Bench and Verify.
  * Spark's scratch (`spark.local.dir`) is kept apart from
  * `java.io.tmpdir`, so what the keys leave under the latter is theirs. */
object Session {
  def cores: Int = Runtime.getRuntime.availableProcessors()

  def build(): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val b2 = sys.props.get("perfbench.localDir").fold(b)(d =>
      b.config("spark.local.dir", d)
        .config("spark.sql.warehouse.dir", s"$d/warehouse"))
    val spark = b2.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
