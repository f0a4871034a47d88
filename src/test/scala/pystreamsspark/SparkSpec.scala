package pystreamsspark

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; Spark
  * getOrCreate makes this safe across suites). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.builder().getOrCreate()

  override protected def afterAll(): Unit = {
    // keep the session alive for other suites; sbt's forked JVM exit stops it
    super.afterAll()
  }
}

object SparkSpec {
  /** The settings of the shared session. A suite that has to stop it
    * builds the replacement from here, so later suites see the same
    * configuration. */
  def builder(): SparkSession.Builder = SparkSession.builder()
    .master("local[4]")
    .appName("pystreamsspark-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      new java.io.File("target/spark-warehouse").getAbsolutePath)
}
