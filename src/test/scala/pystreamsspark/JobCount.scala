package pystreamsspark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.BusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block runs. The block runs under a fresh job
  * group, so jobs of other threads or suites are not counted, and the
  * listener bus is drained before the count is read (no sleep). */
object JobCount {
  def apply(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted block")
    try body
    finally {
      sc.clearJobGroup()
      BusShim.waitUntilEmpty(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }
}
