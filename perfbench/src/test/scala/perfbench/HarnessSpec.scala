package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The harness's own laws: its timed action forces every column, and
  * its listener attributes work to the right operation without sleeps. */
class HarnessSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = Session.build()
  private val sf = "data/sf0.1"

  /** Optimized logical plans of the queries the body runs, read after
    * draining the listener bus. */
  private def optimizedPlans(body: => Unit): Seq[LogicalPlan] = {
    val seen = mutable.ArrayBuffer.empty[LogicalPlan]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        seen.synchronized(seen += qe.optimizedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; org.apache.spark.perfbench.BusShim.waitUntilEmpty(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    seen.synchronized(seen.toList)
  }

  test("q_simhash: the noop write keeps the simhash projection count() prunes") {
    val df = graft.SparkEntry.queries("q_simhash")(spark, sf)
    def hashes(p: LogicalPlan) = p.toString.split("md5\\(").length - 1
    val viaCount = optimizedPlans(df.count())
    val viaNoop = optimizedPlans(Ops.forceAll(df))
    assert(viaCount.nonEmpty && viaNoop.nonEmpty)
    assert(viaCount.map(hashes).sum == 0,
      s"count() plan still hashes tokens:\n${viaCount.mkString("\n")}")
    assert(viaNoop.map(hashes).sum > 0,
      s"noop plan lost the simhash projection:\n${viaNoop.mkString("\n")}")
  }

  test("jobs and query executions of back-to-back operations are attributed to each") {
    val sc = spark.sparkContext
    val t = new Tracer(sc)
    sc.addSparkListener(t); spark.listenerManager.register(t)
    try {
      def op(id: String, jobs: Int): Seq[QeRec] = {
        sc.setJobGroup(id, id, interruptOnCancel = false)
        try (1 to jobs).foreach(i => spark.range(0, 1000 * i, 1, 3).selectExpr("sum(id)").collect())
        finally sc.clearJobGroup()
        t.drain()
      }
      // no pause between the two: the drain alone separates them
      val qa = op("a", 2)
      val qb = op("b", 1)
      assert(qa.size == 2 && qb.size == 1, s"query executions: a=$qa b=$qb")
      // every query has the same shape (with AQE, a map job and a result
      // job), so a's counts are exactly twice b's
      val (a, b) = (t.exec("a"), t.exec("b"))
      assert(b.jobs >= 1 && a.jobs == 2 * b.jobs)
      assert(t.jobsOf("a").size == a.jobs && t.jobsOf("b").size == b.jobs)
      assert(b.tasks >= 3 && a.tasks == 2 * b.tasks)
    } finally { sc.removeSparkListener(t); spark.listenerManager.unregister(t) }
  }
}
