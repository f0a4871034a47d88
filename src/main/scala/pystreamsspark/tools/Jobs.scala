package pystreamsspark.tools

import org.apache.spark.graft.BusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Job-structure probe (guide §1: measure first, attribute second).
  *
  * Wall-clock on a contended host cannot attribute cost; this reports the
  * WORK a key schedules — jobs, stages, task time, shuffle bytes, input
  * bytes — which is host-load-independent and directly exposes the class
  * of waste the r14 audit keeps finding (the same subtree executed twice,
  * a second full pass hidden behind an eager side job). Read it as: jobs
  * >> 1 means driver-sequenced passes; task-time >> (input bytes / disk
  * bw × cores) or shuffle bytes >> the napkin-math minimum means a
  * structural pass to hunt down in the plan.
  *
  * Usage: runMain pystreamsspark.tools.Jobs <sfDir> <key...>
  */
object Jobs {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskTimeMs = new AtomicLong(0)
    val shufRead = new AtomicLong(0)
    val shufWrite = new AtomicLong(0)
    val input = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val i = s.stageInfo
        tasks.addAndGet(i.numTasks)
        taskTimeMs.addAndGet(i.taskMetrics.executorRunTime)
        shufRead.addAndGet(i.taskMetrics.shuffleReadMetrics.totalBytesRead)
        shufWrite.addAndGet(i.taskMetrics.shuffleWriteMetrics.bytesWritten)
        input.addAndGet(i.taskMetrics.inputMetrics.bytesRead)
      }
    })

    def mb(v: Long): String = f"${v / 1048576.0}%.1f"
    args.drop(1).foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      jobs.set(0); stages.set(0); tasks.set(0); taskTimeMs.set(0)
      shufRead.set(0); shufWrite.set(0); input.set(0)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // the listener bus is async: drain it so every job of this key
      // is counted here, none against the next key
      BusShim.waitUntilEmpty(spark.sparkContext)
      println(f"JOBS $name rows=$n wall=$wall%.2fs jobs=${jobs.get} " +
        f"stages=${stages.get} tasks=${tasks.get} " +
        f"taskTime=${taskTimeMs.get / 1000.0}%.1fs " +
        s"input=${mb(input.get)}MB shufR=${mb(shufRead.get)}MB " +
        s"shufW=${mb(shufWrite.get)}MB")
    }
    spark.stop()
  }
}
