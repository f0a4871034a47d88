package pystreamsspark.tools

import org.apache.spark.graft.BusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap

/** Per-JOB work breakdown for one key (guide §1: attribute, then fix).
  *
  * [[Jobs]] aggregates a key's whole run; for driver-sequenced funnels
  * (DML fixtures, CDC materialization, iterative fits) the question is
  * WHICH of the 20+ jobs carries the task time. This listener keys every
  * stage to its job and prints one line per job with its description
  * (jobs the code labels via setJobDescription show up named; unlabeled
  * ones show the callsite), so a 90-second key decomposes into "job 7,
  * the rewrite join, is 60 of it".
  *
  * Usage: runMain pystreamsspark.tools.JobsDetail <sfDir> <key>
  */
object JobsDetail {
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

    case class J(var desc: String = "", var t0: Long = 0L, var t1: Long = 0L,
                 var tasks: Int = 0, var taskMs: Long = 0L,
                 var cpuNs: Long = 0L, var gcMs: Long = 0L,
                 var input: Long = 0L, var shufR: Long = 0L, var shufW: Long = 0L)
    val byJob = TrieMap.empty[Int, J]
    val stageToJob = TrieMap.empty[Int, Int]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = byJob.getOrElseUpdate(e.jobId, J())
        j.t0 = e.time
        j.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          // without either, the result stage's name is the call site
          .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
          .getOrElse("?")
        e.stageIds.foreach(s => stageToJob(s) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        byJob.get(e.jobId).foreach(_.t1 = e.time)
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        stageToJob.get(i.stageId).flatMap(byJob.get).foreach { j =>
          j.tasks += i.numTasks
          j.taskMs += i.taskMetrics.executorRunTime
          j.cpuNs += i.taskMetrics.executorCpuTime
          j.gcMs += i.taskMetrics.jvmGCTime
          j.input += i.taskMetrics.inputMetrics.bytesRead
          j.shufR += i.taskMetrics.shuffleReadMetrics.totalBytesRead
          j.shufW += i.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
      }
    })

    def mb(v: Long): String = f"${v / 1048576.0}%.1f"
    args.drop(1).foreach { name =>
      byJob.clear(); stageToJob.clear()
      val fn = graft.SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      BusShim.waitUntilEmpty(spark.sparkContext) // async listener bus
      println(f"KEY $name rows=$n wall=$wall%.2fs jobs=${byJob.size}")
      byJob.toSeq.sortBy(_._1).foreach { case (id, j) =>
        println(f"  job=$id%3d wall=${(j.t1 - j.t0) / 1000.0}%6.2fs tasks=${j.tasks}%4d " +
          f"taskTime=${j.taskMs / 1000.0}%7.1fs cpu=${j.cpuNs / 1e9}%6.1fs " +
          f"gc=${j.gcMs / 1000.0}%5.1fs in=${mb(j.input)}%8sMB " +
          f"shR=${mb(j.shufR)}%8sMB shW=${mb(j.shufW)}%8sMB  ${j.desc.take(120)}")
      }
    }
    spark.stop()
  }
}
