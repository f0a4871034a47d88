package perfbench

import java.nio.file.Path

/** Per-layer metrics of the traced passes, the span file, and the
  * planning-versus-execution ranking. Sums are per pass: the total over
  * the traced operations divided by the passes they amount to. */
object Layers {
  private def planMs(q: QeRec) = q.analysisMs + q.optimizationMs + q.planningMs
  private def opQes(r: OpRun) = r.qes.filter(_._1 != "check").map(_._2)
  private def spanOf(r: OpRun, n: String) = r.spans.find(_._1 == n)

  /** Driver time of an op outside its jobs: build + action spans minus
    * the union of its jobs' intervals. */
  private def gapMs(t: Tracer, r: OpRun): Double =
    (for (b <- spanOf(r, "build"); a <- spanOf(r, "action")) yield {
      val iv = t.jobsOf(r.id).map(j => (j.startMs, j.endMs))
      ((a._3 - b._2) - Tracer.unionMs(iv, b._2, a._3)).toDouble
    }).getOrElse(0.0)

  def metrics(t: Tracer, runs: Seq[OpRun], untraced: Seq[OpRun],
              opsPerPass: Int): Map[String, Double] = {
    val passes = math.max(1.0, runs.size.toDouble / math.max(1, opsPerPass))
    val ex = runs.flatMap(r => t.exec.get(r.id))
    def exSum(f: ExecTotals => Double) = ex.map(f).sum / passes
    val qes = runs.flatMap(opQes)
    val graftRuns = runs.filter(r => r.qes.exists(q => q._1 == "action" && q._2.graftExec))
    val plain = Stats.perOpMedians(untraced).sum
    Map(
      "entry.build_s" -> runs.map(_.buildS).sum / passes,
      "plan.analysis_s" -> qes.map(_.analysisMs).sum / 1e3 / passes,
      "plan.optimization_s" -> qes.map(_.optimizationMs).sum / 1e3 / passes,
      "plan.planning_s" -> qes.map(_.planningMs).sum / 1e3 / passes,
      "exec.jobs" -> exSum(_.jobs.toDouble),
      "exec.stages" -> exSum(_.stages.toDouble),
      "exec.tasks" -> exSum(_.tasks.toDouble),
      "exec.run_s" -> exSum(_.runMs / 1e3),
      "exec.cpu_s" -> exSum(_.cpuNs / 1e9),
      "exec.gc_s" -> exSum(_.gcMs / 1e3),
      "exec.sched_wait_s" -> exSum(_.schedWaitMs / 1e3),
      "exec.input_mb" -> exSum(_.inputBytes / 1e6),
      "exec.shuffle_read_mb" -> exSum(_.shuffleReadBytes / 1e6),
      "exec.shuffle_write_mb" -> exSum(_.shuffleWriteBytes / 1e6),
      "exec.spill_mb" -> exSum(_.spillBytes / 1e6),
      "exec.failed_tasks" -> exSum(_.failedTasks.toDouble),
      "driver.gap_s" -> runs.map(r => gapMs(t, r)).sum / 1e3 / passes,
      "plans.graft_exec_ops" -> graftRuns.size / passes,
      "plans.graft_exec_s" -> graftRuns.map(_.timeS).sum / passes,
      "streams.op_s" -> runs.filter(_.kind == "stream").map(_.timeS).sum / passes,
      "trace.overhead_frac" ->
        (if (plain > 0) Stats.perOpMedians(runs.filter(_.ok)).sum / plain - 1.0 else 0.0))
  }

  /** Per-call metrics over every traced operation, the once-only ones
    * included: the `CuratePipeline` call's time and jobs, and the rounds
    * and jobs of a call that ran `operators.Pregel` (median over calls). */
  def perCall(t: Tracer, runs: Seq[OpRun]): Map[String, Double] = {
    val curate = runs.filter(r => r.kind == "curate" && r.ok)
    val pregel = runs.flatMap(r => t.exec.get(r.id)).filter(_.pregelJobs > 0)
    Map(
      "curate_s" -> curate.map(_.timeS).sum,
      "llm.curate_jobs" -> curate.flatMap(r => t.exec.get(r.id)).map(_.jobs).sum.toDouble,
      "pregel.rounds" -> Stats.median(pregel.map(_.pregelRounds.size.toDouble)),
      "pregel.jobs" -> Stats.median(pregel.map(_.pregelJobs.toDouble)))
  }

  /** Spans of every traced operation as JSON lines: the op's build,
    * action and check spans, a plan span per query execution, and a span
    * per job and stage, all keyed by the operation id. */
  def writeSpans(path: Path, t: Tracer, runs: Seq[OpRun]): Unit = {
    val sb = new StringBuilder
    def line(kv: (String, Any)*): Unit = sb ++= Json.obj(kv) += '\n'
    runs.foreach { r =>
      r.spans.foreach { case (n, s, e) =>
        line("op" -> r.id, "name" -> r.name, "span" -> n, "start_ms" -> s, "end_ms" -> e,
          "parent" -> r.id)
      }
      r.qes.foreach { case (in, q) =>
        line("op" -> r.id, "span" -> "plan", "parent" -> in, "func" -> q.func,
          "analysis_ms" -> q.analysisMs, "optimization_ms" -> q.optimizationMs,
          "planning_ms" -> q.planningMs, "graft_exec" -> q.graftExec)
      }
      t.jobsOf(r.id).foreach { j =>
        line("op" -> r.id, "span" -> "job", "parent" -> j.span, "desc" -> j.desc,
          "start_ms" -> j.startMs, "end_ms" -> j.endMs)
      }
      t.stagesOf(r.id).foreach { s =>
        line("op" -> r.id, "span" -> "stage", "stage" -> s.stageId, "tasks" -> s.tasks,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs)
      }
    }
    Fs.writeString(path, sb.toString)
  }

  /** Operations ranked by the share of their time spent planning
    * (analysis + optimization + physical planning) against the share
    * covered by their jobs, averaged over traced executions. */
  def printRanking(t: Tracer, runs: Seq[OpRun]): Unit = {
    val rows = runs.filter(_.ok).groupBy(_.name).toSeq.map { case (n, rs) =>
      val time = rs.map(_.timeS).sum
      val plan = rs.flatMap(opQes).map(planMs).sum / 1e3
      val exec = rs.map { r =>
        (for (b <- spanOf(r, "build"); a <- spanOf(r, "action"))
          yield Tracer.unionMs(t.jobsOf(r.id).map(j => (j.startMs, j.endMs)), b._2, a._3))
          .getOrElse(0L)
      }.sum / 1e3
      (n, time / rs.size, if (time > 0) plan / time else 0.0, if (time > 0) exec / time else 0.0)
    }.sortBy(-_._3)
    val out = System.err
    out.println("[perfbench] planning vs execution share per operation (traced passes):")
    out.println(f"  ${"operation"}%-32s ${"op_s"}%8s ${"plan"}%6s ${"jobs"}%6s")
    rows.foreach { case (n, s, p, e) => out.println(f"  $n%-32s $s%8.3f $p%6.2f $e%6.2f") }
    val fast = rows.filter(_._2 < 0.2)
    if (fast.nonEmpty)
      out.println(f"  ${fast.size} ops under 0.2 s: mean planning share " +
        f"${fast.map(_._3).sum / fast.size}%.2f, mean job share ${fast.map(_._4).sum / fast.size}%.2f")
  }
}
