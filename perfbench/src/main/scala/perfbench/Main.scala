package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed execution of an operation. `traced` executions also carry
  * their span boundaries (epoch ms) and the query executions drained in
  * each span. */
final case class OpRun(id: String, name: String, kind: String, pass: Int,
                       buildS: Double, actS: Double, ok: Boolean,
                       spans: Seq[(String, Long, Long)] = Nil,
                       qes: Seq[(String, QeRec)] = Nil) {
  def timeS: Double = buildS + actS
}

/** The harness of one run: one session, one closed-loop client issuing
  * the workload's operations one after another. Pass 0 is untimed and
  * checks every output, the workload's warm-up passes follow untimed;
  * then whole timed passes run until `--seconds` of operation time has
  * been measured. With `--trace 1`, passes alternate
  * traced and untraced, so the tracing overhead is measured in the same
  * process; per-layer metrics come from the traced passes only, the
  * end-to-end ones from the untraced.
  *
  * Writes a JSON result (attempted, failed, failures, metrics) to
  * `--out`; `run.py` turns it into the benchmark's result line. */
object Main {
  /** Pass number of the once-only operations of a traced run. */
  val OncePass = 99
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.get("trace").contains("1")
    val work = a("work")
    val expected = Expected.load(a("expected"), workload)
    val record = a.get("record")

    def uptimeS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val spark = Session.build()
    val sessionS = uptimeS
    val sc = spark.sparkContext
    val rng = new scala.util.Random(seed)
    val wl: Workload = workload match {
      // planning-bound relational keys (q_join_asof_native runs the
      // repository's own as-of exec) and a dedup funnel
      case "queries_sf0.1" => new KeyWorkload(spark, a("sf"),
        Seq("q_filter", "q_join_asof_native", "q_sql_q6", "q_jaccard_pairs"), rng,
        Ops.streams(spark, a("sf")),
        once = Seq(Ops.curate(spark, a("sf")), Ops.key(spark, a("sf"), "q_labelprop")))
      case "table_dml" => new TableDml(spark, a("sf"), work, rng)
      case other => sys.error(s"unknown workload $other")
    }
    val tracer = new Tracer(sc)
    val recorded = mutable.LinkedHashMap.empty[String, Fp]
    val runs = mutable.ArrayBuffer.empty[OpRun]
    var persistedMax = 0L
    var storageMbPeak = 0.0

    def attach(on: Boolean): Unit =
      if (on) { sc.addSparkListener(tracer); spark.listenerManager.register(tracer) }
      else { sc.removeSparkListener(tracer); spark.listenerManager.unregister(tracer) }

    def runOp(op: Op, pass: Int, seq: Int, check: Boolean, traced: Boolean): Unit = {
      val id = f"p$pass%02d.$seq%03d.${op.name}"
      attempted += 1
      var buildS = 0.0; var actS = 0.0
      val spans = mutable.ArrayBuffer.empty[(String, Long, Long)]
      val qes = mutable.ArrayBuffer.empty[(String, QeRec)]
      var ok = true
      // runs a span and returns its result and seconds; in a traced pass
      // it then records the span and drains the bus (outside the time)
      def span[A](name: String)(body: => A): (A, Double) = {
        sc.setLocalProperty(tracer.SpanProp, name)
        val w0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        try {
          val r = body
          (r, (System.nanoTime() - t0) / 1e9)
        } finally if (traced) {
          spans += ((name, w0, System.currentTimeMillis()))
          qes ++= tracer.drain().map(name -> _)
        }
      }
      sc.setJobGroup(id, op.name, interruptOnCancel = false)
      try {
        val (built, b) = span("build")(op.build())
        buildS = b
        actS = span("action")(built.act(check))._2
        if (traced) {
          persistedMax = math.max(persistedMax, sc.getPersistentRDDs.size.toLong)
          storageMbPeak = math.max(storageMbPeak,
            sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6)
        }
        if (check) built.fp.foreach { fp =>
          sc.setJobGroup(id + "/check", op.name, interruptOnCancel = false)
          val got = span("check")(fp())._1
          val own = built.expected()
          val want = own.orElse(expected.get(op.name))
          if (record.isDefined && own.isEmpty) recorded(op.name) = got
          else want match {
            case Some(w) if got.matches(w) =>
            case Some(w) => fail(op.name, s"output mismatch: got $got, expected $w"); ok = false
            case None => fail(op.name, "no expected value recorded"); ok = false
          }
        }
      } catch {
        case NonFatal(e) =>
          ok = false
          fail(op.name, s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}")
      } finally sc.clearJobGroup()
      runs += OpRun(id, op.name, op.kind, pass, buildS, actS, ok, spans.toList, qes.toList)
    }

    // memory retained between ops: heap used after a full GC, probed after
    // each set-up op; the median over the probes, because an op's own
    // garbage is freed by Spark's cleaner thread at its own pace, and a
    // probe that comes first takes it as retained. The probes' time is
    // kept out of setup_s.
    val heapProbesMb = mutable.ArrayBuffer.empty[Double]
    var probeS = 0.0
    def probeHeap(): Unit = {
      val t0 = System.nanoTime()
      System.gc()
      heapProbesMb += java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1e6
      probeS += (System.nanoTime() - t0) / 1e9
    }

    // ---- set-up: preparation, the untimed, checked pass and warm-up
    val cg0 = Codegen.snapshot()
    sc.setJobGroup("prepare", "prepare", interruptOnCancel = false)
    try wl.prepare() catch { case NonFatal(e) => fail("prepare", e.toString) }
    sc.clearJobGroup()
    val prepareS = uptimeS - sessionS
    wl.pass(0).zipWithIndex.foreach { case (op, j) => runOp(op, 0, j, true, false); probeHeap() }
    val cg1 = Codegen.snapshot()
    // warm-up passes (numbered -1, -2, ...; no statistic takes them): the
    // JIT is still compiling the planner's hot code after the cold pass,
    // and the next pass runs up to half again as long as later ones, by a
    // margin that differs from run to run
    for (w <- 1 to wl.warmupPasses)
      wl.pass(-w).zipWithIndex.foreach { case (op, j) => runOp(op, -w, j, false, false) }
    val setupS = uptimeS - probeS

    // ---- timed passes: the closed loop runs whole passes until `seconds`
    // of operation time is measured and at least `minPasses` have run, so
    // every operation has the same number of timed samples (in a traced
    // run, half of them traced). Each pass starts after a full GC, outside
    // the time, so no pass pays for the garbage of the one before.
    var pass = 1
    var timed = 0.0
    val minPasses = 2
    while (timed < seconds || pass <= minPasses) {
      val traced = trace && pass % 2 == 1
      System.gc()
      if (traced) attach(true)
      wl.pass(pass).zipWithIndex.foreach { case (op, j) =>
        runOp(op, pass, j, false, traced)
        timed += runs.last.timeS
      }
      if (traced) { tracer.drain(); attach(false) }
      pass += 1
    }
    try failures ++= wl.finish() catch { case NonFatal(e) => fail("finish", e.toString) }
    if (trace || record.isDefined) {
      if (trace) attach(true)
      wl.traceOnly.zipWithIndex.foreach { case (op, j) => runOp(op, OncePass, j, true, trace) }
      if (trace) { tracer.drain(); attach(false) }
    }

    // ---- metrics
    val m = mutable.LinkedHashMap.empty[String, Double]
    val timedRuns = runs.filter(r => r.pass >= 1 && r.pass < OncePass).toSeq
    val untraced = timedRuns.filter(r => r.ok && r.spans.isEmpty)
    val opTimes = untraced.map(_.timeS)
    val (tail, tailPct) = Stats.tail(opTimes)
    val perOp = Stats.perOpMedians(untraced)
    m("setup_s") = setupS
    m("wall_s") = perOp.sum
    m("op_p50_s") = Stats.median(perOp)
    m("op_tail_s") = tail
    m("heap_retained_mb") = Stats.median(heapProbesMb.toSeq)
    m("rss_peak_mb") = Rss.peakMb()
    val info = mutable.LinkedHashMap[String, Any](
      "timed_ops" -> opTimes.size, "op_tail_percentile" -> tailPct,
      "timed_passes" -> (pass - 1), "cores" -> Session.cores,
      "session_s" -> sessionS, "prepare_s" -> prepareS)
    m("tmp.left_mb") = Fs.dirSize(Paths.get(System.getProperty("java.io.tmpdir"))) / 1e6
    m("failed_frac") = failures.size.toDouble / math.max(1L, attempted)
    if (trace) {
      m ++= wl.layerMetrics(runs.toSeq)
      val tracedRuns = timedRuns.filter(_.spans.nonEmpty)
      m ++= Layers.metrics(tracer, tracedRuns, untraced, runs.count(_.pass == 0))
      val allTraced = runs.filter(_.spans.nonEmpty).toSeq
      m ++= Layers.perCall(tracer, allTraced)
      m("codegen.compile_s") = (cg1.compileMs - cg0.compileMs) / 1e3
      m("codegen.classes") = (cg1.classes - cg0.classes).toDouble
      m("cache.persisted_after_op_max") = persistedMax.toDouble
      m("cache.storage_mb_peak") = storageMbPeak
      m ++= Kernels.measure(spark, a("sf"))
      Layers.writeSpans(Paths.get(a("spans")), tracer, allTraced)
      Layers.printRanking(tracer, allTraced)
    }
    System.err.println("[perfbench] per operation: set-up pass s, timed median s (n)")
    runs.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, rs) =>
      val warm = rs.filter(r => r.pass >= 1 && r.ok).map(_.timeS).toSeq
      val cold = rs.filter(r => r.pass == 0 || r.pass == OncePass).map(_.timeS).sum
      System.err.println(f"  $n%-32s $cold%8.3f ${Stats.median(warm)}%8.3f (${warm.size})")
    }
    record.foreach(p => Expected.write(Paths.get(p), recorded.toSeq))
    val out = Json.obj(Seq(
      "attempted" -> attempted, "failed" -> failures.size.toLong,
      "failures" -> failures.toSeq, "metrics" -> m.toSeq, "info" -> info.toSeq))
    Fs.writeString(Paths.get(a("out")), out)
    spark.stop()
  }

  def fail(op: String, msg: String): Unit = {
    val line = s"$op: $msg"
    System.err.println(s"[perfbench] FAIL $line")
    failures += line
  }
}

object Stats {
  /** Each operation's median timed sample. A run affords a few samples
    * per operation, and the operations differ several-fold in time, so
    * statistics over all samples jump between operations from run to
    * run; statistics over these medians do not. */
  def perOpMedians(runs: Seq[OpRun]): Seq[Double] =
    runs.groupBy(_.name).values.map(rs => median(rs.map(_.timeS))).toSeq

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, and
    * that percentile (the maximum when there are fewer than 11). */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.isEmpty) (0.0, 0.0)
    else {
      val s = xs.sorted; val n = s.size
      val i = math.max(0, n - 11)
      (if (n < 11) s.last else s(i), if (n < 11) 100.0 else 100.0 * (i + 1) / n)
    }
}

object Rss {
  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
}

object Fs {
  def dirSize(p: Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }

  def writeString(p: Path, s: String): Unit = {
    java.nio.file.Files.createDirectories(p.toAbsolutePath.getParent)
    java.nio.file.Files.writeString(p, s)
  }
}

/** CodegenMetrics deltas: compiled classes and total compile time. The
  * compile-time histogram keeps every sample up to its reservoir size
  * (1028), which a cold pass stays under; beyond it the sum is
  * extrapolated from the mean. */
object Codegen {
  final case class Snap(classes: Long, compileMs: Double)
  def snapshot(): Snap = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val vals = h.getSnapshot.getValues
    val n = h.getCount
    val sum = if (n <= vals.length) vals.sum.toDouble else h.getSnapshot.getMean * n
    Snap(n, sum)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case None => "null"
    case Some(x) => value(x)
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) =>
      obj(kv.asInstanceOf[Seq[(String, Any)]])
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
