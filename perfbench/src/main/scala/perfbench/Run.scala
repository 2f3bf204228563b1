package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.sources.RowOps

/** Command-line options of the harness JVM (see `run.py`). */
final case class Opts(workload: String, seed: Long, seconds: Int,
    trace: Boolean, out: String, data: String, work: String,
    expected: String, cores: Int, injectFail: Int, record: Boolean,
    solo: Option[String])

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("out"), need("data"), need("work"),
      need("expected"), m.get("cores").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors),
      m.get("inject-fail").map(_.toInt).getOrElse(0),
      m.get("record").contains("1"), m.get("solo").filter(_.nonEmpty))
  }
}

/** A check on the program's output failed: the op counts as failed. */
final class WrongOutput(msg: String) extends RuntimeException(msg)

/** The record of one benchmark run: timed ops, passes, output checks,
  * spans and per-layer figures. Everything is kept in memory and written
  * as one JSON file at the end; `run.py` turns it into metrics. */
final class Run(val opts: Opts, val spark: SparkSession) {
  import Run._

  private val sc = spark.sparkContext
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble

  /** Wall clock in epoch milliseconds with nanosecond resolution. */
  def now: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val probe: Option[Probe] = if (opts.trace) Some(new Probe(spark)) else None
  /** Spans and probe counters are kept only while this is on: a traced
    * run alternates traced and untraced passes to measure the overhead. */
  private var tracing = false
  def traced: Boolean = tracing

  /** (time, on) of every change of [[traced]]. */
  val toggles = mutable.ArrayBuffer.empty[(Double, Boolean)]

  def setTracing(on: Boolean, settle: Boolean = true): Unit = if (on != tracing) {
    probe.foreach { p =>
      if (on) p.install() else { if (settle) p.settle(); p.uninstall() }
    }
    tracing = on
    toggles += ((now, on))
  }

  var firstOpMs = Double.NaN
  private var opCount = 0
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val windows = mutable.ArrayBuffer.empty[(String, Double, Double)]
  val extra = mutable.LinkedHashMap.empty[String, Any]

  // ---- spans: workload → pass → op → layer ---------------------------
  final class Span(val name: String, val start: Double) {
    var end = start
    val children = mutable.ArrayBuffer.empty[Span]
  }
  val root = new Span(s"workload:${opts.workload}", now)
  // per thread: olap_fixture runs its queries on several client threads
  private val stack = ThreadLocal.withInitial[List[Span]](() => List(root))

  /** The innermost open span of this thread. */
  def currentSpan: Span = stack.get.head

  /** Run `body` on this thread with its spans placed under `parent`. */
  def under[T](parent: Span)(body: => T): T = {
    val saved = stack.get
    stack.set(List(parent))
    try body finally stack.set(saved)
  }

  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val s = new Span(name, now)
      val parent = stack.get.head
      parent.children.synchronized(parent.children += s)
      stack.set(s :: stack.get)
      try body finally { s.end = now; stack.set(stack.get.tail) }
    }

  /** A span measured elsewhere (a phase timer of the engine), placed
    * under the current span while tracing. */
  def addSpan(name: String, start: Double, ms: Double): Unit =
    if (tracing) spanAt(currentSpan, name, start, ms)

  /** A child span of `parent` from `start` lasting `ms`. */
  def spanAt(parent: Span, name: String, start: Double, ms: Double): Span = {
    val s = new Span(name, start)
    s.end = start + math.max(ms, 0.0)
    parent.children.synchronized(parent.children += s)
    s
  }

  // per thread: the olap warm-up runs queries on several threads at once
  private val phases = ThreadLocal.withInitial[mutable.LinkedHashMap[String, Double]](
    () => mutable.LinkedHashMap.empty[String, Double])
  private def opPhases = phases.get

  /** Run `body` with the probe's phase property set (and a layer span);
    * its time is recorded with the op as `<name>_ms`. */
  def phase[T](name: String)(body: => T): T = {
    sc.setLocalProperty(Probe.PhaseKey, name)
    val t0 = now
    try span(name)(body) finally {
      opPhases(s"${name}_ms") = opPhases.getOrElse(s"${name}_ms", 0.0) + now - t0
      sc.setLocalProperty(Probe.PhaseKey, "exec")
    }
  }

  /** Time one op. A throw (including a [[WrongOutput]]) marks it failed.
    * Untimed ops (warm-up, set-up) are not recorded. */
  def op[T](kind: String, name: String, pass: Int, timed: Boolean = true)(
      body: => T): Either[String, T] = {
    val tag = s"p$pass/$name"
    sc.setLocalProperty(Probe.TagKey, tag)
    sc.setLocalProperty(Probe.PhaseKey, "exec")
    opPhases.clear()
    val t0 = now
    val nth = synchronized {
      if (timed && firstOpMs.isNaN) firstOpMs = t0
      if (timed) opCount += 1
      opCount
    }
    val r =
      try {
        if (timed && nth == opts.injectFail)
          throw new RuntimeException(s"injected failure in op $nth")
        Right(span(s"op:$name")(body))
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $kind $name failed: $e")
          if (!timed) check(s"untimed.$kind.$name", ok = false, e.toString.take(500))
          Left(e.toString.take(500))
      }
    val t1 = now
    sc.setLocalProperty(Probe.TagKey, null)
    if (timed) synchronized {
      ops += Map("kind" -> kind, "name" -> name, "pass" -> pass,
        "start_ms" -> t0, "ms" -> (t1 - t0), "ok" -> r.isRight,
        "error" -> r.left.toOption) ++ opPhases
      if (tracing) windows += ((tag, t0, t1))
    }
    r
  }

  /** Note when a set-up step ended (ms since JVM start). */
  val marks = mutable.LinkedHashMap.empty[String, Double]
  def mark(name: String): Unit = marks(name) =
    now - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Time one pass of ops; it is complete only if every op in it is ok. */
  def pass(i: Int)(body: => Seq[Boolean]): Unit = {
    val (t0, c0) = (now, processCpuMs)
    val oks = span(s"pass:$i")(body)
    passes += Map("pass" -> i, "wall_s" -> (now - t0) / 1000.0,
      "cpu_s" -> (processCpuMs - c0) / 1000.0,
      "complete" -> (oks.nonEmpty && oks.forall(identity)),
      "traced" -> tracing)
  }

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    if (!ok) System.err.println(s"[perfbench] check $name failed: $detail")
    synchronized(checks += Map("name" -> name, "ok" -> ok, "detail" -> detail))
  }

  /** Probe totals per traced pass: `layers(pass)(metric)`. */
  def passLayers(passIds: Seq[Int]): Map[Int, Map[String, Double]] =
    probe.fold(Map.empty[Int, Map[String, Double]]) { p =>
      p.settle()
      val qes = p.qeEvents
      passIds.map { i =>
        val pre = s"p$i/"
        val ws = windows.filter(_._1.startsWith(pre))
        val mine = qes.filter(q => ws.exists(w =>
          q.startMs >= w._2 - 1 && q.startMs <= w._3 + 1))
        val tags = p.tags.filter(_.startsWith(pre))
        val exec = tags.filter(_.endsWith("|exec")).map(p.acc)
        i -> (execTotals(exec) ++
          Map(
            "exec.task_skew" -> taskSkew(exec),
            "engine.resolve_jobs" ->
              tags.filter(_.endsWith("|resolve")).map(p.acc(_).jobs).sum.toDouble,
            "engine.plan_analysis_ms" -> mine.map(_.analysisMs).sum,
            "engine.plan_optimize_ms" -> mine.map(_.optimizeMs).sum,
            "engine.plan_physical_ms" -> mine.map(_.physicalMs).sum,
            "exec.files_read" -> mine.map(_.files).sum.toDouble))
      }.toMap
    }

  /** Place each traced query execution's Catalyst phases, as spans, under
    * the innermost span that was open when its analysis started. */
  def attachPlanSpans(): Unit = probe.foreach { p =>
    def innermost(s: Span, t: Double): Span =
      s.children.find(c => !c.name.startsWith("plan.") && c.start <= t && t <= c.end)
        .map(innermost(_, t)).getOrElse(s)
    p.qeEvents.foreach { q =>
      val at = innermost(root, q.startMs.toDouble)
      if (at ne root)
        Seq("plan.analysis" -> q.analysisMs, "plan.optimize" -> q.optimizeMs,
          "plan.physical" -> q.physicalMs).foldLeft(q.startMs.toDouble) {
          case (t, (n, ms)) => spanAt(at, n, t, ms).end
        }
    }
  }

  def write(): Unit = {
    root.end = now
    attachPlanSpans()
    val spansFile = new java.io.File(opts.out).getParentFile
    val spans = new java.io.File(spansFile, "spans.json")
    if (opts.trace) writeFile(spans, Json.render(spanJson(root)))
    val mx = java.lang.management.ManagementFactory.getRuntimeMXBean
    val doc = mutable.LinkedHashMap[String, Any](
      "workload" -> opts.workload, "seed" -> opts.seed, "solo" -> opts.solo.orNull,
      "seconds" -> opts.seconds, "trace" -> opts.trace,
      "cores" -> opts.cores, "spark_version" -> spark.version,
      "jvm_args" -> mx.getInputArguments.toArray.toSeq.map(_.toString),
      "jvm_start_ms" -> mx.getStartTime, "first_op_ms" -> firstOpMs,
      "end_ms" -> now, "peak_rss_mb" -> peakRssMb, "heap_live_mb" -> liveHeapMb,
      "marks" -> marks, "toggles" -> toggles.map(t => Seq(t._1, t._2)), "ops" -> ops, "passes" -> passes, "checks" -> checks,
      "span_self" -> (if (opts.trace) selfTimes(root) else Nil),
      "spans_file" -> (if (opts.trace) spans.getPath else null))
    doc ++= extra
    writeFile(new java.io.File(opts.out), Json.render(doc))
  }

  private def spanJson(s: Span): Map[String, Any] = Map(
    "name" -> s.name, "start_ms" -> s.start, "ms" -> (s.end - s.start),
    "self_ms" -> selfMs(s), "children" -> s.children.map(spanJson))

  private def selfMs(s: Span): Double =
    math.max(0.0, (s.end - s.start) - s.children.map(c => c.end - c.start).sum)
}

object Run {
  /** Per-layer `exec.*` totals over a set of probe accumulators. */
  def execTotals(as: Seq[Probe.Acc]): Map[String, Double] = Map(
    "exec.jobs" -> as.map(_.jobs).sum.toDouble,
    "exec.stages" -> as.map(_.stages).sum.toDouble,
    "exec.tasks" -> as.map(_.tasks).sum.toDouble,
    "exec.task_run_ms" -> as.map(_.runMs).sum,
    "exec.task_cpu_ms" -> as.map(_.cpuMs).sum,
    "exec.gc_ms" -> as.map(_.gcMs).sum,
    "exec.sched_delay_ms" -> as.map(_.schedDelayMs).sum,
    "exec.shuffle_write_bytes" -> as.map(_.shuffleWrite).sum.toDouble,
    "exec.shuffle_read_bytes" -> as.map(_.shuffleRead).sum.toDouble,
    "exec.spill_bytes" -> as.map(_.spill).sum.toDouble,
    "exec.input_bytes" -> as.map(_.input).sum.toDouble)

  /** Median over stages of (max task time / median task time). */
  def taskSkew(as: Seq[Probe.Acc]): Double = {
    val s = as.flatMap(_.skews).sorted
    if (s.isEmpty) 1.0 else s(s.size / 2)
  }

  /** Self time summed per span name (the name's kind, before any `:`
    * qualifier is kept whole), largest first. */
  def selfTimes(root: Run#Span): Seq[Map[String, Any]] = {
    val acc = mutable.LinkedHashMap.empty[String, (Double, Int)]
    def walk(s: Run#Span): Unit = {
      val self = math.max(0.0,
        (s.end - s.start) - s.children.map(c => c.end - c.start).sum)
      val (t, n) = acc.getOrElse(s.name, (0.0, 0))
      acc(s.name) = (t + self, n + 1)
      s.children.foreach(walk)
    }
    walk(root)
    acc.toSeq.sortBy(-_._2._1).map { case (n, (t, c)) =>
      Map("name" -> n, "self_ms" -> t, "count" -> c) }
  }

  /** The engine's row-op phase timers (the last row-level op in this
    * process), by phase name. */
  val rowOpPhases = Seq("open" -> RowOps.PhaseStats.open,
    "find" -> RowOps.PhaseStats.find, "stage" -> RowOps.PhaseStats.stage,
    "commit" -> RowOps.PhaseStats.commit, "cdc" -> RowOps.PhaseStats.cdc)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }

  def duBytes(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(duBytes).sum).getOrElse(0L)

  /** CPU time this process has used, all threads (ms). */
  def processCpuMs: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e6

  /** Heap in use after a full collection, in MB: what the process still
    * holds once the workload is done (caches, state, listener data). */
  def liveHeapMb: Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / 1048576.0
  }

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  def writeFile(f: java.io.File, s: String): Unit = {
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.write(s) finally w.close()
  }
}
