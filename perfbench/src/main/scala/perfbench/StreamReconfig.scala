package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress, Trigger}

import graft.cep.Cep
import graft.fries.{Mcs, PlanDag, ReconfigController, ScopedReconfigController}
import graft.sources.StatsManifest
import graft.streaming.Streams

/** `stream_reconfig`: four streaming ops at once from one process, fed
  * by open-loop sources whose `timestamp` column is the event-creation
  * time:
  *
  *  - `tumble_agg` (`Streams.tumbleAgg`, complete mode into memory),
  *  - `cep_nfa` (`Cep.matchPatternStream`, noop sink),
  *  - `cdc_apply` (`Streams.upsertToManifestedTable`: a keyed changelog
  *    merged into a manifested table, one commit per batch),
  *  - `fries`: a filter → aggregate `foreachBatch` pipeline whose filter
  *    threshold is reconfigured through the `fries` controllers, the
  *    whole-DAG epoch controller (scope `all`) and the MCS-scoped one
  *    (scope `mcs`) in turn.
  *
  * The `rate` source's offsets are whole seconds since the source was
  * created, so each op runs about one batch per second. All four sources
  * are created on the same whole second, so the ops' batches line up
  * the same way in every run; with creation times left to the start of
  * each query, the overlap between the ops' batches, and with it every
  * batch time, changed from run to run.
  *
  * Between two Fries batches the harness publishes one new config in
  * each scope, after a seeded delay; the next batch applies both.
  *
  * An op fails if its query dies, if its backlog at the end of the
  * window exceeds [[BacklogLimitS]] seconds of input and two of its
  * longest batch durations, or if its output check fails;
  * a publish fails if no batch applies it within [[ApplyTimeoutMs]].
  *
  * `--solo <op>` runs one op alone at [[SoloInput]] instead: the traced
  * report's `streaming.<op>.rows_s` of such a run is the op's solo
  * capacity, from which [[Rates]] derive. */
object StreamReconfig {
  val TriggerMs = 250L
  /** An op whose input lags the clock at the end of the window by more
    * than this, and more than two of its longest batch durations, has
    * fallen behind. */
  val BacklogLimitS = 20.0
  val ApplyTimeoutMs = 5000L

  val Ops = Seq("cdc_apply", "tumble_agg", "cep_nfa", "fries")

  /** Input rows per second of a solo-capacity run: enough to keep the op
    * busy all the time. */
  val SoloInput: Map[String, Long] = Map("tumble_agg" -> 400000L,
    "cep_nfa" -> 100000L, "cdc_apply" -> 20000L, "fries" -> 400000L)

  /** Solo capacity of each op, in input rows per busy second, measured
    * with `--solo <op>` on 4 cores (README.md). */
  val SoloCapacity: Map[String, Long] = Map("tumble_agg" -> 727000L,
    "cep_nfa" -> 199000L, "cdc_apply" -> 21000L, "fries" -> 917000L)

  /** The four ops share the machine, so each gets a quarter of it; each
    * runs at half of that, an eighth of its solo capacity. */
  val RateShare = 8L
  val Rates: Map[String, Long] =
    SoloCapacity.map { case (op, c) => op -> math.max(1000L, c / RateShare / 1000L * 1000L) }

  final case class Batch(id: Long, endMs: Double)

  def run(r: Run): Unit = {
    val spark = r.spark
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "2000")
    val parts = math.max(1, math.min(4, r.opts.cores))
    val rng = new scala.util.Random(r.opts.seed)
    // seeded key mapping: odd multipliers spread the rate source's value
    val mulKey = 2L * (1000003L + rng.nextInt(1 << 20)) + 1
    val mulType = 2L * (2654435L + rng.nextInt(1 << 20)) + 1
    val cdcKeys = 4000L + rng.nextInt(2000)
    val cp = s"${r.opts.work}/checkpoints"
    val cdcDir = s"${r.opts.work}/cdc_table"
    val ops = r.opts.solo.fold(Ops)(Seq(_))
    require(ops.forall(Ops.contains), s"unknown op ${r.opts.solo.getOrElse("")}")
    val rateOf: Map[String, Long] = if (r.opts.solo.isDefined) SoloInput else Rates

    def rate(op: String): DataFrame = spark.readStream.format("rate")
      .option("rowsPerSecond", rateOf(op)).option("numPartitions", parts).load()

    def events(op: String, keys: Long): DataFrame = {
      val v = col("value")
      rate(op).select(v.as("event_id"), col("timestamp").as("ts"),
        pmod(v * mulKey, lit(keys)).as("user_id"),
        element_at(typedlit(Seq("view", "click", "signup", "error", "purchase")),
          (pmod(v * mulType, lit(5L)) + 1).cast("int")).as("event_type"),
        pmod(v, lit(97L)).cast("double").as("value"))
    }

    // ---- the Fries pipeline ---------------------------------------------
    def pipeline(df: DataFrame, threshold: Int): DataFrame =
      df.where(col("value") % 100 >= threshold)
        .groupBy((col("value") % 64).as("k"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
    val dag = PlanDag.fromDataFrame(pipeline(
      spark.range(0, 1000).select(col("id").as("value")), 0))
    val filterOps = PlanDag.matching(dag, Seq("Filter"))
    val allCtrl = new ReconfigController[Int](0)
    val mcsCtrl = new ScopedReconfigController[Int](dag, 0)
    val scopeOps = Map("all" -> Mcs.vertices(dag).size,
      "mcs" -> Mcs.vertices(Mcs.computeMCS(dag, filterOps)).size)
    val friesBatches = new ConcurrentLinkedQueue[Batch]()
    val applied = new java.util.concurrent.ConcurrentHashMap[(String, Long), (Long, Double)]()

    val friesBody: (DataFrame, Long) => Unit = { (df, id) =>
      val t0 = r.now
      if (r.opts.injectFail > 0 && id == r.opts.injectFail)
        throw new RuntimeException(s"injected failure in fries batch $id")
      val a = allCtrl.current
      val m = mcsCtrl.current
      if (allCtrl.noteApplied(a).isDefined) applied.putIfAbsent(("all", a.version), (id, t0))
      if (mcsCtrl.noteApplied(m).isDefined) applied.putIfAbsent(("mcs", m.version), (id, t0))
      val threshold =
        if (a.publishedAtNanos >= m.publishedAtNanos) a.config
        else m.configs(filterOps.head)
      pipeline(df, threshold).write.format("noop").mode("overwrite").save()
      friesBatches.add(Batch(id, r.now))
    }

    // ---- start the four queries -----------------------------------------
    val cdcPhases = new ConcurrentLinkedQueue[Map[String, Double]]()
    @volatile var cdcId = ""
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.id.toString == cdcId)
          cdcPhases.add(Run.rowOpPhases.map { case (k, v) => k -> v.get.toDouble }.toMap)
    }
    spark.streams.addListener(listener)

    val queries = mutable.LinkedHashMap.empty[String, StreamingQuery]
    def started(name: String, q: StreamingQuery): Unit = {
      queries(name) = q
      r.probe.foreach(_.streamName.put(q.id.toString, name))
    }
    // the rate source reads its creation time from its checkpoint when
    // there is one (`sources/0/0`, a `LongOffset` in the metadata log)
    val createdMs = System.currentTimeMillis() / 1000 * 1000
    ops.foreach(op => Run.writeFile(new java.io.File(s"$cp/$op/sources/0/0"), s"v1\n$createdMs"))
    r.setTracing(r.opts.trace, settle = false)
    // cdc_apply first: its first batches (table bootstrap, first merge) are
    // the slowest, and they overlap the start of the others
    ops.foreach {
      case "cdc_apply" =>
        val changes = rate("cdc_apply").select(
          pmod(col("value") * mulKey, lit(cdcKeys)).as("k"), col("value").as("v"),
          col("value").as("seq"),
          (pmod(col("value") * mulType, lit(97L)) === 0L).as("del"))
        started("cdc_apply", Streams.upsertToManifestedTable(spark, changes, cdcDir,
          keys = Seq("k"), seqCol = "seq", statsCols = Seq("k"),
          deleteCol = Some("del"), triggerMs = TriggerMs,
          checkpointDir = Some(s"$cp/cdc_apply")))
        cdcId = queries("cdc_apply").id.toString
      case "tumble_agg" =>
        started("tumble_agg", Streams.tumbleAgg(events("tumble_agg", 1024),
            size = "5 seconds", lateness = "1 second")
          .writeStream.outputMode("complete").format("memory").queryName("tumble_agg")
          .trigger(Trigger.ProcessingTime(TriggerMs))
          .option("checkpointLocation", s"$cp/tumble_agg").start())
      case "cep_nfa" =>
        started("cep_nfa", Cep.matchPatternStream(events("cep_nfa", 1024),
            "user_id", "ts", "event_id",
            Seq(Cep.Step("A", _.getString(3) == "signup"),
              Cep.Step("B", _.getString(3) == "error")))
          .writeStream.format("noop").queryName("cep_nfa")
          .trigger(Trigger.ProcessingTime(TriggerMs))
          .option("checkpointLocation", s"$cp/cep_nfa").start())
      case "fries" =>
        started("fries", rate("fries").writeStream.queryName("fries")
          .trigger(Trigger.ProcessingTime(TriggerMs))
          .option("checkpointLocation", s"$cp/fries")
          .foreachBatch(friesBody).start())
    }

    // warm-up: every op has finished two batches with input
    def withRows(q: StreamingQuery): Int = q.recentProgress.count(_.numInputRows > 0)
    val w0 = r.now
    while (queries.values.exists(q => q.isActive && withRows(q) < 2) &&
        r.now - w0 < 60000) Thread.sleep(50)
    r.mark("warmed")
    val t0 = r.now
    val cpu0 = Run.processCpuMs
    r.firstOpMs = t0
    val tEnd = t0 + r.opts.seconds * 1000.0

    // ---- publish loop: after each Fries batch and a seeded delay, publish
    // one config per scope (in alternating order); wait until applied.
    // Each round is one pass of this closed-loop client. ----
    val pubs = mutable.ArrayBuffer.empty[Map[String, Any]]
    var k = 1
    while (r.now < tEnd && !queries.contains("fries")) Thread.sleep(50)
    while (r.now < tEnd && queries("fries").isActive) {
      // a traced run alternates traced and untraced two-second slots
      if (r.opts.trace) r.setTracing(((r.now - t0) / 2000).toInt % 2 == 0, settle = false)
      val lastDone = friesBatches.asScala.lastOption.map(_.id).getOrElse(-1L)
      val tw = r.now + rng.nextInt(800)
      while (r.now < tw) Thread.sleep(2)
      val scopes = if (k % 2 == 1) Seq("all", "mcs") else Seq("mcs", "all")
      val published = scopes.map { scope =>
        val tp = r.now
        val ver = if (scope == "all") allCtrl.publish(k % 50)
          else { mcsCtrl.publish(filterOps, k % 50); mcsCtrl.current.version }
        (scope, ver, tp)
      }
      val tw0 = r.now
      while (published.exists(p => !applied.containsKey((p._1, p._2))) &&
          r.now - tw0 < ApplyTimeoutMs && queries("fries").isActive) Thread.sleep(2)
      published.foreach { case (scope, ver, tp) =>
        val got = Option(applied.get((scope, ver)))
        // the batch before the applying one was in flight at publish time
        // if it ended after it; the rest of the round trip is trigger wait
        val prevEnd = got.flatMap(g => friesBatches.asScala.find(_.id == g._1 - 1))
          .map(_.endMs).getOrElse(tp)
        pubs += Map("round" -> k, "scope" -> scope, "version" -> ver, "publish_ms" -> tp,
          "ok" -> got.isDefined,
          "rtt_ms" -> got.map(_._2 - tp).getOrElse(Double.NaN),
          "inflight_ms" -> math.max(0.0, prevEnd - tp),
          "trigger_wait_ms" -> got.map(g => math.max(0.0, g._2 - math.max(tp, prevEnd)))
            .getOrElse(Double.NaN),
          "epochs" -> got.map(_._1 - lastDone).getOrElse(-1L))
        r.ops += Map("kind" -> "reconfig", "name" -> s"publish_$scope", "pass" -> 1,
          "start_ms" -> tp, "ms" -> got.map(_._2 - tp).getOrElse(Double.NaN),
          "ok" -> got.isDefined,
          "error" -> (if (got.isDefined) None else Some("publish never applied")))
      }
      k += 1
    }
    val measuredMs = r.now - t0
    val cpuMs = Run.processCpuMs - cpu0
    r.setTracing(false, settle = false)

    // ---- stop between triggers, collect progress ------------------------
    val stops = queries.values.map(q => new Thread(() => {
      val ts = r.now
      while (q.isActive && q.status.isTriggerActive && r.now - ts < 10000) Thread.sleep(10)
      q.stop()
    })).toSeq
    stops.foreach(_.start())
    stops.foreach(_.join())
    queries.values.foreach(q => scala.util.Try(q.awaitTermination()))
    spark.streams.removeListener(listener)

    val opRecs = mutable.LinkedHashMap.empty[String, Any]
    val consumed = mutable.Map.empty[String, Long]
    queries.foreach { case (name, q) =>
      val all = q.recentProgress.toSeq
      consumed(name) = all.map(_.numInputRows).sum
      val created = rateCreatedMs(s"$cp/$name")
      val batches = all.filter(p => p.numInputRows > 0 && startMs(p) >= t0 &&
          startMs(p) < t0 + measuredMs)
        .map(p => batchRec(p, offsetTs(p, start = true, created)))
      // how far the input planned so far lags the wall clock at the end
      // of the window
      val tEndWin = t0 + measuredMs
      val backlogS = all.filter(p => startMs(p) <= tEndWin).lastOption
        .flatMap(p => offsetTs(p, start = false, created))
        .map(ts => math.max(0.0, tEndWin - ts) / 1000.0).getOrElse(0.0)
      // micro-batching alone keeps an op up to about two batch durations
      // behind; more than that, and the backlog grows
      val limitS = math.max(BacklogLimitS,
        2 * all.map(dur(_, "triggerExecution")).maxOption.getOrElse(0.0) / 1000.0)
      val err = q.exception.map(_.toString.take(500))
        .orElse(if (backlogS > limitS)
          Some(f"backlog grows: $backlogS%.1f s of input behind at the end " +
            f"(limit $limitS%.1f s)") else None)
      err.foreach(e => System.err.println(s"[perfbench] stream $name failed: $e"))
      r.ops += Map("kind" -> "stream", "name" -> name, "pass" -> 1,
        "start_ms" -> t0, "ms" -> measuredMs, "ok" -> err.isEmpty, "error" -> err)
      val execMs = batches.map(_("exec_ms").asInstanceOf[Double]).sum
      opRecs(name) = Map("rate" -> rateOf(name), "batches" -> batches,
        "rows_s" -> batches.map(_("rows").asInstanceOf[Long]).sum / math.max(execMs, 1.0) * 1000.0,
        "busy_frac" -> execMs / measuredMs,
        "backlog_rows" -> backlogS * rateOf(name),
        "consumed_rows" -> consumed(name))
    }

    // ---- output checks --------------------------------------------------
    // a sink holds every reported batch; a batch cut off by the stop may
    // also have been written (its end offset is then in the offset log)
    def planned(op: String): Long = rateOf(op) * lastPlannedOffset(s"$cp/$op")
    if (queries.contains("tumble_agg")) {
      val tumbleSum = spark.sql("SELECT coalesce(sum(n), 0) FROM tumble_agg").head().getLong(0)
      r.check("stream.tumble_agg_counts",
        tumbleSum == consumed("tumble_agg") || tumbleSum == planned("tumble_agg"),
        s"windows count $tumbleSum rows, the query consumed ${consumed("tumble_agg")}")
    }
    // keep-last by key of the first n generated changes
    def keepLast(n: Long): Map[Long, Long] = {
      val want = mutable.HashMap.empty[Long, Long]
      (0L until n).foreach { v =>
        val key = Math.floorMod(v * mulKey, cdcKeys)
        if (Math.floorMod(v * mulType, 97L) == 0L) want.remove(key) else want(key) = v
      }
      want.toMap
    }
    val cdcRan = queries.contains("cdc_apply")
    if (cdcRan) {
      val got = if (StatsManifest.latestVersion(spark, cdcDir).isEmpty) Map.empty[Long, Long]
        else spark.read.format("graft-manifest").load(cdcDir).select("k", "v").collect()
          .map(x => x.getLong(0) -> x.getLong(1)).toMap
      val reported = consumed("cdc_apply")
      val want = keepLast(reported)
      val ok = got == want ||
        (planned("cdc_apply") > reported && got == keepLast(planned("cdc_apply")))
      r.check("stream.cdc_apply_keep_last", ok,
        s"table has ${got.size} keys, keep-last of $reported changes has ${want.size}; " +
          s"${got.count { case (kk, vv) => !want.get(kk).contains(vv) }} differ")
    }

    if (r.opts.trace) {
      // spans: workload → batch → progress phases; publish → apply
      queries.foreach { case (name, q) =>
        q.recentProgress.filter(p => startMs(p) >= t0 && startMs(p) < t0 + measuredMs)
          .foreach { p =>
            val b = r.spanAt(r.root, s"batch:$name", startMs(p), dur(p, "triggerExecution"))
            Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
              "commitOffsets").foldLeft(b.start) { case (t, k) =>
              r.spanAt(b, s"streaming.$k", t, dur(p, k)).end
            }
          }
      }
      pubs.filter(_("ok") == true).foreach { x =>
        val tp = x("publish_ms").asInstanceOf[Double]
        val rtt = x("rtt_ms").asInstanceOf[Double]
        val inflight = x("inflight_ms").asInstanceOf[Double]
        val s = r.spanAt(r.root, s"reconfig:${x("scope")}", tp, rtt)
        r.spanAt(s, "fries.inflight", tp, inflight)
        r.spanAt(s, "fries.trigger_wait", tp + inflight, rtt - inflight)
      }
    }
    val rec = mutable.LinkedHashMap[String, Any]("ops" -> opRecs, "reconfig" -> pubs,
      "measured_ms" -> measuredMs, "cpu_ms" -> cpuMs, "dag_ops" -> Mcs.vertices(dag).size,
      "scope_ops" -> scopeOps)
    if (r.opts.trace && cdcRan) {
      val cdc = cdcPhases.asScala.toSeq
      def med(k: String) = Run.median(cdc.map(_(k)).filter(_ >= 0))
      val hist = StatsManifest.historyDetail(spark, cdcDir)
      val reads = (1 to 3).map { _ =>
        val t = r.now; val live = StatsManifest.read(spark, cdcDir); (r.now - t, live)
      }
      val liveBytes = reads.last._2.values.map(_.len).filter(_ > 0).sum
      rec("cdc_phases") = Run.rowOpPhases.map { case (p, _) => s"sources.phase_${p}_ms" -> med(p) }.toMap
      rec("cdc_history") = Map(
        "versions" -> hist.size,
        "rows_added" -> hist.drop(1).map(_.rowsAdded).sum,
        "files_removed_per_commit" ->
          hist.drop(1).map(_.filesRemoved).sum.toDouble / math.max(hist.size - 1, 1),
        "manifest_read_ms" -> Run.median(reads.map(_._1)),
        "space_amp" -> Run.duBytes(new java.io.File(cdcDir)).toDouble /
          math.max(liveBytes, 1L))
    }
    if (r.opts.trace) {
      rec("probe") = r.probe.map { p =>
        p.settle()
        val qe = p.qeEvents
        Map("exec" -> Run.execTotals(p.tags.filter(_.startsWith("s/")).map(p.acc)),
          "task_skew" -> Run.taskSkew(p.tags.filter(_.startsWith("s/")).map(p.acc)),
          "plan_analysis_ms" -> qe.map(_.analysisMs).sum,
          "plan_optimize_ms" -> qe.map(_.optimizeMs).sum,
          "plan_physical_ms" -> qe.map(_.physicalMs).sum,
          "files_read" -> qe.map(_.files).sum)
      }.getOrElse(Map.empty)
    }
    r.extra("stream") = rec
  }

  private def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Creation time (epoch ms) of the rows at a batch's start or end
    * offset: a `rate` offset counts whole seconds since the source was
    * created. */
  private def offsetTs(p: StreamingQueryProgress, start: Boolean,
      createdMs: Double): Option[Double] =
    p.sources.headOption.flatMap(s => Option(if (start) s.startOffset else s.endOffset))
      .flatMap(_.trim.toLongOption).map(createdMs + _ * 1000.0)

  /** The `rate` source's creation time, which it keeps in its checkpoint;
    * row timestamps of offset second `s` start at creation + s seconds. */
  private def rateCreatedMs(cp: String): Double = {
    val f = new java.io.File(s"$cp/sources/0/0")
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().toSeq.last.trim.toDouble finally src.close()
  }

  /** End offset (whole seconds of a `rate` source) of the last batch in
    * a query's offset log. */
  private def lastPlannedOffset(cp: String): Long =
    Option(new java.io.File(s"$cp/offsets").listFiles()).getOrElse(Array.empty)
      .flatMap(f => f.getName.toLongOption.map(_ -> f)).maxByOption(_._1)
      .map { case (_, f) =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toSeq.last.trim.toLong finally src.close()
      }.getOrElse(0L)

  private def batchRec(p: StreamingQueryProgress,
      oldestMs: Option[Double]): Map[String, Any] = {
    val exec = dur(p, "triggerExecution")
    val commit = startMs(p) + exec
    val st = p.stateOperators.toSeq
    Map("id" -> p.batchId, "rows" -> p.numInputRows, "start_ms" -> startMs(p),
      "exec_ms" -> exec,
      "event_ms" -> oldestMs.map(commit - _).getOrElse(Double.NaN),
      "add_batch_ms" -> dur(p, "addBatch"), "plan_ms" -> dur(p, "queryPlanning"),
      "offset_ms" -> (dur(p, "latestOffset") + dur(p, "getBatch")),
      "log_ms" -> (dur(p, "walCommit") + dur(p, "commitOffsets")),
      "state_rows" -> st.map(_.numRowsTotal).sum,
      "state_bytes" -> st.map(_.memoryUsedBytes).sum,
      "state_commit_ms" -> st.map(_.commitTimeMs).sum.toDouble)
  }
}
