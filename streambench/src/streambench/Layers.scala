package streambench

import java.io.PrintWriter

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The traced run's per-layer metrics. Every name is reported on every
  * workload; a layer the workload does not exercise reads 0. Stream
  * figures are per measured micro-batch, registry figures per timed pass. */
object Layers {
  val Classes = Seq("short", "kernel", "fold")

  private val queryMetrics = Seq("analysis_ms" -> "ms", "optimization_ms" -> "ms",
    "planning_ms" -> "ms", "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "driver_gap_ms" -> "ms", "executor_run_ms" -> "ms", "executor_cpu_ms" -> "ms",
    "spill_bytes" -> "bytes", "gc_ms" -> "ms")

  val SpanLayers = Seq("packetsource", "engine", "window_agg", "edge_trigger", "query", "fold")

  val names: Seq[(String, String)] = Seq(
    "packetsource.payload_ns" -> "ns", "packetsource.scan_run_ms" -> "ms",
    "packetsource.scan_tasks_per_batch" -> "count", "engine.tasks_per_batch" -> "count",
    "engine.latest_offset_ms" -> "ms", "engine.planning_ms" -> "ms",
    "engine.wal_commit_ms" -> "ms", "engine.commit_offsets_ms" -> "ms",
    "engine.add_batch_ms" -> "ms", "engine.trigger_ms" -> "ms", "engine.batches" -> "count",
    "source.lag_ms" -> "ms",
    "window_agg.state_rows" -> "count", "window_agg.state_bytes" -> "bytes",
    "window_agg.update_ms" -> "ms", "window_agg.commit_ms" -> "ms",
    "window_agg.rows_dropped_late" -> "count",
    "edge_trigger.windows_in" -> "count", "edge_trigger.alerts_out" -> "count",
    "edge_trigger.flip_ratio" -> "ratio", "edge_trigger.update_ms" -> "ms",
    "edge_trigger.commit_ms" -> "ms", "sink.rows" -> "count",
    "exchange.shuffle_write_bytes" -> "bytes", "exchange.shuffle_read_bytes" -> "bytes",
    "exchange.partition_skew" -> "ratio") ++
    Classes.flatMap(c => queryMetrics.map { case (m, u) => s"query.$c.$m" -> u }) ++ Seq(
    "fold.batches" -> "count", "fold.trigger_ms" -> "ms", "fold.state_rows" -> "count",
    "fold.checkpoint_ms" -> "ms", "jvm.gc_ms" -> "ms", "jvm.heap_after_gc_mb" -> "MB") ++
    SpanLayers.map(l => s"$l.self_ms" -> "ms")

  private def init(res: Result): Unit =
    names.foreach { case (n, u) => res.metrics(n) = (0.0, u) }

  private def set(res: Result, name: String, v: Double): Unit = {
    require(res.metrics.contains(name), s"unknown layer metric $name")
    res.metrics(name) = (v, res.metrics(name)._2)
  }

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private val PhaseOrder = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  /** A micro-batch span with its `durationMs` phases laid out in execution
    * order as children. */
  private def batchSpans(p: StreamingQueryProgress, label: String, layer: String): Seq[Span] = {
    val s0 = Traffic.startMs(p).toDouble
    val batch = Span(layer, s"batch ${p.batchId}", label, s0, Traffic.endMs(p).toDouble)
    var t = s0
    val phases = PhaseOrder.filter(p.durationMs.containsKey).map { k =>
      val d = dur(p, k)
      val l = if (layer == "engine" && k == "latestOffset") "packetsource" else layer
      val sp = Span(l, k, label, t, t + d)
      t += d
      sp
    }
    batch +: phases
  }

  private def engineMetrics(res: Result, ps: Seq[StreamingQueryProgress]): Unit = if (ps.nonEmpty) {
    val n = ps.size.toDouble
    Seq("latestOffset" -> "engine.latest_offset_ms", "queryPlanning" -> "engine.planning_ms",
      "walCommit" -> "engine.wal_commit_ms", "commitOffsets" -> "engine.commit_offsets_ms",
      "addBatch" -> "engine.add_batch_ms", "triggerExecution" -> "engine.trigger_ms")
      .foreach { case (k, m) => set(res, m, ps.map(dur(_, k)).sum / n) }
    set(res, "engine.batches", n)
  }

  private def exchangeMetrics(res: Result, st: Seq[StageRec], per: Double): Unit = {
    set(res, "exchange.shuffle_write_bytes", st.map(_.shuffleWrite).sum / per)
    set(res, "exchange.shuffle_read_bytes", st.map(_.shuffleRead).sum / per)
    val skews = st.filter(s => s.shuffleRead > 0 && s.numTasks > 0)
      .map(s => s.maxTaskRead / (s.shuffleRead.toDouble / s.numTasks))
    set(res, "exchange.partition_skew", Stats.mean(skews))
  }

  private def selfTimes(res: Result, spans: Seq[Span], per: Double, a: Args): Unit = {
    SelfTime.byLayer(spans).foreach { case (l, ms) =>
      if (SpanLayers.contains(l)) set(res, s"$l.self_ms", ms / per) }
    val f = new java.io.File(a.traceDir, s"spans-${a.workload}-seed${a.seed}.jsonl")
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f)
    try spans.sortBy(_.startMs).foreach { s =>
      w.println(f"""{"layer": "${s.layer}", "name": "${s.name}", "label": "${s.label}", """ +
        f""""start_ms": ${s.startMs}%.3f, "end_ms": ${s.endMs}%.3f}""")
    } finally w.close()
  }

  private def jvm(res: Result, gcMs: Long): Unit = {
    set(res, "jvm.gc_ms", gcMs.toDouble)
    set(res, "jvm.heap_after_gc_mb", Jvm.heapAfterGcMb)
  }

  def stream(res: Result, probe: Probe, run: Traffic.Running,
      measured: Seq[StreamingQueryProgress], nifs: Seq[String], a: Args, gcMs: Long): Unit = {
    val e2e = res.metrics.toMap
    res.metrics.clear()
    init(res)
    if (measured.nonEmpty) {
      val n = measured.size.toDouble
      val (t0, t1) = (Traffic.startMs(measured.head), Traffic.endMs(measured.last))
      val st = probe.stages.asScala.toSeq.filter(s => s.startMs >= t0 && s.startMs <= t1)
      val scan = st.filter(_.scan)
      set(res, "packetsource.payload_ns", PayloadTimer.nsPerCall(nifs))
      set(res, "packetsource.scan_run_ms", scan.map(_.runMs).sum / n)
      set(res, "packetsource.scan_tasks_per_batch", scan.map(_.numTasks).sum / n)
      set(res, "engine.tasks_per_batch", st.map(_.numTasks).sum / n)
      engineMetrics(res, measured)
      // how long the oldest packet of a batch waited, from its due time
      // until the batch committed
      set(res, "source.lag_ms", Stats.mean(measured.map(b =>
        Traffic.endMs(b) - run.pace.dueMillis(Traffic.startIndex(b)))))
      def ops(name: String) = measured.flatMap(_.stateOperators.filter(_.operatorName == name))
      val agg = ops("stateStoreSave")
      val fmgws = ops("flatMapGroupsWithState")
      set(res, "window_agg.state_rows", Stats.mean(agg.map(_.numRowsTotal.toDouble)))
      set(res, "window_agg.state_bytes", Stats.mean(agg.map(_.memoryUsedBytes.toDouble)))
      set(res, "window_agg.update_ms",
        agg.map(o => o.allUpdatesTimeMs + o.allRemovalsTimeMs).sum / n)
      set(res, "window_agg.commit_ms", agg.map(_.commitTimeMs).sum / n)
      set(res, "window_agg.rows_dropped_late", agg.map(_.numRowsDroppedByWatermark).sum.toDouble)
      val windowsIn = agg.map(_.numRowsRemoved).sum.toDouble
      val ids = measured.map(_.batchId).toSet
      val alertsOut = run.alerts.asScala.count(x => ids.contains(x._1)).toDouble
      set(res, "edge_trigger.windows_in", windowsIn)
      set(res, "edge_trigger.alerts_out", alertsOut)
      set(res, "edge_trigger.flip_ratio", if (windowsIn > 0) alertsOut / windowsIn else 0.0)
      set(res, "edge_trigger.update_ms",
        fmgws.map(o => o.allUpdatesTimeMs + o.allRemovalsTimeMs).sum / n)
      set(res, "edge_trigger.commit_ms", fmgws.map(_.commitTimeMs).sum / n)
      set(res, "sink.rows", alertsOut)
      exchangeMetrics(res, st, n)
      val stageLayer = Map(0 -> "packetsource", 1 -> "window_agg")
      val spans = measured.flatMap(batchSpans(_, "stream", "engine")) ++
        probe.jobs.asScala.filter(j => j.startMs >= t0 && j.startMs <= t1)
          .map(j => Span("engine", s"job ${j.id}", "stream", j.startMs, j.endMs)) ++
        st.map(s => Span(stageLayer.getOrElse(s.depth, "edge_trigger"), s"stage ${s.id}",
          "stream", s.startMs, s.endMs))
      selfTimes(res, spans, n, a)
    }
    jvm(res, gcMs)
    e2e.foreach { case (k, v) => res.summary(s"traced.$k") = v }
  }

  /** One timed query execution of the registry loop. */
  final case class Exec(name: String, cls: String, startMs: Long, endMs: Long)

  def registry(res: Result, probe: Probe, execs: Seq[Exec], passes: Int, a: Args,
      gcMs: Long): Unit = {
    val e2e = res.metrics.toMap
    res.metrics.clear()
    init(res)
    val per = math.max(1, passes).toDouble
    val (t0, t1) = (execs.map(_.startMs).min, execs.map(_.endMs).max)
    val jobs = probe.jobs.asScala.toSeq.filter(j => j.startMs >= t0 && j.startMs <= t1)
    val st = probe.stages.asScala.toSeq.filter(s => s.startMs >= t0 && s.startMs <= t1)
    val ph = probe.phases.asScala.toSeq.filter(p => p.atMs >= t0 && p.atMs <= t1)
    val prog = probe.progress.asScala.toSeq.filter(p =>
      Traffic.startMs(p) >= t0 && Traffic.startMs(p) <= t1)
    def cls(ms: Long) = execs.find(e => ms >= e.startMs && ms <= e.endMs).map(_.cls).getOrElse("")
    Classes.foreach { c =>
      val ex = execs.filter(_.cls == c)
      val cj = jobs.filter(j => cls(j.startMs) == c)
      val cs = st.filter(s => cls(s.startMs) == c)
      val cp = ph.filter(p => cls(p.atMs) == c)
      def m(k: String, v: Double) = set(res, s"query.$c.$k", v / per)
      m("analysis_ms", cp.map(_.analysisMs).sum)
      m("optimization_ms", cp.map(_.optimizationMs).sum)
      m("planning_ms", cp.map(_.planningMs).sum)
      m("jobs", cj.size)
      m("stages", cs.size)
      m("tasks", cs.map(_.numTasks).sum)
      m("driver_gap_ms", ex.map { e =>
        (e.endMs - e.startMs) - Intervals.unionMs(cj.filter(j => j.startMs >= e.startMs &&
          j.startMs <= e.endMs).map(j => (j.startMs, math.min(j.endMs, e.endMs))))
      }.sum)
      m("executor_run_ms", cs.map(_.runMs).sum)
      m("executor_cpu_ms", cs.map(_.cpuMs).sum)
      m("spill_bytes", cs.map(_.spill).sum)
      m("gc_ms", cs.map(_.gcMs).sum)
    }
    val foldProg = prog.filter(p => cls(Traffic.startMs(p)) == "fold")
    set(res, "fold.batches", foldProg.size / per)
    set(res, "fold.trigger_ms", foldProg.map(dur(_, "triggerExecution")).sum / per)
    set(res, "fold.checkpoint_ms",
      foldProg.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum / per)
    set(res, "fold.state_rows", foldProg.groupBy(_.runId).values
      .map(_.maxBy(_.batchId).stateOperators.map(_.numRowsTotal).sum.toDouble).sum / per)
    engineMetrics(res, prog)
    exchangeMetrics(res, st, per)
    val layerOf = (c: String) => if (c == "fold") "fold" else "query"
    val spans = probe.spans.asScala.toSeq.filter(s => s.startMs >= t0 && s.startMs <= t1) ++
      prog.flatMap(p => batchSpans(p, "fold", "fold")) ++
      jobs.map(j => Span(layerOf(cls(j.startMs)), s"job ${j.id}", cls(j.startMs), j.startMs, j.endMs)) ++
      st.map(s => Span(layerOf(cls(s.startMs)), s"stage ${s.id}", cls(s.startMs), s.startMs, s.endMs))
    selfTimes(res, spans, per, a)
    jvm(res, gcMs)
    e2e.foreach { case (k, v) => res.summary(s"traced.$k") = v }
  }
}

object Intervals {
  /** Total length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) total += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) total += ce - cs
    total
  }
}
