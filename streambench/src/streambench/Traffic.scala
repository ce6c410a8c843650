package streambench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.streaming.{Alert, PacketSource, TrafficMonitor}

/** The stream workload `traffic_paced`: the reference pipeline
  * (`TrafficMonitor.pipeline`) driven by the paced open-loop source into a
  * `foreachBatch` sink that keeps the alerts.
  */
object Traffic {

  /** Shape of the paced stream: `ratePerNif` packets per wall-clock second
    * for each of `nifCount` NIFs, a processing-time trigger every
    * `triggerMs`, packets `microsPerPacket` apart in event time. */
  final case class Shape(nifCount: Int, ratePerNif: Double, triggerMs: Long,
      microsPerPacket: Long)

  /** 64 NIFs at 62.5 packets/s each, a batch every 2 s. Event time runs
    * 375 times faster than wall time (a packet every 6 s of event time), so
    * one 5-minute window per NIF closes every 0.8 wall-clock seconds, and
    * trigger ticks and window closes repeat their phases every 4 s. */
  val PacedShape = Shape(nifCount = 64, ratePerNif = 62.5, triggerMs = 2000L,
    microsPerPacket = 6000000L)

  val SetupRepeats = 3

  /** Trigger intervals the measured stream runs before measurement starts. */
  val WarmupTriggers = 3

  /** The seed picks the NIF names (and so every payload byte) and the base
    * epoch, a whole day in 2024. */
  def nifNames(seed: Long, n: Int): Seq[String] = {
    val r = new scala.util.Random(seed)
    (0 until n).map(k => f"nif$k%02d-${r.nextInt(0x10000)}%04x")
  }

  def baseEpochMicros(seed: Long): Long =
    1704067200000000L + Math.floorMod(seed, 365L) * 86400L * 1000000L

  /** A started pipeline and the alerts its sink has received, by batch id. */
  final class Running(val query: StreamingQuery, val alerts: ConcurrentLinkedQueue[(Long, Alert)],
      val pace: Pace) {

    /** The completed micro-batches, one progress each, by batch id. */
    def committed: Seq[StreamingQueryProgress] =
      query.recentProgress.toSeq.groupBy(_.batchId).values.map(_.last).toSeq.sortBy(_.batchId)

    def awaitFirstBatch(timeoutMs: Long = 120000L): Unit = {
      val until = System.currentTimeMillis() + timeoutMs
      while (!query.recentProgress.exists(_.numInputRows > 0)) {
        query.exception.foreach(e => throw e)
        require(System.currentTimeMillis() < until, "first micro-batch did not commit")
        Thread.sleep(5)
      }
    }
  }

  def start(spark: SparkSession, shape: Shape, nifs: Seq[String], base: Long, limit: Long,
      checkpoint: String, onBatch: Long => Unit = _ => ()): Running = {
    import spark.implicits._
    // the schedule starts on the trigger grid (processing-time triggers fire
    // at multiples of the interval), so windows close at the same phase of
    // the trigger cycle in every run; the first batch carries the backlog
    val t0 = System.currentTimeMillis() / shape.triggerMs * shape.triggerMs
    val pace = Pace(nifs, shape.ratePerNif, t0, base, shape.microsPerPacket)
    val packets: DataFrame =
      spark.readStream.format(classOf[PacedSourceProvider].getName).options(pace.options).load()
    val limits = Seq(("min", 0L), ("max", limit)).toDF("limit_name", "limit_value")
    val alerts = new ConcurrentLinkedQueue[(Long, Alert)]()
    val writer = TrafficMonitor.pipeline(packets, limits).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (ds: Dataset[Alert], id: Long) =>
        ds.collect().foreach(a => alerts.add(id -> a))
        onBatch(id)
      }
    new Running(writer.trigger(Trigger.ProcessingTime(shape.triggerMs)).start(), alerts, pace)
  }

  def endMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").longValue

  def startMs(p: StreamingQueryProgress): Long = Instant.parse(p.timestamp).toEpochMilli

  def endIndex(p: StreamingQueryProgress): Long =
    """\d+""".r.findFirstIn(p.sources.head.endOffset).map(_.toLong).getOrElse(0L)

  def startIndex(p: StreamingQueryProgress): Long =
    Option(p.sources.head.startOffset).flatMap("""\d+""".r.findFirstIn(_)).map(_.toLong)
      .getOrElse(0L)

  def watermarkMicros(p: StreamingQueryProgress): Long =
    Option(p.eventTime.get("watermark")).map(Instant.parse(_))
      .map(i => i.getEpochSecond * 1000000L + i.getNano / 1000L).getOrElse(Long.MinValue)

  /** Exact comparison of the emitted alerts with [[Reference.flips]] for
    * every window closed by the last committed batch's watermark. Returns
    * the number of matched flips. */
  def check(run: Running, committed: Seq[StreamingQueryProgress], nifs: Seq[String],
      base: Long, microsPerPacket: Long, limit: Long, res: Result): Int = {
    val last = committed.last
    val released = endIndex(last)
    val closed = watermarkMicros(last)
    val totals = Reference.allTotals(nifs, released, base, microsPerPacket)
    val expected = Reference.flips(totals, limit, closed)
    val got = run.alerts.asScala.filter(_._1 <= last.batchId).map { case (_, a) =>
      Reference.Flip(a.nif, a.windowStart.getTime * 1000L, a.bytes, a.alert)
    }.toSeq
    if (got.size != got.toSet.size) res.wrong(s"${got.size - got.toSet.size} duplicate alerts")
    val extra = got.toSet -- expected
    val missing = expected -- got.toSet
    if (extra.nonEmpty || missing.nonEmpty)
      res.wrong(s"alerts differ from the reference: ${missing.size} missing " +
        s"(e.g. ${missing.take(2).mkString(", ")}), ${extra.size} unexpected " +
        s"(e.g. ${extra.take(2).mkString(", ")})")
    if (expected.isEmpty) res.wrong("no window closed during the run")
    expected.size
  }

  def run(a: Args, shape: Shape): Result = {
    val res = new Result(a.workload)
    val nifs = nifNames(a.seed, shape.nifCount)
    val base = baseEpochMicros(a.seed)
    // the limit is the median of the full-window totals of the first 32
    // windows, so that windows flip often
    val perWindow = Reference.WindowMicros / shape.microsPerPacket
    val limit = Reference.medianLimit(
      Reference.allTotals(nifs, 32 * perWindow, base, shape.microsPerPacket))

    // set up several times; the last set-up is the measured run
    var spark: SparkSession = null
    var probe: Option[Probe] = None
    var running: Running = null
    val setups = (1 to SetupRepeats).map { k =>
      val t0 = System.nanoTime()
      spark = Session.build(a.runDir)
      if (k == SetupRepeats && a.trace) probe = Some(new Probe(spark).register())
      running = start(spark, shape, nifs, base, limit, s"${a.runDir}/checkpoint-$k")
      running.awaitFirstBatch()
      val s = (System.nanoTime() - t0) / 1e9
      if (k < SetupRepeats) { running.query.stop(); spark.stop() }
      s
    }
    // measure the steady part: wait at least WarmupTriggers trigger
    // intervals, for the set-up batch's backlog to be worked off and the
    // JIT to settle, then start where trigger ticks and window closes
    // repeat their phases, so every run measures the same batch and window
    // pattern. Latency samples are the alerts of
    // the windows whose last packet fell due in whole cycles from tReady,
    // all of which end before tStop; each window phase then weighs the same
    // in every run. The stream runs on until the watermark has passed them
    // all, a batch or two past tStop.
    val ready = System.currentTimeMillis()
    val seconds = a.seconds * 1000L
    val pace = running.pace
    val windowMs = (Reference.WindowMicros / pace.microsPerPacket * 1000 / pace.ratePerNif).toLong
    val cycle = shape.triggerMs / BigInt(shape.triggerMs).gcd(windowMs).toLong * windowMs
    val tReady = pace.t0Millis +
      Math.floorDiv(ready + WarmupTriggers * shape.triggerMs - pace.t0Millis + cycle - 1, cycle) * cycle
    val sampleUntil = tReady + math.max(1L, (seconds - cycle) / cycle) * cycle
    val tStop = tReady + seconds
    val sampledEnd = pace.baseEpochMicros + pace.released(sampleUntil) * pace.microsPerPacket
    while (System.currentTimeMillis() < tReady) Thread.sleep(5)
    val gc0 = Jvm.gcMs
    while (System.currentTimeMillis() < tStop && running.query.isActive)
      Thread.sleep(20)
    val gcMs = Jvm.gcMs - gc0
    val until = tStop + 4 * shape.triggerMs
    while (running.query.isActive && System.currentTimeMillis() < until &&
        !running.committed.exists(watermarkMicros(_) >= sampledEnd)) Thread.sleep(20)
    running.query.exception.foreach(e => res.fail("micro-batch", e))
    running.query.stop()

    val committed = running.committed
    if (!committed.exists(watermarkMicros(_) >= sampledEnd))
      res.wrong("the watermark did not pass the sampled windows within " +
        "4 trigger intervals of the measured window's end")
    val measured = committed.filter(p => startMs(p) >= tReady && endMs(p) <= tStop)
    res.attempted = committed.size + res.failures.size
    if (measured.isEmpty) res.wrong("no micro-batch completed in the measured window")
    val flips = check(running, committed, nifs, base, shape.microsPerPacket, limit, res)

    res.metrics("setup_s") = (Stats.median(setups), "s")
    if (measured.nonEmpty) {
      // processing capacity: packets per second of micro-batch execution,
      // the median over the measured batches. The rate the stream
      // delivered, commit to commit, only repeats the offered rate while
      // the engine keeps up; it goes on the summary.
      val rows = measured.map(_.numInputRows).sum.toDouble
      val capacity = Stats.median(measured.map(p =>
        p.numInputRows * 1000.0 / p.durationMs.get("triggerExecution").doubleValue))
      val from = committed.filter(_.batchId < measured.head.batchId).lastOption
        .map(endMs).getOrElse(startMs(measured.head))
      val latencies = alertLatencies(running, committed, pace, tReady, sampleUntil)
      if (latencies.isEmpty) res.wrong("no latency sample in the measured window")
      else {
        res.metrics("latency_p50_ms") = (Stats.median(latencies), "ms")
        res.metrics("latency_p90_ms") = (Stats.quantile(latencies, 0.9), "ms")
      }
      res.metrics("throughput_per_s") = (capacity, "1/s")
      res.summary("alert_latency_p50_ms") = res.metrics.getOrElse("latency_p50_ms", (Double.NaN, "ms"))
      res.summary("alert_latency_p90_ms") = res.metrics.getOrElse("latency_p90_ms", (Double.NaN, "ms"))
      res.summary("latency_samples") = (latencies.size.toDouble, "count")
      res.summary("capacity_pkts_s") = (capacity, "1/s")
      res.summary("delivered_pkts_s") = (rows / ((endMs(measured.last) - from) / 1000.0), "1/s")
      res.summary("offered_pkts_s") = (shape.nifCount * shape.ratePerNif, "1/s")
      res.summary("batches_measured") = (measured.size.toDouble, "count")
    }
    res.summary("flips_checked") = (flips.toDouble, "count")
    res.summary("limit_bytes") = (limit.toDouble, "bytes")
    probe.foreach { pr =>
      pr.drain(committed.size)
      Layers.stream(res, pr, running, measured, nifs, a, gcMs)
      pr.unregister()
    }
    spark.stop()
    res
  }

  /** Per alert of a committed batch: from the wall-clock due time of the
    * last packet of its window to the end of the micro-batch that emitted
    * it. Only windows whose last packet fell due in [from, until). */
  def alertLatencies(run: Running, committed: Seq[StreamingQueryProgress], pace: Pace,
      from: Long, until: Long): Seq[Double] = {
    val ends = committed.map(p => p.batchId -> endMs(p)).toMap
    run.alerts.asScala.toSeq.flatMap { case (b, alert) =>
      val windowEnd = alert.windowStart.getTime * 1000L + Reference.WindowMicros
      val due = pace.dueMillis(Reference.lastIndexBefore(windowEnd, pace.baseEpochMicros,
        pace.microsPerPacket))
      ends.get(b).filter(_ => due >= from && due < until).map(_ - due)
    }
  }
}

/** Timed direct calls into `PacketSource.payload`. */
object PayloadTimer {
  def nsPerCall(nifs: Seq[String], calls: Int = 200000, reps: Int = 5): Double = {
    var sink = 0L
    val samples = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < calls) {
        sink += PacketSource.payload(nifs(i % nifs.size), i.toLong).length
        i += 1
      }
      (System.nanoTime() - t0).toDouble / calls
    }
    require(sink > 0)
    Stats.median(samples)
  }
}
