package streambench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.streaming.PacketSource

/** The benchmark's own tests: loud failures in the registry loop, the paced
  * generator under a stalled consumer, seeding, and the reference model.
  * Run with `python3 streambench/run.py --selftest`; exits 1 on a failure.
  */
object SelfTest {
  private val failures = mutable.ArrayBuffer[String]()

  private def check(ok: Boolean, what: String): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += what
  }

  def main(argv: Array[String]): Unit = {
    val runDir = argv(0)
    seeds()
    reference()
    val spark = Session.build(runDir)
    try {
      throwingQuery(spark)
      stalledConsumer(spark, runDir)
    } finally spark.stop()
    println(s"${failures.size} failed")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }

  def seeds(): Unit = {
    val (a, b) = (Traffic.nifNames(1, 64), Traffic.nifNames(2, 64))
    check(a == Traffic.nifNames(1, 64), "the same seed gives the same NIF names")
    check(a.toSet.intersect(b.toSet).isEmpty, "another seed gives other NIF names")
    check(a.toSet.size == 64, "NIF names are distinct")
    check(!java.util.Arrays.equals(PacketSource.payload(a.head, 7L), PacketSource.payload(b.head, 7L)),
      "another seed gives other payload bytes")
    check(Traffic.baseEpochMicros(1) != Traffic.baseEpochMicros(2), "another seed gives another base epoch")
  }

  def reference(): Unit = {
    val w = Reference.WindowMicros
    val totals = Map("n" -> Vector(0L -> 10L, w -> 30L, 2 * w -> 40L, 3 * w -> 5L, 4 * w -> 50L))
    val flips = Reference.flips(totals, limit = 20L, closedBeforeMicros = 4 * w)
      .toSeq.sortBy(_.windowStartMicros)
    check(flips.map(f => (f.windowStartMicros / w, f.alert)) == Seq(0L -> false, 1L -> true, 3L -> false),
      "reference flips: first observation emits, then only state changes, only closed windows")
  }

  def throwingQuery(spark: SparkSession): Unit = {
    val ok: Registry.Query = (s, _) => s.range(1000).toDF()
    val boom: Registry.Query = (_, _) => throw new IllegalStateException("deliberate")
    val tally = new Registry.Tally
    Registry.pass(spark, "", Seq(("q_ok", "short", ok), ("q_boom", "short", boom),
      ("q_ok2", "kernel", ok)), tally, None)
    check(tally.attempted == 3, "a throwing query counts as attempted")
    check(tally.failures.map(_._1) == Seq("q_boom"), "the throwing query is listed by name")
    check(!tally.samples.contains("q_boom") && tally.samples.keySet == Set("q_ok", "q_ok2"),
      "the throwing query adds no sample")
    check(!tally.medians.contains("q_boom"), "the throwing query has no median")
    check(tally.execs.map(_.name) == Seq("q_ok", "q_ok2"), "only completed queries are traced")
    val res = new Result("registry_mix")
    tally.report(res)
    check(!res.correct && res.failures == Seq("q_boom"), "a throwing query fails the run")
  }

  /** A sink that sleeps through one batch: release must stay on the
    * wall-clock schedule, the next batch must carry the whole backlog, and
    * the alert latencies must include the stall. */
  def stalledConsumer(spark: SparkSession, runDir: String): Unit = {
    val stallMs = 3000L
    val shape = Traffic.Shape(nifCount = 4, ratePerNif = 50.0, triggerMs = 500L,
      microsPerPacket = 6000000L)
    val nifs = Traffic.nifNames(7, shape.nifCount)
    val base = Traffic.baseEpochMicros(7)
    val limit = Reference.medianLimit(Reference.allTotals(nifs, 32 * 50, base, shape.microsPerPacket))
    val run = Traffic.start(spark, shape, nifs, base, limit, s"$runDir/stall-checkpoint",
      onBatch = id => if (id == 3) Thread.sleep(stallMs))
    try {
      val until = System.currentTimeMillis() + 60000
      while (run.committed.size < 8 && System.currentTimeMillis() < until) Thread.sleep(50)
    } finally run.query.stop()
    val pace = run.pace
    val done = run.committed
    check(done.size >= 8, s"the paced stream ran 8 batches (ran ${done.size})")
    if (done.size >= 8) {
      // each batch ends at the index released when the batch started
      val slackPackets = shape.ratePerNif * 0.25
      check(done.forall(p => math.abs(Traffic.endIndex(p) - pace.released(Traffic.startMs(p))) <=
        slackPackets), "every batch reads up to the wall-clock schedule")
      val stalled = done.find(_.batchId == 3).get
      val next = done.find(_.batchId == 4).get
      val backlog = Traffic.endIndex(next) - Traffic.endIndex(stalled)
      check(backlog >= (shape.ratePerNif * stallMs / 1000.0 * 0.9).toLong,
        s"the batch after the stall carries the backlog ($backlog packets per NIF)")
      check(next.numInputRows == backlog * nifs.size, "the backlog is read from every NIF")
      val lat = Traffic.alertLatencies(run, done, pace, pace.t0Millis, Long.MaxValue)
      check(lat.nonEmpty && lat.max >= stallMs,
        s"alert latencies include the stall (max ${if (lat.isEmpty) 0 else lat.max} ms)")
      val res = new Result("stall")
      Traffic.check(run, done, nifs, base, shape.microsPerPacket, limit, res)
      check(res.correct, s"alerts match the reference across the stall ${res.notes.mkString}")
    }
  }
}
