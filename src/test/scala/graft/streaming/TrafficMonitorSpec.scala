package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Streaming parity for the reference pipeline (SURVEY.md §2.9 T1-T5):
  * event-time windowed sums and the edge-triggered alert dedup, run through
  * real micro-batches via MemoryStream.
  */
class TrafficMonitorSpec extends SparkSpec {

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$min%02d:$sec%02d")

  private def pkt(nif: String, min: Int, sec: Int, size: Int): Packet =
    Packet(nif, new Array[Byte](size), ts(min, sec))

  test("edgeTriggerTtl evicts idle keys by watermark and re-emits on resurrection") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Traffic]
    val traffic = in.toDF().withWatermark("windowStart", "0 seconds").as[Traffic]
    val q = TrafficMonitor.edgeTriggerTtl(traffic, maxLimit = 100L, ttl = "10 minutes")
      .writeStream.format("memory").queryName("ttl").outputMode("append").start()
    try {
      in.addData(Traffic("eth0", ts(0), 500L)) // over → first-obs emit
      q.processAllAvailable()
      in.addData(Traffic("eth9", ts(20), 5L))  // other key; wm → 20 min
      q.processAllAvailable()
      // this batch runs with watermark 20 min > eth0's (0 + 10 min)
      // timeout → eth0's state evicts; eth9 stays under limit (no emit)
      in.addData(Traffic("eth9", ts(25), 6L))
      q.processAllAvailable()
      // eth0 returns STILL OVER the limit: with surviving state this
      // would be suppressed; after eviction it re-emits as a first obs
      in.addData(Traffic("eth0", ts(30), 450L))
      q.processAllAvailable()
      val got = spark.table("ttl").as[Alert].collect()
        .map(a => (a.nif, a.windowStart, a.alert)).toSet
      assert(got === Set(
        ("eth0", ts(0), true),
        ("eth9", ts(20), false),
        ("eth0", ts(30), true))) // the resurrection emit
    } finally q.stop()
  }

  test("edgeTriggerTtl survives a watermark jump far beyond the ttl") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Traffic]
    val traffic = in.toDF().withWatermark("windowStart", "0 seconds").as[Traffic]
    val q = TrafficMonitor.edgeTriggerTtl(traffic, maxLimit = 100L, ttl = "10 minutes")
      .writeStream.format("memory").queryName("ttl_jump").outputMode("append").start()
    try {
      in.addData(Traffic("eth0", ts(0), 500L))
      q.processAllAvailable()
      // watermark leaps 50 min (> ttl) in one batch — anchoring the
      // timeout at the key's own event time made setTimeoutTimestamp
      // throw here and killed the query
      in.addData(Traffic("eth9", ts(50), 500L))
      q.processAllAvailable()
      in.addData(Traffic("eth9", ts(55), 500L)) // eviction batch for eth0
      q.processAllAvailable()
      in.addData(Traffic("eth0", ts(58), 450L)) // resurrection
      q.processAllAvailable()
      val got = spark.table("ttl_jump").as[Alert].collect()
        .map(a => (a.nif, a.windowStart, a.alert)).toSet
      assert(got === Set(
        ("eth0", ts(0), true), ("eth9", ts(50), true), ("eth0", ts(58), true)))
    } finally q.stop()
  }

  test("windowedTraffic sums bytes per 5-min event-time window per nif") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Packet]
    val q = TrafficMonitor.windowedTraffic(in.toDF())
      .writeStream.format("memory").queryName("wt").outputMode("append").start()
    try {
      in.addData(
        pkt("eth0", 0, 10, 100), pkt("eth0", 4, 59, 50), // window [0,5)
        pkt("eth0", 5, 0, 7),                            // window [5,10)
        pkt("eth1", 1, 0, 9))                            // window [0,5)
      q.processAllAvailable()
      // advance the watermark far enough to finalize all windows
      in.addData(pkt("eth0", 30, 0, 1))
      q.processAllAvailable()
      val got = spark.table("wt").as[Traffic].collect()
        .map(t => (t.nif, t.windowStart, t.bytes)).toSet
      assert(got.contains(("eth0", ts(0), 150L)))
      assert(got.contains(("eth0", ts(5), 7L)))
      assert(got.contains(("eth1", ts(0), 9L)))
    } finally q.stop()
  }

  test("edgeTrigger emits only state transitions; first observation always emits") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Traffic]
    val q = TrafficMonitor.edgeTrigger(in.toDS(), maxLimit = 100L)
      .writeStream.format("memory").queryName("et").outputMode("append").start()
    try {
      // eth0: under, under, OVER, OVER, under → emits at w0(first), w10, w20
      // eth1: OVER first → emits once, stays over → nothing more
      in.addData(Traffic("eth0", ts(0), 50L), Traffic("eth1", ts(0), 500L))
      q.processAllAvailable()
      in.addData(Traffic("eth0", ts(5), 80L), Traffic("eth1", ts(5), 300L))
      q.processAllAvailable()
      in.addData(Traffic("eth0", ts(10), 180L)) // flip up
      q.processAllAvailable()
      in.addData(Traffic("eth0", ts(15), 120L)) // still over
      in.addData(Traffic("eth0", ts(20), 10L))  // flip down
      q.processAllAvailable()
      val got = spark.table("et").as[Alert].collect()
        .map(a => (a.nif, a.windowStart, a.alert)).toSet
      assert(got === Set(
        ("eth0", ts(0), false), ("eth0", ts(10), true), ("eth0", ts(20), false),
        ("eth1", ts(0), true)))
    } finally q.stop()
  }

  test("edgeTrigger state survives across many batches and orders within a batch") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Traffic]
    val q = TrafficMonitor.edgeTrigger(in.toDS(), maxLimit = 100L)
      .writeStream.format("memory").queryName("et2").outputMode("append").start()
    try {
      // one batch, out of order: w5 over arrives before w0 under
      in.addData(Traffic("x", ts(5), 200L), Traffic("x", ts(0), 1L))
      q.processAllAvailable()
      val got = spark.table("et2").as[Alert].collect()
        .sortBy(_.windowStart.getTime).map(a => (a.windowStart, a.alert)).toSeq
      // processed in windowStart order: under(first emit), then flip to over
      assert(got === Seq((ts(0), false), (ts(5), true)))
    } finally q.stop()
  }

  test("full pipeline: packets → windows → edge-triggered alerts") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val limits = Seq(("min", 10), ("max", 120)).toDF("limit_name", "limit_value")
    val in = MemoryStream[Packet]
    val q = TrafficMonitor.pipeline(in.toDF(), limits, lateness = "0 seconds")
      .writeStream.format("memory").queryName("pl").outputMode("append").start()
    try {
      in.addData(pkt("eth0", 0, 0, 200))  // w0: 200 > 120 → over
      q.processAllAvailable()
      in.addData(pkt("eth0", 6, 0, 30))   // finalizes w0
      q.processAllAvailable()
      in.addData(pkt("eth0", 12, 0, 10))  // finalizes w5 (30 <= 120 → under)
      in.addData(pkt("eth0", 40, 0, 10))  // finalizes w10
      q.processAllAvailable()
      val got = spark.table("pl").as[Alert].collect()
        .sortBy(_.windowStart.getTime).map(a => (a.windowStart, a.alert)).toSeq
      assert(got.take(2) === Seq((ts(0), true), (ts(5), false)))
    } finally q.stop()
  }

  /** (batch id, nif, window start, bytes, alert) of every alert `build`
    * emits over `batches`, one `addData` and `processAllAvailable` each,
    * plus the ids of the batches that ran without input rows. */
  private def alertsByBatch(name: String, batches: Seq[Seq[Packet]])(
      build: DataFrame => Dataset[Alert]): (Seq[(Long, String, Timestamp, Long, Boolean)], Set[Long]) = {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Packet]
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Timestamp, Long, Boolean)]
    val q = build(in.toDF()).writeStream
      .option("checkpointLocation", artifactPath(s"tm_equiv/$name"))
      .foreachBatch { (ds: Dataset[Alert], id: Long) =>
        ds.collect().foreach(a => got.add((id, a.nif, a.windowStart, a.bytes, a.alert)))
      }.start()
    try {
      for (b <- batches) { in.addData(b); q.processAllAvailable() }
      import scala.jdk.CollectionConverters._
      (got.asScala.toSeq.sortBy(a => (a._1, a._2, a._3.getTime)),
        q.recentProgress.filter(_.numInputRows == 0).map(_.batchId).toSet)
    } finally q.stop()
  }

  test("pipeline emits, batch for batch, what edgeTrigger(windowedTraffic) emits") {
    import spark.implicits._
    val limits = Seq(("max", 120)).toDF("limit_name", "limit_value")
    val batches = Seq(
      // eth0 [0,5) = 150 and [5,10) opens; eth2 gets no row after this batch,
      // so its one window closes only through the watermark (the timeout)
      Seq(pkt("eth0", 0, 10, 100), pkt("eth0", 4, 0, 50), pkt("eth0", 6, 30, 30),
        pkt("eth1", 1, 0, 200), pkt("eth2", 2, 0, 5)),
      // a late row for eth0 [0,5): dropped at lateness 0 s and 1 min, whose
      // watermark (6:30, 5:30) has passed 5:00, kept at 2 min (4:30);
      // eth1's rows arrive out of order
      Seq(pkt("eth0", 3, 0, 999), pkt("eth1", 9, 50, 60), pkt("eth1", 5, 10, 70),
        pkt("eth1", 8, 0, 10), pkt("eth0", 11, 0, 200)),
      // the watermark jumps past every open window of eth0, which gets no
      // row: at 2 min, its [5,10) and [10,15) close in one no-data batch
      Seq(pkt("eth3", 30, 0, 7), pkt("eth1", 31, 0, 300)),
      Seq(pkt("eth3", 59, 0, 1)))
    for ((lateness, k) <- Seq("0 seconds", "1 minute", "2 minutes").zipWithIndex) withClue(lateness) {
      val (fused, noData) = alertsByBatch(s"fused$k", batches)(
        TrafficMonitor.pipeline(_, limits, lateness))
      val (model, _) = alertsByBatch(s"model$k", batches)(p =>
        TrafficMonitor.edgeTrigger(TrafficMonitor.windowedTraffic(p, lateness), 120L))
      assert(fused === model)
      // the cases above happened: no-data batches emitted, the late row
      // counted only at 2 min, and two windows of one NIF flipped in one batch
      assert(fused.exists(a => noData(a._1)))
      val eth0w0 = fused.find(a => a._2 == "eth0" && a._3 == ts(0)).map(_._4)
      assert(eth0w0 === Some(if (k == 2) 1149L else 150L))
      if (k == 2) assert(fused.groupBy(a => (a._1, a._2)).values.exists(_.size == 2))
    }
  }

  test("late data beyond the watermark is dropped, not double-counted") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Packet]
    val q = TrafficMonitor.windowedTraffic(in.toDF(), lateness = "0 seconds")
      .writeStream.format("memory").queryName("late").outputMode("append").start()
    try {
      in.addData(pkt("eth0", 0, 0, 100))
      q.processAllAvailable()
      in.addData(pkt("eth0", 20, 0, 1)) // watermark → 20:00; finalizes [0,5)
      q.processAllAvailable()
      in.addData(pkt("eth0", 1, 0, 999)) // LATE: for already-finalized [0,5)
      in.addData(pkt("eth0", 40, 0, 1))  // advances watermark further
      q.processAllAvailable()
      val w0 = spark.table("late").as[Traffic].collect()
        .filter(_.windowStart == ts(0))
      // the finalized window emitted once, without the late packet
      assert(w0.map(_.bytes).toSeq === Seq(100L))
    } finally q.stop()
  }

  test("observe publishes per-batch packet metrics on progress events") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Packet]
    val q = TrafficMonitor.observed(in.toDF())
      .writeStream.format("memory").queryName("obs").outputMode("append").start()
    try {
      in.addData(pkt("eth0", 0, 0, 100), pkt("eth1", 0, 0, 50))
      q.processAllAvailable()
      val m = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get("packet_stats"))).last
      assert(m.getAs[Long]("n_packets") === 2L)
      assert(m.getAs[Long]("total_bytes") === 150L)
    } finally q.stop()
  }

  test("toKafkaMessages shapes alerts as (key, value) records") {
    import spark.implicits._
    val alerts = Seq(Alert("eth0", ts(0), 500L, alert = true, "over")).toDS()
    val msgs = TrafficMonitor.toKafkaMessages(alerts).collect()
    assert(msgs.length === 1)
    assert(msgs.head.getAs[String]("key") === "eth0")
    val v = msgs.head.getAs[String]("value")
    assert(v.contains("\"nif\":\"eth0\"") && v.contains("\"alert\":true"))
  }

  test("complete output mode keeps updating per-nif running totals") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Packet]
    val q = TrafficMonitor.packetSizes(in.toDF())
      .groupBy($"nif").agg(org.apache.spark.sql.functions.sum($"bytes").as("total"))
      .writeStream.format("memory").queryName("cm").outputMode("complete").start()
    try {
      in.addData(pkt("eth0", 0, 0, 100))
      q.processAllAvailable()
      in.addData(pkt("eth0", 1, 0, 50))
      q.processAllAvailable()
      val got = spark.table("cm").as[(String, Long)].collect().toMap
      assert(got("eth0") === 150L) // the table is the full refreshed result
    } finally q.stop()
  }

  test("maxLimit reads the max row and names it when it is missing") {
    import spark.implicits._
    val limits = Seq(("min", 10), ("max", 120)).toDF("limit_name", "limit_value")
    assert(TrafficMonitor.maxLimit(limits) === 120L)
    val e = intercept[IllegalArgumentException](
      TrafficMonitor.maxLimit(limits.where($"limit_name" =!= "max")))
    assert(e.getMessage.contains("limit_name = 'max'"))
  }

  test("batch analogue matches streaming edge-trigger semantics") {
    import spark.implicits._
    val events = Seq(
      (1L, ts(0, 30), 50.0), (1L, ts(1, 0), 120.0), // w0 sum 170 → over
      (1L, ts(5, 0), 10.0),                         // w5 → under
      (2L, ts(0, 0), 5.0))                          // w0 → under
      .toDF("user_id", "ts", "value")
    val got = TrafficMonitor.batchEdgeTrigger(events, 150.0)
      .as[(Long, Long, Boolean)].collect().toSet
    val base = ts(0).getTime / 1000
    assert(got === Set(
      (1L, base, true), (1L, base + 300, false), (2L, base, false)))
  }
}
