package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** State durability across query restarts (SURVEY.md §2.9 T4/T5) — the
  * semantics the reference loses with its per-executor static alert map
  * (/root/reference/src/main/java/org/test/pcap4j/KafkaProducer.java:15).
  */
class RecoverySpec extends SparkSpec {

  private def ts(min: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")

  test("foreachBatch gives idempotent per-batch writes keyed by batchId") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val out = tempDir("fb").toString
    val in = MemoryStream[Traffic]
    // the exactly-once pattern: partition output by batch id; a replayed
    // batch overwrites its own partition instead of duplicating rows
    val q = in.toDS().writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[Traffic], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/batch_id=$batchId")
    }.start()
    try {
      in.addData(Traffic("eth0", ts(0), 10L), Traffic("eth1", ts(0), 20L))
      q.processAllAvailable()
      in.addData(Traffic("eth0", ts(5), 30L))
      q.processAllAvailable()
      val rows = spark.read.parquet(s"$out/batch_id=0", s"$out/batch_id=1")
      assert(rows.count() === 3)
    } finally q.stop()
  }

  test("edge-trigger state survives a checkpointed stop/restart") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val ckpt = tempDir("ck").toString
    val out = tempDir("alerts").toString
    val in = MemoryStream[Traffic]

    // memory sink can't recover from a checkpoint; the file sink can
    def start() = TrafficMonitor.edgeTrigger(in.toDS(), maxLimit = 100L)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()

    val q1 = start()
    in.addData(Traffic("eth0", ts(0), 500L)) // over → emit (first obs)
    q1.processAllAvailable()
    q1.stop()

    // restart from the checkpoint: state must remember eth0 is in alert
    val q2 = start()
    in.addData(Traffic("eth0", ts(5), 400L)) // still over → NO emit
    in.addData(Traffic("eth0", ts(10), 5L))  // flip down → emit
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(out).as[Alert].collect()
      .sortBy(_.windowStart.getTime).map(a => (a.windowStart, a.alert)).toSeq
    assert(got === Seq((ts(0), true), (ts(10), false)))
  }

  test("S1→S4 chain: packet source → windows → edge trigger → kafka shape → " +
    "file sink, transition-only across a mid-stream restart") {
    import org.apache.spark.sql.functions._
    import spark.implicits._

    // Geometry: 1 packet/sec, 5-min windows = 300 packets/window; each
    // AvailableNow run drains 600 packets (2 windows of data). By the end
    // of run 2 the watermark (1199 s) has finalized windows w0..w2.
    val Ppt = 600L
    val WindowPackets = 300
    val finalized = 3

    // Expected output computed INDEPENDENTLY from the pure generator +
    // the reference's edge-trigger rule (first observation always emits,
    // then only state flips — KafkaProducer.java:34-41).
    val sums = (0 until finalized).map { k =>
      (0 until WindowPackets).map(p =>
        PacketSource.payload("eth0", k.toLong * WindowPackets + p).length.toLong).sum
    }
    val limit = (sums.min + sums.max) / 2 // both alert states occur → a flip
    var last: Option[Boolean] = None
    val expected = sums.zipWithIndex.flatMap { case (s, k) =>
      val isAlert = s > limit
      if (last.contains(isAlert)) None
      else { last = Some(isAlert); Some((k.toLong * WindowPackets, s, isAlert)) }
    }
    assert(expected.length >= 2, s"test geometry produced no flip: $sums")

    val ckpt = tempDir("e2e_ck").toString
    val out = tempDir("e2e_out").toString
    val limits = Seq(("max", limit)).toDF("limit_name", "limit_value")

    def run() = {
      val packets = spark.readStream
        .format("graft.streaming.PacketSourceProvider")
        .option("nifs", "eth0")
        .option("packetsPerTrigger", Ppt.toString)
        .option("microsPerPacket", "1000000")
        .load()
      val alerts = TrafficMonitor.pipeline(packets, limits, lateness = "0 seconds")
      TrafficMonitor.toKafkaMessages(alerts)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    }

    val q1 = run(); assert(q1.awaitTermination(120000)); q1.stop()
    val q2 = run(); assert(q2.awaitTermination(120000)); q2.stop()

    val base = 1704067200L // 2024-01-01T00:00:00Z, the source's default
    val got = spark.read.parquet(out)
      .select($"key",
        unix_timestamp(get_json_object($"value", "$.windowStart")
          .cast("timestamp")).minus(base).as("w"),
        get_json_object($"value", "$.bytes").cast("long").as("bytes"),
        get_json_object($"value", "$.alert").cast("boolean").as("alert"))
      .collect()
    assert(got.forall(_.getAs[String]("key") == "eth0"))
    val transitions = got.map(r => (r.getAs[Long]("w"), r.getAs[Long]("bytes"),
      r.getAs[Boolean]("alert"))).sortBy(_._1).toSeq
    assert(transitions === expected,
      s"restart must not re-emit or drop transitions; sums=$sums limit=$limit")
    // and the boundary was actually crossed: at least one emitted
    // transition belongs to a window only run 2 could finalize
    assert(transitions.exists(_._1 >= WindowPackets))
  }

  test("a flipped byte in a pipeline checkpoint's offset log fails the restart") {
    import spark.implicits._
    val ckpt = tempDir("flip_ck")
    val limits = Seq(("max", 4000L)).toDF("limit_name", "limit_value")
    def run() = TrafficMonitor.pipeline(
        spark.readStream.format("graft.streaming.PacketSourceProvider")
          .option("nifs", "eth0").option("packetsPerTrigger", "40")
          .option("microsPerPacket", "60000000").load(),
        limits, lateness = "0 seconds")
      .writeStream.option("checkpointLocation", ckpt.toUri.toString)
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[Alert], _: Long) => ds.collect(); () }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()

    val q1 = run(); assert(q1.awaitTermination(120000)); q1.stop()
    // flip the low bit of the last digit, the source offset's: it still
    // parses, as a different offset
    val log = ckpt.resolve("offsets/0")
    val bytes = java.nio.file.Files.readAllBytes(log)
    val at = bytes.lastIndexWhere(b => b >= '0' && b <= '9')
    bytes(at) = (bytes(at) ^ 1).toByte
    java.nio.file.Files.write(log, bytes)

    val q2 = run()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q2.awaitTermination(120000))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[org.apache.hadoop.fs.ChecksumException]), e)
  }
}
