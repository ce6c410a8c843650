package graft.streaming

import java.nio.file.Files
import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.streaming.Trigger

/** DataSource V2 packet source (SURVEY.md §2.1 S1 replacement). */
class PacketSourceSpec extends SparkSpec {

  private val nifs16 = (0 until 16).map(i => s"eth$i")

  // 40 packets per NIF, one a minute from the provider's default base
  // (a window boundary): windows [0,5) .. [35,40). The final watermark is
  // the last packet's time, 39 min, so windows 0..6 close.
  private def packets16 = spark.readStream
    .format("graft.streaming.PacketSourceProvider")
    .option("nifs", nifs16.mkString(","))
    .option("packetsPerTrigger", "40")
    .option("microsPerPacket", "60000000")
    .load()

  /** A max limit at the median window and the (nif, window start ms,
    * bytes, alert) rows that [[packets16]] must yield under it, recomputed
    * in plain Scala. */
  private lazy val exactAlerts: (Long, Set[(String, Long, Long, Boolean)]) = {
    val windows = (0 until 7).map { w =>
      nifs16.map(n => n -> (5L * w until 5L * w + 5)
        .map(PacketSource.payload(n, _).length.toLong).sum)
    }
    val limit = windows.flatten.map(_._2).sorted.apply(nifs16.size * 7 / 2)
    val expected = nifs16.flatMap { n =>
      var last = Option.empty[Boolean]
      windows.zipWithIndex.flatMap { case (ws, w) =>
        val bytes = ws.toMap.apply(n)
        val over = bytes > limit
        if (last.contains(over)) None
        else {
          last = Some(over)
          Some((n, 1704067200000L + w * 300000L, bytes, over))
        }
      }
    }.toSet
    (limit, expected)
  }

  private def alertsIn(table: String): Set[(String, Long, Long, Boolean)] = {
    import spark.implicits._
    spark.table(table).as[Alert].collect()
      .map(a => (a.nif, a.windowStart.getTime, a.bytes, a.alert)).toSet
  }

  test("emits packetsPerTrigger rows per nif per micro-batch with stable schema") {
    import spark.implicits._
    val q = spark.readStream
      .format("graft.streaming.PacketSourceProvider")
      .option("nifs", "eth0,eth1,lo")
      .option("packetsPerTrigger", "25")
      .load()
      .writeStream.format("memory").queryName("pk")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val df = spark.table("pk")
    assert(df.schema.map(f => (f.name, f.dataType.typeName)) ===
      Seq(("nif", "string"), ("raw", "binary"), ("ts", "timestamp")))
    val counts = df.groupBy("nif").count().as[(String, Long)].collect().toMap
    assert(counts.keySet === Set("eth0", "eth1", "lo"))
    assert(counts.values.forall(_ == 25L))
  }

  test("payloads are deterministic per (nif, index) and bounded") {
    val a = PacketSource.payload("eth0", 7L)
    val b = PacketSource.payload("eth0", 7L)
    val c = PacketSource.payload("eth1", 7L)
    assert(a.sameElements(b))
    assert(!a.sameElements(c))
    assert(a.length >= 60 && a.length < 1460)
  }

  test("full reference pipeline: source → windows → limits → edge trigger → kafka shape") {
    import spark.implicits._
    val limits = Seq(("min", 10), ("max", 4000)).toDF("limit_name", "limit_value")
    val packets = spark.readStream
      .format("graft.streaming.PacketSourceProvider")
      .option("nifs", "eth0,eth1")
      .option("packetsPerTrigger", "8")
      .option("microsPerPacket", "60000000") // 1 packet/min
      .load()
    val alerts = TrafficMonitor.pipeline(packets, limits, lateness = "0 seconds")
    val q = TrafficMonitor.toKafkaMessages(alerts)
      .writeStream.format("memory").queryName("e2e")
      .trigger(Trigger.ProcessingTime(100)).start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (spark.table("e2e").isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      val rows = spark.table("e2e").collect()
      assert(rows.nonEmpty)
      // kafka shape: key = nif, value = json payload with the alert fields
      assert(rows.forall(r => Set("eth0", "eth1")(r.getAs[String]("key"))))
      assert(rows.forall(_.getAs[String]("value").contains("\"alert\":")))
    } finally q.stop()
  }

  test("pipeline scans 16 NIFs in at most defaultParallelism tasks per batch, alerts exact") {
    import spark.implicits._
    val (limit, expected) = exactAlerts

    // (query id, task count) of every stage that reads the source
    val scans = new ConcurrentLinkedQueue[(String, Int)]
    val listener = new SparkListener {
      private val props = new ConcurrentHashMap[Int, Properties]
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(e.properties).foreach(props.put(e.stageInfo.stageId, _))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        if (si.rddInfos.exists(_.name.contains("DataSourceRDD")))
          Option(props.get(si.stageId)).foreach(p =>
            scans.add((p.getProperty("sql.streaming.queryId"), si.numTasks)))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val limits = Seq(("max", limit)).toDF("limit_name", "limit_value")
      val q = TrafficMonitor.pipeline(packets16, limits, lateness = "0 seconds")
        .writeStream.format("memory").queryName("pk16")
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000))
      assert(alertsIn("pk16") === expected)

      val id = q.id.toString
      val deadline = System.currentTimeMillis() + 10000
      while (!scans.asScala.exists(_._1 == id) && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val tasks = scans.asScala.filter(_._1 == id).map(_._2).toSeq
      assert(tasks.nonEmpty)
      assert(spark.sparkContext.defaultParallelism === 4)
      assert(tasks.forall(_ <= 4), s"scan stage task counts: $tasks")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a file: checkpointed pipeline commits every batch without starting a process") {
    import spark.implicits._
    val (limit, expected) = exactAlerts
    val limits = Seq(("max", limit)).toDF("limit_name", "limit_value")
    val checkpoint = Files.createTempDirectory("pk_commit")
    val dump = Files.createTempFile("pk_commit", ".jfr")
    val recording = new Recording()
    recording.enable("jdk.ProcessStart").withStackTrace()
    try {
      recording.start()
      val q = TrafficMonitor.pipeline(packets16, limits, lateness = "0 seconds")
        .writeStream.format("memory").queryName("pkfile")
        .option("checkpointLocation", checkpoint.toUri.toString)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000))
      recording.stop()
      recording.dump(dump)
      // (command, stack) of each process start. A reference cleaner may run
      // at any time the cleanup of an earlier, unreachable session, which
      // deletes that session's artifact directory with `rm -rf`; that is
      // garbage collection, not work of this query.
      val starts = RecordingFile.readAllEvents(dump).asScala.map { e =>
        (e.getString("command"), Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}"))
      }.filterNot(_._2.exists(_.startsWith("jdk.internal.ref.CleanerImpl")))
      assert(starts.isEmpty, starts.map { case (command, stack) =>
        (command +: stack.take(12)).mkString("\n  at ") }.mkString("process starts:\n", "\n", ""))
      assert(alertsIn("pkfile") === expected)
      // the batches were committed through the file system, .crc sidecars included
      assert(Files.exists(checkpoint.resolve("commits/0")))
      assert(Files.exists(checkpoint.resolve("commits/.0.crc")))
    } finally {
      recording.close()
      Files.deleteIfExists(dump)
      FileUtils.deleteDirectory(checkpoint.toFile)
    }
  }

  test("an offset that is not a packet source offset fails loudly, naming it") {
    val stream = new PacketMicroBatchStream(Array("eth0"), 10L, 0L, 1L)
    assert(stream.deserializeOffset(PacketOffset(42L).json()) === PacketOffset(42L))
    assert(stream.deserializeOffset(""" { "index" : 7 } """) === PacketOffset(7L))
    for (bad <- Seq("{}", """{"idx":12}""", """{"index":-3}""", """{"index":"5"}""", ""))
      withClue(bad) {
        val e = intercept[IllegalArgumentException](stream.deserializeOffset(bad))
        assert(e.getMessage.contains(bad))
      }
  }

  test("packet source feeds the windowed-traffic pipeline end to end") {
    import spark.implicits._
    val packets = spark.readStream
      .format("graft.streaming.PacketSourceProvider")
      .option("nifs", "eth0")
      .option("packetsPerTrigger", "10")
      .option("microsPerPacket", "60000000") // 1 packet/min → 2 windows per 10
      .load()
    // continuous micro-batches: the watermark from batch N finalizes
    // batch N's windows during batch N+1 (append-mode semantics)
    val q = TrafficMonitor.windowedTraffic(packets, lateness = "0 seconds")
      .writeStream.format("memory").queryName("pkw")
      .trigger(Trigger.ProcessingTime(100)).start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (spark.table("pkw").isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      val rows = spark.table("pkw").as[Traffic].collect()
      assert(rows.nonEmpty)
      assert(rows.forall(_.nif == "eth0"))
      assert(rows.forall(_.bytes > 0))
    } finally q.stop()
  }
}
