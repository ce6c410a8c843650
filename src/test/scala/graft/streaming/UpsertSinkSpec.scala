package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, hll_sketch_agg, hll_sketch_estimate, lit, window}

/** Keyed upsert sink: last-write-wins merge with bounded bucket rewrites. */
class UpsertSinkSpec extends SparkSpec {

  test("upserts are last-write-wins and only affected buckets are rewritten") {
    import spark.implicits._
    val path = tempDir("upsert").toString + "/t"

    val b1 = Seq((1L, "v1", 1L), (2L, "v1", 1L), (3L, "v1", 1L))
      .toDF("id", "payload", "version")
    UpsertSink.upsertBatch(b1, path, "id", "version", numBuckets = 8)
    // record which files exist per bucket before the second batch
    def bucketFiles() = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(path)).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(f => f.getParent.getFileName.toString -> f.getFileName.toString)
        .toSet
    }
    val before = bucketFiles()

    // batch 2: update key 2 (higher version), insert key 4, and include a
    // stale duplicate for key 2 that must lose to the newer version
    val b2 = Seq((2L, "v2", 3L), (2L, "stale", 2L), (4L, "v1", 1L))
      .toDF("id", "payload", "version")
    UpsertSink.upsertBatch(b2, path, "id", "version", numBuckets = 8)

    val got = UpsertSink.read(spark, path)
      .as[(Long, String, Long)].collect().toSet
    assert(got === Set((1L, "v1", 1L), (2L, "v2", 3L), (3L, "v1", 1L), (4L, "v1", 1L)))

    // buckets untouched by batch 2 keep their original files (bounded
    // rewrite — the whole point vs rewriting the table per batch)
    val touched = Seq(2L, 4L).map(k =>
      Seq(k).toDF("id").select(UpsertSink.bucketOf("id", 8))
        .collect().head.getInt(0)).map(b => s"bucket=$b").toSet
    val after = bucketFiles()
    val untouchedBefore = before.filterNot { case (d, _) => touched(d) }
    assert(untouchedBefore.subsetOf(after),
      s"untouched buckets were rewritten: before=$before after=$after")
  }

  test("re-applying the same batch is idempotent (exactly-once under replay)") {
    import spark.implicits._
    val path = tempDir("upsert2").toString + "/t"
    val b = Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "payload", "version")
    UpsertSink.upsertBatch(b, path, "id", "version", numBuckets = 4)
    val first = UpsertSink.read(spark, path).as[(Long, String, Long)].collect().toSet
    UpsertSink.upsertBatch(b, path, "id", "version", numBuckets = 4) // replay
    val second = UpsertSink.read(spark, path).as[(Long, String, Long)].collect().toSet
    assert(first === second)
  }

  test("mergeAggBatch maintains running totals and fences batch replays") {
    import spark.implicits._
    val path = tempDir("aggm").toString + "/t"
    val b1 = Seq((1L, 10.0, 1L), (1L, 5.0, 1L), (2L, 7.0, 1L))
      .toDF("user_id", "amount", "n")
    UpsertSink.mergeAggBatch(b1, path, "user_id", Seq("amount", "n"), batchId = 0L)
    val b2 = Seq((1L, 2.0, 1L), (3L, 4.0, 1L)).toDF("user_id", "amount", "n")
    UpsertSink.mergeAggBatch(b2, path, "user_id", Seq("amount", "n"), batchId = 1L)
    // replay of batch 1 must be a no-op (marker fence)
    UpsertSink.mergeAggBatch(b2, path, "user_id", Seq("amount", "n"), batchId = 1L)
    val got = UpsertSink.read(spark, path)
      .as[(Long, Double, Long)].collect().toSet
    assert(got === Set((1L, 17.0, 3L), (2L, 7.0, 1L), (3L, 4.0, 1L)))
  }

  test("streaming materialized view e2e: windowed traffic totals per nif") {
    import java.sql.Timestamp
    import spark.implicits._
    implicit val sql = spark.sqlContext
    def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    val path = tempDir("mv").toString + "/t"

    val in = MemoryStream[Packet]
    // append mode emits each 5-min window exactly once (after the
    // watermark passes), so summing emitted windows into the matview
    // counts every byte exactly once
    val q = TrafficMonitor.windowedTraffic(in.toDF(), lateness = "0 seconds")
      .toDF().writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        UpsertSink.mergeAggBatch(batch.select($"nif", $"bytes"),
          path, "nif", Seq("bytes"), batchId = id, numBuckets = 4)
      }.start()
    try {
      in.addData(Packet("eth0", new Array[Byte](100), ts(1)),
        Packet("eth0", new Array[Byte](50), ts(2)),
        Packet("eth1", new Array[Byte](10), ts(3)))
      q.processAllAvailable()
      in.addData(Packet("eth0", new Array[Byte](7), ts(6))) // wm → finalizes [0,5)
      q.processAllAvailable()
      in.addData(Packet("eth1", new Array[Byte](3), ts(12))) // finalizes [5,10)
      q.processAllAvailable()
      val got = UpsertSink.read(spark, path)
        .as[(String, Long)].collect().toMap
      // [0,5) eth0=150 eth1=10 and [5,10) eth0=7 are finalized;
      // [10,15) eth1=3 is still open and must NOT be in the view
      assert(got === Map("eth0" -> 157L, "eth1" -> 10L))
    } finally q.stop()
  }

  test("scheme-qualified URI paths work (Hadoop FS plumbing, not java.io.File)") {
    import spark.implicits._
    // file:/// URI — java.io.File("file:///...") would see a non-existent
    // relative path, so hasData/markers only work through the Hadoop FS API
    val path = "file://" +
      tempDir("upserturi").toString + "/t"
    val b1 = Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "payload", "version")
    UpsertSink.upsertBatch(b1, path, "id", "version", numBuckets = 4)
    val b2 = Seq((1L, "a2", 2L)).toDF("id", "payload", "version")
    UpsertSink.upsertBatch(b2, path, "id", "version", numBuckets = 4)
    // second write must MERGE (hasData true through the URI), not clobber
    val got = UpsertSink.read(spark, path).as[(Long, String, Long)].collect().toSet
    assert(got === Set((1L, "a2", 2L), (2L, "b", 1L)))

    // agg matview + replay fence through the same URI path
    val aggPath = "file://" +
      tempDir("aggmuri").toString + "/t"
    val a1 = Seq((1L, 10.0), (2L, 7.0)).toDF("k", "v")
    UpsertSink.mergeAggBatch(a1, aggPath, "k", Seq("v"), batchId = 0L, numBuckets = 4)
    UpsertSink.mergeAggBatch(a1, aggPath, "k", Seq("v"), batchId = 0L, numBuckets = 4)
    val agg = UpsertSink.read(spark, aggPath).as[(Long, Double)].collect().toSet
    assert(agg === Set((1L, 10.0), (2L, 7.0)),
      "replayed batch must be fenced by the marker on a URI path")
  }

  test("a NULL key upserts in place instead of accumulating duplicates") {
    import spark.implicits._
    val path = tempDir("upsertnull").toString + "/t"
    val b1 = Seq((Some(1L), "a", 1L), (None, "n1", 1L))
      .toDF("id", "payload", "version")
    UpsertSink.upsertBatch(b1, path, "id", "version", numBuckets = 4)
    val b2 = Seq((Option.empty[Long], "n2", 2L)).toDF("id", "payload", "version")
    UpsertSink.upsertBatch(b2, path, "id", "version", numBuckets = 4)
    val got = UpsertSink.read(spark, path)
      .as[(Option[Long], String, Long)].collect().toSet
    assert(got === Set((Some(1L), "a", 1L), (None, "n2", 2L)),
      "the NULL-key row must be replaced (null-safe anti join), not duplicated")
  }

  test("windowed HLL sketch matview: incremental distinct counts within 5%") {
    import java.sql.Timestamp
    import spark.implicits._
    implicit val sql = spark.sqlContext
    def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    val path = tempDir("hllmv").toString + "/t"

    val in = MemoryStream[(Long, Timestamp)]
    val q = in.toDF().toDF("user_id", "ts")
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          val sk = batch
            .groupBy(window(col("ts"), "5 minutes").getField("start").as("ws"))
            .agg(hll_sketch_agg(col("user_id")).as("sk"))
          UpsertSink.mergeSketchBatch(sk, path, Seq("ws"), Seq("sk"),
            batchId = id, numBuckets = 4)
      }.start()
    try {
      val seen = scala.collection.mutable.Map
        .empty[Timestamp, scala.collection.mutable.Set[Long]]
      def add(rows: (Long, Int)*): Unit = {
        val data = rows.map { case (u, m) => (u, ts(m)) }
        data.foreach { case (u, t) =>
          val w = ts((t.toLocalDateTime.getMinute / 5) * 5)
          seen.getOrElseUpdate(w, scala.collection.mutable.Set.empty) += u
        }
        in.addData(data: _*)
        q.processAllAvailable()
        val got = UpsertSink.read(spark, path)
          .select(col("ws").cast("timestamp"),
            hll_sketch_estimate(col("sk")).as("est"))
          .as[(Timestamp, Long)].collect().toMap
        assert(got.keySet === seen.keySet.toSet)
        for ((w, users) <- seen) {
          val est = got(w).toDouble
          assert(math.abs(est - users.size) <= math.max(1.0, 0.05 * users.size),
            s"window $w: estimate $est vs exact ${users.size}")
        }
      }
      // 3 micro-batches: same window grows across batches (users overlap —
      // union must not double-count), and new windows appear
      add(1L -> 1, 2L -> 2, 3L -> 3)
      add(2L -> 4, 4L -> 4, 10L -> 6, 11L -> 7)
      add(1L -> 4, 5L -> 3, 12L -> 8, 20L -> 12)
    } finally q.stop()
  }

  test("compact collapses accumulated small files without changing contents") {
    import spark.implicits._
    val path = tempDir("compact").toString + "/t"
    // one wide batch: every merge task holds rows of several buckets, so
    // each bucket directory gets a file per task — the same fragmentation
    // a long-running stream accumulates. (AQE's partition coalescing
    // self-compacts at toy scale; disable it to manufacture the problem.)
    val rows = (1L to 64L).map(i => (i, s"v$i", 1L))
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try UpsertSink.upsertBatch(rows.toDF("id", "payload", "version"),
      path, "id", "version", numBuckets = 4)
    finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    def files() = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(path)).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq
    }
    val before = UpsertSink.read(spark, path)
      .as[(Long, String, Long)].collect().toSet
    assert(files().size > 4, s"expected accumulated small files, got ${files().size}")

    UpsertSink.compact(spark, path)
    assert(files().size <= 4, s"expected <= 1 file per bucket, got ${files().size}")
    val after = UpsertSink.read(spark, path)
      .as[(Long, String, Long)].collect().toSet
    assert(after === before)

    // still mergeable after compaction (bucket layout preserved)
    UpsertSink.upsertBatch(Seq((1L, "post", 99L)).toDF("id", "payload", "version"),
      path, "id", "version", numBuckets = 4)
    val last = UpsertSink.read(spark, path)
      .as[(Long, String, Long)].collect().toSet
    assert(last === before.filterNot(_._1 == 1L) + ((1L, "post", 99L)))
  }

  test("compactClosedSketch seals windows out of the hot table with estimates intact") {
    import java.sql.Timestamp
    import spark.implicits._
    def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    val base = tempDir("sealhll").toString
    val hot = base + "/hot"; val closed = base + "/closed"
    def sketch(rows: (Long, Int)*) = rows.map { case (u, m) => (u, ts(m)) }
      .toDF("user_id", "ts")
      .groupBy(window(col("ts"), "5 minutes").getField("start").as("ws"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    def estimates(df: org.apache.spark.sql.DataFrame) = df
      .select(col("ws").cast("timestamp"), hll_sketch_estimate(col("sk")).as("est"))
      .as[(Timestamp, Long)].collect().toMap

    // 3 batches over four windows: w0 {1,4,7}, w5 {2,5,8}, w10 {3,6}, w15 {9}
    UpsertSink.mergeSketchBatch(sketch(1L -> 1, 2L -> 6, 3L -> 11),
      hot, Seq("ws"), Seq("sk"), batchId = 0L, numBuckets = 4)
    UpsertSink.mergeSketchBatch(sketch(4L -> 1, 5L -> 6, 6L -> 11),
      hot, Seq("ws"), Seq("sk"), batchId = 1L, numBuckets = 4)
    UpsertSink.mergeSketchBatch(sketch(7L -> 2, 8L -> 7, 9L -> 16),
      hot, Seq("ws"), Seq("sk"), batchId = 2L, numBuckets = 4)
    val before = estimates(UpsertSink.read(spark, hot))
    assert(before.keySet === Set(ts(0), ts(5), ts(10), ts(15)))

    val sealedPred = col("ws") < lit(ts(10))
    UpsertSink.compactClosedSketch(spark, hot, closed, Seq("ws"), Seq("sk"),
      sealedPred, cutoffId = 10L, closedBuckets = 4)
    // hot table shrank to the open windows; sealed windows moved, not lost
    val hotAfter = UpsertSink.read(spark, hot)
    assert(hotAfter.count() === 2)
    assert(estimates(hotAfter).keySet === Set(ts(10), ts(15)))
    assert(estimates(UpsertSink.read(spark, closed)).keySet === Set(ts(0), ts(5)))
    assert(estimates(UpsertSink.readWithClosed(spark, hot, closed)) === before,
      "estimates must be identical across the seal boundary")

    // re-running the same compaction converges (fence + nothing sealed left)
    UpsertSink.compactClosedSketch(spark, hot, closed, Seq("ws"), Seq("sk"),
      sealedPred, cutoffId = 10L, closedBuckets = 4)
    assert(estimates(UpsertSink.readWithClosed(spark, hot, closed)) === before)

    // a late straggler for an already-sealed window lands in hot, and the
    // next seal UNIONS it into the closed store — counted exactly once
    UpsertSink.mergeSketchBatch(sketch(100L -> 1),
      hot, Seq("ws"), Seq("sk"), batchId = 3L, numBuckets = 4)
    UpsertSink.compactClosedSketch(spark, hot, closed, Seq("ws"), Seq("sk"),
      sealedPred, cutoffId = 11L, closedBuckets = 4)
    val late = estimates(UpsertSink.readWithClosed(spark, hot, closed))
    assert(late(ts(0)) === before(ts(0)) + 1, "w0 gains exactly the one late user")
    assert(late - ts(0) === before - ts(0), "all other windows untouched")
  }

  test("compactClosedAgg keeps exact totals and deletes sealed-only buckets") {
    import java.sql.Timestamp
    import spark.implicits._
    def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    val base = tempDir("sealagg").toString
    val hot = base + "/hot"; val closed = base + "/closed"
    def totals(df: org.apache.spark.sql.DataFrame) = df
      .select(col("ws").cast("timestamp"), col("v"))
      .as[(Timestamp, Double)].collect().toMap

    UpsertSink.mergeAggBatch(Seq((ts(0), 10.0), (ts(5), 1.0)).toDF("ws", "v"),
      hot, "ws", Seq("v"), batchId = 0L, numBuckets = 4)
    UpsertSink.mergeAggBatch(Seq((ts(0), 3.0), (ts(10), 7.0)).toDF("ws", "v"),
      hot, "ws", Seq("v"), batchId = 1L, numBuckets = 4)
    UpsertSink.mergeAggBatch(Seq((ts(5), 2.0), (ts(15), 5.0)).toDF("ws", "v"),
      hot, "ws", Seq("v"), batchId = 2L, numBuckets = 4)
    val all = Map(ts(0) -> 13.0, ts(5) -> 3.0, ts(10) -> 7.0, ts(15) -> 5.0)
    assert(totals(UpsertSink.read(spark, hot)) === all)

    UpsertSink.compactClosedAgg(spark, hot, closed, Seq("ws"), Seq("v"),
      col("ws") < lit(ts(10)), cutoffId = 100L, closedBuckets = 4)
    assert(totals(UpsertSink.read(spark, hot)) === all.view.filterKeys(_.after(ts(9))).toMap)
    assert(totals(UpsertSink.readWithClosed(spark, hot, closed)) === all,
      "sums are exact (not estimates) and must survive the move untouched")

    // seal EVERYTHING: every hot bucket empties and its directory is
    // deleted — the hot table reads as absent, the closed store carries all
    UpsertSink.compactClosedAgg(spark, hot, closed, Seq("ws"), Seq("v"),
      col("ws") < lit(ts(100)), cutoffId = 101L, closedBuckets = 4)
    assert(!UpsertSink.hasData(spark, hot), "fully-sealed hot table must be empty")
    assert(totals(UpsertSink.readWithClosed(spark, hot, closed)) === all)

    // the matview keeps working after a full seal: a new window merges
    // into a fresh hot table and the union view sees both stores
    UpsertSink.mergeAggBatch(Seq((ts(20), 9.0)).toDF("ws", "v"),
      hot, "ws", Seq("v"), batchId = 3L, numBuckets = 4)
    assert(totals(UpsertSink.readWithClosed(spark, hot, closed)) === all + (ts(20) -> 9.0))
  }

  test("works as a foreachBatch streaming sink") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val path = tempDir("upsert3").toString + "/t"
    val in = MemoryStream[(Long, String, Long)]
    val q = in.toDF().toDF("id", "payload", "version")
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          UpsertSink.upsertBatch(batch, path, "id", "version", numBuckets = 4)
      }.start()
    try {
      in.addData((1L, "x", 1L), (2L, "x", 1L))
      q.processAllAvailable()
      in.addData((1L, "y", 2L))
      q.processAllAvailable()
      val got = UpsertSink.read(spark, path)
        .as[(Long, String, Long)].collect().toSet
      assert(got === Set((1L, "y", 2L), (2L, "x", 1L)))
    } finally q.stop()
  }
}
