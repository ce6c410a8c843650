package graft

import org.apache.spark.sql.functions._

/** KMV/theta sketch semantics (q_kmv_distinct / q_kmv_overlap). */
class ThetaSpec extends SparkSpec {

  test("kmv_agg keeps exactly the k smallest distinct values") {
    import spark.implicits._
    // values with duplicates, shuffled across partitions
    val vals = (1L to 100L).flatMap(v => Seq(v * 7, v * 7)) // dups
    val got = vals.toDF("h").repartition(8)
      .agg(call_function("kmv_agg", col("h"), lit(10)))
      .as[Seq[Long]].head()
    assert(got === (1L to 10L).map(_ * 7))
  }

  test("kmv_agg with fewer than k distinct inputs returns them all (exact mode)") {
    import spark.implicits._
    val got = Seq(5L, 3L, 5L, 9L).toDF("h")
      .agg(call_function("kmv_agg", col("h"), lit(256)))
      .as[Seq[Long]].head()
    assert(got === Seq(3L, 5L, 9L))
  }

  test("kmv merge is an exact semilattice: sketch of whole == merge of parts") {
    import spark.implicits._
    // k-smallest-distinct is closed under union: merging per-group
    // sketches must give BIT-IDENTICAL state to sketching everything.
    val df = (1L to 5000L).map(v => (v % 17, v * 2654435761L % (1L << 60)))
      .toDF("g", "h").repartition(8)
    val whole = df.agg(call_function("kmv_agg", col("h"), lit(64)))
      .as[Seq[Long]].head()
    // simulate a matview merge: per-group sketches, re-aggregated by
    // feeding their elements back through kmv_agg
    val merged = df.groupBy(col("g"))
      .agg(call_function("kmv_agg", col("h"), lit(64)).as("sk"))
      .select(explode(col("sk")).as("h"))
      .agg(call_function("kmv_agg", col("h"), lit(64)))
      .as[Seq[Long]].head()
    assert(merged === whole)
  }

  test("theta matview: incremental state is bit-identical to a one-shot sketch") {
    import graft.streaming.UpsertSink
    import spark.implicits._
    val path = tempDir("thetamv").toString + "/t"
    val all = (1L to 300L).map(v => (v % 3, v * 2654435761L % (1L << 60)))
    def sketch(rows: Seq[(Long, Long)]) = rows.toDF("k", "h")
      .groupBy(col("k"))
      .agg(call_function("kmv_agg", col("h"), lit(16)).as("sk"))
    // three overlapping batches (batch 1 replays half of batch 0's rows:
    // union is idempotent, so the overlap must not perturb the state)
    UpsertSink.mergeThetaBatch(sketch(all.slice(0, 120)), path,
      Seq("k"), Seq("sk"), batchId = 0L, numBuckets = 4, k = 16)
    UpsertSink.mergeThetaBatch(sketch(all.slice(60, 220)), path,
      Seq("k"), Seq("sk"), batchId = 1L, numBuckets = 4, k = 16)
    UpsertSink.mergeThetaBatch(sketch(all.slice(220, 300)), path,
      Seq("k"), Seq("sk"), batchId = 2L, numBuckets = 4, k = 16)
    val got = UpsertSink.read(spark, path).select(col("k"), col("sk"))
      .as[(Long, Seq[Long])].collect().toMap
    val oneShot = sketch(all).as[(Long, Seq[Long])].collect().toMap
    assert(got === oneShot,
      "k-smallest-distinct union must reproduce the one-shot sketch exactly")
  }

  test("theta matview end-to-end: streaming foreachBatch state equals one-shot") {
    import graft.streaming.UpsertSink
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val path = tempDir("thetastream").toString + "/t"
    val all = (1L to 240L).map(v => (v % 2, v * 2654435761L % (1L << 60)))

    val in = MemoryStream[(Long, Long)]
    val q = in.toDF().toDF("k", "h")
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          val sk = batch.groupBy(col("k"))
            .agg(call_function("kmv_agg", col("h"), lit(16)).as("sk"))
          UpsertSink.mergeThetaBatch(sk, path, Seq("k"), Seq("sk"),
            batchId = id, numBuckets = 4, k = 16)
      }.start()
    try {
      in.addData(all.slice(0, 80): _*); q.processAllAvailable()
      in.addData(all.slice(80, 240): _*); q.processAllAvailable()
    } finally q.stop()

    val got = UpsertSink.read(spark, path).select(col("k"), col("sk"))
      .as[(Long, Seq[Long])].collect().toMap
    val oneShot = all.toDF("k", "h").groupBy(col("k"))
      .agg(call_function("kmv_agg", col("h"), lit(16)).as("sk"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got === oneShot)
  }

  test("compactClosedTheta seals keys out of the hot table with sketches intact") {
    import graft.streaming.UpsertSink
    import spark.implicits._
    val base = tempDir("sealtheta").toString
    val hot = base + "/hot"; val closed = base + "/closed"
    val all = (1L to 200L).map(v => (v % 4, v * 2654435761L % (1L << 60)))
    def sketch(rows: Seq[(Long, Long)]) = rows.toDF("k", "h")
      .groupBy(col("k"))
      .agg(call_function("kmv_agg", col("h"), lit(16)).as("sk"))
    UpsertSink.mergeThetaBatch(sketch(all.slice(0, 100)), hot,
      Seq("k"), Seq("sk"), batchId = 0L, numBuckets = 4, k = 16)
    UpsertSink.mergeThetaBatch(sketch(all.slice(100, 200)), hot,
      Seq("k"), Seq("sk"), batchId = 1L, numBuckets = 4, k = 16)
    val before = UpsertSink.read(spark, hot).select(col("k"), col("sk"))
      .as[(Long, Seq[Long])].collect().toMap

    UpsertSink.compactClosedTheta(spark, hot, closed, Seq("k"), Seq("sk"),
      col("k") < 2, cutoffId = 10L, closedBuckets = 4, k = 16)
    assert(UpsertSink.read(spark, hot).count() === 2)
    assert(UpsertSink.read(spark, closed).count() === 2)
    val after = UpsertSink.readWithClosed(spark, hot, closed)
      .select(col("k"), col("sk")).as[(Long, Seq[Long])].collect().toMap
    assert(after === before,
      "sketch state must be bit-identical across the seal boundary")
  }

  test("kmv estimate is within 25% of the exact distinct count on the fixture") {
    import spark.implicits._
    val sh = Tables.t(spark, sfDir, "documents")
      .select(explode(call_function("shingle_hashes", col("text"))).as("h"))
    val exact = sh.distinct().count().toDouble
    val sk = sh.agg(call_function("kmv_agg", col("h"), lit(256)))
      .as[Seq[Long]].head()
    val est =
      if (sk.length < 256) sk.length.toDouble
      else 255.0 * math.pow(2, 60) / sk(255).toDouble
    assert(math.abs(est - exact) / exact < 0.25,
      s"est $est vs exact $exact")
  }
}
