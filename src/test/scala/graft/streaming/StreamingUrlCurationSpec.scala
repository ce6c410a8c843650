package graft.streaming

import graft.SparkSpec
import graft.streaming.StreamingUrlCuration.{CapDoc, CapVerdict}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming per-domain cap (cross-batch per-domain count state). */
class StreamingUrlCurationSpec extends SparkSpec {

  private val docs = Seq(
    CapDoc(1, "a.com"), CapDoc(2, "b.com"), CapDoc(3, "a.com"),
    CapDoc(4, "a.com"), CapDoc(5, "b.com"), CapDoc(6, "a.com"),
    CapDoc(7, "c.com"))

  test("id-ordered arrival reproduces the batch domain cap row for row") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[CapDoc]
    val q = StreamingUrlCuration.capVerdicts(in.toDS(), maxPerDomain = 2L)
      .writeStream.format("memory").queryName("cap1").outputMode("append")
      .start()
    try {
      in.addData(docs.take(3)); q.processAllAvailable()
      in.addData(docs.slice(3, 5)); q.processAllAvailable()
      in.addData(docs.drop(5)); q.processAllAvailable()
      val streamed = spark.table("cap1").as[CapVerdict].collect()
        .map(v => (v.doc_id, v.registrable, v.rnk, v.kept)).toSet
      // batch truth: rankWithinGroups on (registrable, doc_id)
      val batch = graft.operators.Packing.rankWithinGroups(
          spark.createDataset(docs).toDF(), "registrable", "doc_id")
        .selectExpr("doc_id", "registrable", "CAST(rnk AS LONG) rnk",
          "CAST(rnk <= 2 AS LONG) kept")
        .as[(Long, String, Long, Long)].collect().toSet
      assert(streamed === batch)
      assert(streamed === Set(
        (1L, "a.com", 1L, 1L), (3L, "a.com", 2L, 1L),
        (4L, "a.com", 3L, 0L), (6L, "a.com", 4L, 0L),
        (2L, "b.com", 1L, 1L), (5L, "b.com", 2L, 1L),
        (7L, "c.com", 1L, 1L)))
    } finally q.stop()
  }

  test("domainQualityGateStream: latest gate row per domain equals the " +
      "batch gate, any arrival order") {
    import spark.implicits._
    import StreamingUrlCuration.DomainGateRow
    // two domains under the same eTLD+1 rule; word counts chosen so
    // one domain passes both thresholds and the other fails the mean
    val rows = Seq( // (doc_id, url, text)
      (1L, "https://a.good.org/1", "w1 w2 w3 w4 w5"),
      (2L, "https://b.good.org/2", "w1 w2 w3 w4 w5 w6"),
      (3L, "https://good.org/3", "w1 w2 w3 w4"),
      (4L, "https://bad.org/1", "w1"),
      (5L, "https://bad.org/2", "w1 w2"),
      (6L, "https://bad.org/3", "w1"))
    val rules = Seq(Tuple1("org")).toDF("rule")
    for ((order, name) <- Seq((rows, "dqga"), (rows.reverse, "dqgb"))) {
      implicit val sql = spark.sqlContext
      val in = MemoryStream[(Long, String, String)]
      val q = StreamingUrlCuration.domainQualityGateStream(
          in.toDS().toDF("doc_id", "url", "text"), "url", "text",
          rules, minDocs = 3L, minMeanWordsMilli = 2000L)
        .writeStream.format("memory").queryName(name).outputMode("append")
        .start()
      try {
        in.addData(order.take(2)); q.processAllAvailable()
        in.addData(order.drop(2)); q.processAllAvailable()
        val last = spark.table(name).as[DomainGateRow].collect()
          .groupBy(_.registrable).view
          .mapValues(_.maxBy(_.n_docs)).toMap
        // good.org: 3 docs, 15 words, mean 5000 milli >= 2000 → kept
        assert(last("good.org") ===
          DomainGateRow("good.org", 3L, 15L, 5000L, kept = true))
        // bad.org: 3 docs, 4 words, mean 1333 milli < 2000 → dropped
        assert(last("bad.org") ===
          DomainGateRow("bad.org", 3L, 4L, 1333L, kept = false))
        // equals the batch operator on the full input
        val batch = graft.operators.UrlCuration.domainQualityGate(
            spark.createDataset(rows).toDF("doc_id", "url", "text"),
            "url", "text", minDocs = 3L, minMeanWordsMilli = 2000L,
            rules = Some(rules))
          .as[(String, Long, Long, Long, Boolean)].collect()
          .map(r => r._1 -> DomainGateRow(r._1, r._2, r._3, r._4, r._5))
          .toMap
        assert(batch === last.toMap)
      } finally q.stop()
    }
  }

  test("arbitrary arrival keeps exactly min(cap, n) per domain") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[CapDoc]
    val q = StreamingUrlCuration.capVerdicts(in.toDS(), maxPerDomain = 2L)
      .writeStream.format("memory").queryName("cap2").outputMode("append")
      .start()
    try {
      // reversed arrival: the kept REPRESENTATIVES differ from batch
      // (arrival rank, by contract), but the kept counts cannot
      in.addData(docs.reverse.take(4)); q.processAllAvailable()
      in.addData(docs.reverse.drop(4)); q.processAllAvailable()
      val kept = spark.table("cap2").as[CapVerdict].collect()
        .filter(_.kept == 1L).groupBy(_.registrable)
        .view.mapValues(_.length.toLong).toMap
      assert(kept === Map("a.com" -> 2L, "b.com" -> 2L, "c.com" -> 1L))
      // and the first-arrived are the keepers: reversed order → max ids
      val keptIds = spark.table("cap2").as[CapVerdict].collect()
        .filter(v => v.kept == 1L && v.registrable == "a.com")
        .map(_.doc_id).toSet
      assert(keptIds === Set(6L, 4L))
    } finally q.stop()
  }

  test("file-source gate with checkpointed restart: the resumed query " +
      "replays NOTHING (offsets + per-domain state recover) and the " +
      "final report equals the batch gate") {
    import spark.implicits._
    import StreamingUrlCuration.DomainGateRow
    val root = artifactPath("gate_files_spec")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val in = s"$root/in"; val ckpt = s"$root/ckpt"
    val rows = Seq( // good.org passes; bad.org fails the mean
      (1L, "https://a.good.org/1", "w1 w2 w3 w4 w5"),
      (2L, "https://b.good.org/2", "w1 w2 w3 w4 w5 w6"),
      (3L, "https://good.org/3", "w1 w2 w3 w4"),
      (4L, "https://bad.org/1", "w1"),
      (5L, "https://bad.org/2", "w1 w2"),
      (6L, "https://bad.org/3", "w1"))
    val rules = Seq(Tuple1("org")).toDF("rule")
    val all = rows.toDF("doc_id", "url", "text")
    def writeChunk(take: Int, drop: Int): Unit =
      all.where($"doc_id" > drop && $"doc_id" <= take)
        .coalesce(1).write.mode("append").parquet(in)
    def run(out: String): Unit = {
      val stream = spark.readStream.schema(all.schema)
        .option("maxFilesPerTrigger", 1).parquet(in)
      val q = StreamingUrlCuration.domainQualityGateStream(
          stream, "url", "text", rules,
          minDocs = 2L, minMeanWordsMilli = 3000L)
        .toDF()
        .writeStream
        // memory sink refuses checkpoint recovery; foreachBatch +
        // parquet is the fault-tolerant seam a production attach uses
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(out); ()
        }
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    def readOut(out: String) =
      if (fs.exists(new org.apache.hadoop.fs.Path(out)))
        spark.read.schema(org.apache.spark.sql.Encoders
          .product[DomainGateRow].schema).parquet(out)
          .as[DomainGateRow].collect()
      else Array.empty[DomainGateRow]
    writeChunk(4, 0) // docs 1-4 in run A
    run(s"$root/out_a")
    writeChunk(6, 4) // docs 5-6 land while the query is DOWN
    run(s"$root/out_b")
    val a = readOut(s"$root/out_a")
    val b = readOut(s"$root/out_b")
    // exactly-once: run B saw ONLY the new chunk — one emission per
    // touched domain, and bad.org's count CONTINUES from run A's
    // state (1 there) instead of restarting at 2
    assert(b.map(_.registrable).sorted.toSeq === Seq("bad.org"))
    assert(a.filter(_.registrable == "bad.org").map(_.n_docs).max === 1L)
    assert(b.head.n_docs === 3L,
      "state must recover across the restart (1 + 2 new docs)")
    // final report equals the batch gate over everything
    val got = (a ++ b).groupBy(_.registrable).map(_._2.maxBy(_.n_docs))
      .map(r => (r.registrable, r.n_docs, r.sum_words,
        r.mean_words_milli, r.kept)).toSet
    val want = graft.operators.UrlCuration.domainQualityGate(
        all, "url", "text", minDocs = 2L, minMeanWordsMilli = 3000L,
        rules = Some(rules))
      .selectExpr("registrable", "n_docs", "sum_words",
        "mean_words_milli", "kept")
      .as[(String, Long, Long, Long, Boolean)].collect().toSet
    assert(got === want)
  }
}
