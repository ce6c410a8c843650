package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Incremental near-dup detection over a document stream. */
class StreamingDedupSpec extends SparkSpec {

  private val base = (1 to 40).map(i => s"tok$i").mkString(" ")

  /** RocksDB-backed streaming state, for `spark.sql.streaming.stateStore.
    * providerClass`: the default HDFS-backed store keeps every key of
    * every stateful operator on the executor heap, while RocksDB spills
    * to local disk with bounded memory. It measured slower on the traffic
    * monitor's tiny state, so no session sets it by default. */
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  test("a near-identical later document is flagged against the first arrival") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = StreamingDedup.nearDupCandidates(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("sd").outputMode("append").start()
    try {
      in.addData((1L, base), (50L, (1 to 40).map(i => s"zz$i").mkString(" ")))
      q.processAllAvailable()
      // arrives LATER in stream time, nearly identical to doc 1
      in.addData((7L, base + " tail"))
      q.processAllAvailable()
      val got = spark.table("sd").as[DupCandidate].collect()
        .map(c => (c.doc_id, c.prior_id)).toSet
      assert(got === Set((7L, 1L))) // flagged against the first claimant only
    } finally q.stop()
  }

  test("verify-few loop: candidates are Jaccard-verified per batch via foreachBatch") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val corpusRows = Seq(
      (1L, base), (7L, base + " tail"),
      (50L, (1 to 40).map(i => s"zz$i").mkString(" ")))
    val corpus = corpusRows.toDF("doc_id", "text")
    val verified = scala.collection.mutable.Set[(Long, Long, Double)]()
    val in = MemoryStream[(Long, String)]
    val q = StreamingDedup.nearDupCandidates(in.toDF().toDF("doc_id", "text"))
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[DupCandidate], _: Long) =>
          StreamingDedup.verifyCandidates(batch, corpus, "doc_id", "text", 0.5)
            .as[(Long, Long, Double)].collect().foreach(verified += _)
      }.start()
    try {
      in.addData(corpusRows.head, corpusRows(2))
      q.processAllAvailable()
      in.addData(corpusRows(1)) // near-dup of doc 1 arrives later
      q.processAllAvailable()
      assert(verified.map(v => (v._1, v._2)) === Set((7L, 1L)))
      assert(verified.head._3 > 0.9) // 38/42 shared shingles
    } finally q.stop()
  }

  test("simhash variant flags later near-identical docs through the same state core") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = StreamingDedup.nearDupCandidatesSimhash(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("sh").outputMode("append").start()
    try {
      in.addData((3L, base), (80L, (1 to 40).map(i => s"vv$i").mkString(" ")))
      q.processAllAvailable()
      // identical content (hd=0): guaranteed to share every band. A
      // one-token edit at 40 tokens flips ~10 of 60 bits — SimHash hd<=3
      // only captures near-verbatim duplicates, by design.
      in.addData((9L, base))
      q.processAllAvailable()
      val got = spark.table("sh").as[DupCandidate].collect()
        .map(c => (c.doc_id, c.prior_id)).toSet
      assert(got.contains((9L, 3L)))
      assert(!got.exists(_._1 == 80L))
    } finally q.stop()
  }

  test("unrelated documents produce no candidates; exact dup hits all bands") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = StreamingDedup.nearDupCandidates(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("sd2").outputMode("append").start()
    try {
      in.addData((1L, base))
      q.processAllAvailable()
      in.addData((2L, base)) // exact duplicate: every band collides
      in.addData((90L, (1 to 40).map(i => s"qq$i").mkString(" ")))
      q.processAllAvailable()
      val rows = spark.table("sd2").as[DupCandidate].collect()
      assert(rows.map(c => (c.doc_id, c.prior_id)).distinct.toSeq === Seq((2L, 1L)))
      assert(rows.length === graft.operators.Dedup.Bands) // one hit per band
      assert(!rows.exists(_.doc_id == 90L))
    } finally q.stop()
  }

  test("dedup state runs under the RocksDB state store provider (100 TB state path)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // provider is read at query start; scope it to this test
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      RocksDbProvider)
    try {
      val in = MemoryStream[(Long, String)]
      val q = StreamingDedup.nearDupCandidates(in.toDF().toDF("doc_id", "text"))
        .writeStream.format("memory").queryName("sdrdb").outputMode("append").start()
      try {
        in.addData((1L, base), (50L, (1 to 40).map(i => s"yy$i").mkString(" ")))
        q.processAllAvailable()
        in.addData((7L, base + " tail"))
        q.processAllAvailable()
        val got = spark.table("sdrdb").as[DupCandidate].collect()
          .map(c => (c.doc_id, c.prior_id)).toSet
        assert(got === Set((7L, 1L))) // same semantics as the default store
        // and RocksDB was genuinely in the loop, not silently defaulted:
        // its state-operator custom metrics only exist under this provider
        val metrics = q.recentProgress.flatMap(_.stateOperators)
          .flatMap(_.customMetrics.keySet().toArray(Array.empty[String]))
        assert(metrics.exists(_.startsWith("rocksdb")),
          s"no rocksdb state metrics reported; got ${metrics.distinct.mkString(",")}")
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("exact streaming dedup: dropDuplicatesWithinWatermark across batches") {
    import java.sql.Timestamp
    import spark.implicits._
    implicit val sql = spark.sqlContext
    def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    // EXACT-id streaming dedup (the complement of the LSH near-dup
    // state): Spark keeps per-key state only until the watermark passes
    // it, so the state store stays bounded on an unbounded stream —
    // the built-in the 100 TB ingest path uses before any fuzzy pass
    val in = MemoryStream[(Long, Timestamp)]
    val q = in.toDF().toDF("doc_id", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("doc_id")
      .writeStream.format("memory").queryName("xdd").outputMode("append").start()
    try {
      in.addData((1L, ts(1)), (2L, ts(2)), (1L, ts(3)))
      q.processAllAvailable()
      // replay of id 1 in a LATER batch, still within the watermark gap
      in.addData((1L, ts(4)), (3L, ts(5)))
      q.processAllAvailable()
      val got = spark.table("xdd").as[(Long, Timestamp)].collect()
        .groupBy(_._1).view.mapValues(_.length).toMap
      assert(got === Map(1L -> 1, 2L -> 1, 3L -> 1),
        s"each id must be emitted exactly once within the watermark: $got")
    } finally q.stop()
  }

  test("e2e: band state feeds the maintained cluster artifact, old splits stable over 3 batches") {
    import graft.operators.Dedup
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val ww = (1 to 40).map(i => s"ww$i").mkString(" ")
    // the full r5-verdict-#4 loop: stream → band-state candidates →
    // verify-few → updateClusters fold into the artifact → split; new
    // docs must JOIN existing clusters and never disturb old rows
    var allDocs = Seq.empty[(Long, String)]
    var artifact = Seq.empty[(Long, Long, Boolean)]
      .toDF("doc_id", "cluster_id", "keep")
    val snapshots = scala.collection.mutable.ArrayBuffer
      .empty[Map[Long, Long]]          // per-batch (doc_id -> cluster_id)
    val splits = scala.collection.mutable.ArrayBuffer
      .empty[Map[Long, String]]        // per-batch (doc_id -> split)
    val in = MemoryStream[(Long, String)]
    val q = StreamingDedup.nearDupCandidates(in.toDF().toDF("doc_id", "text"))
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[DupCandidate], _: Long) =>
          val pairs = StreamingDedup.verifyCandidates(
            batch, allDocs.toDF("doc_id", "text"), "doc_id", "text", 0.5)
            .select($"doc_id".as("doc_a"), $"prior_id".as("doc_b"))
          artifact = Dedup.updateClusters(artifact, pairs)
            .localCheckpoint(true)
      }.start()
    try {
      for (b <- Seq(
        Seq((1L, base), (2L, base + " x"), (3L, (1 to 40).map(i => s"zz$i").mkString(" "))),
        Seq((11L, base + " y"), (12L, ww)),
        Seq((21L, base + " z"), (22L, ww + " t")))) {
        allDocs ++= b                  // corpus snapshot BEFORE the batch runs
        in.addData(b: _*)
        q.processAllAvailable()
        snapshots += artifact.select($"doc_id", $"cluster_id")
          .as[(Long, Long)].collect().toMap
        splits += Dedup.groupAwareSplit(
          allDocs.toDF("doc_id", "text"), "doc_id", artifact)
          .select($"doc_id", $"split").as[(Long, String)].collect().toMap
      }
      // growth: each batch's near-dups joined the EXISTING cluster
      assert(snapshots(0) === Map(1L -> 1L, 2L -> 1L))
      assert(snapshots(1) === Map(1L -> 1L, 2L -> 1L, 11L -> 1L))
      assert(snapshots(2) === Map(1L -> 1L, 2L -> 1L, 11L -> 1L,
        21L -> 1L, 12L -> 12L, 22L -> 12L))
      // stability: a doc's cluster id never changes after assignment
      for (i <- 1 until snapshots.size; (d, c) <- snapshots(i - 1))
        assert(snapshots(i)(d) == c, s"batch $i moved doc $d: $c -> ${snapshots(i)(d)}")
      // and old docs' split assignments are batch-invariant
      for (i <- 1 until splits.size; (d, s0) <- splits(i - 1))
        assert(splits(i)(d) == s0, s"batch $i moved doc $d split: $s0 -> ${splits(i)(d)}")
    } finally q.stop()
  }
}
