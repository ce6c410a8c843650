package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Incremental per-source sequence packing (streaming counterpart of the
  * batch two-phase prefix sum in graft.operators.Packing). */
class StreamingPackingSpec extends SparkSpec {

  test("offsets are contiguous per source and survive across micro-batches") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(String, Long, String)]
    val q = StreamingPacking.packStream(
      in.toDF().toDF("source", "doc_id", "text"), packSize = 5)
      .writeStream.format("memory").queryName("pk_stream")
      .outputMode("append").start()
    try {
      in.addData(("a", 1L, "w1 w2 w3"), ("a", 2L, "w1 w2 w3 w4"),
        ("b", 10L, "x1 x2"))
      q.processAllAvailable()
      in.addData(("a", 3L, "w1 w2"), ("b", 11L, "x1 x2 x3 x4 x5 x6"))
      q.processAllAvailable()

      val got = spark.table("pk_stream").as[PackedDoc].collect()
        .map(p => (p.source, p.doc_id) -> p).toMap
      // source a: 3 + 4 + 2 tokens, offsets 0, 3, 7 — batch boundary at 7
      assert(got(("a", 1L)).offset === 0L)
      assert(got(("a", 2L)).offset === 3L)
      assert(got(("a", 3L)).offset === 7L) // continued from checkpointed state
      // source b independent: 0 then 2
      assert(got(("b", 10L)).offset === 0L)
      assert(got(("b", 11L)).offset === 2L)
      // pack ranges: packSize 5 → doc (a,2) spans packs 0..1
      assert(got(("a", 2L)).first_pack === 0L && got(("a", 2L)).last_pack === 1L)
      assert(got(("a", 3L)).first_pack === 1L && got(("a", 3L)).last_pack === 1L)
      assert(got(("b", 11L)).first_pack === 0L && got(("b", 11L)).last_pack === 1L)
      // invariant: within a source, every offset equals the sum of the
      // tokens processed before it (contiguous, no gaps or overlaps)
      for (src <- Seq("a", "b")) {
        val docs = got.values.filter(_.source == src).toSeq.sortBy(_.offset)
        val cum = docs.scanLeft(0L)(_ + _.n_tokens).init
        assert(docs.map(_.offset) === cum)
      }
    } finally q.stop()
  }
}

/** The watermark protocol of the artifact-backed delta pack fold
  * (StreamingPacking.foldPending): delta-sized consumption,
  * exactly-once across every crash window, cursor recovery. */
class FoldPendingSpec extends SparkSpec {

  import org.apache.spark.sql.functions.col

  private def freshBase(): String =
    tempDir("graft_fp").toString

  private val wsCount: org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.DataFrame = fresh =>
    fresh.select(col("doc_id"),
      org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.expr(
            graft.operators.Dedup.wordsExpr("norm_text")))
        .cast("long").as("n_tokens"))

  private def stage(base: String, tag: String, docs: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    docs.toDF("doc_id", "norm_text")
      .write.mode("overwrite").parquet(s"$base/pending/$tag")
  }

  private def packedRows(base: String): Seq[(Long, Long, Long)] = {
    import spark.implicits._
    StreamingPacking.packed(spark, s"$base/pack")
      .select("doc_id", "n_tokens", "offset").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
  }

  private def ls(base: String, sub: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$base/$sub")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName).toSeq.sorted
  }

  test("pending dirs are consumed exactly once; offsets continue " +
      "across folds; packed equals the batch prefix sum of the union") {
    val base = freshBase()
    stage(base, "d_1", Seq((1L, "a b c"), (2L, "d e")))
    StreamingPacking.foldPending(spark, s"$base/pack", s"$base/pending",
      wsCount, packSize = 4)
    assert(ls(base, "pending").isEmpty) // consumed
    assert(packedRows(base) === Seq((1L, 3L, 0L), (2L, 2L, 3L)))

    stage(base, "d_2", Seq((3L, "f g h i")))
    StreamingPacking.foldPending(spark, s"$base/pack", s"$base/pending",
      wsCount, packSize = 4)
    assert(packedRows(base) ===
      Seq((1L, 3L, 0L), (2L, 2L, 3L), (3L, 4L, 5L)))
    // two watermark dirs, both committed
    assert(ls(s"$base/pack", "packed").size === 2)
  }

  test("crash window: a committed-but-unlogged watermark dir is " +
      "deduped, and its offsets back the cursor recovery") {
    val base = freshBase()
    stage(base, "d_1", Seq((1L, "a b c"), (2L, "d e")))
    StreamingPacking.foldPending(spark, s"$base/pack", s"$base/pending",
      wsCount, packSize = 4)
    val afterFirst = packedRows(base)

    // simulate "crashed right after the packed write": the producer
    // re-staged the identical pending dir and the watermark marker
    // never landed (delete the marker dir)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/pack/wlog"), true)
    stage(base, "d_1", Seq((1L, "a b c"), (2L, "d e")))

    StreamingPacking.foldPending(spark, s"$base/pack", s"$base/pending",
      wsCount, packSize = 4)
    // no duplicates: the at-risk anti-join emptied the replayed delta
    assert(packedRows(base) === afterFirst)
    assert(ls(base, "pending").isEmpty)

    // the NEXT fold's offsets must continue after the recovered rows —
    // the cursor is DERIVED from the newest committed watermark dir,
    // so there is no cursor artifact to have lost
    stage(base, "d_2", Seq((3L, "f g")))
    StreamingPacking.foldPending(spark, s"$base/pack", s"$base/pending",
      wsCount, packSize = 4)
    assert(packedRows(base) === afterFirst :+ ((3L, 2L, 5L)))
  }

  test("watermark markers compact to the max once they accumulate") {
    val base = freshBase()
    for (i <- 1 to StreamingPacking.MarkerCompactAt + 3) {
      stage(base, s"d_$i", Seq((i.toLong, "a b")))
      StreamingPacking.foldPending(spark, s"$base/pack", s"$base/pending",
        wsCount, packSize = 4)
    }
    val markers = ls(s"$base/pack", "wlog").filter(_.startsWith("c_"))
    assert(markers.size <= StreamingPacking.MarkerCompactAt + 1)
    // max-wins: the surviving max marker equals the newest watermark
    val maxMarker = markers.map(_.stripPrefix("c_").toLong).max
    val maxDir = ls(s"$base/pack", "packed")
      .filter(_.startsWith("w_")).map(_.stripPrefix("w_").toLong).max
    assert(maxMarker === maxDir)
    // and the packed stream is still one contiguous prefix sum
    val rows = packedRows(base)
    var next = 0L
    for ((_, n, off) <- rows) { assert(off === next); next = off + n }
  }

  test("property: randomized crash points at EVERY protocol step " +
      "over a long fold sequence still yield the exact batch prefix " +
      "sum — no dup, no gap, no lost doc (r13 soak companion)") {
    // crash model per fold, seeded RNG:
    //   a) producer replay: the pending dir is staged TWICE (crash
    //      between stage and fold; content-derived name + overwrite);
    //   b) post-pack-write crash: after the fold, the max marker is
    //      removed and the fold's pending dirs are re-staged (packed
    //      dir committed, consume never ran) — the next fold's at-risk
    //      anti-join must swallow the replay;
    //   c) post-delete-pre-marker crash: only the max marker is
    //      removed (pending consumed) — the at-risk window stays open
    //      until the next fold's marker heals it;
    //   plus fold-skipping (pending accumulates across folds).
    val rnd = new scala.util.Random(20260816L)
    val base = freshBase()
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dropMaxMarker(): Unit = {
      val dir = new org.apache.hadoop.fs.Path(s"$base/pack/wlog")
      if (fs.exists(dir)) {
        val ms = fs.listStatus(dir).map(_.getPath)
          .flatMap(p => p.getName.stripPrefix("c_").toLongOption
            .map((_, p)))
        if (ms.nonEmpty) fs.delete(ms.maxBy(_._1)._2, false)
      }
    }
    var nextId = 1L
    val all = Seq.newBuilder[(Long, String)]
    var lastStaged: Seq[(String, Seq[(Long, String)])] = Seq.empty
    for (f <- 1 to 30) {
      // ascending doc_id across folds (the composition contract)
      val docs = (0 until (1 + rnd.nextInt(4))).map { _ =>
        val id = nextId; nextId += 1
        (id, Seq.fill(1 + rnd.nextInt(5))("w").mkString(" "))
      }
      all ++= docs
      val tag = s"d_$f"
      stage(base, tag, docs)
      if (rnd.nextInt(4) == 0) stage(base, tag, docs) // (a) replay
      if (rnd.nextInt(4) == 0) {
        // crash before the fold ran at all: pending just accumulates
        lastStaged = Seq((tag, docs))
      } else {
        StreamingPacking.foldPending(spark, s"$base/pack",
          s"$base/pending", wsCount, packSize = 4)
        rnd.nextInt(3) match {
          case 0 => // (b): packed committed, consume lost entirely
            dropMaxMarker()
            stage(base, tag, docs)
            lastStaged.foreach { case (t, d) => stage(base, t, d) }
          case 1 => // (c): pending consumed, marker lost
            dropMaxMarker()
          case _ => ()
        }
        lastStaged = Seq.empty
      }
    }
    // final drain fold (consumes anything still pending)
    StreamingPacking.foldPending(spark, s"$base/pack", s"$base/pending",
      wsCount, packSize = 4)
    val want = all.result().sortBy(_._1).foldLeft(
        (Seq.empty[(Long, Long, Long)], 0L)) {
      case ((acc, off), (id, text)) =>
        val n = text.split(" ").count(_.nonEmpty).toLong
        (acc :+ ((id, n, off)), off + n)
    }._1
    assert(packedRows(base) === want,
      "randomized crash/replay sequence must equal the serial prefix sum")
  }

  test("a crash-lost watermark append only widens the at-risk window " +
      "until the next fold heals it") {
    val base = freshBase()
    stage(base, "d_1", Seq((1L, "a b")))
    StreamingPacking.foldPending(spark, s"$base/pack", s"$base/pending",
      wsCount, packSize = 4)
    // simulate "crash between pending delete and wlog append"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/pack/wlog"), true)

    stage(base, "d_2", Seq((2L, "c d e")))
    StreamingPacking.foldPending(spark, s"$base/pack", s"$base/pending",
      wsCount, packSize = 4)
    // fold 2 saw w_1 as at-risk (anti-join no-ops: disjoint ids) and
    // packed after it; offsets still contiguous, no dupes
    assert(packedRows(base) === Seq((1L, 2L, 0L), (2L, 3L, 2L)))
  }
}
