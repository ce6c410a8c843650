package graft.streaming

import graft.SparkSpec
import graft.Tables
import graft.multimodal.{Archives, ArchiveRecord}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, max}

/** The composed streamed pipeline — archives → clean → count → pack —
  * must equal batch clean→count→pack on everything seen, for both the
  * whitespace counter and the artifact-served trained tokenizer. */
class StreamingCleanPackSpec extends SparkSpec {

  private def freshBase(): String =
    tempDir("graft_scp").toString + "/state"

  private def docs = Tables.t(spark, sfDir, "documents")

  private type PackRow = (Long, Long, Long, Long, Long)

  private def batchPacked(): Seq[PackRow] = {
    import spark.implicits._
    graft.operators.Packing.packOffsets(
        graft.operators.CorpusClean.clean(docs, "doc_id", "text"),
        "doc_id", "norm_text", packSize = 256)
      .as[PackRow].collect().sortBy(_._1).toSeq
  }

  test("3 streamed archive micro-batches equal the batch clean→pack " +
      "on the union (one attached flow)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val base = freshBase()
    StreamingCleanPack.init(spark, base)
    val arcs = Archives.warcZstFixtures(docs, "doc_id", "text")
      .collect().sortBy(_.archive_id)
    val thirds = arcs.grouped(math.max(1, (arcs.length + 2) / 3)).toSeq

    val in = MemoryStream[ArchiveRecord]
    val q = StreamingCleanPack.attach(in.toDS(), base,
      checkpoint = s"$base-ckpt", packSize = 256)
    try {
      thirds.foreach { third =>
        in.addData(third.toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = StreamingCleanPack.packed(spark, base)
      .as[PackRow].collect().sortBy(_._1).toSeq
    assert(streamed === batchPacked())
  }

  test("tokenizer-in-the-loop: folds under a stored vocabulary equal " +
      "the batch encode→pack, and offsets stay contiguous") {
    import spark.implicits._
    val cleaned = graft.operators.CorpusClean.clean(docs, "doc_id", "text")
      .persist()
    val vocabDir =
      tempDir("graft_scp_vocab").toString
    graft.operators.UnigramLM.train(cleaned, "doc_id", "norm_text", 2)
      .write.mode("overwrite").parquet(vocabDir)
    val expected = graft.operators.Packing.packCounted(
        graft.operators.UnigramLM.encodeWith(
            cleaned, "doc_id", "norm_text", spark.read.parquet(vocabDir))
          .select(col("doc_id"), col("n_tokens")),
        packSize = 256)
      .as[PackRow].collect().sortBy(_._1).toSeq
    cleaned.unpersist()

    val base = freshBase()
    StreamingCleanPack.init(spark, base)
    val ids = docs.select("doc_id").as[Long].collect().sorted
    val thirds = ids.grouped(math.max(1, (ids.length + 2) / 3)).toSeq
    for (third <- thirds) {
      StreamingCleanPack.foldDocs(spark, base,
        docs.where(col("doc_id").isin(third: _*)), "doc_id", "text",
        packSize = 256, vocab = Some(spark.read.parquet(vocabDir)))
    }
    val streamed = StreamingCleanPack.packed(spark, base)
      .as[PackRow].collect().sortBy(_._1).toSeq
    assert(streamed === expected)
    // contiguity: offsets are an exact prefix sum with no holes
    var next = 0L
    for ((_, n, off, _, _) <- streamed) {
      assert(off === next, s"offset hole at $off (expected $next)")
      next = off + n
    }
  }

  test("artifact refresh mid-stream: packed rows are immutable, later " +
      "folds count under the new vocabulary, offsets stay contiguous") {
    import spark.implicits._
    val cleaned = graft.operators.CorpusClean.clean(docs, "doc_id", "text")
      .persist()
    val vocabDir =
      tempDir("graft_scp_rv").toString
    // vocab A: trained on the corpus; vocab B: singles only (every word
    // then costs length-many pieces — token counts provably differ)
    graft.operators.UnigramLM.train(cleaned, "doc_id", "norm_text", 2)
      .write.mode("overwrite").parquet(s"$vocabDir/a")
    graft.operators.UnigramLM.train(cleaned, "doc_id", "norm_text", 2)
      .where(col("piece_len") === 1L)
      .write.mode("overwrite").parquet(s"$vocabDir/b")
    cleaned.unpersist()

    val base = freshBase()
    StreamingCleanPack.init(spark, base)
    val ids = docs.select("doc_id").as[Long].collect().sorted
    val half = ids.length / 2
    StreamingCleanPack.foldDocs(spark, base,
      docs.where(col("doc_id").isin(ids.take(half): _*)), "doc_id", "text",
      packSize = 256, vocab = Some(spark.read.parquet(s"$vocabDir/a")))
    val afterFold1 = StreamingCleanPack.packed(spark, base)
      .as[PackRow].collect().sortBy(_._1).toSeq
    // REFRESH: fold 2 serves vocab B
    StreamingCleanPack.foldDocs(spark, base,
      docs.where(col("doc_id").isin(ids.drop(half): _*)), "doc_id", "text",
      packSize = 256, vocab = Some(spark.read.parquet(s"$vocabDir/b")))
    val all = StreamingCleanPack.packed(spark, base)
      .as[PackRow].collect().sortBy(_._1).toSeq
    // rows packed before the refresh are byte-identical (immutable)
    assert(all.take(afterFold1.length) === afterFold1)
    // later docs are counted under B: singles-only vocab makes
    // n_tokens equal the word's character count summed — strictly more
    // tokens than vocab A would give on at least one doc
    val fold2 = all.drop(afterFold1.length)
    assert(fold2.nonEmpty)
    val underA = graft.operators.UnigramLM.encodeWith(
        graft.operators.CorpusClean.clean(
          docs.where(col("doc_id").isin(ids.drop(half): _*)),
          "doc_id", "text"),
        "doc_id", "norm_text", spark.read.parquet(s"$vocabDir/a"))
      .select(col("doc_id"), col("n_tokens")).as[(Long, Long)]
      .collect().toMap
    assert(fold2.exists { case (id, n, _, _, _) => underA.get(id).exists(_ < n) },
      "vocab B (singles only) must inflate token counts vs vocab A")
    // offsets still an exact prefix sum across the refresh boundary
    var next = 0L
    for ((_, n, off, _, _) <- all) {
      assert(off === next, s"offset hole at $off (expected $next)")
      next = off + n
    }
  }

  test("20-fold crash soak: skipped packs, lost watermark markers and " +
      "replayed folds still pack every kept doc once, contiguously, " +
      "equal to the batch clean→pack") {
    import spark.implicits._
    val base = freshBase()
    StreamingCleanPack.init(spark, base)
    val cb = StreamingCleanPack.cleanBase(base)
    val fs = FoldStore.fs(spark, base)
    val folds = 20L
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
    def clean(i: Long): Unit = StreamingCorpusClean.foldDocs(spark, cb,
      docs.where(col("doc_id") >= i * maxId / folds &&
        col("doc_id") < (i + 1) * maxId / folds), "doc_id", "text",
      onNewlyKept = Some(d => StreamingCleanPack.stagePending(spark, base, d)))
    def pack(): Unit = StreamingCleanPack.packPending(spark, base, 256, None)
    // a crash after the pack consumed its pending dirs but before it
    // wrote its watermark marker
    def dropMaxMarker(): Unit = {
      val d = new org.apache.hadoop.fs.Path(
        s"${StreamingCleanPack.packBase(base)}/wlog")
      val ms = fs.listStatus(d).map(_.getPath)
        .flatMap(p => p.getName.stripPrefix("c_").toLongOption.map((_, p)))
      if (ms.nonEmpty) fs.delete(ms.maxBy(_._1)._2, false)
    }
    for (i <- 0L until folds) {
      clean(i)
      // a crash between stage and pack: the next fold packs two folds
      if (i % 10 != 3) pack()
      if (i % 10 == 7) dropMaxMarker()
      if (i == 19) StreamingCorpusClean.compact(spark, cb)
      // the upstream source replays the previous fold end to end
      if (i % 10 == 9) { clean(i - 1); pack() }
    }
    val rows = StreamingCleanPack.packed(spark, base)
      .as[PackRow].collect().sortBy(_._3).toSeq
    var next = 0L
    for ((_, n, off, _, _) <- rows) {
      assert(off === next, s"offset hole at $off (expected $next)")
      next = off + n
    }
    assert(rows.map(_._1).distinct.length === rows.length, "a doc packed twice")
    assert(rows.sortBy(_._1) === batchPacked())
  }
}
