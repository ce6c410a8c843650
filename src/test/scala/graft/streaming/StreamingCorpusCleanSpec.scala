package graft.streaming

import graft.SparkSpec
import graft.Tables
import graft.multimodal.{Archives, ArchiveRecord}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The streamed .warc.zst → clean → dedup capstone: micro-batch folds
  * must equal the batch CorpusClean recompute on everything seen, with
  * replays as no-ops, through the real Structured Streaming wiring. */
class StreamingCorpusCleanSpec extends SparkSpec {

  private def freshBase(): String =
    tempDir("graft_scc").toString + "/state"

  private def docs = Tables.t(spark, sfDir, "documents")

  private def batchResult(): Seq[(Long, String)] = {
    import spark.implicits._
    graft.operators.CorpusClean.clean(docs, "doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
  }

  test("3 streamed .warc.zst micro-batches equal the batch clean on the union") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val base = freshBase()
    StreamingCorpusClean.init(spark, base)
    val arcs = Archives.warcZstFixtures(docs, "doc_id", "text")
      .collect().sortBy(_.archive_id)
    val thirds = arcs.grouped(math.max(1, (arcs.length + 2) / 3)).toSeq

    val in = MemoryStream[ArchiveRecord]
    val q = StreamingCorpusClean.attach(in.toDS(), base,
      checkpoint = s"$base-ckpt")
    try {
      thirds.foreach { third =>
        in.addData(third.toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = StreamingCorpusClean.cleaned(spark, base)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(streamed === batchResult())
  }

  test("descending and shuffled arrival orders converge to the batch clean (r9 verdict #6)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // exact dedup's min-id rule must hold for ANY arrival order: a
    // smaller id arriving after its text was stored demotes the stored
    // keeper. Descending order makes EVERY exact-dup collision hit the
    // demotion path (the keeper always arrives last).
    val expected = batchResult()
    for ((order, tag) <- Seq[(Array[Long] => Array[Long], String)](
        (_.sortBy(-_), "descending"),
        (ids => ids.sortBy(id => (id * 2654435761L) % 1000003L), "shuffled"))) {
      val base = freshBase()
      StreamingCorpusClean.init(spark, base)
      val ids = docs.select("doc_id").as[Long].collect()
      val ordered = order(ids)
      val thirds = ordered.grouped(math.max(1, (ordered.length + 2) / 3)).toSeq
      thirds.foreach { part =>
        val batch = docs.where(col("doc_id").isin(part: _*))
          .select(col("doc_id"), col("text"))
        StreamingCorpusClean.foldDocs(spark, base, batch, "doc_id", "text")
      }
      val streamed = StreamingCorpusClean.cleaned(spark, base)
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(streamed === expected, s"$tag arrival diverged from the batch clean")
    }
  }

  test("a replayed micro-batch is a no-op (at-least-once safety)") {
    import spark.implicits._
    val base = freshBase()
    StreamingCorpusClean.init(spark, base)
    val arcs = Archives.warcZstFixtures(docs, "doc_id", "text")
    StreamingCorpusClean.foldWarcZst(spark, base, arcs)
    val before = StreamingCorpusClean.cleaned(spark, base)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    StreamingCorpusClean.foldWarcZst(spark, base, arcs) // replay
    val after = StreamingCorpusClean.cleaned(spark, base)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(after === before)
    assert(before === batchResult()) // single fold == batch too
  }

  test("file-backed stream: new .warc.zst FILES landing in a watched dir fold incrementally") {
    import spark.implicits._
    val root = tempDir("graft_sccf").toString
    val watched = s"$root/landing"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(watched))
    val base = s"$root/state"
    StreamingCorpusClean.init(spark, base)

    val arcs = Archives.warcZstFixtures(docs, "doc_id", "text")
      .collect().sortBy(_.archive_id)
    val (wave1, wave2) = arcs.splitAt(arcs.length / 2)
    def drop(wave: Array[graft.multimodal.ArchiveRecord]): Unit =
      wave.foreach { rec =>
        val p = java.nio.file.Paths.get(watched,
          f"crawl-${rec.archive_id}%06d.warc.zst")
        java.nio.file.Files.write(p, rec.archive)
      }

    drop(wave1)
    val q = StreamingCorpusClean.attachWarcZstFiles(spark, watched, base,
      checkpoint = s"$root/ckpt", targetSplitBytes = 4096)
    try {
      q.processAllAvailable()
      val afterWave1 = StreamingCorpusClean.cleaned(spark, base).count()
      assert(afterWave1 > 0, "first wave of files must fold")
    } finally q.stop()
    // checkpointed mid-run RESTART (r14): the second wave lands while
    // the query is DOWN; the resumed query's file-source checkpoint
    // must deliver exactly the new files — wave-1 files are never
    // re-read (a replay would be a fold no-op here, so the equality
    // below pins delivery, and the batch-parity pins semantics)
    drop(wave2)
    val q2 = StreamingCorpusClean.attachWarcZstFiles(spark, watched, base,
      checkpoint = s"$root/ckpt", targetSplitBytes = 4096)
    try q2.processAllAvailable() finally q2.stop()
    val streamed = StreamingCorpusClean.cleaned(spark, base)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(streamed === batchResult())
  }

  test("a corrupt archive in a batch is dropped, the rest of the batch folds") {
    import spark.implicits._
    val base = freshBase()
    StreamingCorpusClean.init(spark, base)
    val good = Archives.warcZstFixtures(docs, "doc_id", "text").collect()
    val poisoned = good :+ ArchiveRecord(999999L, Array[Byte](1, 2, 3, 4))
    StreamingCorpusClean.foldWarcZst(spark, base,
      spark.createDataset(poisoned.toSeq))
    val streamed = StreamingCorpusClean.cleaned(spark, base)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(streamed === batchResult())
  }

  test("mid-run artifact compaction is answer-preserving and shrinks " +
      "the file count (the r13 small-files fix)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = freshBase()
    StreamingCorpusClean.init(spark, base)
    val ids = docs.select("doc_id").as[Long].collect().sorted
    val thirds = ids.grouped(math.max(1, (ids.length + 2) / 3)).toSeq
    def files(sub: String): Int = {
      val p = new org.apache.hadoop.fs.Path(s"$base/$sub")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) 0
      else fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
    }
    StreamingCorpusClean.foldDocs(spark, base,
      docs.where(col("doc_id").isin(thirds(0).toSeq: _*))
        .select(col("doc_id"), col("text")), "doc_id", "text")
    StreamingCorpusClean.foldDocs(spark, base,
      docs.where(col("doc_id").isin(thirds(1).toSeq: _*))
        .select(col("doc_id"), col("text")), "doc_id", "text")
    val before = files("texts") + files("bands") + files("drops")
    StreamingCorpusClean.compact(spark, base)
    val after = files("texts") + files("bands") + files("drops")
    assert(after < before,
      s"compaction must shrink the part-file count ($before -> $after)")
    // folds keep working after the swap, and the final view equals the
    // batch clean on everything
    StreamingCorpusClean.foldDocs(spark, base,
      docs.where(col("doc_id").isin(thirds(2).toSeq: _*))
        .select(col("doc_id"), col("text")), "doc_id", "text")
    val streamed = StreamingCorpusClean.cleaned(spark, base)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(streamed === batchResult())
  }
}
