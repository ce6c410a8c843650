package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.multimodal.ArchiveRecord

/** The full streamed training-data pipeline, composed end to end:
  * ARCHIVES IN → contiguous token-packed training rows OUT,
  * incrementally. Each micro-batch folds through
  *  1. the clean stages ([[StreamingCorpusClean]]: record split,
  *     normalize + language/quality gates, exact dedup, banded
  *     near-dedup against the append-only artifact state),
  *  2. token counting over the fold's NEWLY surviving documents —
  *     either the whitespace rule (the batch q_clean_pack semantics)
  *     or an artifact-served trained tokenizer
  *     ([[graft.operators.UnigramLM.encodeWith]] on a stored
  *     `(piece, cnt)` vocabulary — train once, serve every fold),
  *  3. the packing fold ([[StreamingPacking.foldPending]]: the batch
  *     two-phase prefix sum with the stored cursor as base offset,
  *     written as a new watermark dir of the packed artifact).
  *
  * "Newly surviving" is the clean fold's OWN delta (round 12): the
  * fold surfaces its newly-kept docs through
  * [[StreamingCorpusClean.foldDocs]]'s `onNewlyKept` hook, staged to a
  * content-tagged `pending/` directory before the clean commit point,
  * and [[StreamingPacking.foldPending]] consumes pending under a
  * watermark log — so every survivor is packed exactly ONCE no matter
  * which fold it cleans in, replayed folds are no-ops, and NO stage
  * ever re-reads the accumulated cleaned/packed artifacts (the old
  * design's full anti-join per fold, whose per-fold IO grew with the
  * corpus rather than the batch).
  *
  * Equality contract: under ASCENDING doc_id arrival (crawl order —
  * ALSO the order the batch prefix sum packs), the packed artifact
  * after any prefix of folds equals the batch
  * clean→count→[[graft.operators.Packing.packCounted]] of everything
  * seen (q_clean_pack_stream / q_clean_tokenize_pack_stream share
  * their batch twins' oracles verbatim; the 3-fold == batch spec pins
  * it). Out-of-order arrival keeps packing append-consistent (offsets
  * never rewrite) but can diverge from the batch total order — the
  * documented seam, inherent to "offsets are final on append".
  *
  * Artifact-refresh seam: the tokenizer vocabulary is read lazily per
  * fold, so a refreshed artifact affects only LATER folds — packed
  * rows are immutable once appended, exactly the production story
  * (retrain ⇒ new packed epoch, never a rewrite).
  *
  * Scale notes (100 TB), stage by stage: the clean fold's work is
  * batch-proportional except its two established store probes — the
  * exact-keeper groupBy over the stored texts and the band-index
  * equi-join (batch keys vs bucket-mates; see
  * [[StreamingCorpusClean]]); the count is a fold-sized tokenizer
  * pass over the PENDING delta only; and the packing fold reads
  * pending + the (normally empty) at-risk watermark dirs + two 1-row
  * logs — delta-sized, measured (BENCH_SCALE.md round-12: per-fold
  * pack-stage input KB flat across folds while the old design's
  * cleaned+packed re-scan grows corpus-linearly). The packed artifact
  * is watermark-dir parquet, append-only in effect (a dir is written
  * once and never rewritten).
  */
object StreamingCleanPack {

  private[graft] def cleanBase(base: String) = s"$base/clean"
  private[graft] def packBase(base: String) = s"$base/pack"

  /** Wipe all artifacts (fresh run). */
  def init(spark: SparkSession, base: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(base)
    FoldStore.fs(spark, base).delete(p, true)
    ()
  }

  /** Fold one micro-batch of raw documents through clean → count →
    * pack. `vocab = Some(v)` counts tokens with the trained
    * vocabulary; `None` uses the whitespace rule. */
  def foldDocs(spark: SparkSession, base: String, batch: DataFrame,
      idCol: String, textCol: String, packSize: Int = 256,
      vocab: Option[DataFrame] = None, lang: String = "en",
      minQuality: Long = 3000L, jaccard: Double = 0.8): Unit = {
    StreamingCorpusClean.foldDocs(spark, cleanBase(base), batch,
      idCol, textCol, lang, minQuality, jaccard,
      onNewlyKept = Some(d => stagePending(spark, base, d)))
    packPending(spark, base, packSize, vocab)
  }

  /** Fold one micro-batch of `.warc.zst` ARCHIVES end to end. */
  def foldWarcZst(spark: SparkSession, base: String,
      archives: Dataset[ArchiveRecord], packSize: Int = 256,
      vocab: Option[DataFrame] = None, lang: String = "en",
      minQuality: Long = 3000L, jaccard: Double = 0.8): Unit = {
    StreamingCorpusClean.foldWarcZst(spark, cleanBase(base), archives,
      lang, minQuality, jaccard,
      onNewlyKept = Some(d => stagePending(spark, base, d)))
    packPending(spark, base, packSize, vocab)
  }

  private[graft] def pendingPath(base: String) = s"$base/pending"

  /** Stage a clean fold's newly-kept delta for the packer. The
    * directory name derives from the delta's CONTENT (count, id range,
    * modded id sum), so a crash-replayed clean fold overwrites the
    * same directory instead of duplicating it — staging is idempotent
    * for any crash point around the clean commit (the hook fires
    * before the texts append; see [[StreamingCorpusClean.foldDocs]]). */
  private[graft] def stagePending(spark: SparkSession, base: String,
      delta: DataFrame): Unit = {
    // two consumers (content tag + write): persist so the delta's
    // anti-join evaluates once per fold, not once per action (r14)
    val d = delta.persist()
    try {
      val row = d.agg(
        count(lit(1)), min(col("doc_id")), max(col("doc_id")),
        sum(expr("doc_id % 1000000007L"))).head
      if (row.getLong(0) > 0L) {
        val tag = s"d_${row.getLong(1)}_${row.getLong(2)}_" +
          s"${row.getLong(0)}_${row.getLong(3)}"
        d.write.mode("overwrite").parquet(s"${pendingPath(base)}/$tag")
      }
    } finally { d.unpersist(); () }
  }

  /** Consume the staged pending deltas into the packed artifact —
    * delta-sized IO, exactly-once via the watermark protocol
    * ([[StreamingPacking.foldPending]]). */
  private[graft] def packPending(spark: SparkSession, base: String,
      packSize: Int, vocab: Option[DataFrame]): Unit =
    StreamingPacking.foldPending(spark, packBase(base), pendingPath(base),
      fresh => vocab match {
        case None =>
          fresh.select(col("doc_id"),
            size(expr(graft.operators.Dedup.wordsExpr("norm_text")))
              .cast("long").as("n_tokens"))
        case Some(v) =>
          graft.operators.UnigramLM
            .encodeWith(fresh, "doc_id", "norm_text", v)
            .select(col("doc_id"), col("n_tokens"))
      },
      packSize)

  /** The packed training-row artifact:
    * `(doc_id, n_tokens, offset, first_pack, last_pack)`. */
  def packed(spark: SparkSession, base: String): DataFrame =
    StreamingPacking.packed(spark, packBase(base))

  /** The ONE-flow surface: attach the whole composition to a live
    * archive stream via foreachBatch (at-least-once after recovery;
    * both folds make replays no-ops). */
  def attach(archives: Dataset[ArchiveRecord], base: String,
      checkpoint: String, packSize: Int = 256,
      vocab: Option[DataFrame] = None): StreamingQuery =
    archives.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (ds: Dataset[ArchiveRecord], _: Long) =>
        foldWarcZst(ds.sparkSession, base, ds, packSize, vocab)
      }
      .start()
}
