package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A near-dup candidate discovered in the stream: `doc_id` collided with
  * the earlier `prior_id` on MinHash band `band`. */
final case class DupCandidate(doc_id: Long, prior_id: Long, band: Int)

/** Incremental near-duplicate detection over a document STREAM
  * (SURVEY.md §2.11 × §2.9): each arriving document's MinHash signature is
  * banded exactly like the batch operator
  * ([[graft.operators.Dedup.minhashPairs]]); a stateful operator keyed by
  * (band, bandHash) remembers the FIRST document that ever landed in each
  * bucket and flags every later arrival as a candidate against it.
  *
  * Scale design: state is ONE long per occupied bucket (the first
  * doc_id) — not the signature, not the text — so state size is bounded by
  * the number of distinct buckets, and the shuffle carries (band, bhash,
  * doc_id) longs. Candidates are a stream; exact Jaccard verification
  * joins them back to the corpus downstream (batch or foreachBatch),
  * touching only candidate rows — the same verify-few pattern as batch
  * LSH. A candidate may appear once per matching band; `.dropDuplicates`
  * downstream collapses multi-band hits if one row per pair is wanted.
  */
object StreamingDedup {

  /** docs stream (idCol, textCol) → banded (band, bhash, doc_id). */
  def bandedSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.operators.Dedup.{Bands, RowsPerBand, foldDigest}
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        call_function("minhash_sig", col(textCol)).as("sig"))
      .where(col("sig").isNotNull)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, ${Bands - 1}),
           |  j -> ${foldDigest(s"slice(sig, j * $RowsPerBand + 1, $RowsPerBand)")})"""
          .stripMargin)))
      .toDF("doc_id", "band", "bhash")
  }

  /** The stateful core: first doc in a bucket claims it; later docs emit
    * candidates against that first doc. Within one micro-batch, docs are
    * processed in doc_id order for determinism. */
  def candidates(banded: DataFrame): Dataset[DupCandidate] = {
    val spark = banded.sparkSession
    import spark.implicits._
    banded.as[(Long, Int, Long)]
      .groupByKey { case (_, band, bhash) => (band, bhash) }
      .flatMapGroupsWithState[Long, DupCandidate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((band, _), rows, state: GroupState[Long]) =>
          val ids = rows.map(_._1).toSeq.sorted
          var first = state.getOption.getOrElse(Long.MaxValue)
          val out = ids.flatMap { id =>
            if (id < first) { first = id; None }
            else if (id == first) None
            else Some(DupCandidate(id, first, band))
          }
          state.update(first)
          out.iterator
      }
  }

  /** Full pipeline: document stream in, near-dup candidate stream out. */
  def nearDupCandidates(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Dataset[DupCandidate] =
    candidates(bandedSignatures(docs, idCol, textCol))

  /** SimHash variant of [[bandedSignatures]]: 4 × 15-bit bands of the
    * 60-bit fingerprint — candidates are exact for Hamming ≤ 3 pairs
    * (pigeonhole, see [[graft.operators.Dedup.simhashPairs]]), so this
    * stream needs no verify step for the hd≤3 contract, only a Hamming
    * recheck on the candidate pair. */
  def bandedSimhashes(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.operators.Dedup.{SimhashBands, SimhashBandBits}
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        call_function("simhash60", col(textCol)).as("simhash"))
      .where(col("simhash").isNotNull)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, ${SimhashBands - 1}),
           |  j -> shiftright(simhash, $SimhashBandBits * j) % ${1 << SimhashBandBits})"""
          .stripMargin)))
      .toDF("doc_id", "band", "bhash")
  }

  /** Streaming SimHash near-dup candidates (same state core). */
  def nearDupCandidatesSimhash(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Dataset[DupCandidate] =
    candidates(bandedSimhashes(docs, idCol, textCol))

  /** Perceptual-image variant of [[bandedSignatures]]: the binary payload
    * is really decoded ([[graft.multimodal.ImageCodecs]] via
    * [[graft.multimodal.Multimodal.imageDHash]]), and the 64-bit dHash
    * splits into 4 × 16-bit bands — candidates are exact for Hamming ≤ 3
    * (pigeonhole, mirroring the batch
    * [[graft.multimodal.Multimodal.imageNearDupPairs]]). Undecodable
    * payloads drop (route-elsewhere), same contract as batch. */
  def bandedDHashes(images: Dataset[graft.multimodal.MediaRecord]): DataFrame =
    graft.multimodal.Multimodal.imageDHash(images)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, 3), j -> shiftrightunsigned(dhash, 16 * j) & 65535)")))
      .toDF("doc_id", "band", "bhash")

  /** Streaming perceptual image near-dup candidates (same state core:
    * first claimant per (band, 16-bit value) bucket, 8 B of state). */
  def nearDupCandidatesImage(
      images: Dataset[graft.multimodal.MediaRecord]): Dataset[DupCandidate] =
    candidates(bandedDHashes(images))

  /** Audio variant of [[bandedDHashes]]: the 64-bit PCM envelope
    * fingerprint ([[graft.multimodal.Multimodal.audioFingerprint64]],
    * really-decoded samples) split into the same 4 × 16-bit bands.
    * Non-WAV / too-short clips drop, same route-elsewhere contract. */
  def bandedAudioFps(clips: Dataset[graft.multimodal.MediaRecord]): DataFrame =
    graft.multimodal.Multimodal.audioFingerprint64(clips)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, 3), j -> shiftrightunsigned(fingerprint, 16 * j) & 65535)")))
      .toDF("doc_id", "band", "bhash")

  /** Streaming perceptual audio near-dup candidates (same 8 B/bucket
    * band-state core as text MinHash/SimHash and image dHash). */
  def nearDupCandidatesAudio(
      clips: Dataset[graft.multimodal.MediaRecord]): Dataset[DupCandidate] =
    candidates(bandedAudioFps(clips))

  /** Exact-Hamming verify tail for image candidates: per micro-batch,
    * join the (tiny) candidate set to the corpus fingerprints
    * (`doc_id`, `dhash` — e.g. the persisted output of
    * [[graft.multimodal.Multimodal.imageDHash]]) and keep pairs within
    * `maxHamming`. Work is proportional to candidates, not the stream. */
  def verifyCandidatesHamming(batch: Dataset[DupCandidate],
      corpusHashes: DataFrame, maxHamming: Int = 3): DataFrame =
    batch.toDF().select(col("doc_id"), col("prior_id")).distinct()
      .join(corpusHashes.select(col("doc_id"), col("dhash").as("ha")), "doc_id")
      .join(corpusHashes.select(col("doc_id").as("prior_id"),
        col("dhash").as("hb")), "prior_id")
      .withColumn("hamming", expr("bit_count(ha ^ hb)").cast("long"))
      .where(col("hamming") <= maxHamming)
      .select(col("doc_id"), col("prior_id"), col("hamming"))

  /** The verify-few tail of the streaming pipeline: per micro-batch, join
    * the (tiny) candidate set back to the corpus and keep pairs whose TRUE
    * shingle Jaccard clears `threshold`. `corpus` is the static (or
    * snapshot) document table — only candidate rows are rejoined, so the
    * expensive set-intersection work is proportional to candidates, not
    * to the stream. Returns verified pairs collapsed to one row per pair. */
  def verifyCandidates(batch: Dataset[DupCandidate], corpus: DataFrame,
      idCol: String, textCol: String, threshold: Double): DataFrame = {
    import graft.operators.Dedup.{shinglesExpr, wordsExpr}
    val sh = corpus.select(col(idCol).cast("long").as("id"),
      expr(shinglesExpr(wordsExpr(textCol))).as("sh"))
    batch.toDF().select(col("doc_id"), col("prior_id")).distinct()
      .join(sh.withColumnRenamed("sh", "sh_a"), col("doc_id") === col("id")).drop("id")
      .join(sh.withColumnRenamed("sh", "sh_b"), col("prior_id") === col("id")).drop("id")
      .select(col("doc_id"), col("prior_id"),
        expr("""round(size(array_intersect(sh_a, sh_b)) /
               |      CAST(size(array_union(sh_a, sh_b)) AS DOUBLE), 4)""".stripMargin)
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }
}
