package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Streamed isotonic calibration — the incremental half of
  * [[graft.operators.Calibration]]: scored (score, label) batches
  * arrive continuously and the calibration map stays current.
  *
  * The decomposition rides the batch operator's own split: binning +
  * counting ([[graft.operators.Calibration.binCounts]]) is the only
  * corpus-facing stage and its counts are ADDITIVE, so each fold
  * appends one batch-sized (≤ 2·clamp rows) count delta; the PAV fit
  * ([[graft.operators.Calibration.isotonicFit]]) reruns READ-SIDE on
  * the merged ≤ 2·clamp-row relation — model state is never stored,
  * the [[StreamingPreference]] counts-not-models discipline. The
  * calibrated view after any prefix of folds therefore equals the
  * batch `isotonicBins` over everything seen VERBATIM, for any batch
  * split and any arrival order (q_isotonic_stream shares the batch
  * oracle). The deltas live in one [[AdditiveFold]].
  */
object StreamingCalibration {

  private val bins = AdditiveFold("bins",
    Seq("bin" -> LongType), Seq("tot", "pos"))

  /** Wipe the fold state (fresh run). */
  def init(spark: SparkSession, base: String): Unit =
    bins.init(spark, base)

  /** Fold micro-batch `batchId` of scored rows: bin + count (the batch
    * stage) and stage the additive delta. */
  def fold(spark: SparkSession, base: String, scored: DataFrame,
      scoreCol: String, posCol: String, batchId: Long,
      binWidth: Long = 16L, clamp: Long = 64L): Unit =
    bins.fold(spark, base, graft.operators.Calibration
      .binCounts(scored, scoreCol, posCol, binWidth, clamp), batchId)

  /** Merge the staged deltas into one ([[AdditiveFold.compact]]; call
    * from a single-writer fold loop every N folds). */
  def compactBins(spark: SparkSession, base: String): Unit =
    bins.compact(spark, base)

  /** The always-current calibration map — the batch
    * [[graft.operators.Calibration.isotonicBins]] output shape
    * `(bin, n, pos, praw_ppb, iso_ppb)` over everything seen. */
  def calibrated(spark: SparkSession, base: String): DataFrame =
    graft.operators.Calibration.isotonicFit(bins.merged(spark, base))
}
