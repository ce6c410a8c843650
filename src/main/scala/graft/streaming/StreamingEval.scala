package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Streamed classifier scorecard — the incremental half of
  * [[graft.operators.Perceptron.classifierEval]]: labeled prediction
  * batches arrive continuously and the per-class P/R/F1 stays current
  * (the live dashboard of a quality-filter rollout).
  *
  * The decomposition rides the batch operator's own split: the
  * confusion relation `(y, p, n)` is the only corpus-facing stage and
  * its counts are ADDITIVE, so each fold appends one batch-sized
  * (classes²-row) delta; the scorecard arithmetic reruns READ-SIDE on
  * the merged tiny relation. The scorecard after any prefix of folds
  * equals the batch operator over everything seen VERBATIM, for any
  * split and arrival order (q_classifier_eval_stream shares the batch
  * oracle). The deltas live in one [[AdditiveFold]]. */
object StreamingEval {

  private val confusion = AdditiveFold("confusion",
    Seq("y" -> LongType, "p" -> LongType), Seq("n"))

  /** Wipe the fold state (fresh run). */
  def init(spark: SparkSession, base: String): Unit =
    confusion.init(spark, base)

  /** Fold micro-batch `batchId` of predictions: confusion-count it (the
    * batch stage) and stage the additive delta. */
  def fold(spark: SparkSession, base: String, pred: DataFrame,
      labelCol: String, predCol: String, batchId: Long): Unit =
    confusion.fold(spark, base, graft.operators.Perceptron
      .confusion(pred, labelCol, predCol), batchId)

  /** Merge the staged deltas into one ([[AdditiveFold.compact]]). */
  def compact(spark: SparkSession, base: String): Unit =
    confusion.compact(spark, base)

  /** The always-current scorecard — the batch
    * [[graft.operators.Perceptron.classifierEval]] output shape over
    * everything seen. */
  def scorecard(spark: SparkSession, base: String): DataFrame =
    graft.operators.Perceptron.evalFromConfusion(
      confusion.merged(spark, base))
}
