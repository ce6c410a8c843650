package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streamed DSIR — the incremental half of
  * [[graft.operators.Dsir.dsirWeights]]: the raw corpus arrives
  * continuously (the target exemplar sample is FIXED — it is the
  * definition of the domain being selected for), and the importance
  * weights stay current over everything seen, so a live ingest can be
  * scored against an always-up-to-date background distribution.
  *
  * The decomposition rides the batch operator's own split: the
  * corpus-facing stage is ONE hashed-feature count relation
  * `(b, cnt)` whose counts are ADDITIVE — each fold appends one
  * ≤ m-row delta; the weight arithmetic (add-one smoothing, the
  * single-ln micro-nat cell weights) reruns READ-side against the
  * fixed target counts, and scoring any slice is one broadcast join.
  * Scoring the union of everything folded therefore equals the batch
  * `dsirWeights` VERBATIM for any split and arrival order
  * (q_dsir_weights_stream shares the batch oracle). The deltas live
  * in one [[AdditiveFold]]. */
object StreamingDsir {

  private val cells = AdditiveFold("cells",
    Seq("b" -> LongType), Seq("cnt"))

  /** Wipe the fold state (fresh run). */
  def init(spark: SparkSession, base: String): Unit =
    cells.init(spark, base)

  /** Fold micro-batch `batchId` of raw documents: hashed-feature counts
    * (the batch stage) staged as an additive ≤ m-row delta. */
  def fold(spark: SparkSession, base: String, rows: DataFrame,
      idCol: String, textCol: String, batchId: Long,
      buckets: Int = 1024): Unit =
    cells.fold(spark, base, graft.operators.Dsir
      .featureCells(rows, idCol, textCol, buckets)
      .groupBy(col("b")).agg(count(lit(1)).cast("long").as("cnt")),
      batchId)

  /** Merge the staged deltas into one ([[AdditiveFold.compact]]). */
  def compact(spark: SparkSession, base: String): Unit =
    cells.compact(spark, base)

  /** Score `rows` against everything folded so far — the batch
    * [[graft.operators.Dsir.dsirWeights]] output shape
    * `(doc_id, n_feats, logratio_micro, kept)`. The q side is the
    * merged fold state; `target` is the fixed exemplar sample. */
  def weights(spark: SparkSession, base: String, rows: DataFrame,
      target: DataFrame, idCol: String, textCol: String,
      buckets: Int = 1024): DataFrame =
    graft.operators.Dsir.scoreAgainstCounts(
      rows, target,
      cells.merged(spark, base).select(col("b"), col("cnt").as("cq")),
      idCol, textCol, buckets)
}
