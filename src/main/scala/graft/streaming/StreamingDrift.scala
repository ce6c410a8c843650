package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streamed drift monitor — the incremental half of
  * [[graft.operators.Profiler.categoryDrift]]/`numericDrift`: the
  * production shape is a LIVE ingest stream monitored against a fixed
  * reference corpus ("has the source mix shifted since we trained?"),
  * so the live side's category/bin histogram must stay current without
  * rescanning everything seen.
  *
  * The decomposition rides the batch operator's own split: the
  * category-count relation is the only corpus-facing stage and its
  * counts are ADDITIVE, so each fold appends one batch-sized
  * (categories-row) delta; the share/TV arithmetic reruns READ-SIDE on
  * the merged tiny relation against the reference's counts. The report
  * after any prefix of folds equals the batch operator over everything
  * seen VERBATIM, for any split and arrival order
  * (q_category_drift_stream / q_numeric_drift_stream share the batch
  * oracles). The deltas live in one [[AdditiveFold]]. */
object StreamingDrift {

  private val cats = AdditiveFold("cats",
    Seq("category" -> StringType), Seq("cnt"))

  /** Wipe the fold state (fresh run). */
  def init(spark: SparkSession, base: String): Unit =
    cats.init(spark, base)

  /** Fold micro-batch `batchId` of the LIVE side: category-count it
    * (the batch stage) and stage the additive delta. */
  def fold(spark: SparkSession, base: String, rows: DataFrame,
      catCol: String, batchId: Long): Unit =
    cats.fold(spark, base,
      graft.operators.Profiler.categoryCounts(rows, catCol), batchId)

  /** [[fold]] for the NUMERIC monitor: sign-safe-bin the value column
    * first (the batch `numericDrift` binning, bin id stringified into
    * the shared category artifact). */
  def foldNumeric(spark: SparkSession, base: String, rows: DataFrame,
      valueCol: String, binWidth: Long, batchId: Long): Unit =
    fold(spark, base,
      rows.select(expr(graft.operators.Profiler
        .driftBinExpr(valueCol, binWidth)).as("category")),
      "category", batchId)

  /** Merge the staged deltas into one ([[AdditiveFold.compact]]). */
  def compact(spark: SparkSession, base: String): Unit =
    cats.compact(spark, base)

  /** The always-current categorical report: the batch
    * [[graft.operators.Profiler.categoryDrift]] output shape with
    * `reference` as side A and everything folded so far as side B. */
  def report(spark: SparkSession, base: String, reference: DataFrame,
      catCol: String): DataFrame =
    graft.operators.Profiler.categoryDriftFromCounts(
      graft.operators.Profiler.categoryCounts(reference, catCol),
      cats.merged(spark, base))

  /** The PSI sibling — the batch
    * [[graft.operators.Profiler.psiDrift]] output shape against the
    * folded live histogram (same artifact, different read-side
    * arithmetic: the monitors compose over one fold stream). */
  def reportPsi(spark: SparkSession, base: String, reference: DataFrame,
      catCol: String): DataFrame =
    graft.operators.Profiler.psiFromCounts(
      graft.operators.Profiler.categoryCounts(reference, catCol),
      cats.merged(spark, base))

  /** The numeric sibling — the batch `numericDrift` output shape
    * (`bin` BIGINT) against the folded live histogram. */
  def reportNumeric(spark: SparkSession, base: String,
      reference: DataFrame, valueCol: String,
      binWidth: Long): DataFrame =
    graft.operators.Profiler.categoryDriftFromCounts(
      graft.operators.Profiler.categoryCounts(
        reference.select(expr(graft.operators.Profiler
          .driftBinExpr(valueCol, binWidth)).as("category")),
        "category"),
      cats.merged(spark, base))
      .withColumnRenamed("category", "bin")
      .withColumn("bin", col("bin").cast("long"))
}
