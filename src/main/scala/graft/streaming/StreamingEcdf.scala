package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streamed ECDF quantile normalization — the incremental half of
  * [[graft.operators.Calibration.ecdfNormalize]]: per-group score
  * distributions accumulate as documents arrive, and any batch can be
  * mapped onto the CURRENT within-group quantile scale (the
  * cross-domain score equalizer, kept live).
  *
  * The decomposition rides the batch operator's own split: the
  * `(group, bin)` count relation is the only corpus-facing stage and
  * its counts are ADDITIVE — each fold appends one batch-sized delta;
  * the cumulative window and the ppm division rerun READ-SIDE on the
  * merged (groups × bins)-sized relation. Normalizing the union of
  * everything folded therefore equals the batch `ecdfNormalize`
  * VERBATIM for any split and arrival order (q_quantile_norm_stream
  * shares the batch oracle). The deltas live in one [[AdditiveFold]]. */
object StreamingEcdf {

  private val gbins = AdditiveFold("gbins",
    Seq("group" -> StringType, "bin" -> LongType), Seq("cnt"))

  /** Wipe the fold state (fresh run). */
  def init(spark: SparkSession, base: String): Unit =
    gbins.init(spark, base)

  /** `(extra…, group, score, bin)` under the batch sign-safe binning. */
  private def binned(rows: DataFrame, groupCol: String,
      scoreCol: String, binWidth: Long, extra: Column*): DataFrame = {
    require(binWidth >= 1, s"binWidth must be positive (got $binWidth)")
    rows.select(extra :+ col(groupCol).cast("string").as("group") :+
        col(scoreCol).cast("long").as("score"): _*)
      .withColumn("bin", expr(
        s"""(CASE WHEN score < 0 THEN -1L ELSE 1L END)
           | * (abs(score) div ${binWidth}L)""".stripMargin))
  }

  /** Fold micro-batch `batchId`: (group, bin)-count it (the batch
    * stage) and stage the additive delta. */
  def fold(spark: SparkSession, base: String, rows: DataFrame,
      groupCol: String, scoreCol: String, binWidth: Long,
      batchId: Long): Unit =
    gbins.fold(spark, base, binned(rows, groupCol, scoreCol, binWidth)
      .groupBy(col("group"), col("bin"))
      .agg(count(lit(1)).cast("long").as("cnt")), batchId)

  /** Merge the staged deltas into one ([[AdditiveFold.compact]]). */
  def compact(spark: SparkSession, base: String): Unit =
    gbins.compact(spark, base)

  /** Map `rows` onto the CURRENT within-group quantile scale — the
    * batch [[graft.operators.Calibration.ecdfNormalize]] output shape
    * `(id, group, score, bin, n_grp, ecdf_ppm)` (rows whose (group,
    * bin) was never folded drop, exactly like the batch inner join —
    * fold-then-normalize callers never hit that edge). */
  def normalize(spark: SparkSession, base: String, rows: DataFrame,
      idCol: String, groupCol: String, scoreCol: String,
      binWidth: Long): DataFrame = {
    // two-phase per-group cumulation (r14, the batch ecdfNormalize
    // fix): Window.partitionBy(group) sorts each whole group's bins
    // in ONE task — a straggler for any high-cardinality group
    val hist = gbins.merged(spark, base)
    val cum = graft.operators.Packing.cumSumWithinGroups(hist,
        "group", "bin", "cnt", cumCol = "__cum", totalCol = Some("n_grp"))
      .select(col("group"), col("bin"), col("n_grp"),
        expr("__cum * 1000000L div n_grp").as("ecdf_ppm"))
    binned(rows, groupCol, scoreCol, binWidth,
        col(idCol).cast("long").as("id"))
      .join(cum, Seq("group", "bin"))
      .select(col("id"), col("group"), col("score"), col("bin"),
        col("n_grp"), col("ecdf_ppm"))
  }
}
