package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streamed split-conformal gate — the incremental half of
  * [[graft.operators.Calibration.conformalGate]]: labeled calibration
  * rows arrive continuously and the distribution-free keep threshold
  * stays current.
  *
  * The decomposition: the exact order statistic needs the calibration
  * MULTISET, but a value HISTOGRAM `(nonconf, cnt)` carries the same
  * information and its counts are ADDITIVE — so each fold appends one
  * batch-sized histogram delta, and the read side recovers the exact
  * `k = ceil((n+1)(1−α))`-th smallest value as the first histogram
  * value whose running count reaches `k` (a window over the
  * value-range-sized histogram, never the corpus). The gate after any
  * prefix of folds therefore equals the batch `conformalGate` over
  * everything seen VERBATIM, for any batch split and arrival order
  * (q_conformal_stream shares the batch oracle). The deltas live in
  * one [[AdditiveFold]] per fold kind. */
object StreamingConformal {

  private val hist = AdditiveFold("hist",
    Seq("nonconf" -> LongType), Seq("cnt"))
  private val ghist = AdditiveFold("ghist",
    Seq("group" -> StringType, "nonconf" -> LongType), Seq("cnt"))

  /** Wipe the global and per-group fold state (fresh run). */
  def init(spark: SparkSession, base: String): Unit = {
    hist.init(spark, base)
    ghist.init(spark, base)
  }

  /** Fold micro-batch `batchId`: histogram its CALIBRATION rows and
    * stage the additive delta. */
  def fold(spark: SparkSession, base: String, rows: DataFrame,
      nonconfCol: String, calCol: String, batchId: Long): Unit =
    hist.fold(spark, base, rows
      .where(col(calCol).cast("boolean"))
      .select(col(nonconfCol).cast("long").as("nonconf"))
      .groupBy(col("nonconf"))
      .agg(count(lit(1)).cast("long").as("cnt")), batchId)

  /** Merge the staged deltas into one ([[AdditiveFold.compact]]). */
  def compact(spark: SparkSession, base: String): Unit =
    hist.compact(spark, base)

  /** The always-current `(thr, n_cal)` — exact order statistic over
    * the merged histogram; `+∞` (fail-open) when
    * `k = ceil((n+1)(1−α)) > n` or nothing has been seen. */
  def threshold(spark: SparkSession, base: String,
      alphaPpm: Long): DataFrame = {
    require(alphaPpm >= 0 && alphaPpm < 1000000L,
      s"alphaPpm must be in [0, 1e6) (got $alphaPpm)")
    // two-phase cumulation (r14): nonconformities are raw BIGINTs, so
    // a continuous-valued score makes the histogram corpus-sized and
    // an unpartitioned Window.orderBy would funnel it into ONE task
    val cum = graft.operators.Packing.cumSumOrdered(
      hist.merged(spark, base),
      "nonconf", "cnt", cumCol = "cum", totalCol = Some("n_cal"))
    val keepPpm = 1000000L - alphaPpm
    // one aggregate: thr = first value whose running count reaches k
    // (null when k > n or the histogram is empty → fail OPEN)
    cum
      .withColumn("__k", expr(
        s"((n_cal + 1L) * ${keepPpm}L + 999999L) div 1000000L"))
      .agg(min(when(col("cum") >= col("__k"), col("nonconf")))
          .as("__thr"),
        max(col("n_cal")).as("__n"))
      .select(coalesce(col("__thr"), lit(Long.MaxValue)).as("thr"),
        coalesce(col("__n"), lit(0L)).as("n_cal"))
  }

  /** Gate `rows` with the current threshold — the batch
    * [[graft.operators.Calibration.conformalGate]] output shape
    * `(id, nonconf, is_cal, thr, n_cal, kept)`. */
  def gate(spark: SparkSession, base: String, rows: DataFrame,
      idCol: String, nonconfCol: String, calCol: String,
      alphaPpm: Long): DataFrame = {
    val thr = broadcast(threshold(spark, base, alphaPpm))
    rows.select(col(idCol).cast("long").as("id"),
        col(nonconfCol).cast("long").as("nonconf"),
        col(calCol).cast("boolean").as("is_cal"))
      .crossJoin(thr)
      .select(col("id"), col("nonconf"), col("is_cal"), col("thr"),
        col("n_cal"), (col("nonconf") <= col("thr")).as("kept"))
  }

  // ------------------------- per-GROUP twin -------------------------
  // The streamed half of Calibration.conformalGateByGroup (r14 — the
  // last empty cell of the {winsorize, conformal} × {global,
  // per-group} × {batch, streamed} matrix): the additive calibration
  // histogram gains a group column, the read side reruns the batch
  // per-group order statistic on the merged relation, and groups with
  // no folded calibration rows FAIL OPEN exactly like the batch left
  // join.

  /** [[fold]] with one calibration histogram per group. */
  def foldByGroup(spark: SparkSession, base: String, rows: DataFrame,
      groupCol: String, nonconfCol: String, calCol: String,
      batchId: Long): Unit =
    ghist.fold(spark, base, rows
      .where(col(calCol).cast("boolean"))
      .select(col(groupCol).cast("string").as("group"),
        col(nonconfCol).cast("long").as("nonconf"))
      .groupBy(col("group"), col("nonconf"))
      .agg(count(lit(1)).cast("long").as("cnt")), batchId)

  /** Merge the grouped deltas ([[AdditiveFold.compact]]). */
  def compactByGroup(spark: SparkSession, base: String): Unit =
    ghist.compact(spark, base)

  /** The always-current per-group `(group, thr, n_cal)` — the batch
    * `k = ceil((n+1)(1−α))` rule per group over the merged grouped
    * histogram, cumulated two-phase
    * ([[graft.operators.Packing.cumSumWithinGroups]]). */
  def thresholdByGroup(spark: SparkSession, base: String,
      alphaPpm: Long): DataFrame = {
    require(alphaPpm >= 0 && alphaPpm < 1000000L,
      s"alphaPpm must be in [0, 1e6) (got $alphaPpm)")
    val keepPpm = 1000000L - alphaPpm
    graft.operators.Packing.cumSumWithinGroups(
        ghist.merged(spark, base), "group", "nonconf", "cnt",
        cumCol = "__cum", totalCol = Some("n_cal"))
      .withColumn("__k", expr(
        s"((n_cal + 1L) * ${keepPpm}L + 999999L) div 1000000L"))
      .groupBy(col("group"))
      .agg(coalesce(min(when(col("__cum") >= col("__k"),
          col("nonconf"))), lit(Long.MaxValue)).as("thr"),
        max(col("n_cal")).as("n_cal"))
  }

  /** Gate `rows` per group — the batch
    * [[graft.operators.Calibration.conformalGateByGroup]] output
    * shape `(id, group, nonconf, is_cal, thr, n_cal, kept)`; groups
    * never folded fail OPEN (left join + `+∞`), exactly the batch
    * rule. */
  def gateByGroup(spark: SparkSession, base: String, rows: DataFrame,
      idCol: String, groupCol: String, nonconfCol: String,
      calCol: String, alphaPpm: Long): DataFrame =
    rows.select(col(idCol).cast("long").as("id"),
        col(groupCol).cast("string").as("group"),
        col(nonconfCol).cast("long").as("nonconf"),
        col(calCol).cast("boolean").as("is_cal"))
      .join(thresholdByGroup(spark, base, alphaPpm), Seq("group"),
        "left")
      .select(col("id"), col("group"), col("nonconf"), col("is_cal"),
        coalesce(col("thr"), lit(Long.MaxValue)).as("thr"),
        coalesce(col("n_cal"), lit(0L)).as("n_cal"),
        (col("nonconf") <=
          coalesce(col("thr"), lit(Long.MaxValue))).as("kept"))
}
