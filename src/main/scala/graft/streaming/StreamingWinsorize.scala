package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streamed winsorization — the incremental half of
  * [[graft.operators.Profiler.winsorize]]: observations arrive
  * continuously and the exact p-lo/p-hi rank cuts stay current, so a
  * live scoring path can clamp against thresholds computed over
  * EVERYTHING seen rather than a stale snapshot.
  *
  * The decomposition is [[StreamingConformal]]'s, applied to both
  * tails: the exact order statistic needs the observation MULTISET,
  * but a value HISTOGRAM `(v, cnt)` carries the same information and
  * its counts are ADDITIVE — each fold appends one batch-sized delta,
  * and the read side recovers the exact `ceil(n·ppm/10⁶)`-th smallest
  * values (clamped to `[1, n]`, the batch rule) as the first
  * histogram values whose running count reaches each k. The rank
  * tiebreak by id in the batch operator cannot change a cut VALUE, so
  * the streamed clamp equals the batch `winsorize` over everything
  * seen VERBATIM for any split and arrival order (q_winsorize_stream
  * shares the batch oracle).
  *
  * Values may be any numeric type (stored as DOUBLE — grouping on
  * exact value equality, the source values being what they are; NaN
  * is out of contract, as in the batch operator's non-null rule).
  * The deltas live in one [[AdditiveFold]] per fold kind. */
object StreamingWinsorize {

  private val vhist = AdditiveFold("vhist",
    Seq("v" -> DoubleType), Seq("cnt"))
  private val gvhist = AdditiveFold("gvhist",
    Seq("group" -> StringType, "v" -> DoubleType), Seq("cnt"))

  /** Wipe the global and per-group fold state (fresh run). */
  def init(spark: SparkSession, base: String): Unit = {
    vhist.init(spark, base)
    gvhist.init(spark, base)
  }

  /** Fold micro-batch `batchId`: histogram its non-null values and
    * stage the additive delta. */
  def fold(spark: SparkSession, base: String, rows: DataFrame,
      valueCol: String, batchId: Long): Unit =
    vhist.fold(spark, base, rows
      .select(col(valueCol).cast("double").as("v"))
      .where(col("v").isNotNull)
      .groupBy(col("v"))
      .agg(count(lit(1)).cast("long").as("cnt")), batchId)

  /** Merge the staged deltas into one ([[AdditiveFold.compact]]). */
  def compact(spark: SparkSession, base: String): Unit =
    vhist.compact(spark, base)

  /** The always-current `(lo_cut, hi_cut, n)` — exact order
    * statistics over the merged histogram (batch k rule:
    * `clamp(ceil(n·ppm/10⁶), 1, n)`); a 0-row relation when nothing
    * has been folded. */
  def cuts(spark: SparkSession, base: String, loPpm: Long,
      hiPpm: Long): DataFrame = {
    require(loPpm >= 0 && hiPpm <= 1000000L && loPpm <= hiPpm,
      s"need 0 <= loPpm <= hiPpm <= 1e6 (got $loPpm, $hiPpm)")
    // two-phase cumulation (r14): values are raw DOUBLES, so the
    // histogram of a continuous column approximates the corpus and
    // an unpartitioned Window.orderBy would funnel it into ONE task
    val cum = graft.operators.Packing.cumSumOrdered(
      vhist.merged(spark, base),
      "v", "cnt", cumCol = "cum", totalCol = Some("n"))
    cum
      .where(col("n") > 0L)
      .withColumn("__klo", expr(
        s"greatest(least((n * ${loPpm}L + 999999L) div 1000000L, n), 1L)"))
      .withColumn("__khi", expr(
        s"greatest(least((n * ${hiPpm}L + 999999L) div 1000000L, n), 1L)"))
      .agg(min(when(col("cum") >= col("__klo"), col("v"))).as("lo_cut"),
        min(when(col("cum") >= col("__khi"), col("v"))).as("hi_cut"),
        max(col("n")).as("n"))
      .where(col("n").isNotNull)
  }

  /** Clamp `rows` against the current cuts — the batch
    * [[graft.operators.Profiler.winsorize]] output shape
    * `(id, value, lo_cut, hi_cut, winsorized, clipped)`. */
  def winsorized(spark: SparkSession, base: String, rows: DataFrame,
      idCol: String, valueCol: String, loPpm: Long,
      hiPpm: Long): DataFrame =
    rows.select(col(idCol).cast("long").as("id"),
        col(valueCol).as("value"))
      .where(col("value").isNotNull)
      .crossJoin(broadcast(cuts(spark, base, loPpm, hiPpm)))
      .select(col("id"), col("value"), col("lo_cut"), col("hi_cut"),
        least(greatest(col("value"), col("lo_cut")), col("hi_cut"))
          .as("winsorized"),
        (col("value") < col("lo_cut") || col("value") > col("hi_cut"))
          .cast("long").as("clipped"))

  // ------------------------- per-GROUP twin -------------------------
  // The streamed half of Profiler.winsorizeByGroup (r14 — the
  // {winsorize, conformal} × {global, per-group} × {batch, streamed}
  // matrix had these two streamed-grouped cells empty): the additive
  // histogram gains a group column (the StreamingEcdf fold shape), and
  // the read side is the batch per-group construction verbatim over
  // the merged (group, v, cnt) relation.

  /** [[fold]] with one histogram per group. */
  def foldByGroup(spark: SparkSession, base: String, rows: DataFrame,
      groupCol: String, valueCol: String, batchId: Long): Unit =
    gvhist.fold(spark, base, rows
      .select(col(groupCol).cast("string").as("group"),
        col(valueCol).cast("double").as("v"))
      .where(col("v").isNotNull)
      .groupBy(col("group"), col("v"))
      .agg(count(lit(1)).cast("long").as("cnt")), batchId)

  /** Merge the grouped deltas ([[AdditiveFold.compact]]). */
  def compactByGroup(spark: SparkSession, base: String): Unit =
    gvhist.compact(spark, base)

  /** The always-current per-group `(group, lo_cut, hi_cut)` — the
    * batch per-group k rule over the merged grouped histogram,
    * cumulated two-phase ([[graft.operators.Packing
    * .cumSumWithinGroups]] — a `Window.partitionBy(group)` would
    * still sort one high-cardinality group's continuous-double
    * histogram in a single task). */
  def cutsByGroup(spark: SparkSession, base: String, loPpm: Long,
      hiPpm: Long): DataFrame = {
    require(loPpm >= 0 && hiPpm <= 1000000L && loPpm <= hiPpm,
      s"need 0 <= loPpm <= hiPpm <= 1e6 (got $loPpm, $hiPpm)")
    graft.operators.Packing.cumSumWithinGroups(
        gvhist.merged(spark, base), "group", "v", "cnt",
        cumCol = "__cum", totalCol = Some("__n"))
      .withColumn("__klo", expr(
        s"greatest(least((__n * ${loPpm}L + 999999L) div 1000000L, __n), 1L)"))
      .withColumn("__khi", expr(
        s"greatest(least((__n * ${hiPpm}L + 999999L) div 1000000L, __n), 1L)"))
      .groupBy(col("group"))
      .agg(min(when(col("__cum") >= col("__klo"), col("v")))
          .as("lo_cut"),
        min(when(col("__cum") >= col("__khi"), col("v")))
          .as("hi_cut"))
  }

  /** Clamp `rows` against the current per-group cuts — the batch
    * [[graft.operators.Profiler.winsorizeByGroup]] output shape
    * `(id, group, value, lo_cut, hi_cut, winsorized, clipped)`; rows
    * of groups never folded drop, exactly like the batch inner
    * join (fold-then-clamp callers never hit that edge). */
  def winsorizedByGroup(spark: SparkSession, base: String,
      rows: DataFrame, idCol: String, groupCol: String,
      valueCol: String, loPpm: Long, hiPpm: Long): DataFrame =
    rows.select(col(idCol).cast("long").as("id"),
        col(groupCol).cast("string").as("group"),
        col(valueCol).as("value"))
      .where(col("value").isNotNull)
      .join(cutsByGroup(spark, base, loPpm, hiPpm), Seq("group"))
      .select(col("id"), col("group"), col("value"), col("lo_cut"),
        col("hi_cut"),
        least(greatest(col("value"), col("lo_cut")), col("hi_cut"))
          .as("winsorized"),
        (col("value") < col("lo_cut") || col("value") > col("hi_cut"))
          .cast("long").as("clipped"))
}
