package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One additive fold artifact: a relation of `keys` and `sums` whose
  * state is the key-wise SUM of every batch delta folded into it. The
  * streamed operators ([[StreamingEval]], [[StreamingCalibration]],
  * [[StreamingDsir]], [[StreamingMixing]], [[StreamingEcdf]],
  * [[StreamingDrift]], [[StreamingConformal]], [[StreamingWinsorize]])
  * each build a batch's count delta and rerun their read-side
  * arithmetic on [[merged]]; this class owns everything in between.
  *
  * Layout: `<base>/<dir>/b_<batchId>` per staged delta; after a
  * [[compact]], the merged state sits directly under `<base>/<dir>`
  * next to the deltas staged since.
  *
  * Replay/crash contract: [[fold]] writes its delta with overwrite to
  * the directory named by the batch id, so replaying a batch with the
  * same id (the at-least-once `foreachBatch` redelivery, which hands
  * back the same epoch id) rewrites that directory and counts once,
  * while two distinct ids always add, even when their content is
  * byte-identical. Idempotence covers the folds staged since the last
  * [[compact]]: compaction merges the staged deltas into the base
  * state and forgets their ids, so a fold must not be replayed across
  * a compaction (single-writer fold loops compact only after the batch
  * commits). [[compact]] runs the crash-safe [[FoldStore.swap]].
  *
  * @param dir  artifact subdirectory under the caller's base
  * @param keys grouping columns and their types
  * @param sums BIGINT count columns summed per key */
final case class AdditiveFold(dir: String, keys: Seq[(String, DataType)],
    sums: Seq[String]) {

  private val schema = StructType(
    keys.map { case (k, t) => StructField(k, t) } ++
      sums.map(StructField(_, LongType)))

  private def root(base: String) = s"$base/$dir"

  /** Drop this fold's state, staged deltas and swap leftovers (fresh
    * run). */
  def init(spark: SparkSession, base: String): Unit =
    FoldStore.clear(FoldStore.fs(spark, base), new Path(root(base)))

  /** Stage one batch's delta under its batch id (see the replay
    * contract above). An empty delta adds nothing. */
  def fold(spark: SparkSession, base: String, delta: DataFrame,
      batchId: Long): Unit =
    delta.select(schema.fields.map(f => col(f.name).cast(f.dataType))
        .toIndexedSeq: _*)
      .write.mode("overwrite").parquet(s"${root(base)}/b_$batchId")

  /** Merge the staged deltas into one state ([[FoldStore.swap]]). */
  def compact(spark: SparkSession, base: String): Unit =
    FoldStore.swap(FoldStore.fs(spark, base), new Path(root(base))) {
      tmp => merged(spark, base).write.mode("overwrite")
        .parquet(tmp.toString)
    }

  /** The key-wise sums over everything folded; an empty relation of
    * the fold schema before the first fold. */
  def merged(spark: SparkSession, base: String): DataFrame = {
    val path = new Path(root(base))
    if (!FoldStore.exists(FoldStore.fs(spark, base), path))
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        schema)
    val totals = sums.map(c => sum(col(c)).cast("long").as(c))
    spark.read.schema(schema)
      .option("recursiveFileLookup", "true").parquet(path.toString)
      .groupBy(keys.map { case (k, _) => col(k) }: _*)
      .agg(totals.head, totals.tail: _*)
  }
}
