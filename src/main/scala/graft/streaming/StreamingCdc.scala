package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Cdc

/** Streamed content-defined chunking — the incremental half of
  * [[graft.operators.Cdc]]: documents arrive in micro-batches, each
  * batch chunks MAP-SIDE (chunk boundaries are content-defined, so a
  * document chunks identically whenever it arrives — no cross-batch
  * state is needed to chunk), and duplication verdicts merge on read.
  *
  * Artifacts under `base` (append-only, batch-proportional):
  *  - `inst` (doc_id, chunk_idx, chunk_hash, n_words): chunk instances;
  *  - `firsts` (chunk_hash, fpack): per-batch CANDIDATE minima of the
  *    packed `(doc_id·2^20 + chunk_idx)` first-occurrence key.
  *
  * Order independence is structural: the batch rule marks an instance
  * duplicated iff its pack exceeds the GLOBAL min pack of its hash,
  * and the read-side `min(fpack) GROUP BY chunk_hash` over appended
  * candidates IS that global min whatever order batches landed — no
  * demotion writes needed (unlike the keeper-text folds, the verdict
  * here is derived at read time, not stored). Replays no-op via the
  * instance anti-join.
  *
  * Scale notes (100 TB): a fold shuffles only the batch (per-doc
  * windows + the per-batch hash fold); the read-side min is
  * map-side-combinable over 16-byte rows; verdict assembly is ONE
  * equi-join on chunk_hash. `firsts` stays delta-sized per fold and is
  * compactable by rewriting it to its groupBy-min (the ER compaction
  * discipline), which this toy scale never needs.
  */
object StreamingCdc {

  private val instSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("chunk_idx", LongType),
    StructField("chunk_hash", LongType),
    StructField("n_words", LongType)))
  private val firstSchema = StructType(Seq(
    StructField("chunk_hash", LongType), StructField("fpack", LongType)))

  private def instPath(base: String) = s"$base/inst"
  private def firstsPath(base: String) = s"$base/firsts"

  /** Wipe the artifact directory (fresh run). */
  def init(spark: SparkSession, base: String): Unit = {
    FoldStore.fs(spark, base).delete(new org.apache.hadoop.fs.Path(base), true)
    ()
  }

  private def readOr(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    val fs = FoldStore.fs(spark, path)
    if (FoldStore.exists(fs, new org.apache.hadoop.fs.Path(path)))
      spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Fold one micro-batch of documents `(idCol, textCol)`. */
  def fold(spark: SparkSession, base: String, batch: DataFrame,
      idCol: String, textCol: String, mask: Long = 16L): Unit = {
    val seen = readOr(spark, instPath(base), instSchema)
      .select(col("doc_id")).distinct()
    val fresh = batch
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("t"))
      .join(seen, Seq("doc_id"), "left_anti")
    // chunk the batch alone: boundaries are content-defined, so the
    // instances equal what the batch operator computes for these docs
    val inst = Cdc.chunks(fresh, "doc_id", "t", mask).persist()
    try {
      inst.groupBy(col("chunk_hash"))
        .agg(min(col("doc_id") * lit(1L << 20) + col("chunk_idx"))
          .as("fpack"))
        .write.mode("append").parquet(firstsPath(base))
      inst.write.mode("append").parquet(instPath(base))
    } finally inst.unpersist()
  }

  /** Compact the `firsts` artifact to its merge-on-read result (one
    * row per chunk hash): the read-side `min GROUP BY chunk_hash` IS
    * the artifact's semantics, so rewriting it to that aggregate
    * changes nothing observable while collapsing one row per
    * (hash, batch) down to one per hash — the ER compaction
    * discipline. Single-writer contract (folds are sequential); the
    * rewrite stages to a sibling directory and swaps, so a crash
    * leaves either the old or the new artifact, never a torn one. */
  def compactFirsts(spark: SparkSession, base: String): Unit = {
    val fs = FoldStore.fs(spark, base)
    val cur = new org.apache.hadoop.fs.Path(firstsPath(base))
    FoldStore.swap(fs, cur) { tmp =>
      readOr(spark, firstsPath(base), firstSchema)
        .groupBy(col("chunk_hash")).agg(min(col("fpack")).as("fpack"))
        .write.mode("overwrite").parquet(tmp.toString)
    }
  }

  /** Merge-on-read chunk instances with global first-occurrence
    * verdicts — the batch [[graft.operators.Cdc.chunkInstances]] output
    * over everything seen so far. */
  def instances(spark: SparkSession, base: String): DataFrame = {
    val globalFirst = readOr(spark, firstsPath(base), firstSchema)
      .groupBy(col("chunk_hash")).agg(min(col("fpack")).as("fpack"))
    readOr(spark, instPath(base), instSchema)
      .join(globalFirst, Seq("chunk_hash"))
      .select(col("doc_id"), col("chunk_idx"), col("chunk_hash"),
        col("n_words"),
        (col("doc_id") * lit(1L << 20) + col("chunk_idx") =!=
          col("fpack")).cast("long").as("is_dup"))
  }

  /** The batch [[graft.operators.Cdc.dedupReport]] shape over
    * everything seen so far. */
  def dedupReport(spark: SparkSession, base: String): DataFrame =
    instances(spark, base)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_chunks"),
        sum(col("n_words")).cast("long").as("n_words"),
        sum(col("is_dup")).cast("long").as("dup_chunks"),
        sum(col("is_dup") * col("n_words")).cast("long").as("dup_words"))
      .select(col("doc_id"), col("n_chunks"), col("n_words"),
        col("dup_chunks"), col("dup_words"),
        expr("dup_words * 1000000L div n_words").as("dup_ppm"))
}
