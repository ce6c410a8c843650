package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Build-once, serve-thereafter parquet artifacts keyed on a corpus
  * fingerprint — the production pattern for anything TRAINED on a
  * corpus but SERVED by every later run (tokenizer vocabularies,
  * cluster assignments): the trainer runs when the fingerprinted
  * artifact is absent and never again, so a pipeline invoked per
  * batch/bench pass pays the training cost once, not per invocation
  * (r13 verdict: the inline 2-round unigram trainer was ~15–20 s of
  * EVERY bench pass of the clean→tokenize→pack capstone, pure rerun
  * waste — the protocol under test never needed it retrained).
  *
  * Staleness safety (the embclusters discipline,
  * [[graft.queries]]): the artifact path embeds
  * `bit_xor(xxhash64(fingerprint cols))` over the SOURCE relation, so
  * a regenerated dataset at the same location changes the path and
  * retrains rather than silently serving a stale model. The
  * fingerprint is one cheap agg scan of the raw source per invocation
  * (NOT of the expensive derived corpus the builder trains on); a
  * warehouse-scale deployment swaps it for the source table's
  * snapshot/version id.
  *
  * Commit safety: served only behind parquet's `_SUCCESS` marker — a
  * build that died mid-write is rebuilt, never half-read. Single
  * writer per path assumed (the fold-artifact contract).
  */
object ArtifactServe {

  /** Return the fingerprinted artifact path for `pathPrefix`, building
    * it from `build` first iff absent. `fpExpr` is a comma-separated
    * column list over `fpSource` (e.g. `"doc_id, text"`).
    *
    * Lifetime: callers pass a prefix under
    * [[graft.GraftCatalog.artifactPath]], Spark's per-application temp
    * dir, so an artifact is built at most once per corpus in a run,
    * served for the rest of that run, and deleted with the context when
    * the run stops. Nothing derived from a corpus carries over from one
    * run to the next. A warehouse deployment that should serve across
    * runs passes a durable prefix and keys on the source table's
    * snapshot/version id instead. */
  def ensure(spark: SparkSession, fpSource: DataFrame, fpExpr: String,
      pathPrefix: String)(build: => DataFrame): String = {
    val fp = java.lang.Long.toHexString(
      fpSource.agg(expr(s"bit_xor(xxhash64($fpExpr))")).head.getLong(0))
    val path = s"${pathPrefix}_$fp"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_SUCCESS")))
      build.write.mode("overwrite").parquet(path)
    path
  }
}
