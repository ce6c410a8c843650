package graft.streaming

import graft.SparkSpec
import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Streamed SemDeDup: artifact-served quantizer + merge-on-read
  * verdicts must equal the batch operator for ANY arrival order. */
class StreamingSemDedupSpec extends SparkSpec {

  /** The batch spec's corpus: centers 1/4/3, clusters {1,2},{4},{3,5},
    * near-dups (2 of 1) and (5 of 3) at cos ≈ 0.9939. */
  private def vecs: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0f, 1f)), (4L, Array(-1f, 0f)),
      (5L, Array(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
  }

  private def batchTruth: Set[(Long, Long, Boolean)] = {
    import spark.implicits._
    Similarity.semDedup(vecs, "vec_id", "embedding", 3, 0.9)
      .as[(Long, Long, Boolean)].collect().toSet
  }

  private def foldSlices(base: String, slices: Seq[Seq[Long]]): Unit = {
    StreamingSemDedup.init(spark, base)
    StreamingSemDedup.serveCenters(spark, base, vecs,
      "vec_id", "embedding", 3)
    for (ids <- slices)
      StreamingSemDedup.fold(spark, base,
        vecs.where(col("vec_id").isin(ids: _*)),
        "vec_id", "embedding", threshold = 0.9)
  }

  private def streamed(base: String): Set[(Long, Long, Boolean)] = {
    import spark.implicits._
    StreamingSemDedup.verdicts(spark, base)
      .as[(Long, Long, Boolean)].collect().toSet
  }

  test("ascending folds equal the batch verdicts") {
    val base = artifactPath("ssd_spec/asc")
    foldSlices(base, Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L)))
    assert(streamed(base) === batchTruth)
  }

  test("descending arrival converges too: late smaller ids demote " +
      "stored members") {
    val base = artifactPath("ssd_spec/desc")
    // 5 and 2 arrive BEFORE their smaller near-dup partners 3 and 1 —
    // the demotion appends must fire for the verdicts to match batch
    foldSlices(base, Seq(Seq(5L, 4L), Seq(2L, 3L), Seq(1L)))
    assert(streamed(base) === batchTruth)
  }

  test("replayed batches are no-ops") {
    val base = artifactPath("ssd_spec/replay")
    foldSlices(base, Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L)))
    val before = streamed(base)
    StreamingSemDedup.fold(spark, base,
      vecs.where(col("vec_id").isin(1L, 2L, 3L)),
      "vec_id", "embedding", threshold = 0.9)
    assert(streamed(base) === before)
    assert(streamed(base).size === 5)
  }
}
