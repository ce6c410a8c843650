package graft.streaming

import graft.SparkSpec
import graft.operators.Cdc
import org.apache.spark.sql.functions.col

/** Streamed CDC: merge-on-read first occurrence is order-independent. */
class StreamingCdcSpec extends SparkSpec {

  private def root(tag: String) = artifactPath(s"scdc_spec/$tag")

  private def doc(n: Int, tag: String) =
    (1 to n).map(i => s"$tag$i").mkString(" ")

  /** doc 2 copies doc 1; doc 3 shares doc 1's suffix behind a junk
    * prefix — cross-doc chunk duplication in both directions. */
  private def docs = {
    import spark.implicits._
    val s = doc(80, "s")
    Seq((1L, s), (2L, s), (3L, "j1 j2 j3 " + s)).toDF("doc_id", "text")
  }

  private def batchTruth: Set[(Long, Long, Long, Long, Long, Long)] = {
    import spark.implicits._
    Cdc.dedupReport(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
  }

  private def streamed(base: String,
      slices: Seq[Seq[Long]]): Set[(Long, Long, Long, Long, Long, Long)] = {
    import spark.implicits._
    StreamingCdc.init(spark, base)
    for (ids <- slices)
      StreamingCdc.fold(spark, base,
        docs.where(col("doc_id").isin(ids: _*)), "doc_id", "text")
    StreamingCdc.dedupReport(spark, base)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
  }

  test("ascending folds equal the batch report") {
    assert(streamed(root("asc"),
      Seq(Seq(1L), Seq(2L), Seq(3L))) === batchTruth)
  }

  test("descending arrival converges: the read-side min re-elects the " +
      "global first occurrence") {
    // doc 2 (the copy) arrives FIRST and its chunks are provisionally
    // original; when doc 1 lands, the merged min flips doc 2 to fully
    // duplicated without any demotion writes
    assert(streamed(root("desc"),
      Seq(Seq(3L), Seq(2L), Seq(1L))) === batchTruth)
  }

  test("compactFirsts collapses the artifact without changing verdicts") {
    import spark.implicits._
    val base = root("compact")
    val before = streamed(base, Seq(Seq(1L), Seq(2L), Seq(3L)))
    val rowsBefore = spark.read.parquet(s"$base/firsts").count()
    StreamingCdc.compactFirsts(spark, base)
    val rowsAfter = spark.read.parquet(s"$base/firsts").count()
    val hashes = spark.read.parquet(s"$base/firsts")
      .select("chunk_hash").distinct().count()
    assert(rowsAfter === hashes, "compacted artifact must be one row per hash")
    assert(rowsAfter <= rowsBefore)
    val after = StreamingCdc.dedupReport(spark, base)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(after === before && after === batchTruth)
    // and folds keep working after a compaction
    StreamingCdc.fold(spark, base,
      docs.where(col("doc_id") === 1L), "doc_id", "text")
    assert(StreamingCdc.dedupReport(spark, base)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet === before)
  }

  test("replayed batches are no-ops") {
    val base = root("replay")
    val got = streamed(base, Seq(Seq(1L), Seq(2L), Seq(3L)))
    StreamingCdc.fold(spark, base,
      docs.where(col("doc_id").isin(1L, 2L)), "doc_id", "text")
    import spark.implicits._
    val after = StreamingCdc.dedupReport(spark, base)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(after === got && got === batchTruth)
  }
}
