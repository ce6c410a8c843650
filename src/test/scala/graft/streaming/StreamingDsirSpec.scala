package graft.streaming

import graft.SparkSpec

/** Streamed DSIR: folded corpus cell counts == batch weights for any
  * split/order; replay counts once; compaction answer-preserving. */
class StreamingDsirSpec extends SparkSpec {

  private def base(tag: String) = s"/tmp/graft_dsir_spec/$tag"

  // m = 64 cells: with a 14-token target sample, m = 1024 would
  // flatten the smoothed target distribution below every raw
  // frequency (all ratios negative) — small fixtures need cell
  // counts comparable to their token counts for the signal to
  // survive add-one smoothing
  private val targetDocs = Seq(
    (100L, "alpha beta gamma alpha beta"), (101L, "beta gamma alpha"))
  // target-like docs must be RARE in raw (2/30 — if they dominate,
  // their grams are as frequent in q as in the tiny smoothed target
  // and score negative) while the junk vocabulary repeats (a rare
  // junk gram's q-probability would fall below the UNSEEN-cell
  // smoothed target mass 1/(Tp+m) and flip positive)
  private val rawDocs: Seq[(Long, String)] =
    (1L to 30L).map(i => (i,
      if (i % 15 == 0) "alpha beta gamma alpha"
      else s"junk${i % 3} filler${i % 3} noise${i % 3}"))

  private def batch = {
    import spark.implicits._
    graft.operators.Dsir.dsirWeights(rawDocs.toDF("doc_id", "text"),
        targetDocs.toDF("doc_id", "text"), "doc_id", "text", 64)
      .selectExpr("doc_id", "n_feats", "logratio_micro", "kept")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
  }

  private def streamed(tag: String, folds: Seq[Seq[(Long, String)]],
      compactAfter: Int = -1, replayFold: Int = -1) = {
    import spark.implicits._
    val b = base(tag)
    StreamingDsir.init(spark, b)
    folds.zipWithIndex.foreach { case (f, i) =>
      StreamingDsir.fold(spark, b, f.toDF("doc_id", "text"),
        "doc_id", "text", batchId = i.toLong, buckets = 64)
      if (i == replayFold) // crash replay: same batch id
        StreamingDsir.fold(spark, b, f.toDF("doc_id", "text"),
          "doc_id", "text", batchId = i.toLong, buckets = 64)
      if (i == compactAfter) StreamingDsir.compact(spark, b)
    }
    StreamingDsir.weights(spark, b, rawDocs.toDF("doc_id", "text"),
        targetDocs.toDF("doc_id", "text"), "doc_id", "text", 64)
      .selectExpr("doc_id", "n_feats", "logratio_micro", "kept")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
  }

  test("three folds equal the batch weights, in order and shuffled; " +
      "both keep classes populated") {
    val want = batch
    assert(want.exists(_._4) && want.exists(!_._4),
      "fixture must populate both keep classes")
    assert(streamed("ord", rawDocs.grouped(10).toSeq) === want)
    assert(streamed("shuf", Seq(rawDocs.drop(21), rawDocs.take(9),
      rawDocs.slice(9, 21))) === want)
  }

  test("crash replay counts once; mid-run compaction is " +
      "answer-preserving") {
    val want = batch
    assert(streamed("rep", rawDocs.grouped(10).toSeq, replayFold = 1)
      === want)
    assert(streamed("cmp", rawDocs.grouped(10).toSeq, compactAfter = 0)
      === want)
  }
}
