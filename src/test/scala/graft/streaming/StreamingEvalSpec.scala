package graft.streaming

import graft.SparkSpec

/** Streamed classifier scorecard: folded confusion == batch, any
  * split/order; compaction and replay idempotence. */
class StreamingEvalSpec extends SparkSpec {

  private def base(tag: String) = s"/tmp/graft_eval_spec/$tag"

  private val rows: Seq[(Long, Long)] =
    (1L to 50L).map(i => ((i % 5) - 2, ((i * i + i / 7) % 5) - 2)) ++
      Seq((7L, 1L), (7L, 7L)) // a rare class, once self-predicted

  private def batch = {
    import spark.implicits._
    graft.operators.Perceptron.classifierEval(
        rows.toDF("y", "p"), "y", "p")
      .selectExpr("class", "tp", "fp", "fn", "precision_ppm",
        "recall_ppm", "f1_ppm")
      .as[(Long, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
  }

  private def streamed(tag: String, folds: Seq[Seq[(Long, Long)]],
      compactAfter: Int = -1, replayFold: Int = -1) = {
    import spark.implicits._
    val b = base(tag)
    StreamingEval.init(spark, b)
    folds.zipWithIndex.foreach { case (f, i) =>
      StreamingEval.fold(spark, b, f.toDF("y", "p"), "y", "p", i.toLong)
      if (i == replayFold) // crash replay: same batch id
        StreamingEval.fold(spark, b, f.toDF("y", "p"), "y", "p", i.toLong)
      if (i == compactAfter) StreamingEval.compact(spark, b)
    }
    StreamingEval.scorecard(spark, b)
      .selectExpr("class", "tp", "fp", "fn", "precision_ppm",
        "recall_ppm", "f1_ppm")
      .as[(Long, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
  }

  test("three folds equal the batch scorecard, in order and shuffled") {
    val want = batch
    assert(streamed("ord", rows.grouped(18).toSeq) === want)
    assert(streamed("shuf", Seq(rows.drop(35), rows.take(17),
      rows.slice(17, 35))) === want)
  }

  test("mid-run compaction and a crash-replayed fold change nothing") {
    val want = batch
    assert(streamed("cmp", rows.grouped(20).toSeq,
      compactAfter = 0) === want)
    assert(streamed("rep", rows.grouped(20).toSeq,
      replayFold = 1) === want)
  }
}
