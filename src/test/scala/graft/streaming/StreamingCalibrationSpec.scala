package graft.streaming

import graft.SparkSpec

/** Streamed isotonic calibration: folded bin counts + read-side PAV
  * equal the batch operator; replays and compaction are no-ops. */
class StreamingCalibrationSpec extends SparkSpec {

  private def freshBase(): String =
    tempDir("graft_cal").toString + "/state"

  private type Bin = (Long, Long, Long, Long, Long)

  private def rows(n: Int, seed: Int): Seq[(Long, Long)] =
    (0 until n).map { i =>
      val s = ((i * 37 + seed * 101) % 257) - 64 // signed scores
      val p = if ((i * 13 + seed) % 3 == 0) 1L else 0L
      (s.toLong, p)
    }

  test("folded batches equal the batch isotonicBins; replay and " +
      "compaction are answer-preserving") {
    import spark.implicits._
    val base = freshBase()
    StreamingCalibration.init(spark, base)
    val a = rows(200, 1)
    val b = rows(150, 2)
    val c = rows(120, 3)
    def df(xs: Seq[(Long, Long)]) = xs.toDF("score", "is_pos")

    StreamingCalibration.fold(spark, base, df(a), "score", "is_pos",
      batchId = 0L, binWidth = 8L, clamp = 16L)
    // crash-replayed fold: same batch id, its dir overwritten — counts
    // must NOT double
    StreamingCalibration.fold(spark, base, df(a), "score", "is_pos",
      batchId = 0L, binWidth = 8L, clamp = 16L)
    StreamingCalibration.fold(spark, base, df(b), "score", "is_pos",
      batchId = 1L, binWidth = 8L, clamp = 16L)
    val beforeCompact = StreamingCalibration.calibrated(spark, base)
      .as[Bin].collect().sortBy(_._1).toSeq
    StreamingCalibration.compactBins(spark, base)
    val afterCompact = StreamingCalibration.calibrated(spark, base)
      .as[Bin].collect().sortBy(_._1).toSeq
    assert(afterCompact === beforeCompact)
    StreamingCalibration.fold(spark, base, df(c), "score", "is_pos",
      batchId = 2L, binWidth = 8L, clamp = 16L)

    val streamed = StreamingCalibration.calibrated(spark, base)
      .as[Bin].collect().sortBy(_._1).toSeq
    val batch = graft.operators.Calibration.isotonicBins(
        df(a ++ b ++ c), "score", "is_pos", binWidth = 8L, clamp = 16L)
      .as[Bin].collect().sortBy(_._1).toSeq
    assert(streamed === batch)
    // and the map is monotone (the PAV invariant survives the fold)
    assert(streamed.map(_._5) === streamed.map(_._5).sorted)
  }
}
