package graft.streaming

import graft.SparkSpec

/** Streamed ECDF normalization: folded (group, bin) counts rerun the
  * batch quantile map — equals batch for any split/order; replay,
  * compaction, negative-bin parity. */
class StreamingEcdfSpec extends SparkSpec {

  private def base(tag: String) = artifactPath(s"ecdf_spec/$tag")

  // two groups, scores incl. negatives so sign-safe binning is live
  private val rows: Seq[(Long, String, Long)] =
    (1L to 70L).map(i =>
      (i, s"g${i % 2}", ((i * i + i / 5) % 41) - 8L))

  private def batch = {
    import spark.implicits._
    graft.operators.Calibration.ecdfNormalize(
        rows.toDF("id", "grp", "score"), "id", "grp", "score",
        binWidth = 4L)
      .selectExpr("id", "group", "score", "bin", "n_grp", "ecdf_ppm")
      .as[(Long, String, Long, Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
  }

  private def streamed(tag: String, folds: Seq[Seq[(Long, String, Long)]],
      compactAfter: Int = -1, replayFold: Int = -1) = {
    import spark.implicits._
    val b = base(tag)
    StreamingEcdf.init(spark, b)
    folds.zipWithIndex.foreach { case (f, i) =>
      StreamingEcdf.fold(spark, b, f.toDF("id", "grp", "score"),
        "grp", "score", binWidth = 4L, batchId = i.toLong)
      if (i == replayFold) // crash replay: same batch id
        StreamingEcdf.fold(spark, b, f.toDF("id", "grp", "score"),
          "grp", "score", binWidth = 4L, batchId = i.toLong)
      if (i == compactAfter) StreamingEcdf.compact(spark, b)
    }
    StreamingEcdf.normalize(spark, b, rows.toDF("id", "grp", "score"),
        "id", "grp", "score", binWidth = 4L)
      .selectExpr("id", "group", "score", "bin", "n_grp", "ecdf_ppm")
      .as[(Long, String, Long, Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
  }

  test("three folds equal the batch quantile map, in order and " +
      "shuffled; negative bins present") {
    val want = batch
    assert(want.exists(_._4 < 0L), "fixture must exercise negative bins")
    assert(streamed("ord", rows.grouped(24).toSeq) === want)
    assert(streamed("shuf", Seq(rows.drop(47), rows.take(23),
      rows.slice(23, 47))) === want)
  }

  test("crash replay counts once; mid-run compaction is " +
      "answer-preserving") {
    val want = batch
    assert(streamed("rep", rows.grouped(24).toSeq, replayFold = 2)
      === want)
    assert(streamed("cmp", rows.grouped(24).toSeq, compactAfter = 1)
      === want)
  }

  test("two byte-identical batches with distinct ids both count") {
    import spark.implicits._
    val b = base("alias")
    StreamingEcdf.init(spark, b)
    val f = Seq((1L, "g", 0L), (2L, "g", 0L), (3L, "g", 1L))
      .toDF("id", "grp", "score")
    StreamingEcdf.fold(spark, b, f, "grp", "score", 1L, batchId = 0L)
    StreamingEcdf.fold(spark, b, f, "grp", "score", 1L, batchId = 1L)
    val n = StreamingEcdf.normalize(spark, b,
        Seq((9L, "g", 0L)).toDF("id", "grp", "score"),
        "id", "grp", "score", binWidth = 1L)
      .select("n_grp").as[Long].head()
    assert(n === 6L, s"both 3-row batches must count (n_grp=6), got $n")
  }
}
