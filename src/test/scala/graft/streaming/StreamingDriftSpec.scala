package graft.streaming

import graft.SparkSpec

/** Streamed drift monitor: folded live histogram vs a fixed reference
  * equals the batch monitor, any split/order; compaction and replay
  * idempotence; the numeric fold shares the batch binning. */
class StreamingDriftSpec extends SparkSpec {

  private def base(tag: String) = s"/tmp/graft_drift_spec/$tag"

  private val live: Seq[(Long, String)] =
    (1L to 60L).map(i => (i, s"s${(i * i + i / 7) % 4}"))
  private val ref: Seq[(Long, String)] =
    (1L to 40L).map(i => (i, s"s${i % 5}"))

  private def batchReport = {
    import spark.implicits._
    graft.operators.Profiler.categoryDrift(
        ref.toDF("id", "cat"), live.toDF("id", "cat"), "cat")
      .selectExpr("category", "n_a", "n_b", "share_a_ppm",
        "share_b_ppm", "gap_ppm")
      .as[(String, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
  }

  private def streamed(tag: String, folds: Seq[Seq[(Long, String)]],
      compactAfter: Int = -1, replayFold: Int = -1) = {
    import spark.implicits._
    val b = base(tag)
    StreamingDrift.init(spark, b)
    folds.zipWithIndex.foreach { case (f, i) =>
      StreamingDrift.fold(spark, b, f.toDF("id", "cat"), "cat", i.toLong)
      if (i == replayFold) // crash replay: same batch id
        StreamingDrift.fold(spark, b, f.toDF("id", "cat"), "cat",
          i.toLong)
      if (i == compactAfter) StreamingDrift.compact(spark, b)
    }
    StreamingDrift.report(spark, b, ref.toDF("id", "cat"), "cat")
      .selectExpr("category", "n_a", "n_b", "share_a_ppm",
        "share_b_ppm", "gap_ppm")
      .as[(String, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
  }

  test("three folds equal the batch monitor, in order and shuffled") {
    val want = batchReport
    assert(streamed("ord", live.grouped(22).toSeq) === want)
    assert(streamed("shuf", Seq(live.drop(41), live.take(19),
      live.slice(19, 41))) === want)
  }

  test("crash replay of a fold counts once; mid-run compaction is " +
      "answer-preserving") {
    val want = batchReport
    assert(streamed("rep", live.grouped(22).toSeq, replayFold = 1)
      === want)
    assert(streamed("cmp", live.grouped(22).toSeq, compactAfter = 0)
      === want)
  }

  test("reference-only and live-only categories surface with a zero " +
      "count, not dropped") {
    val got = streamed("edges", Seq(live))
    val cats = got.map(_._1).toSet
    assert(cats.contains("s4")) // ref-only (live has s0..s3)
    val s4 = got.find(_._1 == "s4").get
    assert(s4._3 === 0L && s4._2 > 0L)
  }

  test("PSI report over the SAME fold artifact equals the batch " +
      "psiDrift; zero-count sides ride the 1-ppm clamp, never ln(0)") {
    import spark.implicits._
    val b = base("psi")
    StreamingDrift.init(spark, b)
    // the 25-row chunks of this fixture have IDENTICAL category
    // histograms: distinct batch ids must both count
    live.grouped(25).zipWithIndex.foreach { case (f, i) =>
      StreamingDrift.fold(spark, b, f.toDF("id", "cat"), "cat", i.toLong)
    }
    val got = StreamingDrift.reportPsi(spark, b, ref.toDF("id", "cat"),
        "cat")
      .selectExpr("category", "share_a_ppm", "share_b_ppm",
        "psi_term_pico")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val want = graft.operators.Profiler.psiDrift(
        ref.toDF("id", "cat"), live.toDF("id", "cat"), "cat")
      .selectExpr("category", "share_a_ppm", "share_b_ppm",
        "psi_term_pico")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === want)
    // s4 is ref-only: live share clamps to 1 ppm and the term equals
    // the hand formula (sa - 1)·floor(1e6·ln(sa))
    val s4 = got.find(_._1 == "s4").get
    assert(s4._3 === 1L)
    assert(s4._4 === (s4._2 - 1L) *
      math.floor(1e6 * math.log(s4._2.toDouble)).toLong)
    // every term is non-negative: (sa-sb) and ln(sa/sb) share a sign
    assert(got.forall(_._4 >= 0L))
  }

  test("numeric fold shares the batch sign-safe binning (including " +
      "negatives) and the report casts bins back to BIGINT") {
    import spark.implicits._
    val refN = Seq((1L, -130L), (2L, -5L), (3L, 5L), (4L, 64L))
    val liveN = Seq((1L, -129L), (2L, -64L), (3L, 63L), (4L, 200L))
    val b = base("num")
    StreamingDrift.init(spark, b)
    StreamingDrift.foldNumeric(spark, b, liveN.toDF("id", "v"), "v",
      binWidth = 64L, batchId = 0L)
    val got = StreamingDrift.reportNumeric(spark, b,
        refN.toDF("id", "v"), "v", binWidth = 64L)
      .selectExpr("bin", "n_a", "n_b")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val want = graft.operators.Profiler.numericDrift(
        refN.toDF("id", "v"), liveN.toDF("id", "v"), "v", binWidth = 64L)
      .selectExpr("bin", "n_a", "n_b")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === want)
    // the sign-safe truncation: -129 and -130 land in bin -2, -64 and
    // -5 in bin -1 and -0/0 ... spot-pin the negative side
    assert(got.exists { case (bin, _, nb) => bin == -2L && nb == 1L })
  }
}
