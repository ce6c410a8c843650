package graft.streaming

import graft.SparkSpec

/** Streamed winsorize: folded value histogram recovers the exact rank
  * cuts — clamp equals batch for any split/order; replay, compaction. */
class StreamingWinsorizeSpec extends SparkSpec {

  private def base(tag: String) = s"/tmp/graft_wins_spec/$tag"

  // aperiodic doubles incl. negatives and ties
  private val rows: Seq[(Long, Double)] =
    (1L to 80L).map(i => (i, ((i * i + i / 3) % 37).toDouble - 5.0)) ++
      Seq((81L, 1e6), (82L, -1e6)) // extreme tails that must clip

  private def batch = {
    import spark.implicits._
    graft.operators.Profiler.winsorize(
        rows.toDF("id", "v"), "id", "v", loPpm = 50000L, hiPpm = 950000L)
      .selectExpr("id", "value", "lo_cut", "hi_cut", "winsorized",
        "clipped")
      .as[(Long, Double, Double, Double, Double, Long)]
      .collect().sortBy(_._1).toSeq
  }

  private def streamed(tag: String, folds: Seq[Seq[(Long, Double)]],
      compactAfter: Int = -1, replayFold: Int = -1) = {
    import spark.implicits._
    val b = base(tag)
    StreamingWinsorize.init(spark, b)
    folds.zipWithIndex.foreach { case (f, i) =>
      StreamingWinsorize.fold(spark, b, f.toDF("id", "v"), "v", i.toLong)
      if (i == replayFold) // crash replay: same batch id
        StreamingWinsorize.fold(spark, b, f.toDF("id", "v"), "v",
          i.toLong)
      if (i == compactAfter) StreamingWinsorize.compact(spark, b)
    }
    StreamingWinsorize.winsorized(spark, b, rows.toDF("id", "v"),
        "id", "v", loPpm = 50000L, hiPpm = 950000L)
      .selectExpr("id", "value", "lo_cut", "hi_cut", "winsorized",
        "clipped")
      .as[(Long, Double, Double, Double, Double, Long)]
      .collect().sortBy(_._1).toSeq
  }

  test("three folds equal the batch clamp, in order and shuffled; " +
      "the extreme tails actually clip") {
    val want = batch
    assert(want.count(_._6 == 1L) >= 2, "fixture must clip something")
    assert(streamed("ord", rows.grouped(30).toSeq) === want)
    assert(streamed("shuf", Seq(rows.drop(55), rows.take(28),
      rows.slice(28, 55))) === want)
  }

  test("crash replay counts once; mid-run compaction is " +
      "answer-preserving") {
    val want = batch
    assert(streamed("rep", rows.grouped(30).toSeq, replayFold = 1)
      === want)
    assert(streamed("cmp", rows.grouped(30).toSeq, compactAfter = 0)
      === want)
  }

  test("cuts fail closed before any fold: a 0-row cuts relation, so " +
      "nothing is clamped against garbage") {
    val b = base("empty")
    StreamingWinsorize.init(spark, b)
    assert(StreamingWinsorize.cuts(spark, b, 10000L, 990000L)
      .collect().isEmpty)
  }

  // ---- per-GROUP twin (r14) ----

  private val grows: Seq[(Long, String, Double)] =
    (1L to 80L).map(i => (i, if (i % 3 == 0) "hot" else "cold",
      ((i * i + i / 3) % 37).toDouble - 5.0)) ++
      Seq((81L, "hot", 1e6), (82L, "cold", -1e6)) // per-group tails

  test("grouped folds equal the batch per-group clamp, shuffled, " +
      "with mid-run compaction and a replayed fold") {
    import spark.implicits._
    val want = graft.operators.Profiler.winsorizeByGroup(
        grows.toDF("id", "grp", "v"), "id", "grp", "v",
        loPpm = 50000L, hiPpm = 950000L)
      .selectExpr("id", "group", "value", "lo_cut", "hi_cut",
        "winsorized", "clipped")
      .as[(Long, String, Double, Double, Double, Double, Long)]
      .collect().sortBy(_._1).toSeq
    assert(want.count(_._7 == 1L) >= 2, "fixture must clip per group")
    val b = base("grp")
    StreamingWinsorize.init(spark, b)
    val folds = Seq(grows.drop(55), grows.take(28), grows.slice(28, 55))
    folds.zipWithIndex.foreach { case (f, i) =>
      StreamingWinsorize.foldByGroup(spark, b, f.toDF("id", "grp", "v"),
        "grp", "v", batchId = i.toLong)
      if (i == 0) // crash replay: same batch id — counts once
        StreamingWinsorize.foldByGroup(spark, b,
          f.toDF("id", "grp", "v"), "grp", "v", batchId = i.toLong)
      if (i == 1) StreamingWinsorize.compactByGroup(spark, b)
    }
    val got = StreamingWinsorize.winsorizedByGroup(spark, b,
        grows.toDF("id", "grp", "v"), "id", "grp", "v",
        loPpm = 50000L, hiPpm = 950000L)
      .selectExpr("id", "group", "value", "lo_cut", "hi_cut",
        "winsorized", "clipped")
      .as[(Long, String, Double, Double, Double, Double, Long)]
      .collect().sortBy(_._1).toSeq
    assert(got === want)
  }

  test("two byte-identical batches with distinct ids both count") {
    import spark.implicits._
    val b = base("alias")
    StreamingWinsorize.init(spark, b)
    val f = Seq((1L, 1.0), (2L, 2.0), (3L, 4.0))
    StreamingWinsorize.fold(spark, b, f.toDF("id", "v"), "v", 0L)
    StreamingWinsorize.fold(spark, b, f.toDF("id", "v"), "v", 1L)
    val n = StreamingWinsorize.cuts(spark, b, 0L, 1000000L)
      .select("n").as[Long].head()
    assert(n === 6L, s"both 3-row batches must count (n=6), got n=$n")
  }
}
