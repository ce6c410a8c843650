package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Streamed conformal: folded histogram == batch exact rank, any
  * split/order; compaction answer-preserving; replay idempotent. */
class StreamingConformalSpec extends SparkSpec {

  private def base(tag: String) = artifactPath(s"conf_spec/$tag")

  private def batchGate(rows: Seq[(Long, Long, Boolean)],
      alphaPpm: Long) = {
    import spark.implicits._
    graft.operators.Calibration.conformalGate(
        rows.toDF("id", "nonconf", "is_cal"),
        "id", "nonconf", "is_cal", alphaPpm)
      .selectExpr("id", "nonconf", "is_cal", "thr", "n_cal", "kept")
      .as[(Long, Long, Boolean, Long, Long, Boolean)]
      .collect().sortBy(_._1).toSeq
  }

  private def streamGate(tag: String,
      folds: Seq[Seq[(Long, Long, Boolean)]],
      all: Seq[(Long, Long, Boolean)], alphaPpm: Long,
      compactAfter: Int = -1, replayFold: Int = -1) = {
    import spark.implicits._
    val b = base(tag)
    StreamingConformal.init(spark, b)
    folds.zipWithIndex.foreach { case (f, i) =>
      StreamingConformal.fold(spark, b,
        f.toDF("id", "nonconf", "is_cal"), "nonconf", "is_cal", i.toLong)
      if (i == replayFold) // crash replay: same batch id, same dir
        StreamingConformal.fold(spark, b,
          f.toDF("id", "nonconf", "is_cal"), "nonconf", "is_cal",
          i.toLong)
      if (i == compactAfter) StreamingConformal.compact(spark, b)
    }
    StreamingConformal.gate(spark, b,
        all.toDF("id", "nonconf", "is_cal"),
        "id", "nonconf", "is_cal", alphaPpm)
      .selectExpr("id", "nonconf", "is_cal", "thr", "n_cal", "kept")
      .as[(Long, Long, Boolean, Long, Long, Boolean)]
      .collect().sortBy(_._1).toSeq
  }

  private val rows: Seq[(Long, Long, Boolean)] =
    (1L to 60L).map(i => (i, (i * 37) % 41, i % 3 != 0)) ++
      Seq((61L, 999L, false), (62L, -5L, true))

  test("three folds equal the batch gate, in order and shuffled") {
    val want = batchGate(rows, 150000L)
    val inOrder = rows.grouped(21).toSeq
    assert(streamGate("ord", inOrder, rows, 150000L) === want)
    val shuffled = Seq(rows.drop(40), rows.take(20),
      rows.slice(20, 40))
    assert(streamGate("shuf", shuffled, rows, 150000L) === want)
  }

  test("mid-run compaction and a crash-replayed fold change nothing") {
    val want = batchGate(rows, 100000L)
    assert(streamGate("cmp", rows.grouped(25).toSeq, rows, 100000L,
      compactAfter = 1) === want)
    assert(streamGate("rep", rows.grouped(25).toSeq, rows, 100000L,
      replayFold = 0) === want)
  }

  test("empty artifact fails OPEN; a calibration-free fold adds " +
      "nothing") {
    import spark.implicits._
    val b = base("empty")
    StreamingConformal.init(spark, b)
    StreamingConformal.fold(spark, b,
      Seq((1L, 5L, false)).toDF("id", "nonconf", "is_cal"),
      "nonconf", "is_cal", 0L)
    val got = StreamingConformal.gate(spark, b,
        Seq((1L, 5L, false)).toDF("id", "nonconf", "is_cal"),
        "id", "nonconf", "is_cal", 100000L)
      .selectExpr("thr", "n_cal", "kept")
      .as[(Long, Long, Boolean)].collect()
    assert(got.toSeq === Seq((Long.MaxValue, 0L, true)))
  }

  // ---- per-GROUP twin (r14) ----

  private val grows: Seq[(Long, String, Long, Boolean)] =
    (1L to 60L).map(i =>
      (i, if (i % 2 == 0) "en" else "fr", (i * 37) % 41, i % 3 != 0)) ++
      // a group with NO calibration rows anywhere: must fail OPEN
      Seq((61L, "zz", 7L, false), (62L, "zz", 999L, false))

  private def batchGateByGroup(alphaPpm: Long) = {
    import spark.implicits._
    graft.operators.Calibration.conformalGateByGroup(
        grows.toDF("id", "grp", "nonconf", "is_cal"),
        "id", "grp", "nonconf", "is_cal", alphaPpm)
      .selectExpr("id", "group", "nonconf", "is_cal", "thr", "n_cal",
        "kept")
      .as[(Long, String, Long, Boolean, Long, Long, Boolean)]
      .collect().sortBy(_._1).toSeq
  }

  private def streamGateByGroup(tag: String,
      folds: Seq[Seq[(Long, String, Long, Boolean)]], alphaPpm: Long,
      compactAfter: Int = -1, replayFold: Int = -1) = {
    import spark.implicits._
    val b = base(tag)
    StreamingConformal.init(spark, b)
    folds.zipWithIndex.foreach { case (f, i) =>
      StreamingConformal.foldByGroup(spark, b,
        f.toDF("id", "grp", "nonconf", "is_cal"),
        "grp", "nonconf", "is_cal", batchId = i.toLong)
      if (i == replayFold) // crash replay: same batch id
        StreamingConformal.foldByGroup(spark, b,
          f.toDF("id", "grp", "nonconf", "is_cal"),
          "grp", "nonconf", "is_cal", batchId = i.toLong)
      if (i == compactAfter) StreamingConformal.compactByGroup(spark, b)
    }
    StreamingConformal.gateByGroup(spark, b,
        grows.toDF("id", "grp", "nonconf", "is_cal"),
        "id", "grp", "nonconf", "is_cal", alphaPpm)
      .selectExpr("id", "group", "nonconf", "is_cal", "thr", "n_cal",
        "kept")
      .as[(Long, String, Long, Boolean, Long, Long, Boolean)]
      .collect().sortBy(_._1).toSeq
  }

  test("grouped folds equal the batch per-group gate, shuffled and " +
      "with compaction + replay; the calibration-free group fails " +
      "OPEN in both") {
    val want = batchGateByGroup(100000L)
    assert(want.filter(_._2 == "zz").forall(r =>
      r._5 == Long.MaxValue && r._6 == 0L && r._7),
      "fixture must exercise the fail-open group")
    assert(streamGateByGroup("gshuf", Seq(grows.drop(40),
      grows.take(20), grows.slice(20, 40)), 100000L) === want)
    assert(streamGateByGroup("gcmp", grows.grouped(25).toSeq, 100000L,
      compactAfter = 1, replayFold = 0) === want)
  }
}
