package graft

import org.apache.spark.sql.functions._

import graft.operators.Scd2

/** Incremental SCD2 maintenance (Scd2.mergeBatch) against the batch
  * rebuild (Scd2.fromChangeLog) as ground truth. */
class Scd2Spec extends SparkSpec {

  private def canon(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.select(col("k"), col("tie"), col("status"), col("valid_from"),
        col("valid_to"), col("is_current"))
      .collect().map(_.toSeq).toSet

  private def log(rows: Seq[(Long, Int, Long, String)]) = {
    import spark.implicits._
    rows.toDF("k", "ts", "tie", "status")
  }

  // interleaved observations for 3 keys; key 3 never changes status
  private val fullLog = Seq[(Long, Int, Long, String)](
    (1L, 1, 101L, "new"), (1L, 3, 103L, "open"), (1L, 7, 107L, "closed"),
    (2L, 2, 202L, "new"), (2L, 4, 204L, "new"), (2L, 8, 208L, "open"),
    (3L, 5, 305L, "new"), (3L, 9, 309L, "new"))

  test("three merged batches equal the one-shot rebuild, including late data") {
    val path = tempDir("scd2").toString + "/t"
    // batch 2 delivers ts=3 LATE (after ts=7 already arrived in batch 1):
    // the recompute must split key 1's [1,7) interval into [1,3) + [3,7)
    val batches = Seq(
      fullLog.filter(r => Set(1, 7, 2).contains(r._2)),
      fullLog.filter(r => Set(3, 4, 5).contains(r._2)),
      fullLog.filter(r => Set(8, 9).contains(r._2)))
    assert(batches.map(_.size).sum === fullLog.size)
    batches.foreach(b =>
      Scd2.mergeBatch(log(b), path, "k", "ts", "tie", Seq("status"),
        numBuckets = 4))
    val got = canon(Scd2.readHistory(spark, path, "k", "ts", "tie", Seq("status")))
    val want = canon(Scd2.fromChangeLog(log(fullLog), "k", "ts", "tie",
      Seq("status")))
    assert(got === want)
    assert(want.exists(r => r(2) == "open" && r(3) == 3 && r(4) == 7),
      "late split interval [3,7) missing from ground truth")
  }

  test("late data before a dropped non-change observation still rebuilds exactly") {
    // the case that makes version rows an INSUFFICIENT statistic: batch 1
    // delivers (1,A) and (7,A) — the 7 is a non-change a version-row
    // store would drop. The late (3,B) then requires knowing A resumed
    // at 7: the observation-log store must yield A,[1,3) B,[3,7) A,[7,∞)
    val path = tempDir("scd2l").toString + "/t"
    Scd2.mergeBatch(log(Seq((1L, 1, 11L, "A"), (1L, 7, 17L, "A"))),
      path, "k", "ts", "tie", Seq("status"), 4)
    Scd2.mergeBatch(log(Seq((1L, 3, 13L, "B"))),
      path, "k", "ts", "tie", Seq("status"), 4)
    val got = canon(Scd2.readHistory(spark, path, "k", "ts", "tie", Seq("status")))
    assert(got === Set(
      Seq(1L, 11L, "A", 1, 3, false),
      Seq(1L, 13L, "B", 3, 7, false),
      Seq(1L, 17L, "A", 7, null, true)))
  }

  test("replaying a batch converges to the same table without a fence") {
    val path = tempDir("scd2r").toString + "/t"
    val b1 = fullLog.filter(_._2 <= 4)
    val b2 = fullLog.filter(_._2 > 4)
    Scd2.mergeBatch(log(b1), path, "k", "ts", "tie", Seq("status"), 4)
    Scd2.mergeBatch(log(b2), path, "k", "ts", "tie", Seq("status"), 4)
    val once = canon(Scd2.readHistory(spark, path, "k", "ts", "tie", Seq("status")))
    Scd2.mergeBatch(log(b2), path, "k", "ts", "tie", Seq("status"), 4)
    assert(canon(Scd2.readHistory(spark, path, "k", "ts", "tie", Seq("status"))) === once)
  }

  test("maintains history as a foreachBatch streaming sink") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val path = tempDir("scd2s").toString + "/t"
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Int, Long, String)]
    val q = in.toDF().toDF("k", "ts", "tie", "status")
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          Scd2.mergeBatch(batch, path, "k", "ts", "tie", Seq("status"), 4)
      }.start()
    try {
      in.addData(fullLog.filter(_._2 <= 4): _*)
      q.processAllAvailable()
      in.addData(fullLog.filter(_._2 > 4): _*)
      q.processAllAvailable()
      val got = canon(Scd2.readHistory(spark, path, "k", "ts", "tie", Seq("status")))
      val want = canon(Scd2.fromChangeLog(log(fullLog), "k", "ts", "tie",
        Seq("status")))
      assert(got === want)
    } finally q.stop()
  }

  test("pitJoin resolves intervals against the history side when facts carry the same columns") {
    import spark.implicits._
    // facts that are THEMSELVES interval-bearing (valid_from/valid_to) —
    // with unqualified interval references the join condition would be an
    // ambiguous-reference AnalysisException
    val history = Scd2.fromChangeLog(log(fullLog), "k", "ts", "tie", Seq("status"))
      .withColumn("valid_from", col("valid_from").cast("int"))
      .withColumn("valid_to", col("valid_to").cast("int"))
    val facts = Seq(
      (1L, 4, 0, 99), // at ts=4, key 1 is "open" ([3,7))
      (2L, 9, 1, 98), // at ts=9, key 2 is "open" ([8,null))
      (1L, 8, 2, 97)  // at ts=8, key 1 is "closed" ([7,null))
    ).toDF("k", "ts", "valid_from", "valid_to")
    val got = Scd2.pitJoin(facts, history, "k", "ts")
      .select($"k", $"ts", $"status").as[(Long, Int, String)].collect().toSet
    assert(got === Set((1L, 4, "open"), (2L, 9, "open"), (1L, 8, "closed")))
  }

  test("a batch only rewrites the buckets its keys hash to") {
    val path = tempDir("scd2b").toString + "/t"
    Scd2.mergeBatch(log(fullLog), path, "k", "ts", "tie", Seq("status"), 64)
    def mtimes() = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(path)).iterator().asScala
        .filter(_.toString.contains("bucket="))
        .map(p => p.toString.replaceAll(".*(bucket=\\d+).*", "$1") ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .toSeq.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    }
    val before = mtimes()
    Thread.sleep(1100)
    Scd2.mergeBatch(log(Seq((1L, 11, 111L, "reopened"))), path,
      "k", "ts", "tie", Seq("status"), 64)
    val after = mtimes()
    val touched = after.keySet.filter(b => before.get(b) != after.get(b))
    assert(touched.size === 1, s"expected one rewritten bucket, got $touched")
  }
}
