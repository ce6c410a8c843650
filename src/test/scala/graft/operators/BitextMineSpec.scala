package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class BitextMineSpec extends SparkSpec {

  // X = {x1=(1,0,0,0) id 10, x2=(0,1,0,0) id 20};
  // Y = {hub=(1,1,0,0) id 1 — cos ~.7071 with BOTH xs,
  //      y1=(.65,0,.7599,0) id 3 — cos ~.65 with x1 only,
  //      y2=(0,.65,0,.7599) id 5 — cos ~.65 with x2 only}.
  // Raw cosine pairs every x with the hub; the ratio margin divides the
  // hub's score by its own high 2-NN average (~.7071) and the true
  // partners win (~1.30 vs ~1.02).
  private def shards = {
    import spark.implicits._
    val xs = Seq(
      (10L, Seq(1f, 0f, 0f, 0f)),
      (20L, Seq(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val ys = Seq(
      (1L, Seq(1f, 1f, 0f, 0f)),
      (3L, Seq(0.65f, 0f, 0.7599f, 0f)),
      (5L, Seq(0f, 0.65f, 0f, 0.7599f))).toDF("vec_id", "embedding")
    (xs, ys)
  }

  test("hub correction: raw cosine picks the hub, the margin does not") {
    val (xs, ys) = shards
    // raw cosine rank 1 for BOTH xs is the hub (id 1)
    val raw = Similarity.bruteTopK(ys, xs, "vec_id", "embedding", 2)
      .where(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(raw === Map(10L -> 1L, 20L -> 1L))
    // the margin pairs each x with its true partner, reciprocally
    val got = BitextMine.marginPairs(
      Similarity.bruteTopK(ys, xs, "vec_id", "embedding", 2),
      Similarity.bruteTopK(xs, ys, "vec_id", "embedding", 2),
      minMarginPpm = 1100000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(4)))
      .toSet
    assert(got === Set((10L, 3L, true), (20L, 5L, true)))
  }

  test("margin arithmetic: the hand-traced ratio in micro units") {
    val (xs, ys) = shards
    val all = BitextMine.marginPairs(
      Similarity.bruteTopK(ys, xs, "vec_id", "embedding", 2),
      Similarity.bruteTopK(xs, ys, "vec_id", "embedding", 2),
      minMarginPpm = 0L).collect()
    val m10 = all.find(_.getLong(0) == 10L).get.getLong(3)
    // margin(x1,y1) = .650016 / ((.678567 + .325008)/2) ~ 1.2954
    assert(m10 > 1290000L && m10 < 1300000L, s"margin_ppm was $m10")
    // a margin floor above every pair's margin empties the result
    assert(BitextMine.marginPairs(
      Similarity.bruteTopK(ys, xs, "vec_id", "embedding", 2),
      Similarity.bruteTopK(xs, ys, "vec_id", "embedding", 2),
      minMarginPpm = 2000000L).count() === 0L)
  }

  test("one best pair per endpoint on the real embeddings table") {
    val emb = Tables.t(spark, sfDir, "embeddings")
    val x = emb.where(col("vec_id") % 2 === 0)
    val y = emb.where(col("vec_id") % 2 === 1)
    val pairs = BitextMine.marginPairs(
      Similarity.bruteTopK(y, x, "vec_id", "embedding", 8),
      Similarity.bruteTopK(x, y, "vec_id", "embedding", 8),
      minMarginPpm = 1000000L)
    val rows = pairs.collect()
    assert(rows.nonEmpty)
    // "max" retrieval: at most one pair per x, cosines are valid micros
    assert(rows.map(_.getLong(0)).distinct.length === rows.length)
    assert(rows.forall(r => math.abs(r.getLong(2)) <= 1000000L))
    assert(rows.forall(_.getLong(3) >= 1000000L))
  }
}
