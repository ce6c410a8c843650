package graft

import org.apache.spark.sql.functions._

import graft.streaming.UpsertSink

/** Count-Min frequency sketches: the overestimate-only contract, union
  * correctness across partitions, and the incremental heavy-hitters
  * matview (UpsertSink.mergeFrequencyBatch). CMS guarantees
  * `true <= estimate <= true + eps * N` with probability `conf` per
  * query (N = total additions); with eps=0.001 and the row counts here
  * the slack bound is tight enough to assert outright. */
class CmsSpec extends SparkSpec {

  private val cmsAgg = "count_min_sketch(k, 0.001d, 0.99d, 42)"

  test("unioned per-partition sketches never underestimate and respect the eps bound") {
    import spark.implicits._
    // skewed frequencies: key i appears i times (1..100), N = 5050
    val rows = (1L to 100L).flatMap(i => Seq.fill(i.toInt)(i))
    val truth = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = rows.size
    val sk = rows.zipWithIndex.map { case (k, i) => (i % 16, k) }
      .toDF("part", "k")
      .groupBy($"part").agg(expr(cmsAgg).as("sk"))
      .agg(call_function("cms_union_agg", $"sk").as("sk"))
    val est = sk.crossJoin((1L to 100L).toDF("k"))
      .select($"k", call_function("cms_estimate_long", $"sk", $"k").as("e"))
      .as[(Long, Long)].collect().toMap
    for (k <- 1L to 100L) {
      assert(est(k) >= truth(k), s"CMS underestimated key $k")
      assert(est(k) <= truth(k) + (0.001 * n).ceil.toLong + 1,
        s"key $k: estimate ${est(k)} exceeds eps*N slack over ${truth(k)}")
    }
  }

  test("q_heavy_hitters estimates on the sf0.1 fixture sit in [true, true + eps*N]") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.1"
    val est = SparkEntry.queries("q_heavy_hitters")(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(est.size == 50, s"expected 50 candidate keys, got ${est.size}")
    val li = Tables.t(spark, dir, "lineitem")
    val truth = li.groupBy($"l_partkey").agg(count(lit(1)).as("c"))
      .where($"l_partkey".isin(est.keys.toSeq: _*))
      .as[(Long, Long)].collect().toMap
    val n = li.count()
    val slack = (0.001 * n).ceil.toLong + 1
    for ((k, e) <- est) {
      assert(e >= truth(k), s"CMS underestimated part $k: $e < ${truth(k)}")
      assert(e <= truth(k) + slack,
        s"part $k: estimate $e exceeds eps*N slack ($slack) over ${truth(k)}")
    }
  }

  test("mergeFrequencyBatch maintains per-key frequencies incrementally with a replay fence") {
    import spark.implicits._
    val path = tempDir("cmsmv").toString + "/t"
    // two batches of (service, item); item 7 appears 30 times in total
    val batches = Seq(
      (1 to 20).map(i => ("api", if (i <= 10) 7L else i.toLong)),
      (1 to 25).map(i => ("api", if (i <= 20) 7L else 100L + i)))
    batches.zipWithIndex.foreach { case (rows, id) =>
      val sk = rows.toDF("service", "k")
        .groupBy($"service").agg(expr(cmsAgg).as("sk"))
      UpsertSink.mergeFrequencyBatch(sk, path, Seq("service"), Seq("sk"),
        batchId = id.toLong, numBuckets = 4)
    }
    // replaying batch 1 must be fenced — CMS union is additive
    val replay = batches(1).toDF("service", "k")
      .groupBy($"service").agg(expr(cmsAgg).as("sk"))
    UpsertSink.mergeFrequencyBatch(replay, path, Seq("service"), Seq("sk"),
      batchId = 1L, numBuckets = 4)

    val est = UpsertSink.read(spark, path)
      .select(call_function("cms_estimate_long", $"sk", lit(7L)).as("e"))
      .as[Long].head()
    assert(est >= 30L && est <= 31L,
      s"expected ~30 for the heavy hitter, got $est (fence broken if ~50)")
  }
}
