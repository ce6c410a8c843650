package graft

import org.apache.spark.sql.functions._

import graft.streaming.UpsertSink

/** KLL quantile sketches: rank-accuracy against exact percentiles, merge
  * correctness across partitions, and the incremental quantile matview
  * (UpsertSink.mergeQuantileBatch). KLL's guarantee is on RANK, not
  * value: for k=200 the estimate's true rank is within ~1.65% of the
  * requested one (99% confidence), so every assertion measures the exact
  * rank of the returned value rather than comparing values. */
class KllSketchSpec extends SparkSpec {

  private def rankOf(data: Seq[Double], v: Double): Double =
    data.count(_ <= v).toDouble / data.size

  test("sketch quantiles land within rank tolerance of exact") {
    import spark.implicits._
    // non-uniform data so value error != rank error
    val data = (1 to 20000).map(i => math.pow(i.toDouble, 2.0))
    val row = data.toDF("x")
      .agg(call_function("kll_sketch_agg", $"x").as("sk"))
      .select(
        call_function("kll_quantile", $"sk", lit(0.5)).as("p50"),
        call_function("kll_quantile", $"sk", lit(0.95)).as("p95"),
        call_function("kll_quantile", $"sk", lit(0.99)).as("p99"))
      .head()
    for ((q, i) <- Seq(0.5, 0.95, 0.99).zipWithIndex) {
      val r = rankOf(data, row.getDouble(i))
      assert(math.abs(r - q) <= 0.03, s"q=$q estimate rank $r off by > 3%")
    }
  }

  test("per-partition sketches union to the same answer as one global sketch") {
    import spark.implicits._
    val data = (1 to 20000).map(_.toDouble)
    val unioned = data.zipWithIndex
      .map { case (x, i) => (i % 16, x) }.toDF("part", "x")
      .groupBy($"part")
      .agg(call_function("kll_sketch_agg", $"x").as("sk"))
      .agg(call_function("kll_union_agg", $"sk").as("sk"))
      .select(call_function("kll_quantile", $"sk", lit(0.9)).as("p90"))
      .head().getDouble(0)
    assert(math.abs(rankOf(data, unioned) - 0.9) <= 0.03)
  }

  test("an all-null group yields NULL quantiles, not a crash") {
    import spark.implicits._
    val row = Seq[Option[Double]](None, None).toDF("x")
      .agg(call_function("kll_sketch_agg", $"x").as("sk"))
      .select(call_function("kll_quantile", $"sk", lit(0.5)).as("p50"))
      .head()
    assert(row.isNullAt(0))
  }

  test("mergeQuantileBatch maintains per-key quantiles incrementally") {
    import spark.implicits._
    val path = tempDir("kllmv").toString + "/t"
    // 3 micro-batches of (service, latency); quantiles of the UNION must
    // come out of the incrementally-merged table
    val batches = Seq(
      (1 to 3000).map(i => ("api", i.toDouble)),
      (3001 to 6000).map(i => ("api", i.toDouble)) ++
        (1 to 2000).map(i => ("web", i * 2.0)),
      (6001 to 9000).map(i => ("api", i.toDouble)))
    batches.zipWithIndex.foreach { case (rows, id) =>
      val sk = rows.toDF("service", "x")
        .groupBy($"service")
        .agg(call_function("kll_sketch_agg", $"x").as("sk"))
      UpsertSink.mergeQuantileBatch(sk, path, Seq("service"), Seq("sk"),
        batchId = id.toLong, numBuckets = 4)
    }
    // replay of an already-applied batchId must be fenced: poison values
    // that would blow up p99 if the merge were applied twice
    val replay = Seq(("api", 1e9), ("web", 1e9)).toDF("service", "x")
      .groupBy($"service")
      .agg(call_function("kll_sketch_agg", $"x").as("sk"))
    UpsertSink.mergeQuantileBatch(replay, path, Seq("service"), Seq("sk"),
      batchId = 1L, numBuckets = 4)

    val est = UpsertSink.read(spark, path)
      .select($"service",
        call_function("kll_quantile", $"sk", lit(0.5)).as("p50"),
        call_function("kll_quantile", $"sk", lit(0.99)).as("p99"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    val api = (1 to 9000).map(_.toDouble)
    val web = (1 to 2000).map(_ * 2.0)
    assert(math.abs(rankOf(api, est("api")._1) - 0.5) <= 0.03)
    assert(math.abs(rankOf(api, est("api")._2) - 0.99) <= 0.03)
    assert(math.abs(rankOf(web, est("web")._1) - 0.5) <= 0.03)
    assert(math.abs(rankOf(web, est("web")._2) - 0.99) <= 0.03)
  }
}
