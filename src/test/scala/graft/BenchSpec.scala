package graft

import org.apache.spark.sql.graftbridge.ListenerBridge

/** Bench's per-query status: a query that throws is a failure, never a
  * timing sample; and the layer record of its warm-up pass. */
class BenchSpec extends SparkSpec {

  test("a throwing query yields its error, a clean one its seconds") {
    val failed = Bench.attempt(throw new IllegalStateException("boom"))
    assert(failed.left.map(_.getMessage) === Left("boom"))
    val ok = Bench.attempt(Thread.sleep(5))
    assert(ok.exists(_ >= 0.005))
  }

  test("a query record keeps one row of layers per query run under it, " +
      "and none once closed") {
    def run(q: String): Unit = SparkEntry.queries(q)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    val sc = spark.sparkContext
    val record = QueryRecord.open(spark)
    try {
      record.run("q_count")(run("q_count"))
      record.run("q_grouped_sum")(run("q_grouped_sum"))
      record.run("boom")(throw new IllegalStateException("boom"))
      assert(sc.getLocalProperty(QueryRecord.Property) === null)
    } finally record.close()
    val rows = record.rows
    assert(rows.map(_.query) === Seq("q_count", "q_grouped_sum", "boom"))
    for (r <- rows.take(2)) {
      assert(r.error === None, r.query)
      assert(r.jobs >= 1 && r.stages >= 1 && r.tasks >= 1, r)
      assert(math.abs(r.jobMs + r.driverGapMs - r.wallMs) <= 1.0, r)
    }
    assert(rows(1).jobs >= 2, "q_grouped_sum runs a shuffle stage per job")
    assert(rows(2).error.exists(_.contains("IllegalStateException: boom")))
    assert(rows(2).jobs === 0 && rows(2).tasks === 0)

    // closed: not even a job that names a recorded query lands in it
    sc.setLocalProperty(QueryRecord.Property, "q_count")
    try run("q_count") finally sc.setLocalProperty(QueryRecord.Property, null)
    ListenerBridge.drain(sc)
    assert(record.rows === rows)
  }
}
