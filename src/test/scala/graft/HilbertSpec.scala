package graft

import org.apache.spark.sql.functions._

import graft.operators.Zorder

/** Hilbert-curve clustering (q_hilbert / Zorder.clusterWriteHilbert). */
class HilbertSpec extends SparkSpec {

  test("hilbert_index is a bijection with unit steps on a 32x32 block") {
    import spark.implicits._
    // the space-filling-curve contract, exactly: the 32x32 corner block
    // of the order-16 curve maps onto the contiguous range 0..1023, and
    // every consecutive pair of curve values is one grid step apart in
    // exactly one axis (the locality property Morton codes lack — a
    // Z-curve jumps across the space at every quadrant seam)
    val grid = for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)
    val got = grid.toDF("x", "y")
      .select(col("x"), col("y"),
        call_function("hilbert_index", col("x"), col("y")).as("d"))
      .as[(Long, Long, Long)].collect()
    val byD = got.map { case (x, y, d) => d -> ((x, y)) }.toMap
    assert(byD.keySet === (0L until 1024L).toSet, "must cover 0..1023 exactly")
    for (d <- 0L until 1023L) {
      val (x1, y1) = byD(d); val (x2, y2) = byD(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1,
        s"step d=$d: ($x1,$y1) -> ($x2,$y2) is not a unit move")
    }
  }

  test("hilbert layout prunes a y-only filter like the z-order layout") {
    import spark.implicits._
    val base = tempDir("hilbert").toString
    val grid = for (x <- 0 until 256; y <- 0 until 256)
      yield (x.toLong, y.toLong, x * 256L + y)
    val df = grid.toDF("x", "y", "payload")
    val opts = Map("parquet.block.size" -> (64 * 1024).toString)

    df.repartitionByRange(8, $"x").sortWithinPartitions($"x")
      .write.mode("overwrite").options(opts).parquet(s"$base/linear")
    Zorder.clusterWriteHilbert(df, s"$base/hilbert", $"x", $"y", 8, opts)

    def q(path: String) = spark.read.parquet(path)
      .where($"y" >= 10 && $"y" <= 13)
    val want = grid.filter(r => r._2 >= 10 && r._2 <= 13).toSet
    assert(q(s"$base/hilbert").as[(Long, Long, Long)].collect().toSet === want)
    val lin = scanRows(q(s"$base/linear"))
    val hil = scanRows(q(s"$base/hilbert"))
    assert(lin > 0 && hil > 0)
    assert(hil * 2 <= lin,
      s"hilbert layout should at least halve rows read: h=$hil linear=$lin")
  }

  private def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    def all(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a +: all(a.executedPlan)
      case o => o +: o.children.flatMap(all)
    }
    all(df.queryExecution.executedPlan)
      .collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }.sum
  }
}
