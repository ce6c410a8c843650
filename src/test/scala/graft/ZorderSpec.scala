package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.operators.Zorder

class ZorderSpec extends SparkSpec {

  private def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    def all(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: all(a.executedPlan)
      case o => o +: o.children.flatMap(all)
    }
    all(df.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s.metrics("numOutputRows").value }
      .sum
  }

  test("z-ordered layout prunes a y-only filter that a linear layout cannot") {
    import spark.implicits._
    val base = tempDir("zorder").toString
    // 256x256 grid; tiny row groups so toy-scale files have many groups
    // to prune (at real scale the default 128 MB groups play this role)
    val grid = for (x <- 0 until 256; y <- 0 until 256)
      yield (x.toLong, y.toLong, x * 256L + y)
    val df = grid.toDF("x", "y", "payload")
    val opts = Map("parquet.block.size" -> (64 * 1024).toString)

    // linear: globally sorted by x only
    df.repartitionByRange(8, $"x").sortWithinPartitions($"x")
      .write.mode("overwrite").options(opts).parquet(s"$base/linear")
    Zorder.clusterWrite(df, s"$base/zorder", $"x", $"y", 8, opts)

    def q(path: String) = spark.read.parquet(path)
      .where($"y" >= 10 && $"y" <= 13)
    // same answer either way…
    val want = grid.filter(r => r._2 >= 10 && r._2 <= 13).toSet
    assert(q(s"$base/zorder").as[(Long, Long, Long)].collect().toSet === want)
    assert(q(s"$base/linear").as[(Long, Long, Long)].collect().toSet === want)
    // …but the z-layout materializes far fewer rows from parquet
    val lin = scanRows(q(s"$base/linear"))
    val zrd = scanRows(q(s"$base/zorder"))
    assert(lin > 0 && zrd > 0)
    assert(zrd * 2 <= lin,
      s"z-order should at least halve rows read: z=$zrd linear=$lin")
  }

  test("z_interleave round-trips bit positions") {
    import spark.implicits._
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L),
      (0xFFFFFFFFL, 0L), (0L, 0xFFFFFFFFL)).toDF("x", "y")
      .select(call_function("z_interleave", $"x", $"y").as("z"))
      .as[Long].collect()
    assert(rows(0) === 0L)
    assert(rows(1) === 1L)            // x → even bits
    assert(rows(2) === 2L)            // y → odd bits
    assert(rows(3) === (1L | 4L | 2L | 32L)) // x=0b11→bits 0,2; y=0b101→bits 1,5
    assert(rows(4) === 0x5555555555555555L)
    assert(rows(5) === 0xAAAAAAAAAAAAAAAAL)
  }
}
