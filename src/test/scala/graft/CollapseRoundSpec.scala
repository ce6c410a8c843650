package graft

import org.apache.spark.sql.catalyst.expressions.Round
import org.apache.spark.sql.functions._

/** Custom optimizer rule (graft.plans.CollapseRedundantRound), tested as
  * every session loads it: through GraftExtensions.injectOptimizerRule on
  * the shared test session. */
class CollapseRoundSpec extends SparkSpec {

  private def countRounds(df: org.apache.spark.sql.DataFrame): Int = {
    var n = 0
    df.queryExecution.optimizedPlan.transformAllExpressions {
      case r: Round => n += 1; r
    }
    n
  }

  test("round(round(x, 2), 4) collapses to one round and keeps its value") {
    import spark.implicits._
    val df = spark.range(1000).select(
      round(round($"id" / 7.0, 2), 4).as("r"))
    assert(countRounds(df) === 1, df.queryExecution.optimizedPlan.toString)
    val want = spark.range(1000).select(round($"id" / 7.0, 2).as("r"))
      .as[Double].collect().toSeq
    assert(df.as[Double].collect().toSeq === want)
  }

  test("a COARSER outer round is NOT collapsed (it changes the value)") {
    import spark.implicits._
    val df = spark.range(10).select(round(round($"id" / 7.0, 4), 1).as("r"))
    assert(countRounds(df) === 2)
  }

  test("decimal rounds are NOT collapsed (outer round changes the scale)") {
    import spark.implicits._
    val df = spark.range(10)
      .select(round(round(($"id" / 7.0).cast("decimal(20,6)"), 2), 4).as("r"))
    assert(countRounds(df) === 2, df.queryExecution.optimizedPlan.toString)
  }
}
