package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Round

/** The engine's functions and optimizer rule reach every session through
  * `spark.sql.extensions` alone: nothing registers them per query. */
class GraftExtensionsSpec extends SparkSpec {

  private val families = Map(
    "graft.functions.VectorFunctions" -> 14,
    "graft.functions.SketchFunctions" -> 6,
    "graft.functions.ThetaExprs" -> 2,
    "graft.functions.ZorderFunctions" -> 2,
    "graft.multimodal.MediaFunctions" -> 1)

  private def checkSession(s: SparkSession): Unit = {
    val seen = GraftExtensions.functions.map { case (id, info, _) =>
      val rows = s.sql(s"DESCRIBE FUNCTION ${id.funcName}").collect().map(_.getString(0))
      assert(rows.contains(s"Function: ${id.funcName}"), rows.mkString("\n"))
      assert(rows.contains(s"Class: ${info.getClassName}"), rows.mkString("\n"))
      assert(rows.contains(s"Usage: ${info.getUsage}"), rows.mkString("\n"))
      info.getClassName
    }
    assert(seen.groupBy(identity).map { case (c, xs) => c -> xs.size } === families)

    val df = s.range(10).selectExpr("round(round(id / 7D, 2), 4) AS r")
    var rounds = 0
    df.queryExecution.optimizedPlan.transformAllExpressions {
      case r: Round => rounds += 1; r
    }
    assert(rounds === 1, df.queryExecution.optimizedPlan.toString)
  }

  test("the shared session and its newSession() resolve all 25 native functions and collapse rounds") {
    checkSession(spark)
    checkSession(spark.newSession())
  }

  test("no injected function name shadows a Spark built-in or another injected name") {
    val ids = GraftExtensions.functions.map(_._1)
    assert(ids.distinct.size === ids.size)
    val clashes = ids.filter(FunctionRegistry.builtin.functionExists)
    assert(clashes.isEmpty, s"injectFunction would silently override $clashes")
  }
}
