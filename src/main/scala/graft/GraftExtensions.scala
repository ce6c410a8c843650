package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** `spark.sql.extensions` entry point, loaded by every
  * [[GraftSession.builder]] session: the native function kernels. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  /** Every injected function; `DESCRIBE FUNCTION` names the object that
    * defines it and prints its usage line. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] =
    Seq[(AnyRef, Seq[(String, FunctionBuilder, String)])](
      graft.functions.VectorFunctions -> graft.functions.VectorFunctions.fns,
      graft.functions.SketchFunctions -> graft.functions.SketchFunctions.fns,
      graft.functions.ThetaExprs -> graft.functions.ThetaExprs.fns,
      graft.functions.ZorderFunctions -> graft.functions.ZorderFunctions.fns,
      graft.multimodal.MediaFunctions -> graft.multimodal.MediaFunctions.fns
    ).flatMap { case (family, fns) =>
      val className = family.getClass.getName.stripSuffix("$")
      fns.map { case (name, builder, usage) =>
        (FunctionIdentifier(name),
          new ExpressionInfo(className, null, name, usage, "", "", "", "", "", "", ""),
          builder)
      }
    }
}
