package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions._

/** Spark-native library packaging: everything graft adds to a session
  * — native expressions and the as-of join planner strategy — injected
  * through the standard extension point, so a user enables the whole
  * library with
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (or `.withExtensions(new GraftExtensions)`).  `GraftSession.build`
  * does the latter; it is the one way graft's own programs and specs
  * get a session, and no operator registers anything itself.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, clazz, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name),
        (es: Seq[Expression]) => builder(es)))
    }
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
  }
}
