package graft

import graft.plans.ArrayOps
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session extension wiring: makes the native functions
  * ([[ArrayOps.sqlFunctions]]) available to any session via
  * `--conf spark.sql.extensions=graft.GraftExtensions`
  * (or `.withExtensions(new GraftExtensions)`); per-session
  * registration of the same list is `plans.ArrayOps.register(spark)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ArrayOps.sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
}
