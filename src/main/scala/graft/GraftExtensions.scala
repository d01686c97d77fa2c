package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** A `SparkSessionExtensions` injector (set
  * `spark.sql.extensions=graft.GraftExtensions`) that registers the
  * engine's native Catalyst expressions into the function registry, so
  * `dot_prod(...)` works from SQL strings and `expr()` in ANY session —
  * the mechanism the reference approximates with geomesa's `withJTS`
  * UDF registration (reference analytics/.../Analytics.scala:27), done
  * the Spark-3+ native way.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("dot_prod"),
      new ExpressionInfo(classOf[plans.DotProduct].getName, "dot_prod"),
      (exprs: Seq[Expression]) => plans.DotProduct(exprs.head, exprs(1))))
    // materialized-view routing (no-op until an MV is registered)
    e.injectOptimizerRule(_ => plans.MvRewriteRule)
    // native as-of join physical operator
    e.injectPlannerStrategy(_ => plans.AsOfJoinStrategy)
  }
}
