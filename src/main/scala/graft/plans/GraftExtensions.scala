package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions into the SQL function registry so `spark.sql` text can use
  * them (`graft_dot(a, b)`), alongside the Column API in
  * [[VectorExpressions]].
  *
  * Usage: `graft.GraftSession.builder()` installs it; a session built
  * elsewhere sets `spark.sql.extensions=graft.plans.GraftExtensions`.
  * Extensions are limited to what Spark genuinely lacks (SURVEY.md §4.2):
  * one native expression and one whole-operator strategy (broadcast as-of
  * join, [[AsOfJoinStrategy]]); the built-in planner covers everything else.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_dot(arrayA, arrayB) takes 2 arguments")
        DotProductExpr(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_approx_hint"),
      new ExpressionInfo(classOf[ApproxDistinctHint].getName, "graft_approx_hint"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_approx_hint(c) takes 1 argument")
        ApproxDistinctHint(children.head)
      }))
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => ApproxDistinctRewrite)
  }
}
