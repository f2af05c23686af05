package graft

import graft.expressions.{FloatVectorDot, MinKLongs, TopKPairs}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** Spark extension point: registers graft's custom Catalyst expressions as
  * SQL functions, so `spark.sql(...)` users (and YAML-defined generated
  * trends / trigger fragments, which compile through `expr`) can call them
  * without touching the Scala API.
  *
  *  - `fvec_dot(a, b)` — codegen'd float-vector dot product
  *    ([[graft.expressions.FloatVectorDot]]).
  *  - `fvec_topk(id, score, k)` — bounded top-k aggregate
  *    ([[graft.expressions.TopKPairs]]); k must be an integer literal
  *    (it sizes the aggregation buffer at plan time).
  *  - `kmv_mink(value, k)` — k-minimum-values sketch aggregate
  *    ([[graft.expressions.MinKLongs]]); same literal-k rule.
  *
  * Also injects the native as-of join's planner strategy and its
  * filter-pushdown optimizer rule ([[graft.plans.AsofJoinStrategy]],
  * [[graft.plans.AsofJoinFilterPushdown]]) — the production
  * registration path; [[graft.operators.TemporalOps.asofJoinNative]]
  * additionally self-registers through `spark.experimental` so the
  * operator works on a session built without the extension config.
  *
  * Wire-up: `spark.sql.extensions=graft.GraftExtensions` on any session
  * (cluster-wide via spark-defaults), or [[GraftExtensions.register]] on an
  * already-running session — [[Session.local]] uses the latter.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.AsofJoinFilterPushdown)
  }
}

object GraftExtensions {
  private type Builder = Seq[Expression] => Expression

  private def info(name: String, clazz: Class[_]): ExpressionInfo =
    new ExpressionInfo(clazz.getName, name)

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    (new FunctionIdentifier("fvec_dot"),
      info("fvec_dot", classOf[FloatVectorDot]),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => FloatVectorDot(a, b)
        case other => throw new IllegalArgumentException(
          s"fvec_dot(a, b) takes 2 arguments, got ${other.length}")
      }),
    (new FunctionIdentifier("fvec_topk"),
      info("fvec_topk", classOf[TopKPairs]),
      (args: Seq[Expression]) => args match {
        case Seq(id, score, Literal(k: Int, IntegerType)) =>
          TopKPairs(id, score, k)
        case _ => throw new IllegalArgumentException(
          "fvec_topk(id, score, k) takes 2 columns and an integer literal k")
      }),
    (new FunctionIdentifier("kmv_mink"),
      info("kmv_mink", classOf[MinKLongs]),
      (args: Seq[Expression]) => args match {
        case Seq(v, Literal(k: Int, IntegerType)) => MinKLongs(v, k)
        case _ => throw new IllegalArgumentException(
          "kmv_mink(value, k) takes a bigint column and an integer literal k")
      }))

  /** Register the same functions into a live session (the config-free
    * path for an already-built SparkSession). Idempotent. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, inf, builder)
    }
}
