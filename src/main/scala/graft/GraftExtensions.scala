package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.expressions.{ArrayCosine, ArrayDot, RollingHash}
import graft.plans.AsOfJoinStrategy

/** Session-extension entry point:
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * At session build time it injects:
  *  - five SQL functions: `array_cosine`, `array_dot`, `rolling_hash`,
  *    `block_mean_hash`, and `bottom_k_sample` with a fixed k = 10;
  *  - the as-of-join planner strategy ([[AsOfJoinStrategy]]);
  *  - the [[graft.plans.RangeJoinRewrite]] optimizer rule, which nothing
  *    else installs.
  *
  * It is not a superset of the per-call `register(spark)` /
  * `GraftSqlShim.addStrategy` hooks the query builders use. Those hooks
  * also register `block_gradient_hash`, `block_curvature_hash`,
  * `window_hashes`, `byte_entropy`, `pcm_frame_energies`,
  * `pcm_clip_count`, `pcm_level_crossings`, `bloom_filter_agg` and
  * `might_contain`, none of which is injected here. And q26 registers
  * `bottom_k_sample` with k = 5, replacing this k = 10 binding in its
  * session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("array_cosine"),
      new ExpressionInfo(classOf[ArrayCosine].getName, "array_cosine"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ArrayCosine(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("array_dot"),
      new ExpressionInfo(classOf[ArrayDot].getName, "array_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ArrayDot(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        RollingHash(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("block_mean_hash"),
      new ExpressionInfo(classOf[graft.expressions.BlockMeanHash].getName,
        "block_mean_hash"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.expressions.BlockMeanHash(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("bottom_k_sample"),
      new ExpressionInfo(classOf[graft.expressions.BottomKSample].getName,
        "bottom_k_sample"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.expressions.BottomKSample(exprs(0), exprs(1), k = 10)
          .toAggregateExpression()))
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
  }
}
