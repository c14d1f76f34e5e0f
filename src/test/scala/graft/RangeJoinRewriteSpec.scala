package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom optimizer rule: a bounded range join written naively as a
  * theta join must be rewritten to the bucketized equi-join — same rows,
  * no nested-loop/cartesian stage.
  */
class RangeJoinRewriteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def buildNaive() = {
    val ev = graft.sources.Tables.events(spark, TestSpark.sf)
      .withColumn("t", unix_micros(col("ts")))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("t"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("t").as("ct"))
    val w = 1800L * 1000000L // 30 min in micros
    p.join(c,
        col("user_id") === col("cu") &&
          col("ct") >= col("t") - lit(w) && col("ct") < col("t"))
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n"))
  }

  test("rule rewrites the theta join to bucket probes and preserves results") {
    val baseline = buildNaive().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(baseline.nonEmpty, "fixture has in-window click/purchase pairs")

    spark.experimental.extraOptimizations = Seq(graft.plans.RangeJoinRewrite)
    try {
      val df = buildNaive()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"rule did not fire:\n$plan")
      assert(plan.contains("__graft_bucket") || plan.contains("Generate"),
        s"expected bucket probes in:\n$plan")
      val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == baseline,
        s"rewritten results differ: got=${got.size} base=${baseline.size}")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("negative on-values bucket correctly (floor division, not truncation)") {
    import spark.implicits._
    // pairs straddling zero: (key, t) with windows crossing the sign boundary
    val l = Seq((1L, -5L), (1L, 3L), (2L, -100L), (2L, 0L))
      .toDF("k", "t")
    val r = Seq((1L, -14L), (1L, -6L), (1L, 2L), (2L, -101L), (2L, -10L))
      .toDF("rk", "rt")
    def q() = l.join(r,
        col("k") === col("rk") &&
          col("rt") >= col("t") - lit(10L) && col("rt") < col("t"))
      .select(col("k"), col("t"), col("rt"))
    val baseline = q().collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    spark.experimental.extraOptimizations = Seq(graft.plans.RangeJoinRewrite)
    try {
      val got = q().collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      assert(got == baseline, s"got=$got base=$baseline")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("timestamp-interval range joins rewrite too (q29's natural spelling)") {
    val ev = graft.sources.Tables.events(spark, TestSpark.sf)
    def q() = {
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("ts").as("cts"))
      p.join(c, col("user_id") === col("cu") &&
          col("cts") >= col("ts") - expr("INTERVAL 30 MINUTES") &&
          col("cts") < col("ts"))
        .groupBy(col("event_id")).agg(count(lit(1)).as("n"))
    }
    val baseline = q().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.experimental.extraOptimizations = Seq(graft.plans.RangeJoinRewrite)
    try {
      val df = q()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"timestamp form did not rewrite:\n$plan")
      val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == baseline)
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("rule fires once in a fixed-point batch with PushPredicateThroughJoin") {
    import org.apache.spark.sql.catalyst.optimizer.PushPredicateThroughJoin
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan}
    import org.apache.spark.sql.catalyst.rules.RuleExecutor
    // the placement injectOptimizerRule gives the rule: a fixed-point batch
    // in which the range Filter above the bucket join is pushed back into
    // its condition, where the pattern would match again
    object Optimize extends RuleExecutor[LogicalPlan] {
      override protected def batches: Seq[Batch] = Seq(Batch("range join",
        FixedPoint(20), graft.plans.RangeJoinRewrite, PushPredicateThroughJoin))
    }
    val plan = Optimize.execute(buildNaive().queryExecution.analyzed)
    val probes = plan.collect {
      case g: Generate if g.generatorOutput.exists(_.name == "__graft_bucket") => g
    }
    assert(probes.size == 1, s"expected one bucket probe, got ${probes.size}:\n$plan")
  }

  test("rule leaves ordinary equi joins untouched") {
    spark.experimental.extraOptimizations = Seq(graft.plans.RangeJoinRewrite)
    try {
      val df = graft.operators.Relational.revenueByNation(spark, TestSpark.sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("__graft_bucket"))
      assert(df.count() > 0)
    } finally spark.experimental.extraOptimizations = Nil
  }
}
