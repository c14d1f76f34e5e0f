package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DayTimeIntervalType, LongType, TimestampType}

/** Optimizer rule: rewrite a bounded range join into its bucketized form.
  *
  * Pattern (the canonical interval-join shape over epoch-long event
  * times, all conjuncts in one inner-join condition):
  *
  *   L ⋈ R ON  lKey = rKey  AND  rOn >= lOn - W  AND  rOn <(=) lOn
  *
  * with `lOn`, `rOn` LONG attributes and `W` a positive LONG literal.
  * Spark plans this as a broadcast-nested-loop or cartesian join — per-key
  * quadratic, the classic interval-join cliff. The rewrite buckets both
  * sides into width-W buckets and probes buckets b and b-1:
  *
  *   Filter(range conjuncts)
  *     (L + explode([b, b-1]) as bucket) ⋈ (R + bucket) ON lKey = rKey AND bucket = rBucket
  *
  * Each right row lands in ONE bucket and each left row probes TWO, so the
  * join is two equi-lookups per row — linear, shuffle-partitioned on
  * (key, bucket) — while the exact range predicate above the join keeps
  * the output identical (coverage: rOn ∈ (lOn-W, lOn] ⇒ bucket(rOn) ∈
  * {bucket(lOn)-1, bucket(lOn)} for non-negative times).
  *
  * Injected via [[graft.GraftExtensions]] (or
  * `spark.experimental.extraOptimizations`). Runs post-analysis, so all
  * constructed nodes use resolved attributes. Bucketing uses true floor
  * division (not the truncate-toward-zero IntegralDivide), so negative
  * on-values — pre-epoch times, offset day numbers — bucket correctly
  * too.
  */
object RangeJoinRewrite extends Rule[LogicalPlan] {

  /** floor(a / w) for LONG a and positive literal w: IntegralDivide
    * truncates toward zero, so subtract 1 when a is negative with a
    * nonzero remainder.
    */
  private def floorDiv(a: Expression, w: Long): Expression = {
    val q = IntegralDivide(a, Literal(w, LongType))
    val needsAdjust = And(
      LessThan(a, Literal(0L, LongType)),
      Not(EqualTo(Remainder(a, Literal(w, LongType)), Literal(0L, LongType))))
    If(needsAdjust, Subtract(q, Literal(1L, LongType)), q)
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other     => Seq(other)
  }

  private def longAttr(e: Expression): Option[Attribute] = e match {
    case a: Attribute if a.dataType == LongType => Some(a)
    case _ => None
  }

  private def tsAttr(e: Expression): Option[Attribute] = e match {
    case a: Attribute if a.dataType == TimestampType => Some(a)
    case _ => None
  }

  /** On-value as micros-long for bucketing: identity for LONG columns,
    * unix_micros for timestamps (the internal representation, zero-cost).
    */
  private def asLong(a: Attribute): Expression =
    if (a.dataType == TimestampType) UnixMicros(a) else a

  /** (leftOn, rightOn, width) if `c` is the lower bound `rOn >= lOn - W` —
    * LONG form `rOn >= lOn - <long literal>` or, post-optimization,
    * timestamp form `rOn >= lOn + INTERVAL '-W'` (TimeAdd with a negative
    * day-time-interval literal, micros).
    */
  private def lowerBound(c: Expression, left: LogicalPlan, right: LogicalPlan)
      : Option[(Attribute, Attribute, Long)] = {
    def check(lOn: Attribute, rOn: Attribute, w: Long): Option[(Attribute, Attribute, Long)] =
      if (w > 0 && right.outputSet.contains(rOn) && left.outputSet.contains(lOn))
        Some((lOn, rOn, w))
      else None
    def decode(r: Expression, l: Expression): Option[(Attribute, Attribute, Long)] =
      (r, l) match {
        case (rE, Subtract(lOnE, Literal(w: Long, LongType), _)) =>
          (longAttr(rE), longAttr(lOnE)) match {
            case (Some(rOn), Some(lOn)) => check(lOn, rOn, w)
            case _ => None
          }
        case (rE, TimestampAddInterval(lOnE, Literal(micros: Long, _: DayTimeIntervalType), _))
            if micros < 0 =>
          (tsAttr(rE), tsAttr(lOnE)) match {
            case (Some(rOn), Some(lOn)) => check(lOn, rOn, -micros)
            case _ => None
          }
        case _ => None
      }
    c match {
      case GreaterThanOrEqual(r, l) => decode(r, l)
      case GreaterThan(r, l)        => decode(r, l)
      case LessThanOrEqual(l, r)    => decode(r, l)
      case LessThan(l, r)           => decode(r, l)
      case _ => None
    }
  }

  /** True if `c` is the upper bound `rOn <(=) lOn` for the given attrs. */
  private def isUpperBound(c: Expression, lOn: Attribute, rOn: Attribute): Boolean =
    c match {
      case LessThan(a: Attribute, b: Attribute) => a.semanticEquals(rOn) && b.semanticEquals(lOn)
      case LessThanOrEqual(a: Attribute, b: Attribute) => a.semanticEquals(rOn) && b.semanticEquals(lOn)
      case GreaterThan(a: Attribute, b: Attribute) => a.semanticEquals(lOn) && b.semanticEquals(rOn)
      case GreaterThanOrEqual(a: Attribute, b: Attribute) => a.semanticEquals(lOn) && b.semanticEquals(rOn)
      case _ => false
    }

  /** True if `c` is an equi conjunct with one side from each input. */
  private def isEqui(c: Expression, left: LogicalPlan, right: LogicalPlan): Boolean =
    c match {
      case EqualTo(a: Attribute, b: Attribute) =>
        (left.outputSet.contains(a) && right.outputSet.contains(b)) ||
          (left.outputSet.contains(b) && right.outputSet.contains(a))
      case _ => false
    }

  private val ProbeName = "__graft_bucket"
  private val BucketName = "__graft_rbucket"

  /** True if `j` is this rule's own output. In a fixed-point batch
    * `PushPredicateThroughJoin` pushes the range Filter back into the
    * bucket join's condition, where it matches the pattern again; without
    * this guard every iteration would bucket the join once more.
    */
  private def bucketed(j: Join): Boolean =
    j.left.output.exists(_.name == ProbeName) || j.right.output.exists(_.name == BucketName)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), hint) if !bucketed(j) =>
      val conjuncts = splitConjuncts(cond)
      val lower = conjuncts.flatMap(c => lowerBound(c, left, right).map(c -> _)).headOption
      val rewritten = lower.flatMap { case (lowC, (lOn, rOn, w)) =>
        val upper = conjuncts.filterNot(_ eq lowC).find(isUpperBound(_, lOn, rOn))
        val equis = conjuncts.filter(isEqui(_, left, right))
        if (upper.isEmpty || equis.isEmpty) None
        else {
          val rest = conjuncts.filterNot(c => (c eq lowC) || (c eq upper.get))
          // right side: its single bucket
          val rBucketAlias = Alias(floorDiv(asLong(rOn), w), BucketName)()
          val rightB = Project(right.output :+ rBucketAlias, right)
          val rBucket = rBucketAlias.toAttribute
          // left side: probe buckets b and b-1 via explode
          val lBucketE = floorDiv(asLong(lOn), w)
          val probeAttr = AttributeReference(ProbeName, LongType, nullable = false)()
          val gen = Generate(
            Explode(CreateArray(Seq(lBucketE, Subtract(lBucketE, Literal(1L, LongType))))),
            unrequiredChildIndex = Nil, outer = false, qualifier = None,
            generatorOutput = Seq(probeAttr), child = left)
          val joinCond = (equis :+ EqualTo(probeAttr, rBucket)).reduce(And)
          val bucketJoin = Join(gen, rightB, Inner, Some(joinCond), hint)
          val filtered = Filter((Seq(lowC, upper.get) ++ rest).reduce(And), bucketJoin)
          Some(Project(j.output, filtered))
        }
      }
      rewritten.getOrElse(j)
  }
}
