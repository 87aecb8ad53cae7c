package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Catalyst optimizer rule: rewrite FIXED-WIDTH interval joins into
  * binned equi-joins (the §4.2 "custom `Rule`" tier, SURVEY.md §2.11 —
  * the declared `q_range_join_binned` applies this rewrite BY HAND; this
  * rule applies it to the plans users actually write).
  *
  * Pattern: an inner join whose condition carries a lower and an upper
  * bound on the same integral "point" expression from one side, both
  * bounds literal offsets off one shared "anchor" expression from the
  * other side —
  *
  * {{{ points.join(anchors, $"p" >= $"a" - lit1 && $"p" < $"a" + lit2) }}}
  *
  * — and no usable equi-key conjunct. Catalyst plans that condition as
  * BroadcastNestedLoopJoin: O(N·M) row comparisons, and a hard failure
  * once neither side fits a broadcast. Because the offsets are literals,
  * the interval width W is known at plan time, so the standard
  * range-join binning rewrite (Databricks range-join hints, Flink
  * interval joins) applies mechanically:
  *
  *  - point side gains `bin = floorDiv(p, W)` (every point in exactly
  *    one bin — no post-join dedup),
  *  - anchor side explodes to its ≤2 covering bins
  *    (`floorDiv(a+lo, W)`, `floorDiv(a+hi−1, W)`, deduped),
  *  - the join becomes `bin = bin AND <original condition>`, which
  *    `ExtractEquiJoinKeys` turns into a plain shuffled hash/merge join
  *    with the exact interval predicate as a residual filter.
  *
  * Work drops from O(N·M) to O(N + 2M + true matches), hash-partitioned
  * on both sides. The rewrite is lossless: bins only route rows; the
  * original predicate still decides every match (NULLs in p or a fail
  * both the bin equality and the original predicate, so semantics are
  * unchanged).
  *
  * Scope (deliberately narrow, correctness first): inner joins, integral
  * point/anchor types (bin arithmetic stays exact; floorDiv is built
  * from `pmod` so negative domains bin correctly), literal offsets
  * directly in the join condition. Bounds pre-projected as columns
  * (`withColumn("lo", ...)`) hide the width behind attributes and are
  * not matched — the declared query form covers that shape by hand.
  * Kill-switch: `spark.graft.binRangeJoin.enabled=false`.
  */
object RangeBinJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  private val FLAG = "spark.graft.binRangeJoin.enabled"

  /** One inequality conjunct, read as a bound on `point`: lower means
    * `point >= base + off`, upper means `point < base + off` (strictness
    * already folded into `off` — integral domain). */
  private case class Bound(point: Expression, base: Expression, off: Long,
                           lower: Boolean, conjunct: Expression)

  private def integral(e: Expression): Boolean =
    e.dataType == LongType || e.dataType == IntegerType

  private def asLong(e: Expression): Expression =
    if (e.dataType == LongType) e else Cast(e, LongType)

  private def litVal(e: Expression): Option[Long] = e match {
    case Literal(v: Long, LongType) => Some(v)
    case Literal(v: Int, IntegerType) => Some(v.toLong)
    case _ => None
  }

  /** Decompose `base ± literal` chains into (base, net offset). */
  private def baseOffset(e: Expression): (Expression, Long) = e match {
    case Add(l, r, _) if litVal(r).isDefined =>
      val (b, o) = baseOffset(l); (b, o + litVal(r).get)
    case Add(l, r, _) if litVal(l).isDefined =>
      val (b, o) = baseOffset(r); (b, o + litVal(l).get)
    case Subtract(l, r, _) if litVal(r).isDefined =>
      val (b, o) = baseOffset(l); (b, o - litVal(r).get)
    case other => (other, 0L)
  }

  /** Both readings of a comparison (either operand may be the point). */
  private def bounds(c: Expression): Seq[Bound] = {
    def mk(point: Expression, bnd: Expression, adj: Long,
           lower: Boolean): Seq[Bound] = {
      val (base, off) = baseOffset(bnd)
      if (integral(point) && integral(base) &&
        point.deterministic && base.deterministic)
        Seq(Bound(point, base, off + adj, lower, c))
      else Nil
    }
    c match {
      // a >= b: lower bound b on a; upper bound a+1 on b (b < a+1)
      case GreaterThanOrEqual(a, b) => mk(a, b, 0, true) ++ mk(b, a, 1, false)
      case GreaterThan(a, b) => mk(a, b, 1, true) ++ mk(b, a, 0, false)
      case LessThan(a, b) => mk(a, b, 0, false) ++ mk(b, a, 1, true)
      case LessThanOrEqual(a, b) => mk(a, b, 1, false) ++ mk(b, a, 0, true)
      case _ => Nil
    }
  }

  /** floorDiv(x, w) that is exact for negative x too: pmod is always in
    * [0, w), so the subtraction lands exactly on a multiple of w and the
    * integral divide cannot truncate toward zero incorrectly. */
  private def fdiv(x: Expression, w: Long): Expression = {
    val wl = Literal(w, LongType)
    IntegralDivide(Subtract(x, Pmod(x, wl)), wl)
  }

  private def plusConst(x: Expression, c: Long): Expression =
    if (c == 0) x else Add(x, Literal(c, LongType))

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (SQLConf.get.getConfString(FLAG, "true") != "true") return plan
    plan transform {
      case j @ Join(left, right, Inner, Some(cond), hint) =>
        val conjuncts = splitConjunctivePredicates(cond)
        def spansBoth(l: Expression, r: Expression): Boolean = {
          def sided(e: Expression, p: LogicalPlan) =
            e.references.nonEmpty && e.references.subsetOf(p.outputSet)
          (sided(l, left) && sided(r, right)) ||
            (sided(l, right) && sided(r, left))
        }
        val hasEquiKey = conjuncts.exists {
          case EqualTo(l, r) => spansBoth(l, r)
          case EqualNullSafe(l, r) => spansBoth(l, r)
          case _ => false
        }
        if (hasEquiKey) j
        else {
          val all = conjuncts.flatMap(bounds)
          val hit = (for {
            lo <- all if lo.lower
            hi <- all
            if !hi.lower && (lo.conjunct ne hi.conjunct) &&
              lo.point.semanticEquals(hi.point) &&
              lo.base.semanticEquals(hi.base) &&
              hi.off - lo.off >= 1
            pointOnLeft = lo.point.references.nonEmpty &&
              lo.point.references.subsetOf(left.outputSet) &&
              lo.base.references.nonEmpty &&
              lo.base.references.subsetOf(right.outputSet)
            pointOnRight = lo.point.references.nonEmpty &&
              lo.point.references.subsetOf(right.outputSet) &&
              lo.base.references.nonEmpty &&
              lo.base.references.subsetOf(left.outputSet)
            if pointOnLeft || pointOnRight
          } yield (lo, hi, pointOnLeft)).headOption
          hit match {
            case None => j
            case Some((lo, hi, pointOnLeft)) =>
              val w = hi.off - lo.off
              val pBin = Alias(fdiv(asLong(lo.point), w), "graft_bin_p")()
              val aL = asLong(lo.base)
              val gen = Explode(ArrayDistinct(CreateArray(Seq(
                fdiv(plusConst(aL, lo.off), w),
                fdiv(plusConst(aL, hi.off - 1), w)))))
              val aBin = AttributeReference("graft_bin_a", LongType,
                nullable = gen.elementSchema.head.nullable)()
              def projPoint(p: LogicalPlan) =
                Project(p.output :+ pBin, p)
              def genAnchor(p: LogicalPlan) =
                Generate(gen, unrequiredChildIndex = Nil, outer = false,
                  qualifier = None, generatorOutput = Seq(aBin), child = p)
              val (newLeft, newRight) =
                if (pointOnLeft) (projPoint(left), genAnchor(right))
                else (genAnchor(left), projPoint(right))
              val newCond = And(EqualTo(pBin.toAttribute, aBin), cond)
              Project(j.output,
                Join(newLeft, newRight, Inner, Some(newCond), hint))
          }
        }
    }
  }
}
