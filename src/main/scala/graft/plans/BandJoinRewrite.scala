package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Optimizer rule: rewrite a BAND JOIN — an inner join whose whole
  * condition is `abs(l − r) <= δ` over BIGINT columns from opposite
  * sides — into a bucket-explode EQUI-join, automatically.
  *
  * Without this rule Spark plans the theta condition as a broadcast
  * nested-loop (or cartesian) join: every probe row is compared against
  * every candidate row, O(n·m) at any scale. The rewrite is the
  * hand-written bucket-explode pattern, applied by the OPTIMIZER so a
  * user can write the naive predicate and still get the scalable plan
  * (registry row j18 runs it):
  *
  *   Join(L, R, abs(a−b) ≤ δ)
  *     ⇒ Project(origOutput,
  *         Filter(abs(a−b) ≤ δ,
  *           Join(Generate(explode([a÷δ−1, a÷δ, a÷δ+1]) AS bkt, L),
  *                Project(R, b÷δ AS bktR),
  *                Inner, bkt = bktR)))
  *
  * Correctness (the PropertySpec band-join law, proven for arbitrary
  * multisets): every integer-division cell spans ≥ δ values, so two
  * values within δ land in the same or adjacent cells — the ±1 explode
  * COVERS all qualifying pairs; each candidate row owns exactly ONE
  * bucket so no pair is produced twice; the retained original predicate
  * removes the near-misses. Truncating division (IntegralDivide) is
  * safe even for negatives: truncation only WIDENS the cell straddling
  * zero, and wider cells keep the ±1 adjacency property. NULL inputs
  * produce NULL buckets, which fail the equi-join exactly as they
  * failed the theta condition.
  *
  * Deliberately narrow (the condition must be the bare abs-band over
  * LongType with a positive literal δ): a rewrite that fires rarely
  * and provably beats one that fires broadly and surprises. The
  * `j18_band_join_auto` registry row runs the NAIVE form through this
  * rule and hash-checks the result against DuckDB executing the same
  * naive SQL; PlanSpec pins that the executed plan contains no
  * nested-loop join.
  */
object BandJoinRewrite extends Rule[LogicalPlan] {

  private def bareBand(cond: Expression)
      : Option[(Expression, Expression, Long)] = cond match {
    case LessThanOrEqual(Abs(Subtract(x, y, _), _), Literal(d: Long, LongType))
        if d > 0 => Some((x, y, d))
    case GreaterThanOrEqual(Literal(d: Long, LongType),
        Abs(Subtract(x, y, _), _)) if d > 0 => Some((x, y, d))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), hint)
        if bareBand(cond).isDefined =>
      val (x, y, d) = bareBand(cond).get
      // orient the operands to their sides; bail (keep j) on a mixed
      // or same-side subtraction
      val oriented =
        if (x.references.subsetOf(left.outputSet) &&
          y.references.subsetOf(right.outputSet)) Some((x, y))
        else if (y.references.subsetOf(left.outputSet) &&
          x.references.subsetOf(right.outputSet)) Some((y, x))
        else None
      oriented match {
        case None => j
        case Some((l, r)) =>
          val dLit = Literal(d, LongType)
          val one = Literal(1L, LongType)
          val lBkt = IntegralDivide(l, dLit)
          val arr = CreateArray(Seq(
            Subtract(lBkt, one), lBkt, Add(lBkt, one)))
          val bktAttr =
            AttributeReference("__graft_band_bkt", LongType)()
          val gen = Generate(Explode(arr), Nil, outer = false, None,
            Seq(bktAttr), left)
          val rBktAlias = Alias(IntegralDivide(r, dLit), "__graft_band_bkt_r")()
          val proj = Project(right.output :+ rBktAlias, right)
          val equi = Join(gen, proj, Inner,
            Some(EqualTo(bktAttr, rBktAlias.toAttribute)), hint)
          Project(j.output, Filter(cond, equi))
      }
  }
}
