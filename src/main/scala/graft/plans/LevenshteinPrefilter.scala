package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule for bounded-edit-distance predicates, two LOSSLESS
  * rewrites applied to every `levenshtein(a, b) <= k` conjunct:
  *
  *  1. a companion conjunct `abs(length(a) - length(b)) <= k` — sound
  *     because edit distance is bounded below by the length difference
  *     (each edit changes the length by at most one), so the added test
  *     can never reject a surviving row; O(1) against the DP table.
  *  2. the comparison itself becomes `levenshtein(a, b, k) >= 0` —
  *     Spark's THRESHOLDED Levenshtein (3.5+) computes a banded DP of
  *     width 2k+1 and returns −1 past the bound, so the per-row cost
  *     drops from O(|a|·|b|) to O(k·min(|a|,|b|)) while returning the
  *     EXACT distance whenever it is ≤ k: `lev(a,b) <= k  ⟺
  *     lev(a,b,k) >= 0`, for literal k ≥ 0.
  *
  * Why a RULE and not a coding convention: both rewrites then apply
  * mechanically wherever the pattern appears (user SQL included, via the
  * `graft.GraftExtensions` injection), the length test short-circuits
  * ahead of the banded DP in the conjunction, and when the predicate
  * sits on a join a fuzzy self-join's worst pairs are rejected by two
  * integer column reads. On a 100 TB fuzzy-dedup verify stage the
  * quadratic scalar is the hot loop; band + bound is the classic
  * bounded-edit-distance pairing (Ukkonen 1985) applied at plan time.
  *
  * Idempotent by construction: the threshold rewrite produces the
  * already-thresholded shape (which is only ever given a missing length
  * bound, via a structural check), so fixed-point iteration of the rule
  * batch cannot stack duplicates or re-rewrite. */
object LevenshteinPrefilter extends Rule[LogicalPlan] {

  /** The companion bound for `lev(a,b) <= k`. */
  private def bound(l: Expression, r: Expression, k: Expression): Expression =
    LessThanOrEqual(Abs(Subtract(Length(l), Length(r))), k)

  /** `lev(a,b,k) >= 0` — the banded form of `lev(a,b) <= k`. */
  private def banded(l: Expression, r: Expression, k: Expression): Expression =
    GreaterThanOrEqual(Levenshtein(l, r, Some(k)), Literal(0))

  private def intOf(k: Literal): Int = k.value.asInstanceOf[Int]

  /** Rewrite every qualifying conjunct in a predicate tree. The rule
    * DUPLICATES the levenshtein arguments into the companion conjunct, so
    * it must only fire when both are deterministic — a non-deterministic
    * argument (rand(), uuid()…) would be re-evaluated independently in
    * the bound and could reject rows the original predicate accepts
    * (the standard Catalyst guard for expression-duplicating rewrites). */
  private def addBounds(cond: Expression): Expression = {
    val conjuncts = splitConjuncts(cond)
    var changed = false
    val additions = Seq.newBuilder[Expression]
    def needBound(l: Expression, r: Expression, k: Expression): Boolean =
      !conjuncts.exists(_.semanticEquals(bound(l, r, k)))
    val rewritten = conjuncts.map {
      // lev(a,b) <= k  →  lev(a,b,k) >= 0, plus the length bound
      case LessThanOrEqual(Levenshtein(l, r, None), k @ Literal(_, IntegerType))
          if l.deterministic && r.deterministic && intOf(k) >= 0 =>
        if (needBound(l, r, k)) additions += bound(l, r, k)
        changed = true
        banded(l, r, k)
      // lev(a,b) < k  ⟺  lev(a,b) <= k-1  →  lev(a,b,k-1) >= 0
      case LessThan(Levenshtein(l, r, None), k @ Literal(_, IntegerType))
          if l.deterministic && r.deterministic && intOf(k) >= 1 =>
        val km1 = Literal(intOf(k) - 1)
        if (needBound(l, r, km1)) additions += bound(l, r, km1)
        changed = true
        banded(l, r, km1)
      // already banded (hand-written or from a previous pass): length
      // bound only, if absent
      case c @ GreaterThanOrEqual(Levenshtein(l, r, Some(k @ Literal(_, IntegerType))),
            Literal(0, IntegerType))
          if l.deterministic && r.deterministic && intOf(k) >= 0 &&
            needBound(l, r, k) =>
        changed = true
        additions += bound(l, r, k)
        c
      case other => other
    }
    if (!changed) cond
    else (additions.result() ++ rewritten).reduce(And)
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val rewritten = addBounds(cond)
      if (rewritten fastEquals cond) f else Filter(rewritten, child)
    case j @ Join(_, _, _, Some(cond), _) =>
      val rewritten = addBounds(cond)
      if (rewritten fastEquals cond) j else j.copy(condition = Some(rewritten))
  }
}
