package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Custom Catalyst optimizer rule (the §4.1 extension path — reference
  * analog: the DefaultOptimizer rewrites in catalyst/optimizer/
  * Optimizer.scala, e.g. NullPropagation:217, ConstantFolding:278):
  * `graft_hamming64(x, x)` is identically 0, so fold it before it reaches
  * execution — a domain-specific algebraic rewrite Catalyst can't know.
  *
  * Installed by `Engine.session` through
  * `spark.experimental.extraOptimizations`, the public hook for
  * session-scoped rules.
  */
object SimplifySelfHamming extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      // !nullable guard: Hamming64 is null-intolerant, so for a nullable
      // input the expression must stay (NULL in → NULL out, not 0).
      case Hamming64(l, r) if l.semanticEquals(r) && l.deterministic && !l.nullable =>
        Literal(0, IntegerType)
    }
}

/** Linearize the quadratic NULL bucket of a null-safe equi-join feeding
  * a count-structure aggregate (r14 verdict #7 — promoting the
  * jn_nullsafe QUERY-level rewrite to an ENGINE rule).
  *
  * Under `l.k IS NOT DISTINCT FROM r.k2`, every NULL key matches every
  * NULL key: a p-fraction NULL stripe per side concentrates
  * |nulls_l| × |nulls_r| pairs onto ONE join key — 100× data means
  * 10,000× bucket rows, and no AQE skew split saves one logical key.
  * When the ONLY thing consumed above the join is count structure
  * grouped by functions of the key, the bucket's contribution is
  * computable analytically: it is a single group (every key in it is
  * NULL) whose count is the product of the two stripe counts. So:
  *
  *   Aggregate(g(k), count(*), Join(l, r, k <=> k2))
  *     ⇒ Aggregate(g(k), count(*), Join(σ(k≠NULL) l, σ(k2≠NULL) r, k = k2))
  *       UNION Project(g(NULL), nl·nr, σ(nl>0 ∧ nr>0)(count nulls l × count nulls r))
  *
  * Outer joins (r15 widening) carry the same structure with a
  * per-type bucket count — the null-extension cases fold into it:
  *   FULL : both stripes non-empty → nl·nr cross-matches; one empty →
  *          the other's nl+nr rows null-extend (bucket = nl+nr);
  *   LEFT : nr>0 → nl·nr matches; nr=0 → the nl left rows null-extend
  *          (right-null rows never surface in a left join otherwise);
  *   RIGHT: symmetric.
  * The extra exactness hazard for outer types is GROUP COLLISION:
  * branch 1's null-EXTENDED rows produce NULL grouping values (a left
  * join's unmatched rows have g(k2) = NULL), and if the whole grouping
  * tuple can be all-NULL in branch 1 it would duplicate the bucket's
  * group across the Union instead of merging into one output row. The
  * guard: the grouping must cover every side that branch 1 filters but
  * cannot null-extend — LEFT requires a left-key shape (left rows are
  * non-null there), RIGHT a right-key shape, FULL both (each branch-1
  * row keeps its OWN side's key non-null); INNER needs none (no
  * extension at all).
  *
  * SCOPE — deliberately narrow, every condition load-bearing for
  * exactness (a general rewrite is not provable; r14 verdict's words):
  *   - inner/left/right/full join, condition EXACTLY one EqualNullSafe
  *     over one bare attribute per side (no extra conjuncts: they
  *     could filter bucket rows asymmetrically);
  *   - at most one pure-pruning Project between Aggregate and Join;
  *   - every grouping expression is a join-key attribute or
  *     Remainder/Pmod(key, non-zero foldable) — shapes that are
  *     provably NULL-iff-input-NULL, so the bucket is ONE group and
  *     never collides with a non-null group (a general expression may
  *     map non-null keys to NULL, e.g. a non-ANSI overflowing cast,
  *     which would split one output group across the two branches);
  *   - every aggregate is a non-DISTINCT, unfiltered count of either a
  *     non-null foldable (count(*)/count(1)) or — the r16 widening —
  *     ONE bare attribute that is provably non-null (nullable=false) in
  *     its own side's output. Both have bucket values that depend on
  *     nothing but the pair STRUCTURE: count(*) counts all bucket rows;
  *     count(side attr) counts the rows where that side is present —
  *     the full nl·nr cross product in the matched case, the own-side
  *     stripe count for that side's null-extension case, and ZERO for
  *     the opposite side's extension (a LEFT join's null-extended rows
  *     carry NULL for every right attribute, so a right-side count
  *     gains nothing from them). A NULLABLE attribute's bucket count
  *     would depend on the DATA (how many nulls sit inside the stripe
  *     rows), not the structure — not analytic, guard keeps verbatim.
  *     count(DISTINCT <bare side attr>) joined the scope in r18 for
  *     SINGLE-distinct-group aggregates (see the widening paragraph
  *     below); expression-argument, multi-argument, and
  *     multi-GROUP distinct shapes keep the verbatim join —
  *     jn_nullsafe_pairs_verbatim and jn_nullsafe_verbatim are the
  *     verbatim-execution crossings those boundaries preserve;
  *   - the r17 widening: sum(<bare attribute provably non-null in its
  *     own side's output>) when the attribute is INTEGRAL and the Sum
  *     is LEGACY-mode — the bucket sum is stripe_sum × opposite stripe
  *     count (cross-matched), stripe_sum (own-side null-extension), or
  *     NULL (opposite side's extension: sum over all-NULL). Long
  *     arithmetic is exact mod 2^64, so the multiply equals iterated
  *     addition identically even under wrap; DOUBLE (non-associative
  *     FP), DECIMAL (overflow→NULL checkpoints move), and ANSI mode
  *     (overflow throws at a different point) keep the verbatim join —
  *     see [[SumSide]] for the per-exclusion argument;
  *   - the r17 second widening: min/max(<bare side attribute>) of ANY
  *     orderable type, nullable included — duplicate-invariant order
  *     statistics whose bucket value is the own-side stripe min/max
  *     with no per-join-type case split; see [[MinMaxSide]].
  *
  * The r18 widening: count(DISTINCT <bare side attribute>) — taken
  * per the deferred-widening doc this paragraph used to be, WITH its
  * precondition: jn_nullsafe_pairs_verbatim (an expression-argument
  * count(DISTINCT id·10000 + oid), outside every analytic scope)
  * landed FIRST as a successor verbatim `<=>` execution witness. The
  * provability argument is [[MinMaxSide]]'s verbatim: distinct-count
  * is DUPLICATE-INVARIANT, so the bucket value is the own-side
  * stripe's distinct count for EVERY join type with no case split
  * (cross-matched stripes only repeat rows; the own side's
  * null-extension keeps exactly the stripe rows; the opposite side's
  * extension makes the column all-NULL — but that case only arises
  * when the own stripe is EMPTY, whose distinct count is already 0,
  * count(DISTINCT) ignoring NULLs on both derivations). Any type,
  * nullable included; only multi-argument/expression-argument forms
  * and FILTER stay out.
  *
  * The r19 widening completes the family per the r18 verdict (#4):
  * sum(DISTINCT <bare INTEGRAL side attribute>), LEGACY mode — the
  * [[CountDistinctSide]] duplicate-invariance argument (bucket value =
  * own-side stripe's distinct sum, every join type, no case split; the
  * opposite-extension case coincides with the empty stripe's NULL)
  * composed with the [[SumSide]] type/mode matrix (the same SET summed
  * in a different ORDER is identical only for integral LEGACY
  * arithmetic). Landed witness-first: jn_nullsafe_sumd_verbatim (an
  * expression-argument sum(DISTINCT oid % 97 + 3)) keeps a verbatim
  * `<=>` execution no bare-attribute scope can claim. avg(DISTINCT)
  * is closed by the same note as avg: its double sum buffer is the
  * FP order-dependence the DOUBLE exclusion argues.
  *
  * FAMILY CLOSED (r20 decision record — do not re-litigate). Five
  * widenings (count(*) r14-15 → count(side attr) r16 → sum(integral
  * LEGACY) + min/max r17 → count(DISTINCT) r18 → sum(DISTINCT integral
  * LEGACY) r19) exhaust the bare-attribute/LEGACY quadrant: every
  * aggregate whose bucket value is derivable from pair STRUCTURE plus
  * duplicate-invariant own-side state is in scope, and each remaining
  * exclusion is an ARGUED impossibility, not a deferral —
  *   - EXPRESSION arguments (any f(attr)): the bucket value would need
  *     f evaluated over stripe rows inside the rule; the rewrite would
  *     have to re-derive nullability and overflow behavior of an open
  *     expression language — the witnesses (pairs/sumd_verbatim) pin
  *     the verbatim path permanently;
  *   - DOUBLE/DECIMAL sums and avg/avg(DISTINCT): FP addition is
  *     non-associative and decimal overflow checkpoints move — the
  *     multiply-vs-iterated-addition identity only holds for integral
  *     LEGACY (mod 2^64) arithmetic;
  *   - ANSI and TRY modes: overflow raises (or nulls) at a different
  *     evaluation point than the analytic product — a rewrite would
  *     change WHICH inputs fail, not just how fast they run;
  *   - FILTER clauses, multi-argument distincts, multi-distinct-group
  *     Aggregates: the distinct semantics live in gid-filtered partial
  *     counts after RewriteDistinctAggregates — a different provability
  *     problem with no structural bucket value.
  * Any future widening proposal must first name which of these four
  * arguments it defeats.
  *
  * EFFECTIVE SCOPE — one distinct GROUP per Aggregate, structurally:
  * this rule runs in the terminal "User Provided Optimizers" batch,
  * and Spark's own RewriteDistinctAggregates has by then rewritten any
  * Aggregate with TWO OR MORE distinct-argument groups into the
  * Expand + double-aggregate form, which this rule deliberately does
  * not match (the distinct semantics live in gid-filtered partial
  * counts there — a different provability problem). Single-group
  * shapes (count(DISTINCT a) alongside any number of non-distinct
  * aggregates) reach the rule intact and fire; multi-group shapes keep
  * verbatim execution — jn_nullsafe_verbatim (distinct id AND oid) is
  * the pinned living witness of exactly that boundary. avg() stays
  * excluded outright: its double sum buffer re-introduces the FP
  * order-dependence the SumSide DOUBLE exclusion already argues.
  *
  * Both branches are oracle-proven: jn_nullsafe_engine's DuckDB oracle
  * runs the verbatim null-safe join, so the driver hash-compare is the
  * semantic-equivalence proof; PlanSpec pins that the rewrite actually
  * fired (Union present, no EqualNullSafe condition left) and that the
  * guard HOLDS where it must not fire; ScaleGrowthSpec fences the
  * executed join volume to the linear band at three scale points.
  */
object LinearizeNullSafeCountAgg extends Rule[LogicalPlan] {

  /** The divisor must be provably non-zero NUMERICALLY — a zero (or
    * negative zero, which a string test misses) divisor makes
    * Remainder/Pmod return NULL for NON-null keys under non-ANSI
    * semantics, colliding a real group with the bucket's. */
  private def nonZeroLiteral(v: Any): Boolean = v match {
    case null => false
    case d: org.apache.spark.sql.types.Decimal => d.toDouble != 0.0
    case n: java.lang.Number => n.doubleValue() != 0.0
    case _ => false
  }

  /** Grouping shapes that are NULL exactly when the key is NULL. */
  private def groupingOk(e: Expression, keys: AttributeSet): Boolean = e match {
    case a: AttributeReference => keys.contains(a)
    case r: Remainder => (r.left, r.right) match {
      case (a: AttributeReference, Literal(v, _)) =>
        keys.contains(a) && nonZeroLiteral(v)
      case _ => false
    }
    case p: Pmod => (p.left, p.right) match {
      case (a: AttributeReference, Literal(v, _)) =>
        keys.contains(a) && nonZeroLiteral(v)
      case _ => false
    }
    case _ => false
  }

  /** How an aggregate's bucket value is derived analytically. */
  private sealed trait AggKind
  /** count(*) / count(non-null foldable): counts every bucket row. */
  private case object CountStar extends AggKind
  /** count(a) where `a` is nullable=false in ONE side's own output:
    * counts the bucket rows where that side is present (not
    * null-extended). */
  private final case class CountSide(left: Boolean) extends AggKind
  /** sum(a) — the r17 widening — where `a` is a provably non-null
    * INTEGRAL attribute of one side, summed in LEGACY eval mode. The
    * bucket sum is pure pair structure one step up from count: each
    * stripe row of `a`'s side repeats once per opposite-stripe row in
    * the cross-matched case, so the bucket's sum is
    * stripe_sum(a) × opposite stripe count; a null-extension case
    * contributes stripe_sum(a) for `a`'s own side and NULL for the
    * opposite side (sum over an all-NULL column is NULL, unlike
    * count's 0).
    *
    * Exactness needs the multiply to equal ITERATED addition in the
    * engine's arithmetic, which holds only where + is associative and
    * the rewrite cannot move an overflow checkpoint:
    *   - integral + LEGACY: Long addition and multiplication are both
    *     exact mod 2^64, so wrap(Σa · n) == wrap(Σ over repeated rows)
    *     identically — provable, in scope;
    *   - DOUBLE: FP addition is non-associative; Σ(a repeated n times)
    *     and Σa · n differ in ULPs — excluded;
    *   - DECIMAL: Sum checks overflow→NULL per final result while the
    *     analytic form would check it on stripe_sum and on the product
    *     separately — the checkpoints can disagree near the precision
    *     bound — excluded;
    *   - ANSI mode: overflow THROWS, and the rewrite would move where
    *     (and whether) the throw happens — excluded. */
  private final case class SumSide(left: Boolean, attr: AttributeReference,
    ctx: NumericEvalContext) extends AggKind
  /** min(a) / max(a) over a bare side attribute — the r17 second
    * widening, and the most provable of the family: min/max are
    * DUPLICATE-INVARIANT order statistics, so the bucket value is the
    * own-side stripe min/max for EVERY join type with no case split:
    *   - cross-matched stripes repeat each own-side row — min/max
    *     unchanged;
    *   - the own side's null-extension keeps exactly the stripe rows —
    *     stripe min/max;
    *   - the OPPOSITE side's extension makes the own column all-NULL,
    *     but that case only arises when the own stripe is EMPTY — whose
    *     stripe min/max is already NULL. The two coincide identically.
    * No arithmetic means no overflow/FP caveat (any orderable type),
    * and Min/Max ignore NULLs, so even a NULLABLE attribute is exact
    * (the stripe aggregate ignores the same NULLs the verbatim
    * aggregate would). Only DISTINCT/FILTER block, as everywhere. */
  private final case class MinMaxSide(left: Boolean, attr: AttributeReference,
    isMin: Boolean) extends AggKind
  /** count(DISTINCT a) over a bare side attribute — the r18 widening.
    * Duplicate-invariant exactly like [[MinMaxSide]]: the bucket value
    * is the own-side stripe's distinct count for every join type, no
    * case split (opposite-extension ⇔ own stripe empty ⇔ stripe
    * distinct count already 0; NULLs inside the stripe are ignored
    * identically by the stripe aggregate and the verbatim one). */
  private final case class CountDistinctSide(left: Boolean,
    attr: AttributeReference) extends AggKind
  /** sum(DISTINCT a) over a bare INTEGRAL side attribute, LEGACY mode —
    * the r19 widening, completing the null-safe family per the r18
    * verdict (#4). The DUPLICATE-INVARIANCE argument is
    * [[CountDistinctSide]]'s verbatim — the bucket value is the
    * own-side stripe's distinct sum for EVERY join type, no case split:
    *   - cross-matched stripes only repeat own-side rows — the distinct
    *     SET is unchanged, so its sum is unchanged;
    *   - the own side's null-extension keeps exactly the stripe rows —
    *     same set again;
    *   - the OPPOSITE side's extension makes the column all-NULL, so
    *     the verbatim sum(DISTINCT) is NULL — and that case only arises
    *     when the own stripe is EMPTY, whose stripe distinct sum is
    *     already NULL (sum over no rows). The two coincide identically
    *     (note the contrast with count's 0 — sum's empty value is NULL,
    *     value-proven by the left_sumd0 row).
    * Unlike the non-distinct [[SumSide]] there is NO multiplication —
    * the stripe aggregate sums exactly the same SET the verbatim one
    * would — but the set may still be iterated in a different ORDER, so
    * the SumSide type/mode matrix applies unchanged: integral + LEGACY
    * is exact mod 2^64 under any order; DOUBLE differs in ULPs per
    * order; DECIMAL's overflow→NULL checkpoints and ANSI's throw points
    * are order-sensitive near the bound — all three keep the verbatim
    * join. NULLs inside the stripe are ignored identically by both
    * derivations, so a NULLABLE attribute is in scope (sideOf, not
    * sided). avg(DISTINCT) stays excluded outright with avg: its
    * double sum buffer re-introduces the FP order-dependence the
    * SumSide DOUBLE exclusion argues. Expression-argument distinct sums
    * are out of scope forever — jn_nullsafe_sumd_verbatim is the
    * successor verbatim `<=>` execution witness (landed first, per the
    * deferred-widening protocol). */
  private final case class SumDistinctSide(left: Boolean,
    attr: AttributeReference, ctx: NumericEvalContext) extends AggKind

  private val integralTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(ByteType, ShortType, IntegerType, LongType)
  }

  private def aggKind(ae: AggregateExpression,
      l: LogicalPlan, r: LogicalPlan): Option[AggKind] = {
    // nullability must come from the attribute's OWN side (an outer
    // join's output re-marks the other side nullable; the bucket
    // math needs the pre-join guarantee)
    def nonNullIn(side: LogicalPlan, a: AttributeReference): Boolean =
      side.output.exists(o => o.exprId == a.exprId && !o.nullable)
    def sided(a: AttributeReference, mk: Boolean => AggKind): Option[AggKind] =
      if (nonNullIn(l, a)) Some(mk(true))
      else if (nonNullIn(r, a)) Some(mk(false))
      else None
    // min/max and count(DISTINCT) only need to know WHICH side owns the
    // attribute — nullability is irrelevant (duplicate-invariant, NULLs
    // ignored identically; see MinMaxSide / CountDistinctSide)
    def sideOf(a: AttributeReference): Option[Boolean] =
      if (l.output.exists(_.exprId == a.exprId)) Some(true)
      else if (r.output.exists(_.exprId == a.exprId)) Some(false)
      else None
    if (ae.filter.nonEmpty) None
    else if (ae.isDistinct) ae.aggregateFunction match {
      // the r18 widening — ONLY the single-bare-attribute form;
      // expression/multi-argument distinct counts are not reasoned
      // about and keep the verbatim join (jn_nullsafe_pairs_verbatim)
      case Count(Seq(a: AttributeReference)) =>
        sideOf(a).map(CountDistinctSide(_, a))
      // the r19 widening — sum(DISTINCT <bare integral attr>), LEGACY
      // only (see SumDistinctSide); expression arguments keep verbatim
      // (jn_nullsafe_sumd_verbatim)
      case s @ Sum(a: AttributeReference, _)
          if s.evalContext.evalMode == EvalMode.LEGACY &&
            integralTypes(a.dataType) =>
        sideOf(a).map(SumDistinctSide(_, a, s.evalContext))
      case _ => None
    } else ae.aggregateFunction match {
      case Count(children)
          if children.forall(c => c.foldable && !c.nullable) =>
        Some(CountStar) // count(*) / count(1); empty children counts rows too
      case Count(Seq(a: AttributeReference)) =>
        sided(a, CountSide(_))
      case s @ Sum(a: AttributeReference, _)
          if s.evalContext.evalMode == EvalMode.LEGACY &&
            integralTypes(a.dataType) =>
        sided(a, SumSide(_, a, s.evalContext))
      case Min(a: AttributeReference) =>
        sideOf(a).map(MinMaxSide(_, a, isMin = true))
      case Max(a: AttributeReference) =>
        sideOf(a).map(MinMaxSide(_, a, isMin = false))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(grouping, aggExprs, child, _) =>
      // unwrap at most one deterministic Project above the join — by
      // this point PullOutGroupingExpressions has hoisted `k % 10`
      // into exactly such a Project as `_groupingexpression#N`
      val (projOpt, below) = child match {
        case p @ Project(ps, j: Join) if ps.forall(_.deterministic) => (Some(p), j)
        case other => (None, other)
      }
      below match {
        case join @ Join(l, r, jt @ (Inner | LeftOuter | RightOuter | FullOuter),
            Some(EqualNullSafe(
              lk: AttributeReference, rk: AttributeReference)), hint)
          if grouping.nonEmpty &&
            // EMPTY grouping means ONE global output row; the rewrite's
            // two-branch Union would emit two (or one when the bucket is
            // empty but the equi-join also is — a global count yields a
            // 0 row, not no row). Grouped aggregates are immune: the
            // bucket is its own group.
            !join.isStreaming &&
            // both sides are re-evaluated by the bucket branch — a
            // nondeterministic expression ANYWHERE in either subtree
            // could diverge between branches
            l.collectFirst {
              case p if p.expressions.exists(e => !e.deterministic) => p
            }.isEmpty &&
            r.collectFirst {
              case p if p.expressions.exists(e => !e.deterministic) => p
            }.isEmpty &&
            lk.references.subsetOf(l.outputSet) &&
            rk.references.subsetOf(r.outputSet) => {
          // resolve grouping/output shapes through the Project's aliases
          val aliasMap: Map[ExprId, Expression] = projOpt
            .map(_.projectList.collect { case a: Alias => a.exprId -> a.child }.toMap)
            .getOrElse(Map.empty)
          def expand(e: Expression): Expression = e.transformUp {
            case a: AttributeReference if aliasMap.contains(a.exprId) => aliasMap(a.exprId)
          }
          val keys = AttributeSet(Seq(lk, rk))
          val groupsOk = grouping.forall(g => groupingOk(expand(g), keys))
          // per-output aggregate kind (None on any non-conforming output)
          val aggKinds: Seq[Option[Either[AggKind, Unit]]] = aggExprs.map {
            case Alias(ae: AggregateExpression, _) =>
              aggKind(ae, l, r).map(scala.util.Left(_))
            case ne => // non-aggregate outputs must be grouping shapes
              if (ne.collectFirst { case ae: AggregateExpression => ae }.isEmpty &&
                groupingOk(expand(ne match { case Alias(c, _) => c; case o => o }), keys))
                Some(scala.util.Right(()))
              else None
          }
          val aggsOk = aggKinds.forall(_.isDefined)
          // the single-distinct-group boundary, enforced LOCALLY (not
          // only via batch ordering): today RewriteDistinctAggregates
          // claims multi-group plans before this rule ever runs, but if
          // a Spark upgrade moved that handling to physical planning,
          // firing here would emit a branch-1 Aggregate whose multi-
          // distinct form nothing downstream rewrites — bail instead
          val distinctGroups = aggExprs.flatMap(_.collect {
            case ae: AggregateExpression if ae.isDistinct =>
              ae.aggregateFunction.children.map(_.canonicalized)
          }).distinct
          val distinctOk = distinctGroups.size <= 1
          // group-collision guard (outer types): branch 1's null-EXTENDED
          // rows must never form the all-NULL grouping tuple the bucket
          // owns — require a grouping shape over each side branch 1
          // keeps non-null (its filtered own key) per join type
          def coversKey(key: Attribute): Boolean =
            grouping.exists(g => expand(g).references.contains(key))
          val collisionOk = jt match {
            case Inner => true
            case LeftOuter => coversKey(lk)
            case RightOuter => coversKey(rk)
            case FullOuter => coversKey(lk) && coversKey(rk)
            case _ => false
          }
          if (!groupsOk || !aggsOk || !collisionOk || !distinctOk) agg
          else {
            // branch 1: the non-null equi-join of the SAME type, SAME
            // aggregate (and SAME output exprIds — the parent's
            // references flow through Union's head-child attributes)
            val nnJoin = Join(Filter(IsNotNull(lk), l), Filter(IsNotNull(rk), r),
              jt, Some(EqualTo(lk, rk)), hint)
            val nnChild = projOpt.map(p => p.copy(child = nnJoin)).getOrElse(nnJoin)
            val nnAgg = agg.copy(child = nnChild)
            // branch 2: the analytic bucket — per-type count and
            // emission condition (see the class doc's outer-join table)
            // key-only Project under the stripe filter (r15 ADVICE): this
            // rule runs in the terminal "User Provided Optimizers" batch,
            // so ColumnPruning never revisits the new subplans — without
            // the Project each stripe count would rescan EVERY column of
            // its side; with it, FileSourceStrategy's PhysicalOperation
            // collapse prunes the scan to the join key when the side is a
            // file relation.
            // the r17 sum widening needs per-side stripe SUMS alongside
            // the counts — same single stripe scan, one extra aggregate
            // column per distinct summed attribute
            def sumAttrsOf(left: Boolean): Seq[(AttributeReference, NumericEvalContext)] =
              aggKinds.collect {
                case Some(scala.util.Left(SumSide(`left`, a, ctx))) => (a, ctx)
              }.distinctBy(_._1.exprId)
            def minMaxAttrsOf(left: Boolean): Seq[(AttributeReference, Boolean)] =
              aggKinds.collect {
                case Some(scala.util.Left(MinMaxSide(`left`, a, isMin))) => (a, isMin)
              }.distinctBy(p => (p._1.exprId, p._2))
            // the r18 count(DISTINCT) widening: one stripe-local distinct
            // count per distinct counted attribute, same single stripe scan
            def cdAttrsOf(left: Boolean): Seq[AttributeReference] =
              aggKinds.collect {
                case Some(scala.util.Left(CountDistinctSide(`left`, a))) => a
              }.distinctBy(_.exprId)
            // the r19 sum(DISTINCT) widening: one stripe-local distinct
            // sum per distinct summed attribute. The original Aggregate
            // passed distinctOk (≤ 1 distinct group), so any cd/sd
            // attributes here are ONE attribute — the stripe Aggregate
            // also has at most one distinct group and plans normally.
            def sdAttrsOf(left: Boolean): Seq[(AttributeReference, NumericEvalContext)] =
              aggKinds.collect {
                case Some(scala.util.Left(SumDistinctSide(`left`, a, ctx))) => (a, ctx)
              }.distinctBy(_._1.exprId)
            def stripeAgg(side: LogicalPlan, key: Attribute, n: String,
                sumAttrs: Seq[(AttributeReference, NumericEvalContext)],
                mmAttrs: Seq[(AttributeReference, Boolean)],
                cdAttrs: Seq[AttributeReference],
                sdAttrs: Seq[(AttributeReference, NumericEvalContext)]) = {
              val cnt = Alias(Count(Literal(1)).toAggregateExpression(), n)()
              // the stripe sum inherits the ORIGINAL Sum's eval context —
              // re-deriving from the conf at rule time could flip mode if
              // ANSI changed between declaration and optimization
              val sums = sumAttrs.map { case (a, ctx) =>
                a.exprId -> Alias(Sum(a, ctx).toAggregateExpression(), n + "_sum")() }
              val mms = mmAttrs.map { case (a, isMin) =>
                (a.exprId, isMin) -> Alias(
                  (if (isMin) Min(a) else Max(a)).toAggregateExpression(),
                  n + (if (isMin) "_min" else "_max"))() }
              val cds = cdAttrs.map { a =>
                a.exprId -> Alias(
                  Count(Seq(a)).toAggregateExpression(isDistinct = true, filter = None),
                  n + "_cd")() }
              val sds = sdAttrs.map { case (a, ctx) =>
                a.exprId -> Alias(
                  Sum(a, ctx).toAggregateExpression(isDistinct = true, filter = None),
                  n + "_sd")() }
              val cols: Seq[NamedExpression] =
                (key +: (sumAttrs.map(_._1) ++ mmAttrs.map(_._1) ++ cdAttrs ++
                  sdAttrs.map(_._1)))
                  .distinctBy(_.exprId)
              (Aggregate(Nil,
                (((cnt +: sums.map(_._2)) ++ mms.map(_._2)) ++ cds.map(_._2)) ++
                  sds.map(_._2),
                Filter(IsNull(key), Project(cols, side))),
                cnt.toAttribute,
                sums.map { case (id, al) => id -> al.toAttribute }.toMap,
                mms.map { case (k2, al) => k2 -> al.toAttribute }.toMap,
                cds.map { case (id, al) => id -> al.toAttribute }.toMap,
                sds.map { case (id, al) => id -> al.toAttribute }.toMap)
            }
            val (nlPlan, nl, lSums, lMms, lCds, lSds) =
              stripeAgg(l, lk, "graft_nsc_nl",
                sumAttrsOf(true), minMaxAttrsOf(true), cdAttrsOf(true),
                sdAttrsOf(true))
            val (nrPlan, nr, rSums, rMms, rCds, rSds) =
              stripeAgg(r, rk, "graft_nsc_nr",
                sumAttrsOf(false), minMaxAttrsOf(false), cdAttrsOf(false),
                sdAttrsOf(false))
            val nlPos = GreaterThan(nl, Literal(0L))
            val nrPos = GreaterThan(nr, Literal(0L))
            // LEGACY-pinned (r17 ADVICE): the verbatim count/sum this
            // product replaces never THROWS (a count increments; the
            // stripe Sum is matched LEGACY-only), so if ANSI flips on
            // between declaration and optimization the bucket arithmetic
            // must still wrap, not throw — same treatment the stripe Sum
            // already gets via the original aggregate's eval context.
            val legacyCtx = NumericEvalContext(EvalMode.LEGACY)
            val cross = Multiply(nl, nr, legacyCtx)
            val (emitCond: Expression, bucketCountStar: Expression) = jt match {
              case Inner => (And(nlPos, nrPos), cross)
              case FullOuter => (Or(nlPos, nrPos),
                If(And(nlPos, nrPos), cross, Add(nl, nr, legacyCtx)))
              case LeftOuter => (nlPos, If(nrPos, cross, nl))
              case RightOuter => (nrPos, If(nlPos, cross, nr))
              case _ => (And(nlPos, nrPos), cross) // unreachable (matched above)
            }
            // count(side attr) bucket value: nl·nr cross-matched pairs
            // carry BOTH sides, so side counts equal count(*) there; a
            // null-EXTENSION case contributes its own side's stripe
            // count and ZERO to the opposite side's count (every
            // opposite-side attribute is NULL on extended rows)
            def bucketCountFor(kind: AggKind): Expression = kind match {
              case CountStar => bucketCountStar
              case CountSide(isLeft) => jt match {
                case Inner => cross
                case FullOuter =>
                  If(And(nlPos, nrPos), cross,
                    if (isLeft) If(nlPos, nl, Literal(0L))
                    else If(nrPos, nr, Literal(0L)))
                case LeftOuter =>
                  If(nrPos, cross, if (isLeft) nl else Literal(0L))
                case RightOuter =>
                  If(nlPos, cross, if (isLeft) Literal(0L) else nr)
                case _ => cross // unreachable (matched above)
              }
              // sum(side attr): stripe_sum × opposite stripe count on the
              // cross-matched stripes (each own-side row repeats once per
              // opposite row), stripe_sum alone for the own side's
              // null-extension, NULL for the opposite side's (sum over an
              // all-NULL column — count's 0 becomes sum's NULL). All Long
              // arithmetic: exact mod 2^64 = verbatim LEGACY Sum.
              // min/max: the own-side stripe min/max, for EVERY join
              // type — duplicate-invariance plus "opposite-extension ⇔
              // own stripe empty ⇔ stripe min/max already NULL" (see
              // the MinMaxSide doc) collapse the whole case table
              case MinMaxSide(isLeft, a, isMin) =>
                if (isLeft) lMms((a.exprId, isMin)) else rMms((a.exprId, isMin))
              // count(DISTINCT a): the own-side stripe's distinct count,
              // every join type — the same duplicate-invariance +
              // "opposite-extension ⇔ own stripe empty ⇔ stripe distinct
              // count already 0" collapse as min/max
              case CountDistinctSide(isLeft, a) =>
                if (isLeft) lCds(a.exprId) else rCds(a.exprId)
              // sum(DISTINCT a): the own-side stripe's distinct sum,
              // every join type — duplicate-invariance again, with the
              // empty case coinciding on NULL instead of 0 (sum over no
              // rows is NULL; see the SumDistinctSide doc)
              case SumDistinctSide(isLeft, a, _) =>
                if (isLeft) lSds(a.exprId) else rSds(a.exprId)
              case SumSide(isLeft, a, ctx) =>
                val own = if (isLeft) lSums(a.exprId) else rSums(a.exprId)
                val oppCnt = if (isLeft) nr else nl
                val nullL = Literal(null, org.apache.spark.sql.types.LongType)
                // the product inherits the ORIGINAL Sum's (LEGACY) eval
                // context, same as the stripe Sum: stripe_sum × count can
                // realistically exceed Long range, and an ANSI flip
                // between declaration and optimization must not turn the
                // verbatim LEGACY wrap into a throw (r17 ADVICE)
                val matched = Multiply(own, oppCnt, ctx)
                jt match {
                  case Inner => matched
                  case FullOuter =>
                    If(And(nlPos, nrPos), matched,
                      if (isLeft) If(nlPos, own, nullL)
                      else If(nrPos, own, nullL))
                  case LeftOuter =>
                    If(nrPos, matched, if (isLeft) own else nullL)
                  case RightOuter =>
                    If(nlPos, matched, if (isLeft) nullL else own)
                  case _ => matched // unreachable (matched above)
                }
            }
            val nonEmpty = Filter(emitCond,
              Join(nlPlan, nrPlan, Inner, None, JoinHint.NONE))
            val keyIds = Set(lk.exprId, rk.exprId)
            val bucketCols: Seq[NamedExpression] = aggExprs.zip(aggKinds).map {
              case (Alias(_: AggregateExpression, name), Some(scala.util.Left(kind))) =>
                Alias(bucketCountFor(kind), name)()
              case (ne, _) =>
                val base = ne match { case al: Alias => al.child; case o => o }
                val nulled = expand(base).transformUp {
                  case a: AttributeReference if keyIds.contains(a.exprId) =>
                    Literal(null, a.dataType)
                }
                Alias(nulled, ne.name)()
            }
            Union(Seq(nnAgg, Project(bucketCols, nonEmpty)))
          }
        }
        case _ => agg
      }
  }
}
