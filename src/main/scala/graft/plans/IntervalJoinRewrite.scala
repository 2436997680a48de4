package graft.plans

import graft.core.Cols
import graft.join.RangeJoin
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Max}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Catalyst optimizer rule: recognize a naively-written interval join
  *
  *   a.join(b, keyEq && a.Start < b.End && b.Start < a.End)
  *
  * — which Spark would otherwise plan as a per-key nested loop (quadratic
  * on hot keys) — and rewrite it into one of the two interval-join
  * physical shapes:
  *
  *  - BINNED (SURVEY.md §4.3 option (a)): explode both sides into
  *    fixed-width bins (Generate nodes), equi-join on the bin, keep the
  *    original predicates, dedupe shuffle-free with the
  *    greatest-start-bin trick — the same plan RangeJoin.pairs builds by
  *    hand. Wins when intervals are short relative to the bin: fan-out
  *    stays ~1 and the equi-join hash-partitions hot keys across
  *    executors.
  *  - SWEEP ([[IntervalSweepJoinNode]], §4.3 option (c)): co-cluster +
  *    sort both sides and run the forward merge sweep. Wins when
  *    intervals are long: the binned plan must explode every row into
  *    len/binSize copies, the sweep never amplifies rows.
  *
  * `spark.graft.join.strategy` picks: `binned`, `sweep`, or `auto`
  * (default). Auto asks the interval-join chooser the ops layer uses,
  * [[graft.join.RangeJoin.choose]], which reads
  * [[graft.core.Sizing.sideStats]] of both sides — one bounded take of
  * the first 100k rows per side, memoized per plan — and picks the bin
  * width (sampled, unless `spark.graft.join.binSize` pins it), binned
  * vs sweep by the measured fan-out bar and depth guard, and, for inner
  * joins only, whether to SALT the sweep (mega-binned — span-scale bins
  * join the cluster keys, greatest-start-bin dedup) when per-key
  * parallelism is scarce. This rule only recognizes the join shape and
  * builds the chosen plan; unlike the ops dispatchers it applies no
  * size gate, so auto decides at any input size. The decision is
  * recorded in `RangeJoin.lastAutoPairs` (`binned` / `sweep` /
  * `sweep-salted`, `-exists` for semi/anti).
  *
  * Users opt in per session:
  *
  *   spark.experimental.extraOptimizations ++= Seq(IntervalJoinRewrite)
  *
  * (or globally via GraftExtensions / spark.sql.extensions).
  *
  * CAVEAT — `auto` samples AT OPTIMIZATION TIME: the statistics come
  * from one bounded take per join side, executed while this rule runs.
  * The take usually reads only the first split (CollectLimit scans
  * further splits only while rows fall short), is memoized per plan
  * and input files, and is recursion-guarded, but it IS a job inside
  * planning — `df.explain()` on a matched join triggers it the first
  * time, which can surprise tooling that assumes planning is pure.
  * Stale memoized statistics can only change the strategy picked,
  * never the join's result: every strategy is result-identical. Pin
  * `SET spark.graft.join.strategy = binned` (or `sweep`) to make
  * planning job-free; `spark.graft.join.binSize` then sets the bin
  * width of the binned plan (default 256).
  *
  * Covers Inner, LeftSemi and LeftAnti joins. Inner preserves the join's
  * output exactly (a Project restores the original attribute list).
  * Semi/anti run natively in the sweep; the binned plan can't explode
  * the probe side naively — a left row matching several right rows
  * would come back several times — so it tags each left row with
  * RangeJoin.Rid (monotonically_increasing_id: one per physical row,
  * evaluated once), runs the pair join, and collapses per rid: semi =
  * Aggregate over the inner pairs; anti = LEFT OUTER + max(matched)=false
  * filter. The Aggregate groups by the rid AND the left row (a hash
  * aggregate; the DataFrame ops group by the rid alone), so duplicate
  * left rows keep their multiplicity and each surviving row is emitted
  * once. Fires only on joins whose range bounds are integral attributes;
  * idempotent (skips joins already carrying a graft bin attribute).
  */
object IntervalJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  private def strategyConf: String =
    conf.getConfString("spark.graft.join.strategy", "auto")

  private val BIN_PREFIX = "_graft_bin_"

  private val inSample = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** The physical route for one matched join: pinned by the strategy
    * conf, binned for streams (no sample job can run against a stream,
    * and the binned form composes with micro-batches), else
    * [[RangeJoin.choose]] on the sides projected to (keys, Start, End).
    * Those projections are optimized too; [[inSample]] keeps this rule
    * out of them. No size gate: auto mode decides at any input size. */
  private def choose(l: LogicalPlan, r: LogicalPlan,
                     keyPairs: Seq[(Attribute, Attribute)],
                     lStart: Expression, lEnd: Expression,
                     rStart: Expression, rEnd: Expression,
                     use: RangeJoin.Use): RangeJoin.Route = {
    val route = strategyConf match {
      case "sweep" => RangeJoin.Sweep(None)
      case "binned" => RangeJoin.Binned(RangeJoin.defaultBinSize)
      case _ if l.isStreaming || r.isStreaming => RangeJoin.Binned(RangeJoin.defaultBinSize)
      case _ =>
        val keyNames = keyPairs.indices.map(i => s"_graft_k$i")
        def side(p: LogicalPlan, keys: Seq[Expression], s: Expression, e: Expression) =
          GraftColumnBridge.ofRows(SparkSession.active, Project(
            keys.zip(keyNames).map { case (k, n) => Alias(k, n)() } ++
              Seq(Alias(s, Cols.Start)(), Alias(e, Cols.End)()), p))
        val pinned = Option(conf.getConfString(RangeJoin.BinSizeKey, null)).map(_.toLong)
        inSample.set(true)
        try RangeJoin.choose(side(l, keyPairs.map(_._1), lStart, lEnd),
          side(r, keyPairs.map(_._2), rStart, rEnd), keyNames, use, pinned)
        finally inSample.set(false)
    }
    if (route.isInstanceOf[RangeJoin.Sweep])
      IntervalSweepJoinExec.ensureStrategy(SparkSession.active)
    route
  }

  // ---- shape recognition ----

  private def floorDiv(x: Expression, b: Long): Expression =
    Cast(Floor(Divide(Cast(x, DoubleType), Literal(b.toDouble))), LongType)

  private def isIntegralAttr(e: Expression, side: LogicalPlan): Boolean = e match {
    case a: AttributeReference =>
      side.outputSet.contains(a) &&
        (a.dataType == LongType || a.dataType.isInstanceOf[org.apache.spark.sql.types.IntegerType])
    case _ => false
  }

  /** The conjuncts, the two cross-side range bounds (lStart < rEnd,
    * rStart < lEnd) and the equi key pairs, if this condition is an
    * interval-overlap join with an equi key. */
  private def intervalShape(cond: Expression, l: LogicalPlan, r: LogicalPlan)
      : Option[(Seq[Expression], Expression, Expression, Expression, Expression,
          Seq[(Attribute, Attribute)])] = {
    val conjuncts = splitConjunctivePredicates(cond)
    val lts = conjuncts.collect {
      case LessThan(a, b)    => (a, b)
      case GreaterThan(a, b) => (b, a)
    }
    val p1 = lts.find { case (a, b) => isIntegralAttr(a, l) && isIntegralAttr(b, r) }
    val p2 = lts.find { case (a, b) => isIntegralAttr(a, r) && isIntegralAttr(b, l) }
    val keyPairs = conjuncts.collect {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if l.outputSet.contains(a) && r.outputSet.contains(b) => (a, b)
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if l.outputSet.contains(b) && r.outputSet.contains(a) => (b, a)
    }
    (p1, p2) match {
      case (Some((lStart, rEnd)), Some((rStart, lEnd))) if keyPairs.nonEmpty =>
        Some((conjuncts, lStart, lEnd, rStart, rEnd, keyPairs))
      case _ => None
    }
  }

  // The stop bound is clamped to >= the start bound so degenerate rows
  // (End <= Start, or coincidental '<' predicates over unrelated columns)
  // explode into exactly one bin instead of raising 'Illegal sequence
  // boundaries'. Exactness survives the clamp: for any pair satisfying
  // (lStart < rEnd && rStart < lEnd) the dedup bin
  // floor(max(lStart, rStart)/binSize) lies within both sides' clamped
  // bin ranges, and all original predicates are retained, so no pair is
  // gained or lost.
  private def seqExpr(s: Expression, e: Expression, bin: Long): Explode = {
    val lo = floorDiv(s, bin)
    val hi = floorDiv(Subtract(Cast(e, LongType), Literal(1L)), bin)
    Explode(new Sequence(lo, Greatest(Seq(lo, hi)),
      Some(Literal(1L))).withTimeZone(conf.sessionLocalTimeZone))
  }

  /** Binned join condition: original predicates + bin equality + the
    * pair-dedup predicate (each matching pair meets in exactly one bin). */
  private def binnedCond(conjuncts: Seq[Expression], binL: Attribute,
                         binR: Attribute, lStart: Expression,
                         rStart: Expression, bin: Long): Expression =
    (conjuncts :+ EqualTo(binL, binR) :+ EqualTo(binL,
      floorDiv(Greatest(Seq(Cast(lStart, LongType), Cast(rStart, LongType))),
        bin))).reduce(And)

  /** Plain or salted sweep node. Salted (megaBin = Some(w)): both
    * children explode into span-scale mega-bins (Generate, same clamp
    * as the binned path — fan-out ~1 since w >> interval length), the
    * bin joins the cluster keys so every (key, bin) sweeps in parallel,
    * and the greatest-start-bin dedup keeps each pair exactly once. */
  private def sweepNode(l: LogicalPlan, r: LogicalPlan, cond: Expression,
                        lStart: Expression, lEnd: Expression,
                        rStart: Expression, rEnd: Expression,
                        keyPairs: Seq[(Attribute, Attribute)],
                        megaBin: Option[Long]): IntervalSweepJoinNode =
    megaBin match {
      case None =>
        IntervalSweepJoinNode(l, r, keyPairs.map(_._1), keyPairs.map(_._2),
          lStart, lEnd, rStart, rEnd, slack = 0L, condition = cond)
      case Some(w) =>
        val binL = AttributeReference(BIN_PREFIX + "mbl", LongType, nullable = false)()
        val binR = AttributeReference(BIN_PREFIX + "mbr", LongType, nullable = false)()
        val lGen = Generate(seqExpr(lStart, lEnd, w), Nil, outer = false, None, Seq(binL), l)
        val rGen = Generate(seqExpr(rStart, rEnd, w), Nil, outer = false, None, Seq(binR), r)
        val dedup = EqualTo(binL, floorDiv(
          Greatest(Seq(Cast(lStart, LongType), Cast(rStart, LongType))), w))
        IntervalSweepJoinNode(lGen, rGen,
          keyPairs.map(_._1) :+ binL, keyPairs.map(_._2) :+ binR,
          lStart, lEnd, rStart, rEnd, slack = 0L,
          condition = And(And(cond, EqualTo(binL, binR)), dedup))
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (inSample.get()) return plan // re-entrance guard for the sample job
    plan.transformUp {
      case j @ Join(l, r, Inner, Some(cond), hint)
          if !cond.references.exists(_.name.startsWith(BIN_PREFIX)) =>
        intervalShape(cond, l, r) match {
          case Some((conjuncts, lStart, lEnd, rStart, rEnd, keyPairs)) =>
            choose(l, r, keyPairs, lStart, lEnd, rStart, rEnd, RangeJoin.Use.Pairs) match {
              case RangeJoin.Sweep(megaBin) =>
                Project(j.output,
                  sweepNode(l, r, cond, lStart, lEnd, rStart, rEnd, keyPairs, megaBin))
              case RangeJoin.Binned(bin) =>
                val binL = AttributeReference(BIN_PREFIX + "l", LongType, nullable = false)()
                val binR = AttributeReference(BIN_PREFIX + "r", LongType, nullable = false)()
                val lGen = Generate(seqExpr(lStart, lEnd, bin), Nil, outer = false, None, Seq(binL), l)
                val rGen = Generate(seqExpr(rStart, rEnd, bin), Nil, outer = false, None, Seq(binR), r)
                val newCond = binnedCond(conjuncts, binL, binR, lStart, rStart, bin)
                Project(j.output, Join(lGen, rGen, Inner, Some(newCond), hint))
            }
          case None => j
        }

      case j @ Join(l, r, jt @ (LeftSemi | LeftAnti), Some(cond), _)
          if !cond.references.exists(_.name.startsWith(BIN_PREFIX)) =>
        intervalShape(cond, l, r) match {
          case Some((conjuncts, lStart, lEnd, rStart, rEnd, keyPairs)) =>
            // Use.Exists never salts: a left row would be decided per
            // mega-bin copy, not per row
            choose(l, r, keyPairs, lStart, lEnd, rStart, rEnd, RangeJoin.Use.Exists) match {
              case RangeJoin.Sweep(_) =>
                // the sweep supports semi/anti natively — each left row
                // emitted at most once by row identity, no rid tagging and
                // no second evaluation of the probe side
                Project(j.output, IntervalSweepJoinNode(l, r,
                  keyPairs.map(_._1), keyPairs.map(_._2),
                  lStart, lEnd, rStart, rEnd, slack = 0L,
                  condition = cond, joinType = jt))
              case RangeJoin.Binned(bin) =>
                val ridAlias = Alias(MonotonicallyIncreasingID(), RangeJoin.Rid)()
                val lRid = Project(l.output :+ ridAlias, l)
                val rid = ridAlias.toAttribute
                val binL = AttributeReference(BIN_PREFIX + "l", LongType, nullable = true)()
                val binR = AttributeReference(BIN_PREFIX + "r", LongType, nullable = false)()
                // outer=true: a left row with NULL Start/End explodes into a
                // single null-bin copy instead of vanishing — it can never
                // equi-match (NULL bin), so semi correctly drops it and anti
                // correctly EMITS it (SQL three-valued logic: such rows
                // match nothing). outer=false here silently swallowed
                // null-bound rows from the anti output while the sweep
                // strategy kept them — the auto dispatch diverged.
                val lGen = Generate(seqExpr(lStart, lEnd, bin), Nil, outer = true, None, Seq(binL), lRid)
                val rGen = Generate(seqExpr(rStart, rEnd, bin), Nil, outer = false, None, Seq(binR), r)
                val newCond = binnedCond(conjuncts, binL, binR, lStart, rStart, bin)
                if (jt == LeftSemi) {
                  // each matching (leftRow, rightRow) pair survives the dedup
                  // predicate exactly once; collapsing on the rid yields each
                  // matched left row exactly once, duplicates preserved
                  val pairs = Join(lGen, rGen, Inner, Some(newCond), JoinHint.NONE)
                  Project(j.output, Aggregate(rid +: l.output, l.output, pairs))
                } else {
                  // anti: keep every left bin-copy (LeftOuter), flag per-copy
                  // matches, collapse per rid, keep rows where no copy matched
                  val outerJ = Join(lGen, rGen, LeftOuter, Some(newCond), JoinHint.NONE)
                  val flag = Alias(AggregateExpression(
                    Max(IsNotNull(binR)), Complete, isDistinct = false), "_graft_matched")()
                  val agg = Aggregate(rid +: l.output, l.output :+ flag, outerJ)
                  val matched = flag.toAttribute
                  Project(j.output, Filter(Not(matched), agg))
                }
            }
          case None => j
        }
    }
  }
}
