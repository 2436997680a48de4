package graft.plans

import graft.core.{Cols, Sizing}
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
  * (default). Auto is STATISTICS-DRIVEN: the ops layer's gate sampler,
  * [[graft.core.Sizing.sideStats]] — one bounded take of the first 100k
  * rows per join side, memoized per plan — estimates the mean interval
  * length, from which it derives (1) the bin width, when
  * `spark.graft.binSize` does not pin one: next power of four >= 4x the
  * larger mean, clamped to [64, 65536] (RangeJoin.widthFor); and
  * (2) the binned plan's explode fan-out at that
  * width, mean/bin. Fan-out above `spark.graft.join.sweepFanout`
  * (default 2, MEASURED — graft.SweepBench, BASELINE.md "binned vs
  * sweep" table: binned wins 1.4-2x at fan-out <= 1, parity at 2,
  * sweep wins 1.2x at 3, 1.35x at 4 and 4x at 16) routes to the
  * sweep. The sweep is additionally SALTED (mega-binned — span-scale
  * bins join the cluster keys, greatest-start-bin dedup) when the same
  * sample shows per-key parallelism is scarce, fixing the one-task-
  * per-hot-key serialization of a plain sweep (measured 4.3-5.5x on a
  * single hot key, BASELINE.md "salted sweep"); inner joins only.
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
  * planning job-free; `spark.graft.binSize` then pins the bin width
  * the binned plan would otherwise sample.
  *
  * Covers Inner, LeftSemi and LeftAnti joins. Inner preserves the join's
  * output exactly (a Project restores the original attribute list).
  * Semi/anti can't explode or sweep the probe side naively — a left row
  * matching several right rows would come back several times — so the
  * rewrite tags each left row with a rid (monotonically_increasing_id,
  * the same row-identity contract RangeJoin.exists uses), runs the inner
  * pair join, and collapses on the rid: semi = Aggregate over the pairs;
  * anti (binned) = LEFT OUTER + max(matched)=false filter, anti (sweep)
  * = LeftAnti equi-join against the distinct matched rids. Both keep
  * duplicate left rows at their original multiplicity (distinct rids)
  * and emit each surviving row exactly once. Fires only on joins whose
  * range bounds are integral attributes; idempotent (skips joins already
  * carrying a graft bin attribute).
  */
object IntervalJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** Bin width: tunable per session without recompiling —
    * `SET spark.graft.binSize=1024` (e.g. to the value
    * `RangeJoin.autoBinSize` reports for the workload's tables). Unset
    * (the default), `auto` samples a width instead; the non-auto
    * `binned` strategy falls back to 256. */
  private def confBinSize: Option[Long] =
    Option(conf.getConfString("spark.graft.binSize", null)).map(_.toLong)

  private def strategyConf: String =
    conf.getConfString("spark.graft.join.strategy", "auto")

  private def sweepFanout: Double =
    conf.getConfString("spark.graft.join.sweepFanout", "2").toDouble

  private val BIN_PREFIX = "_graft_bin_"

  /** Last auto decision: (strategy, sampled mean len, bin width).
    * Test/debug observability only (the Sizing.lastDecision contract). */
  val lastChoice =
    new java.util.concurrent.atomic.AtomicReference[(String, Double, Long)]()

  // ---- sampled statistics (auto mode) ----

  private val inSample = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** [[Sizing.sideStats]] of `side` projected to (keys, s, e): the
    * ops layer's bounded, memoized take, so the optimizer's fixed-point
    * re-runs and repeated self-join sides sample once. The sample
    * query is optimized too; [[inSample]] keeps this rule out of it. */
  private def sampledStats(side: LogicalPlan, keys: Seq[Expression],
                           s: Expression, e: Expression): Sizing.SideStats = {
    val kCols = keys.zipWithIndex.map { case (k, i) => Alias(k, s"_graft_k$i")() }
    val df = GraftColumnBridge.ofRows(SparkSession.active,
      Project(kCols ++ Seq(Alias(s, Cols.Start)(), Alias(e, Cols.End)()), side))
    inSample.set(true)
    try Sizing.sideStats(df, kCols.map(_.name))
    finally inSample.set(false)
  }

  /** (useSweep, binWidth, sweepMegaBin) for one matched join. The
    * mega-bin (Some = salt the sweep) fires when per-key parallelism is
    * scarce — NOT (>= 4x-cores distinct keys AND hottest <= 1/(2*cores)),
    * the measured Sizing.saltPlan demotion — and the span fits >= 4
    * bins; the span-scaled bin (~8/core) widens until explode fan-out
    * stays ~1 (BASELINE.md "salted sweep": 4.3-5.5x over the plain
    * sweep on one hot key, 1.7-2.6x on 3 balanced keys). */
  private def choose(l: LogicalPlan, r: LogicalPlan,
                     keyPairs: Seq[(Attribute, Attribute)],
                     lStart: Expression, lEnd: Expression,
                     rStart: Expression, rEnd: Expression,
                     allowSalt: Boolean = true): (Boolean, Long, Option[Long]) = {
    val decision = strategyConf match {
      case "sweep"  => (true, confBinSize.getOrElse(256L), None)
      case "binned" => (false, confBinSize.getOrElse(256L), None)
      case _ if l.isStreaming || r.isStreaming =>
        // can't run a sample job against a stream; the binned form is
        // the one that composes with micro-batch execution
        (false, confBinSize.getOrElse(256L), None)
      case _ => // auto
        val ls = sampledStats(l, keyPairs.map(_._1), lStart, lEnd)
        val rs = sampledStats(r, Nil, rStart, rEnd)
        val mean = math.max(ls.meanLen, rs.meanLen)
        val width = confBinSize.getOrElse(RangeJoin.widthFor(mean))
        // depth demotion: the sweep holds `depth` row copies in its
        // active buffers per task (in-heap to sweepSpillDepth, then a
        // disk-spillable overflow — it degrades rather than OOMs); the
        // binned join's codegen'd hash join still streams extreme
        // candidate volumes faster, so estimated overlap depth
        // (rows x meanLen / span) past the in-heap cap prefers binned
        val depthBar = conf
          .getConfString("spark.graft.join.sweepMaxDepth", "262144").toDouble
        val estRows = (l.stats.sizeInBytes + r.stats.sizeInBytes).toDouble / 64.0
        val depthOk = estRows * mean / math.max(ls.span, 1L) <= depthBar
        val sweep = mean / width > sweepFanout && depthOk
        val megaBin: Option[Long] =
          if (!sweep || !allowSalt) None
          else {
            val cores = math.max(
              SparkSession.active.sparkContext.defaultParallelism, 1)
            if (ls.manyBalancedKeys(cores)) None
            else {
              var w = 16384L
              while (w < ls.span / (8L * cores)) w *= 2
              while (w < 4.0 * mean) w *= 2
              if (ls.span >= 4L * w) Some(w) else None
            }
          }
        val tag = if (!sweep) "binned"
          else megaBin.fold("sweep")(_ => "sweep-salted")
        lastChoice.set((tag, mean, width))
        logInfo(s"[graft.rewrite] auto interval join: meanLen=$mean " +
          s"bin=$width span=${ls.span} keys=${ls.distinctKeys} -> $tag")
        (sweep, width, megaBin)
    }
    if (decision._1) IntervalSweepJoinExec.ensureStrategy(SparkSession.active)
    decision
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
            val (useSweep, bin, megaBin) =
              choose(l, r, keyPairs, lStart, lEnd, rStart, rEnd)
            if (useSweep) {
              Project(j.output,
                sweepNode(l, r, cond, lStart, lEnd, rStart, rEnd, keyPairs, megaBin))
            } else {
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
            // mega-binning never applies to semi/anti (a left row would
            // be decided per bin copy, not per row) — unsalted sweep;
            // allowSalt=false also keeps lastChoice from reporting a
            // 'sweep-salted' tag this branch would then discard
            val (useSweep, bin, _) =
              choose(l, r, keyPairs, lStart, lEnd, rStart, rEnd, allowSalt = false)
            if (useSweep) {
              // the sweep supports semi/anti natively — each left row
              // emitted at most once by row identity, no rid tagging and
              // no second evaluation of the probe side
              Project(j.output, IntervalSweepJoinNode(l, r,
                keyPairs.map(_._1), keyPairs.map(_._2),
                lStart, lEnd, rStart, rEnd, slack = 0L,
                condition = cond, joinType = jt))
            } else {
              val ridAlias = Alias(MonotonicallyIncreasingID(), "_graft_rid")()
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
