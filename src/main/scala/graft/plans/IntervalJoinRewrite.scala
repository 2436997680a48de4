package graft.plans

import graft.core.Cols
import graft.join.RangeJoin
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Catalyst optimizer rule: recognize a naively-written interval join
  *
  *   a.join(b, keyEq && a.Start < b.End && b.Start < a.End)
  *
  * — which Spark would otherwise plan as a per-key nested loop (quadratic
  * on hot keys) — and lower it through the ops layer's own plan
  * builders, so the rule and the DataFrame API run one plan per route:
  *
  *  - BINNED (SURVEY.md §4.3 option (a)): [[RangeJoin.pairs]] for inner
  *    joins, [[RangeJoin.exists]] for semi/anti. Wins when intervals are
  *    short relative to the bin: fan-out stays ~1 and the equi-join
  *    hash-partitions hot keys across executors.
  *  - SWEEP ([[IntervalSweepJoinNode]], §4.3 option (c)):
  *    [[IntervalSweepJoin.pairs]] (salted with span-scale mega-bins when
  *    the chooser says so) for inner joins, the native semi/anti modes of
  *    [[IntervalSweepJoin.exists]] otherwise. Wins when intervals are
  *    long: the sweep never amplifies rows.
  *
  * `spark.graft.join.strategy` picks: `binned`, `sweep`, or `auto`
  * (default). Auto asks the interval-join chooser the ops layer uses,
  * [[graft.join.RangeJoin.choose]], which reads
  * [[graft.core.Sizing.sideStats]] of both sides — one bounded take of
  * the first 100k rows per side, memoized per plan — and picks the bin
  * width (sampled, unless `spark.graft.join.binSize` pins it), binned
  * vs sweep by the measured fan-out bar and depth guard, and, for inner
  * joins only, whether to salt the sweep. Streams always go binned (no
  * sample job can run against a stream). Unlike the ops dispatchers
  * the rule applies no size gate, so auto decides at any input size.
  * The decision is recorded in `RangeJoin.lastAutoPairs` (`binned` /
  * `sweep` / `sweep-salted`, `-exists` for semi/anti).
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
  * Lowering: each side is projected to its keys (`_graft_k{i}`), its
  * bounds (`Start`/`End`) and every output attribute under a positional
  * name, so only keys and bounds collide and the builders' right-side
  * suffix renames only those. The builder's optimized plan is spliced
  * back under a Project that restores the join's output attributes.
  * Conjuncts the shape does not consume stay: a filter on the pairs of
  * an inner join, the exists builders' residual for semi/anti. Covers
  * Inner, LeftSemi and LeftAnti joins whose range bounds are integral
  * attributes. Idempotent: the builders name every bin column from
  * [[RangeJoin.BinPrefix]], and a join whose condition reads one is
  * skipped. A BROADCAST hint on the matched join's right side is kept:
  * the builders broadcast that side whatever its size estimate (the
  * sweep routes broadcast nothing). Other join hints are not kept: the
  * builders broadcast a side by their own size estimate.
  */
object IntervalJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  private def strategyConf: String =
    conf.getConfString("spark.graft.join.strategy", "auto")

  private val inSample = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** `body` with this rule switched off on the current thread: the
    * sample jobs and the lowered plans' own optimization run it. */
  private def guarded[T](body: => T): T = {
    val prev = inSample.get()
    inSample.set(true)
    try body finally inSample.set(prev)
  }

  /** A matched join: the conjuncts the shape did not consume, the two
    * cross-side range bounds (lStart < rEnd, rStart < lEnd) and the equi
    * key pairs. */
  private case class Shape(residual: Seq[Expression], lStart: Expression, lEnd: Expression,
                           rStart: Expression, rEnd: Expression,
                           keyPairs: Seq[(Attribute, Attribute)])

  private val keyNames = (i: Int) => s"_graft_k$i"

  /** `p` projected to its keys, its bounds and `rest`. */
  private def side(p: LogicalPlan, keys: Seq[Expression], s: Expression, e: Expression,
                   rest: Seq[NamedExpression] = Nil): DataFrame =
    GraftColumnBridge.ofRows(SparkSession.active, Project(
      keys.zipWithIndex.map { case (k, i) => Alias(k, keyNames(i))() } ++
        Seq(Alias(s, Cols.Start)(), Alias(e, Cols.End)()) ++ rest, p))

  /** The physical route for one matched join: pinned by the strategy
    * conf, binned for streams (no sample job can run against a stream,
    * and the binned form composes with micro-batches), else
    * [[RangeJoin.choose]] on the sides projected to (keys, Start, End).
    * Those projections are optimized too; [[inSample]] keeps this rule
    * out of them. No size gate: auto mode decides at any input size. */
  private def choose(l: LogicalPlan, r: LogicalPlan, s: Shape,
                     use: RangeJoin.Use): RangeJoin.Route =
    strategyConf match {
      case "sweep" => RangeJoin.Sweep(None)
      case "binned" => RangeJoin.Binned(RangeJoin.defaultBinSize)
      case _ if l.isStreaming || r.isStreaming => RangeJoin.Binned(RangeJoin.defaultBinSize)
      case _ =>
        val pinned = Option(conf.getConfString(RangeJoin.BinSizeKey, null)).map(_.toLong)
        guarded(RangeJoin.choose(side(l, s.keyPairs.map(_._1), s.lStart, s.lEnd),
          side(r, s.keyPairs.map(_._2), s.rStart, s.rEnd),
          s.keyPairs.indices.map(keyNames), use, pinned))
    }

  // ---- shape recognition ----

  private def isIntegralAttr(e: Expression, side: LogicalPlan): Boolean = e match {
    case a: AttributeReference =>
      side.outputSet.contains(a) && (a.dataType == LongType || a.dataType == IntegerType)
    case _ => false
  }

  /** The [[Shape]] of this condition, if it is an interval-overlap join
    * with an equi key. */
  private def intervalShape(cond: Expression, l: LogicalPlan, r: LogicalPlan): Option[Shape] = {
    val conjuncts = splitConjunctivePredicates(cond)
    val lts = conjuncts.collect {
      case c @ LessThan(a, b)    => (c, a, b)
      case c @ GreaterThan(a, b) => (c, b, a)
    }
    val p1 = lts.find { case (_, a, b) => isIntegralAttr(a, l) && isIntegralAttr(b, r) }
    val p2 = lts.find { case (_, a, b) => isIntegralAttr(a, r) && isIntegralAttr(b, l) }
    val keys = conjuncts.collect {
      case c @ EqualTo(a: AttributeReference, b: AttributeReference)
          if l.outputSet.contains(a) && r.outputSet.contains(b) => (c, (a: Attribute, b: Attribute))
      case c @ EqualTo(a: AttributeReference, b: AttributeReference)
          if l.outputSet.contains(b) && r.outputSet.contains(a) => (c, (b: Attribute, a: Attribute))
    }
    (p1, p2) match {
      case (Some((c1, lStart, rEnd)), Some((c2, rStart, lEnd))) if keys.nonEmpty =>
        val used = Seq(c1, c2) ++ keys.map(_._1)
        Some(Shape(conjuncts.filterNot(used.contains), lStart, lEnd, rStart, rEnd,
          keys.map(_._2)))
      case _ => None
    }
  }

  // ---- lowering ----

  /** `j` run through the ops' builder for `route`: both sides projected
    * for the builders, the residual conjuncts over the positional names,
    * and the builder's optimized plan re-aliased to `j.output`. */
  private def lower(j: Join, s: Shape, route: RangeJoin.Route): LogicalPlan = guarded {
    def positional(p: LogicalPlan, tag: String) =
      p.output.zipWithIndex.map { case (a, i) => a.exprId -> s"_graft_$tag$i" }
    val names = (positional(j.left, "l") ++ positional(j.right, "r")).toMap
    def frame(p: LogicalPlan, keys: Seq[Expression], st: Expression, en: Expression) =
      side(p, keys, Cast(st, LongType), Cast(en, LongType),
        p.output.map(a => Alias(a, names(a.exprId))()))
    val l = frame(j.left, s.keyPairs.map(_._1), s.lStart, s.lEnd)
    val r0 = frame(j.right, s.keyPairs.map(_._2), s.rStart, s.rEnd)
    val r = if (route.isInstanceOf[RangeJoin.Binned] &&
        j.hint.rightHint.exists(_.strategy.contains(BROADCAST)))
      org.apache.spark.sql.functions.broadcast(r0) else r0
    val keys = s.keyPairs.indices.map(keyNames)
    val residual = s.residual.reduceOption(And).map(c => GraftColumnBridge.column(c.transform {
      case a: AttributeReference if names.contains(a.exprId) =>
        UnresolvedAttribute.quoted(names(a.exprId))
    }))
    val built =
      if (j.joinType == Inner)
        residual.foldLeft(RangeJoin.routedPairs(route, l, r, keys, 0L, "_b"))(_.where(_))
      else RangeJoin.routedExists(route, l, r, keys, 0L, j.joinType == LeftAnti, residual)
    // optimized, not analyzed: the builders' `.alias("l")` leaves
    // SubqueryAlias nodes, which the planner cannot plan
    val plan = GraftColumnBridge.optimize(built)
    val out = plan.output.map(a => a.name -> a).toMap
    Project(j.output.map(a =>
      Alias(out(names(a.exprId)), a.name)(exprId = a.exprId, qualifier = a.qualifier)), plan)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (inSample.get()) return plan // re-entrance guard for the sample job
    plan.transformUp {
      case j @ Join(l, r, jt @ (Inner | LeftSemi | LeftAnti), Some(cond), _)
          if !cond.references.exists(_.name.startsWith(RangeJoin.BinPrefix)) =>
        intervalShape(cond, l, r).fold[LogicalPlan](j) { s =>
          // Use.Exists never salts: a left row would be decided per
          // mega-bin copy, not per row
          lower(j, s, choose(l, r, s,
            if (jt == Inner) RangeJoin.Use.Pairs else RangeJoin.Use.Exists))
        }
    }
  }
}
