package graft.join

import graft.core.Cols
import graft.plans.{IntervalSweepJoinExec, IntervalSweepJoinNode, SweepMode}
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, Cast, Divide, EqualTo, Expression, Floor, Greatest, GreaterThan, LessThan, Literal}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Sort-merge interval join (SURVEY.md §4.3 option (c) — the alternative
  * physical strategy to the binned join for the long-interval / deep-
  * overlap regime), as a DataFrame-level entry point over the custom
  * Catalyst operator [[graft.plans.IntervalSweepJoinExec]].
  *
  * Both sides hash-cluster on the group keys and sort by start once
  * (planner-inserted exchanges); a single forward plane-sweep per
  * partition maintains the active interval set of each side and emits
  * every overlapping pair exactly once. Cost: one shuffle + sort per
  * side and O(pairs) emission; memory: the maximum concurrent overlap
  * depth (active sets), not the partition size. Compared to the binned
  * join it never explodes rows (no fan-out for long intervals) and
  * needs no bin-width tuning; the binned join wins when intervals are
  * short (fan-out ~1 hash joins beat a sort). Both produce identical
  * pair sets (property-tested) — [[graft.plans.IntervalJoinRewrite]]
  * picks per workload from sampled statistics.
  *
  * Beyond pairs, the operator folds three derived outputs into the same
  * sweep ([[SweepMode]]): per-left-row FIRST/LAST match (reference
  * `join_overlaps(multiple=...)`, core/pyranges_main.py:1147-1401) and
  * per-left-row match COUNT (`count_overlaps`, :769-876) — none of
  * which materialize the pair set, so their cost is O(|L| + |R| +
  * candidate visits), not O(pairs emitted).
  *
  * SKEW / FEW KEYS at scale: clustering only by key gives one task per
  * key — a hot chromosome serializes. `megaBin` SALTS the sweep: both
  * sides explode into span-scale coordinate bins (fan-out ~1 when the
  * bin is >> the interval length), the bin rides the cluster keys so
  * every (key, bin) sweeps in parallel, and the greatest-start-bin
  * dedup predicate keeps each pair exactly once — the same two
  * exchanges, parallelism span/megaBin per key instead of 1.
  * Mega-binning applies to the pair join AND (with a per-left-row rollup
  * of the per-bin-copy partials — a ~|L|-row aggregation, never the
  * pair set) to pick/count; semi/anti stay per-key (a left row would
  * be decided per bin copy, not per row).
  *
  * Mirrors the reference's ruranges sort-sweep kernel semantics
  * (reference methods/overlap.py:20-47): `slack` extends the LEFT side
  * for matching only. Key equality is SQL equi-join semantics (NULL
  * keys match nothing), identical to RangeJoin.pairs.
  */
object IntervalSweepJoin {
  import Cols.{End, Start}

  private val MbCol = "_gx_mb"

  /** Mega-bin explode of both sides (fan-out ~1: bin >> interval), or
    * passthrough; a null-bound left row keeps one null-bin copy.
    * Returns (left', right', cluster keys). */
  private def salted(left: DataFrame, right: DataFrame, keys0: Seq[String],
                     slack: Long, megaBin: Option[Long])
      : (DataFrame, DataFrame, Seq[String]) = {
    import org.apache.spark.sql.functions.{col, explode, explode_outer, floor, greatest, sequence}
    megaBin match {
      case Some(b) =>
        def fdiv(c: Column) =
          floor(c.cast("double") / b).cast("long") // exact: |coords| < 2^52
        def binsOf(s: Column, e: Column) = {
          val lo = fdiv(s)
          sequence(lo, greatest(lo, fdiv(e - 1))) // clamp degenerate rows to 1 bin
        }
        (left.withColumn(MbCol, explode_outer(binsOf(col(Start) - slack, col(End) + slack))),
          right.withColumn(MbCol, explode(binsOf(col(Start), col(End)))),
          keys0 :+ MbCol)
      case None => (left, right, keys0)
    }
  }

  private def attr(p: LogicalPlan, n: String): Attribute =
    p.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"missing column $n"))

  /** The one node builder behind every entry point: salt both sides
    * when `megaBin` is set, suffix the right, build the node with the
    * full re-checked condition (keys [+ mega-bin] equal AND slack-
    * extended overlap AND, when mega-binned, the greatest-start-bin
    * pair-dedup), and drop the suffixed right keys and the mega-bin. */
  private def sweep(left: DataFrame, right: DataFrame, keys0: Seq[String],
                    slack: Long, suffix: String, megaBin: Option[Long], mode: String,
                    joinType: JoinType = Inner, countAttr: Option[Attribute] = None,
                    withTies: Boolean = false): DataFrame = {
    val (l1, r1, keys) = salted(left, right, keys0, slack, megaBin)
    val rKeys = keys.map(_ + suffix)
    val rs = Start + suffix
    val re = End + suffix
    val lPlan = l1.queryExecution.analyzed
    val rPlan = RangeJoin.suffixRight(l1, r1, suffix).queryExecution.analyzed
    val lKeyAttrs = keys.map(attr(lPlan, _))
    val rKeyAttrs = rKeys.map(attr(rPlan, _))
    val (ls, le) = (attr(lPlan, Start), attr(lPlan, End))
    val (rsA, reA) = (attr(rPlan, rs), attr(rPlan, re))
    val overlap: Seq[Expression] = Seq(
      LessThan(Subtract64(ls, slack), reA),
      GreaterThan(Add64(le, slack), rsA))
    val dedup: Seq[Expression] = megaBin.toSeq.map { b =>
      EqualTo(attr(lPlan, MbCol),
        Cast(Floor(Divide(
          Cast(Greatest(Seq(Subtract64(ls, slack), Cast(rsA, LongType))), DoubleType),
          Literal(b.toDouble))), LongType))
    }
    val cond = (lKeyAttrs.zip(rKeyAttrs).map { case (a, b) => EqualTo(a, b) }
      ++ overlap ++ dedup).reduce[Expression](And)
    // pick tie-break: the non-coordinate right columns ascending, in
    // schema order — the same ordering tail the aggregation path's
    // min_by struct uses (RangeJoin.pickRollup)
    val ties: Seq[Expression] =
      if (withTies)
        rPlan.output.filterNot(a =>
          a.name == rs || a.name == re || rKeys.contains(a.name))
      else Nil
    val node = IntervalSweepJoinNode(lPlan, rPlan, lKeyAttrs, rKeyAttrs,
      ls, le, rsA, reA, slack, cond, joinType = joinType, mode = mode,
      countAttr = countAttr, pickTies = ties)
    val spark = left.sparkSession
    IntervalSweepJoinExec.ensureStrategy(spark)
    GraftColumnBridge.ofRows(spark, node).drop(rKeys :+ MbCol: _*)
  }

  def pairs(left: DataFrame, right: DataFrame, keys0: Seq[String],
            slack: Long = 0, suffix: String = "_b",
            megaBin: Option[Long] = None): DataFrame =
    sweep(left, right, keys0, slack, suffix, megaBin, SweepMode.Pairs)

  /** Per-left-row first/last match through the operator's native pick
    * mode: one output row per matched left row, chosen by smallest
    * (first) / largest (last) (rightStart, rightEnd), ties broken
    * ascending on the remaining right columns — the pair set is never
    * materialized. Salted (megaBin): each (key, bin) sweep emits its
    * local winner per left bin copy, then [[RangeJoin.pickRollup]] picks
    * the global winner per left row over <= fan-out rows each;
    * unmatched copies emit nothing. */
  def pick(left: DataFrame, right: DataFrame, keys0: Seq[String],
           last: Boolean, slack: Long = 0, suffix: String = "_b",
           megaBin: Option[Long] = None): DataFrame = {
    val raw = sweep(if (megaBin.isEmpty) left else RangeJoin.identified(left), right, keys0,
      slack, suffix, megaBin, if (last) SweepMode.Last else SweepMode.First, withTies = true)
    if (megaBin.isEmpty) raw
    else RangeJoin.pickRollup(left, raw, suffix, last)
  }

  /** Per-left-row overlap count through the operator's native count
    * mode: EVERY left row (unmatched, null-key and null-bound rows
    * count 0), so unsalted callers need no rejoin. Salted (megaBin):
    * per-bin-copy partial counts (each pair counted in exactly one copy
    * by the dedup predicate) go through [[RangeJoin.countRollup]]. */
  def count(left: DataFrame, right: DataFrame, keys0: Seq[String],
            slack: Long = 0, countCol: String = "NumberOverlaps",
            megaBin: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val raw = sweep(if (megaBin.isEmpty) left else RangeJoin.identified(left),
      right.select((keys0 :+ Start :+ End).map(col): _*), keys0, slack, "_b", megaBin,
      SweepMode.Count,
      countAttr = Some(AttributeReference(countCol, LongType, nullable = false)()))
    if (megaBin.isEmpty) raw else RangeJoin.countRollup(left, raw, countCol)
  }

  /** Existence-only sweep: left_semi / left_anti through the operator's
    * native modes — each left row emitted at most once by row identity
    * (matched rows on first match / never-matched rows at eviction), so
    * there is no explode, no rid machinery and no re-join. The right
    * side is projected to (keys, Start, End) before the exchange. No
    * mega-binning (a left row must be decided per row, not per bin
    * copy) — per-key parallelism only, like the reference kernel. */
  def exists(left: DataFrame, right: DataFrame, keys: Seq[String],
             slack: Long = 0, anti: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    sweep(left, right.select((keys :+ Start :+ End).map(col): _*), keys, slack, "_b", None,
      SweepMode.Pairs, if (anti) LeftAnti else LeftSemi)
  }

  /** Outer pair sweep: left/right/full outer through the operator's
    * native outer modes (reference `join_overlaps(join_type=...)`,
    * methods/join.py:45-56, core/pyranges_main.py:1267-1288) —
    * unmatched rows null-pad the other side during eviction/flush, so
    * the binned composition's two extra anti-joins are never paid, and
    * (unlike binned outer) rows are never amplified by bin fan-out.
    * The suffixed right KEY columns are dropped, like [[pairs]], so
    * unmatched right rows surface with null keys — identical to the
    * binned composition's outer schema (pinned by the q14 oracle
    * family). No mega-binning: matched-ness is a per-ROW property
    * decided across all bins a row would land in, which a bin copy
    * cannot know — per-key parallelism only, like [[exists]]. Memory:
    * bounded — outer entries past sweepSpillDepth demote to the
    * stateful overflow (row spills to disk, the matched flag stays
    * resident at 8 bytes/row) — see the depth contract in
    * [[graft.plans.IntervalSweepJoinExec]].
    *
    * SCALE NOTE: on a cluster where per-key parallelism is too coarse
    * (a hot chromosome), the scale path is salted sweep PAIRS plus a
    * per-row-id unmatched rejoin (one ~|input|-row aggregation per
    * outer side) — fan-out-free pairs with full (key, bin)
    * parallelism, at the cost of the rejoin the native mode avoids.
    * Deliberately NOT auto-dispatched: it needs a row identity on both
    * sides, and no measured workload has hit the per-key bound
    * (the gate only routes here when binned fan-out already loses). */
  def outer(left: DataFrame, right: DataFrame, keys: Seq[String],
            joinType: String, slack: Long = 0,
            suffix: String = "_b"): DataFrame = {
    val jt = joinType match {
      case "left"           => LeftOuter
      case "right"          => RightOuter
      case "outer" | "full" => FullOuter
      case other => throw new IllegalArgumentException(
        s"not an outer join type: $other")
    }
    sweep(left, right, keys, slack, suffix, None, SweepMode.Pairs, jt)
  }

  // long-typed slack arithmetic helpers (keep the condition integral)
  private def Subtract64(e: Expression, k: Long): Expression = {
    val el = Cast(e, LongType)
    if (k == 0) el
    else org.apache.spark.sql.catalyst.expressions.Subtract(el, Literal(k))
  }
  private def Add64(e: Expression, k: Long): Expression =
    if (k == 0) e
    else org.apache.spark.sql.catalyst.expressions.Add(
      Cast(e, LongType), Literal(k))
}
