package graft.ops

import graft.core.Cols
import graft.join.RangeJoin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Binary interval operators (the heart of the library — SURVEY.md §2.1).
  * All are pure DataFrame plans over the binned range join; `keys` is the
  * resolved group key (Chromosome [+ Strand] [+ match_by]). The ops that
  * reduce per input row key on the engine's own row identity
  * ([[RangeJoin.identified]]); a `row_id` column is payload.
  */
object BinaryOps {
  import Cols.{Start, End}

  /** overlap (reference core/pyranges_main.py:2393-2615): keep left rows
    * overlapping >= 1 right row; invert => keep non-overlapping;
    * keepDuplicates mirrors the reference's multiple=True (one output
    * row PER matching right row, left columns only). */
  def overlap(left: DataFrame, right: DataFrame, keys: Seq[String],
              slack: Long = 0, contained: Boolean = false,
              invert: Boolean = false, keepDuplicates: Boolean = false,
              binSize: Long = graft.join.RangeJoin.defaultBinSize): DataFrame = {
    if (keepDuplicates && !invert) {
      RangeJoin.pairsDispatch(left, right, keys, slack, binSize, contained = contained)
        .select(left.columns.map(col): _*)
    } else {
      // Merging right first shrinks the probe side and cannot change
      // existence (except containment, which needs original intervals).
      val probe = if (contained) right else UnaryOps.merge(right, keys)
      RangeJoin.existsDispatch(left, probe, keys, slack, binSize, contained, anti = invert)
    }
  }

  /** join_overlaps (reference core/pyranges_main.py:1147-1401): relational
    * join on interval overlap, right columns suffixed; joinType in
    * {inner, left, right, outer}; multiple in {all, first, last} picks one
    * right match per left row (first = smallest (Start_b, End_b), last =
    * largest); reportOverlapCol adds the overlap length. */
  def joinOverlaps(left: DataFrame, right: DataFrame, keys: Seq[String],
                   joinType: String = "inner", multiple: String = "all",
                   slack: Long = 0, suffix: String = "_b",
                   reportOverlapCol: Option[String] = None,
                   contained: Boolean = false,
                   binSize: Long = graft.join.RangeJoin.defaultBinSize): DataFrame = {
    val rs = Start + suffix
    val re = End + suffix
    // outer types in the sweep regime: the operator's native outer
    // modes null-pad unmatched rows during eviction/flush — ONE sweep
    // instead of the binned pairs + two anti-joins, and no bin fan-out
    // row amplification on the unmatched scans.
    if (multiple == "all" && joinType != "inner" &&
        RangeJoin.gatedChoice(left, right, keys, RangeJoin.Use.Outer, contained)
          .exists(_.isInstanceOf[RangeJoin.Sweep])) {
      val p0 = graft.join.IntervalSweepJoin.outer(left, right, keys,
        joinType, slack = slack, suffix = suffix)
      return reportOverlapCol.fold(p0)(c => p0.withColumn(c,
        least(col(End), col(re)) - greatest(col(Start), col(rs))))
    }
    // first/last in the sweep regime: the operator's native pick mode
    // decides each left row DURING the sweep — the pair set (the whole
    // cost of a first-match join on dense data) is never materialized.
    // Otherwise the pairs reduce per left row (RangeJoin.pickRollup):
    // at the chooser's bin when the pick gate opened but the choice
    // stayed binned, at the caller's bin below the gate.
    val matched = if (multiple != "first" && multiple != "last")
      RangeJoin.pairsDispatch(left, right, keys, slack, binSize, suffix, contained)
    else {
      val last = multiple == "last"
      RangeJoin.gatedChoice(left, right, keys, RangeJoin.Use.Pick, contained) match {
        case Some(RangeJoin.Sweep(mb)) =>
          graft.join.IntervalSweepJoin.pick(left, right, keys,
            last = last, slack = slack, suffix = suffix, megaBin = mb)
        case route => RangeJoin.pickRollup(left, RangeJoin.pairs(RangeJoin.identified(left),
          right, keys, slack, route.collect { case RangeJoin.Binned(b) => b }.getOrElse(binSize),
          suffix, contained), suffix, last)
      }
    }
    val p = reportOverlapCol.fold(matched)(c => matched.withColumn(c,
      least(col(End), col(re)) - greatest(col(Start), col(rs))))
    def nullRight(d: DataFrame): DataFrame =
      p.columns.filterNot(d.columns.contains).foldLeft(d)((acc, c) =>
        acc.withColumn(c, lit(null).cast(p.schema(c).dataType)))
    def nullLeft(d0: DataFrame): DataFrame = {
      // unmatched right rows, projected into the pair schema
      val d = RangeJoin.suffixRight(left, d0, suffix)
      p.columns.filterNot(d.columns.contains).foldLeft(d)((acc, c) =>
        acc.withColumn(c, lit(null).cast(p.schema(c).dataType)))
    }
    joinType match {
      case "inner" => p
      case "left" =>
        val unmatched = overlap(left, right, keys, slack, contained, invert = true, binSize = binSize)
        p.unionByName(nullRight(unmatched).select(p.columns.map(col): _*))
      case "right" =>
        val unmatchedR = overlap(right, left, keys, slack, contained = false, invert = true, binSize = binSize)
        p.unionByName(nullLeft(unmatchedR).select(p.columns.map(col): _*))
      case "outer" | "full" =>
        val ul = overlap(left, right, keys, slack, contained, invert = true, binSize = binSize)
        val ur = overlap(right, left, keys, slack, contained = false, invert = true, binSize = binSize)
        p.unionByName(nullRight(ul).select(p.columns.map(col): _*))
          .unionByName(nullLeft(ur).select(p.columns.map(col): _*))
    }
  }

  /** intersect_overlaps (reference core/pyranges_main.py:5309-5436):
    * overlap join with output coordinates clipped to the overlapping
    * segment; multiple=first/last keeps one segment per left row (by
    * smallest Start_b / largest End_b). */
  def intersect(left: DataFrame, right: DataFrame, keys: Seq[String],
                slack: Long = 0, multiple: String = "all",
                binSize: Long = graft.join.RangeJoin.defaultBinSize): DataFrame = {
    val p0 = joinOverlaps(left, right, keys, joinType = "inner",
      multiple = multiple, slack = slack, binSize = binSize)
    p0.withColumn(Start, greatest(col(Start), col(Start + "_b")))
      .withColumn(End, least(col(End), col(End + "_b")))
      .drop(Start + "_b", End + "_b")
  }

  /** count_overlaps (reference core/pyranges_main.py:769-876): per left
    * row, the number of overlapping right rows (0 kept). */
  def countOverlaps(left: DataFrame, right: DataFrame, keys: Seq[String],
                    slack: Long = 0, countCol: String = "NumberOverlaps",
                    binSize: Long = graft.join.RangeJoin.defaultBinSize): DataFrame =
    // sweep regime: the operator's native count mode bumps a counter per
    // candidate instead of emitting the pair set, and (unsalted) already
    // yields every left row with its count — no rejoin at all
    RangeJoin.gatedChoice(left, right, keys, RangeJoin.Use.Count) match {
      case Some(RangeJoin.Sweep(mb)) =>
        graft.join.IntervalSweepJoin.count(left, right, keys, slack, countCol, mb)
      case route => RangeJoin.binnedCount(left, right, keys, slack,
        route.collect { case RangeJoin.Binned(b) => b }.getOrElse(binSize), countCol)
    }

  /** Multi-set count_overlaps (reference core/multioverlap.py:11-143):
    * one count column per named input set. */
  def multiCountOverlaps(left: DataFrame, others: Seq[(String, DataFrame)],
                         keys: Seq[String]): DataFrame =
    others.foldLeft(left) { case (acc, (name, df)) =>
      countOverlaps(acc, df, keys, countCol = name)
    }

  /** subtract_overlaps (reference core/pyranges_main.py:3522-3643): remove
    * from each left interval the parts covered by right (one row may split
    * into many; rows fully covered disappear; rows with no overlap pass
    * through). Plan: merge right per key, then ONE left-outer join of the
    * identified left against it and ONE window over the engine row id.
    * Per left row the merged overlaps are disjoint and sorted, so the
    * surviving pieces are the gaps between them; a row with no match
    * passes through as one copy, unchanged. */
  def subtract(left: DataFrame, right: DataFrame, keys: Seq[String],
               binSize: Long = graft.join.RangeJoin.defaultBinSize): DataFrame = {
    val merged = UnaryOps.merge(right, keys)
    // gated on the plain left, so the gate and its sample memo see the
    // caller's frame; the sweep's native left-outer mode emits each left
    // row once, the binned left-outer join one null-padded row per
    // unmatched bin copy
    val p = RangeJoin.gatedChoice(left, merged, keys, RangeJoin.Use.Outer) match {
      case Some(RangeJoin.Sweep(_)) =>
        graft.join.IntervalSweepJoin.outer(RangeJoin.identified(left), merged, keys, "left")
      case route => RangeJoin.leftOuterPairs(left, merged, keys, 0,
        route.collect { case RangeJoin.Binned(b) => b }.getOrElse(binSize))
    }
    val rs = col(Start + "_b")
    val re = col(End + "_b")
    // null copies sort first, so lag/lead over the matched rows never
    // meet one after a match
    val w = Window.partitionBy(col(RangeJoin.Rid)).orderBy(rs.asc_nulls_first)
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isLast = lead(rs, 1).over(w).isNull
    val gaps = array(
      struct(greatest(col(Start), coalesce(lag(re, 1).over(w), col(Start))).as("s"),
        least(col(End), rs).as("e")),
      struct(when(isLast, greatest(col(Start), max(re).over(wAll))).as("s"),
        when(isLast, col(End)).as("e")))
    // a row without a match (no overlap, a null key or bound, End <= Start)
    // keeps exactly one of its copies, unchanged
    val unmatched = count(rs).over(w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)) === 0
    p.withColumn("_keep", rs.isNotNull || unmatched && row_number().over(w) === 1)
      .withColumn("_segs", when(unmatched, array(struct(col(Start).as("s"), col(End).as("e"))))
        .otherwise(gaps))
      .filter(col("_keep"))
      .withColumn("_seg", explode(col("_segs")))
      .filter(rs.isNull || col("_seg.s") < col("_seg.e"))
      .withColumn(Start, col("_seg.s"))
      .withColumn(End, col("_seg.e"))
      .select(left.columns.map(col): _*)
  }

  /** set_intersect_overlaps (reference core/pyranges_main.py:2617-2721):
    * merge both sides per key, then intersect the merged segments. */
  def setIntersect(left: DataFrame, right: DataFrame, keys: Seq[String],
                   multiple: String = "all",
                   binSize: Long = graft.join.RangeJoin.defaultBinSize): DataFrame =
    intersect(UnaryOps.merge(left, keys), UnaryOps.merge(right, keys), keys, 0,
      multiple, binSize)

  /** set_union_overlaps (reference core/pyranges_main.py:2723-2820):
    * concat + merge. */
  def setUnion(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame = {
    val cols = (keys ++ Seq(Start, End)).map(col)
    UnaryOps.merge(left.select(cols: _*).unionByName(right.select(cols: _*)), keys)
  }

  /** nearest_ranges, k=1 (reference core/pyranges_main.py:2143-2391):
    * for each left row the nearest right interval; overlap => distance 0,
    * touching => distance 1 (reference README.md:51-53). Left rows whose
    * key has no right rows are dropped (inner semantics).
    *
    * Plan: three candidate generators — overlap pairs (range join), the
    * closest right interval ending at-or-before left's Start (as-of sweep
    * over the unioned tables, one sort), and the closest right interval
    * starting at-or-after left's End (mirror sweep) — then a min(struct)
    * per left row. Ties broken by smallest right row_id.
    */
  def nearest(left: DataFrame, right: DataFrame, keys: Seq[String],
              suffix: String = "_b", distCol: String = "Distance",
              excludeOverlaps: Boolean = false, binSize: Long = graft.join.RangeJoin.defaultBinSize): DataFrame =
    // single sweep implementation (NearestK) with k=1: the co-partitioned
    // mapPartitions scan — salted per position-bin on large inputs — beats
    // the old per-key window sweep, which serialized each chromosome into
    // one task.
    NearestK.nearestK(left, right, keys, 1, direction = "any",
      excludeOverlaps = excludeOverlaps, suffix = suffix, distCol = distCol,
      binSize = binSize)
      .drop("nearest_rank")
}
