package graft.join

import graft.core.{Cols, Sizing}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed interval (range) join.
  *
  * A naive `a.join(b, keyEq && a.Start < b.End && a.End > b.Start)` plans
  * as a per-key cartesian product — quadratic on hot chromosomes. This is
  * the *binned* range join (SURVEY.md §4.3 option (a)): both sides explode
  * into fixed-size genomic bins, equi-join on (key..., bin), post-filter
  * the true overlap predicate. Duplicate pairs (a pair sharing several
  * bins) are eliminated shuffle-free by keeping only the bin containing
  * `greatest(leftStart, rightStart)` — every overlapping pair has exactly
  * one such bin, so no `distinct` pass is needed.
  *
  * At 100 TB the equi-join on (chromosome, bin) hash-partitions evenly
  * (the bin fans hot chromosomes out across executors — built-in skew
  * mitigation), supports AQE skew splitting, and broadcast when one side
  * is small. Bin size trades explode fan-out (long intervals hit
  * ceil(len/binSize) bins) against per-bin candidate count; callers with
  * long intervals should merge/clip first or raise binSize.
  *
  * Reference semantics: ruranges `overlaps` kernel (reference
  * methods/overlap.py:20-47) — sort-sweep per (factorized) key; `slack`
  * extends the LEFT side's intervals for matching only (reference
  * core/pyranges_main.py:2393-2615).
  *
  * Which spelling runs — binned at a sampled bin, plain sweep or salted
  * sweep — is decided in ONE place, [[choose]], for the ops dispatchers
  * here and in BinaryOps and for the optimizer rule IntervalJoinRewrite.
  */
object RangeJoin {
  import Cols.{Start, End}

  /** Session conf key overriding the default genomic bin width; it also
    * pins the width IntervalJoinRewrite would otherwise sample. */
  val BinSizeKey = "spark.graft.join.binSize"

  /** Default genomic bin width. Tune toward the typical interval length:
    * too large makes per-bin candidate sets quadratic, too small explodes
    * long intervals into many bins. Read per call from the active
    * session's conf ([[BinSizeKey]], fallback 256) — no mutable global,
    * so concurrent sessions can't race each other's setting; still
    * overridable per call via each operator's `binSize` parameter.
    * The 256 default IS the statistics-driven choice for the benchmark
    * corpus: autoBinSize's rule (next power of four >= 4x mean interval
    * length) lands on 256 for gr/gr2 (mean length ~26), and the round-5
    * A/B measured 256 beating 1024 by 2.5-2.8x on q12/q14/q15
    * (BASELINE.md "bin size" table) — a 1024 bin quadruples per-bin
    * candidate sets on short intervals. */
  def defaultBinSize: Long =
    org.apache.spark.sql.internal.SQLConf.get
      .getConfString(BinSizeKey, "256").toLong

  /** Statistics-driven bin width (the adaptive path promised in SURVEY
    * §4.3): the sampled mean interval length of both sides gives the
    * next power of four >= 4x the larger mean, clamped to [64, 65536]
    * ([[widthFor]]). Rationale: a bin ~4x the typical length keeps
    * explode fan-out near 1 copy/row while per-bin candidate sets stay
    * small; powers of four keep the choice stable run-to-run under
    * sampling noise. The statistics come from
    * [[Sizing.sideStats]]: one bounded take per side (usually
    * one task reading the first split; a fraction-based sample would
    * scan every partition), memoized per plan. Callers opt in:
    * `RangeJoin.pairs(l, r, keys, binSize = RangeJoin.autoBinSize(l, r))`. */
  def autoBinSize(left: DataFrame, right: DataFrame,
                  sampleRows: Int = 100000): Long =
    widthFor(math.max(Sizing.sideStats(left, Nil, sampleRows).meanLen,
      Sizing.sideStats(right, Nil, sampleRows).meanLen))

  /** The autoBinSize rule: next power of four >= 4x `meanLen`, clamped
    * to [64, 65536]. */
  def widthFor(meanLen: Double): Long = {
    var bin = 64L
    while (bin < 4.0 * meanLen && bin < 65536L) bin *= 4
    bin
  }

  /** An interval join's physical spelling: the binned equi-join at
    * `bin`, or the sort-merge sweep ([[IntervalSweepJoin]]), salted with
    * span-scale mega-bins when `megaBin` is set. */
  sealed trait Route
  final case class Binned(bin: Long) extends Route
  final case class Sweep(megaBin: Option[Long]) extends Route

  /** What the caller does with the join's matches: it names the size
    * gate, suffixes the recorded tag, says whether the sweep may be
    * salted (not for exists/outer: salting copies rows across mega-bins,
    * and those joins decide each left row once, not per copy) and
    * whether the sweep folds matches instead of emitting pairs
    * (pick/count). */
  sealed abstract class Use(val gate: String, val tagSuffix: String,
                            val salts: Boolean = true, val folds: Boolean = false,
                            val gateBytes: Option[Long] = None)
  object Use {
    case object Pairs extends Use("rangejoin/auto", "")
    case object Exists extends Use("rangejoin/existsAuto", "-exists", salts = false)
    case object Outer extends Use("rangejoin/outerAuto", "-outer", salts = false)
    // the pick's own 4 MB size gate: the round-8 A/B on q52's natural
    // sf0.1 shape (17 MB leaves, 10.2M pairs, 3 hot keys — BASELINE.md
    // "q52 pick crossover") measured the sweep pick at 1.0-1.4 s steady
    // / 2.0 s cold vs the binned pick's 1.4-1.7 s / 5.4 s, with identical
    // output hashes — pair materialization dominates well below the
    // shared 32 MB gate
    case object Pick extends Use("rangejoin/pickAuto", "-rangejoin/pickAuto", folds = true,
      gateBytes = Some(4L << 20))
    case object Count extends Use("rangejoin/countAuto", "-rangejoin/countAuto", folds = true)
  }

  /** Last chooser decision: (tag, mean len, bin width) — test/debug
    * observability (the Sizing.lastDecision contract). Tags: `binned`,
    * `sweep` or `sweep-salted`, then the use's suffix; a pick/count
    * that stays binned records nothing itself (a count's pair join
    * records `binned`). */
  val lastAutoPairs =
    new java.util.concurrent.atomic.AtomicReference[(String, Double, Long)]()

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** THE interval-join decision, shared by the ops dispatchers and
    * IntervalJoinRewrite. It reads [[Sizing.sideStats]] of both sides
    * with `keys` (one memoized take per frame) and picks:
    *
    *  - the bin: `pinnedBin`, else [[widthFor]] of the larger mean.
    *  - SWEEP when the binned plan's explode fan-out mean/bin exceeds
    *    2 — the MEASURED crossover (graft.SweepBench, BASELINE.md
    *    "binned vs sweep": binned wins 1.4-2x at fan-out <= 1, parity at
    *    2, sweep 4x ahead at 16). Pick/count also sweep whenever salt is
    *    available: their salted fold modes never materialize the pair
    *    set and beat binned pairs+aggregation at EVERY length (1.4x at
    *    fan-out 0.08 up to 11x at 16, BASELINE.md "sweep pick/count"),
    *    while the PLAIN sweep still loses at low fan-out on scarce keys
    *    (one task per key, 10.9 s vs binned 2.6 s) — the case salt fixes.
    *  - but BINNED when the estimated max overlap depth, rows (leaf bytes
    *    / ~64 B) x mean / span, passes `spark.graft.join.sweepMaxDepth`
    *    (default 262144, the sweep's in-heap cap). Past it the sweep
    *    overflows to disk-spillable generations (1M concurrent entries
    *    in ~0.9 s, BASELINE.md "sweep depth stress") rather than OOM,
    *    but the codegen'd hash join streams the same candidates faster,
    *    and the stateful pick/count modes cannot overflow at all.
    *  - the salt, for uses that allow it: [[Sizing.saltPlan]]'s
    *    span-scaled bin (demoted on a narrow span or many balanced keys),
    *    widened until explode fan-out stays ~1 copy per row, and kept
    *    only while the span still covers >= 4 of the widened bins — the
    *    narrow-span failure saltPlan guards (0.78x, BASELINE.md "salted
    *    crossover") — unless the gate is forced salted. Salting fixes the
    *    one-task-per-hot-key serialization of a plain sweep: 4.3-5.5x on
    *    one hot key, 1.7-2.6x on 3 balanced keys (BASELINE.md "salted
    *    sweep").
    *
    * Records its tag in [[lastAutoPairs]]. No size gate: that is
    * [[gatedChoice]]. */
  private[graft] def choose(left: DataFrame, right: DataFrame, keys: Seq[String],
                            use: Use, pinnedBin: Option[Long] = None): Route = {
    val l = Sizing.sideStats(left, keys)
    val mean = math.max(l.meanLen, Sizing.sideStats(right, keys).meanLen)
    val bin = pinnedBin.getOrElse(widthFor(mean))
    lazy val megaBin =
      if (!use.salts) None
      else Sizing.saltPlan(left, keys).flatMap { b =>
        var w = b
        while (w < 4.0 * mean) w *= 2
        Option.when(l.span >= 4L * w || Sizing.forced().contains(true))(w)
      }
    def depthOk: Boolean =
      Sizing.leafScanBytes(left, right).toDouble / 64.0 * mean / l.span <=
        org.apache.spark.sql.internal.SQLConf.get
          .getConfString("spark.graft.join.sweepMaxDepth", "262144").toDouble
    val route =
      if ((mean / bin > 2.0 || use.folds && megaBin.isDefined) && depthOk) Sweep(megaBin)
      else Binned(bin)
    val tag = route match {
      case Sweep(mb) => Some(mb.fold("sweep")(_ => "sweep-salted"))
      case Binned(_) => Option.unless(use.folds)("binned")
    }
    tag.foreach(t => lastAutoPairs.set((t + use.tagSuffix, mean, bin)))
    log.info(s"[graft.join] ${use.gate}: meanLen=$mean bin=$bin span=${l.span} " +
      s"keys=${l.distinctKeys} -> $route")
    route
  }

  /** The size gate in front of [[choose]]: None — the caller's plain
    * binned plan at its own bin, with zero sampling — for containment
    * (its binned plan is already optimal: a single computed left bin, no
    * explode; the sweep's residual is overlap-shaped) and below the
    * use's own `gateBytes` of leaf bytes, else conf
    * `spark.graft.join.autoThreshold` (default the measured 32 MB salt
    * gate, which every sf0.1 bench input stays under). */
  private[graft] def gatedChoice(left: DataFrame, right: DataFrame, keys: Seq[String],
                                 use: Use, contained: Boolean = false): Option[Route] = {
    val bar = use.gateBytes.getOrElse(org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.join.autoThreshold",
        Sizing.saltedInputThreshold.toString).toLong)
    Option.when(!contained && Sizing.decide(use.gate, bar, left, right))(
      choose(left, right, keys, use))
  }

  /** Statistics-driven pair join: the binned join at the sampled bin or
    * the (salted) sweep, as [[choose]] decides. The DataFrame-API
    * counterpart of IntervalJoinRewrite's
    * `spark.graft.join.strategy=auto`. */
  def autoPairs(left: DataFrame, right: DataFrame, keys: Seq[String],
                slack: Long = 0, suffix: String = "_b"): DataFrame =
    routedPairs(choose(left, right, keys, Use.Pairs), left, right, keys, slack, suffix)

  private[graft] def routedPairs(route: Route, left: DataFrame, right: DataFrame,
                          keys: Seq[String], slack: Long, suffix: String): DataFrame =
    route match {
      case Sweep(mb) => IntervalSweepJoin.pairs(left, right, keys, slack, suffix, megaBin = mb)
      case Binned(bin) => pairs(left, right, keys, slack, bin, suffix)
    }

  /** Size-gated pair join for the ops layer: below the gate (every sf0.1
    * bench input) this IS `pairs` at the caller's bin; above it the
    * sampled [[autoPairs]] choice takes over. */
  def pairsDispatch(left: DataFrame, right: DataFrame, keys: Seq[String],
                    slack: Long = 0, binSize: Long = RangeJoin.defaultBinSize,
                    suffix: String = "_b", contained: Boolean = false): DataFrame =
    pairsGatedOn(left, right, left, right, keys, slack, binSize, suffix, contained)

  /** [[pairsDispatch]] of `l` and `r`, gated on the inputs they derive from. */
  private[graft] def pairsGatedOn(gl: DataFrame, gr: DataFrame, l: DataFrame, r: DataFrame,
      keys: Seq[String], slack: Long, binSize: Long, suffix: String, contained: Boolean = false) =
    gatedChoice(gl, gr, keys, Use.Pairs, contained).fold(pairs(l, r, keys, slack, binSize,
      suffix, contained))(routedPairs(_, l, r, keys, slack, suffix))

  /** Existence-join counterpart of [[pairsDispatch]]: above the gate
    * semi/anti run through the sweep operator's native modes (no
    * explode, no rid machinery) when the chooser picks the sweep. */
  def existsDispatch(left: DataFrame, right: DataFrame, keys: Seq[String],
                     slack: Long = 0, binSize: Long = RangeJoin.defaultBinSize,
                     contained: Boolean = false, anti: Boolean = false): DataFrame =
    gatedChoice(left, right, keys, Use.Exists, contained).fold(
      exists(left, right, keys, slack, binSize, contained, anti))(
      routedExists(_, left, right, keys, slack, anti))

  /** The semi/anti join for `route`: the sweep's native mode, or the
    * binned [[exists]] at the route's bin. */
  private[graft] def routedExists(route: Route, left: DataFrame, right: DataFrame,
      keys: Seq[String], slack: Long, anti: Boolean,
      residual: Option[Column] = None): DataFrame =
    route match {
      case Sweep(_) => IntervalSweepJoin.exists(left, right, keys, slack, anti = anti,
        residual = residual)
      case Binned(bin) => exists(left, right, keys, slack, bin, anti = anti,
        residual = residual)
    }

  /** The prefix of every bin column the interval-join builders add.
    * IntervalJoinRewrite skips a join whose condition reads one, so a
    * join it lowered through a builder is never matched again. */
  private[graft] val BinPrefix = "_graft_bin_"

  /** The binned joins' equi-join bin. */
  private val BinCol = BinPrefix + "eq"

  /** floor(x / b) as a Column, exact for |x| < 2^52. */
  private def floorDiv(x: Column, b: Long): Column =
    floor(x.cast("double") / b).cast("long")

  /** Broadcast-eligibility heuristic from the optimizer's size estimate
    * of the PRE-explode plan (bin fan-out is a small constant factor).
    * Uses the session's own autoBroadcastJoinThreshold so cluster configs
    * are respected; at 100 TB the scan stats blow past it and every join
    * stays a shuffle join. */
  private def broadcastable(df: DataFrame): Boolean = {
    val thr = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
    // a stream has no batch plan to size
    !df.isStreaming && thr > 0 &&
      df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(thr)
  }

  private def maybeBroadcast(df: DataFrame, small: Boolean): DataFrame =
    if (small) broadcast(df) else df

  /** Explode `df` into (row, bin) with the interval extended by `pad`;
    * `outer` keeps a null-bound row as one null-bin copy. */
  private def binned(df: DataFrame, binSize: Long, pad: Long, s: String, e: String,
                     outer: Boolean = false): DataFrame = {
    val bins = capped(floorDiv(col(s) - pad, binSize), floorDiv(col(e) + pad - 1, binSize))
    df.withColumn(BinCol, if (outer) explode_outer(bins) else explode(bins))
  }

  /** The bins `lo` to `hi`; a degenerate row (`hi < lo`) gets `lo`
    * alone, the only bin its dedup can name, instead of a sequence
    * counting down across every bin between its bounds. */
  private def capped(lo: Column, hi: Column): Column = sequence(lo, greatest(lo, hi))

  /** Rename right-side columns that collide with the left, suffixing
    * (pyranges suffix contract, reference methods/join.py:34-35). */
  def suffixRight(left: DataFrame, right: DataFrame, suffix: String): DataFrame = {
    val lcols = left.columns.toSet
    right.columns.foldLeft(right)((d, c) =>
      if (lcols.contains(c)) d.withColumnRenamed(c, c + suffix) else d)
  }

  /** The column every per-left-row reduce, window and rejoin keys on. */
  private[graft] val Rid = "_gx_rid"

  /** THE row-identity decision for per-left-row ops (the reference's
    * pandas index): one long per PHYSICAL row, so identical rows differ
    * and a user's `row_id` is payload. The id is not stable across
    * re-evaluations of `df` whose upstream order is not, so a plan
    * consumes the identified frame once, or via [[identifiedPinned]]. */
  private[graft] def identified(df: DataFrame): DataFrame =
    if (df.columns.contains(Rid)) df else df.withColumn(Rid, monotonically_increasing_id())

  /** [[identified]] for several consumers: a lazy MEMORY_AND_DISK pin, so all
    * read the ids of one evaluation, whatever the exchange-reuse conf. */
  private[graft] def identifiedPinned(df: DataFrame): DataFrame =
    identified(df).persist(StorageLevel.MEMORY_AND_DISK)

  /** join_overlaps(multiple=first/last) as a per-left-row reduce of
    * `matches` ([[identified]] left columns plus suffixed right columns:
    * the binned pairs, or a salted sweep pick's per-bin-copy winners).
    * first = smallest (Start_b, End_b), last = LARGEST — position order of
    * the other side (reference intersect doctest
    * core/pyranges_main.py:5406-5415: "last" on [25,33),[28,32) picks the
    * [28,32) row, i.e. max start, not max end); ties go ascending on the
    * remaining right columns, the order the sweep's native pick uses.
    * min_by carries the row as an OPAQUE payload and compares only the
    * ordering struct; min(struct(...)) re-compares every payload field
    * on ties, which measurably drags on multi-million-pair sets. */
  private[graft] def pickRollup(left: DataFrame, matches: DataFrame, suffix: String,
                                last: Boolean): DataFrame = {
    val sortKeys = Seq(Start + suffix, End + suffix)
    val out = matches.columns.filterNot(_ == Rid).toSeq
    val rCols = out.filterNot(left.columns.contains)
    val ord = struct((sortKeys ++ rCols.filterNot(sortKeys.contains)).map { c =>
      if (last && sortKeys.contains(c)) (-col(c)).as(c) else col(c)
    }: _*)
    matches.groupBy(col(Rid))
      .agg(min_by(struct(out.map(col): _*), ord).as("_m"))
      .select(out.map(c => col(s"_m.$c").as(c)): _*)
  }

  /** count_overlaps per left row: sums `partials`' `countCol` per [[Rid]]; every
    * row has a partial (a left-outer or salted-sweep bin copy), so no rejoin. */
  private[graft] def countRollup(left: DataFrame, partials: DataFrame,
                                 countCol: String): DataFrame = {
    val lCols = left.columns.filterNot(_ == Rid).toSeq
    partials.groupBy(col(Rid))
      .agg(first(struct(lCols.map(col): _*)).as("_l"), sum(col(countCol)).as(countCol))
      .select(lCols.map(c => col(s"_l.$c").as(c)) :+ col(countCol): _*)
  }

  /** [[pairs]] of the [[identified]] left; an unmatched row keeps one
    * null-padded copy. */
  private[graft] def leftOuterPairs(left: DataFrame, right: DataFrame, keys: Seq[String],
      slack: Long = 0, binSize: Long = RangeJoin.defaultBinSize): DataFrame =
    binnedJoin(identified(left), right, keys, slack, binSize, "_b", contained = false, outer = true)

  /** count_overlaps on the binned join: [[leftOuterPairs]] per row. */
  private[graft] def binnedCount(left: DataFrame, right: DataFrame, keys: Seq[String],
                                 slack: Long, binSize: Long, countCol: String): DataFrame =
    countRollup(left, leftOuterPairs(left, right, keys, slack, binSize)
      .withColumn(countCol, when(col(Start + "_b").isNull, 0L).otherwise(1L)), countCol)

  /** Inner pair join: left columns + suffixed right columns, one output
    * row per truly-overlapping pair. `contained` restricts to left
    * intervals fully inside a right interval (reference
    * contained_intervals_only). */
  def pairs(left: DataFrame, right: DataFrame, keys: Seq[String],
            slack: Long = 0, binSize: Long = RangeJoin.defaultBinSize, suffix: String = "_b",
            contained: Boolean = false): DataFrame =
    binnedJoin(left, right, keys, slack, binSize, suffix, contained, outer = false)

  /** [[pairs]]; `outer` keeps one null-padded copy of each unmatched left row. */
  private def binnedJoin(left: DataFrame, right: DataFrame, keys: Seq[String], slack: Long,
      binSize: Long, suffix: String, contained: Boolean, outer: Boolean): DataFrame = {
    val r0 = suffixRight(left, right, suffix)
    val rKeys = keys.map(_ + suffix)  // keys always collide by contract
    val rs = Start + suffix
    val re = End + suffix
    val rightSmall = broadcastable(right)
    // Under a broadcast build the whole probe pipeline (scan -> bin
    // explode -> hash probe -> downstream partial aggregates) runs in
    // the probe's SCAN stage, and a small parquet input is often one
    // row group, i.e. ONE task. Fanning the scan out costs one narrow
    // exchange (MEASURED at sf0.1/local[32], BASELINE.md "probe
    // fan-out": pairs 3.8->1.4 s, join-first 5.2->1.8 s, join+overlap
    // 3.5->1.0 s steady); a no-op against 100 TB inputs. Pair joins
    // only: their probe does heavy per-row work (~17 matched pairs per
    // row on the bench corpus); the light early-out exists/containment
    // probes measured SLOWER with it (q12 1.4->2.0 s, q13 1.2->1.8 s).
    val probe = if (rightSmall) Sizing.fanOutSmallScan(left) else left
    val lb = binned(probe, binSize, slack, Start, End, outer).alias("l")
    // hash-shuffle join on (keys, bin) by default; small right sides
    // (dimension-table-sized annotation sets) broadcast instead, judged
    // from the pre-explode optimizer estimate
    val rb = maybeBroadcast(binned(r0, binSize, 0, rs, re), rightSmall).alias("r")
    val keyEq = keys.zip(rKeys).map { case (k, rk) => col(s"l.$k") === col(s"r.$rk") }
    val overlap =
      if (contained)
        col(s"r.$rs") <= col(s"l.$Start") && col(s"l.$End") <= col(s"r.$re")
      else
        col(s"l.$Start") - slack < col(s"r.$re") && col(s"l.$End") + slack > col(s"r.$rs")
    val lBin = col(s"l.$BinCol")
    val dedup = lBin === floorDiv(greatest(col(s"l.$Start") - slack, col(s"r.$rs")), binSize)
    val cond = (keyEq :+ (lBin === col(s"r.$BinCol")) :+ overlap :+ dedup).reduce(_ && _)
    val joined = lb.join(rb, cond, if (outer) "left_outer" else "inner")
    // one null-padded row per unmatched left row is enough: the copy in
    // its first bin, or its one null-bin copy when a bound is NULL
    (if (outer) joined.filter(col(s"r.$rs").isNotNull || lBin.isNull ||
        lBin === floorDiv(col(s"l.$Start") - slack, binSize))
      else joined).drop(rKeys: _*).drop(BinCol)
  }

  /** Existence-only range join: left_semi / left_anti. No dedup predicate
    * needed (semi/anti dedup inherently); the right side should usually be
    * pre-merged per key by the caller for speed. `residual`, a predicate
    * over the left's columns and the right's [[suffixRight]]-ed ones, is
    * ANDed into the match: a row matches a right row only where it holds. */
  def exists(left: DataFrame, right: DataFrame, keys: Seq[String],
             slack: Long = 0, binSize: Long = RangeJoin.defaultBinSize,
             contained: Boolean = false, anti: Boolean = false,
             residual: Option[Column] = None): DataFrame = {
    val suffix = "_b"
    val r0 = suffixRight(left, right, suffix)
    val rKeys = keys.map(_ + suffix)
    val rs = Start + suffix
    val re = End + suffix
    // A row matches iff a right interval overlaps (under `contained`,
    // contains) it. The right's bin copies reach two bins back (an auto bin
    // is >= 4x the mean length; containment needs no reach), so a row at
    // most that wide meets all of them in its start's bin: it semi/anti
    // joins as ONE copy, with no id. A wider row joins each of its `_n` bin
    // copies, which reduce per row: it survives semi with any, anti with all.
    val pad = if (contained) 0L else slack
    val reach = if (contained) 0L else 2 * binSize
    val rCols = if (residual.isEmpty) rKeys :+ rs :+ re else r0.columns.toSeq
    val rb = maybeBroadcast(r0.select(rCols.map(col): _*)
      .withColumn(BinCol, explode(capped(floorDiv(col(rs) - reach, binSize),
        floorDiv(col(re) - 1, binSize)))), broadcastable(right)).alias("r")
    val joinType = if (anti) "left_anti" else "left_semi"
    val keyEq = keys.zip(rKeys).map { case (k, rk) => col(s"l.$k") === col(s"r.$rk") }
    val lo = floorDiv(col(Start) - pad, binSize)
    val hi = floorDiv(col(End) + pad - 1, binSize)
    val one = coalesce(col(End) - col(Start) + 2 * pad <= reach, lit(true)) || lit(contained)
    val hit =
      if (contained) col(s"r.$rs") <= col(s"l.$Start") && col(s"l.$End") <= col(s"r.$re")
      else col(s"l.$Start") - slack < col(s"r.$re") && col(s"l.$End") + slack > col(s"r.$rs")
    val cond = ((keyEq :+ (col(s"l.$BinCol") === col(s"r.$BinCol")) :+ hit) ++ residual)
      .reduce(_ && _)
    val single = left.filter(one).withColumn(BinCol, lo).alias("l").join(rb, cond, joinType)
      .drop(BinCol)
    if (contained) single
    else {
      val perRow = binned(identified(left.filter(!one)).withColumn("_n", hi - lo + 1), binSize,
          slack, Start, End).alias("l").join(rb, cond, joinType).groupBy(col(Rid))
        .agg(first(struct(left.columns.map(col): _*)).as("_l"),
          count(lit(1)).as("_c"), first(col("_n")).as("_n"))
      single.unionByName((if (anti) perRow.filter(col("_c") === col("_n")) else perRow)
        .select(left.columns.map(c => col(s"_l.$c").as(c)): _*))
    }
  }
}
