package graft.join

import graft.core.{Cols, Sizing}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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

  private def routedPairs(route: Route, left: DataFrame, right: DataFrame,
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
    gatedChoice(left, right, keys, Use.Pairs, contained) match {
      case Some(route) => routedPairs(route, left, right, keys, slack, suffix)
      case None => pairs(left, right, keys, slack, binSize, suffix, contained)
    }

  /** Existence-join counterpart of [[pairsDispatch]]: above the gate
    * semi/anti run through the sweep operator's native modes (no
    * explode, no rid machinery) when the chooser picks the sweep. */
  def existsDispatch(left: DataFrame, right: DataFrame, keys: Seq[String],
                     slack: Long = 0, binSize: Long = RangeJoin.defaultBinSize,
                     contained: Boolean = false, anti: Boolean = false): DataFrame =
    gatedChoice(left, right, keys, Use.Exists, contained) match {
      case Some(Sweep(_)) => IntervalSweepJoin.exists(left, right, keys, slack, anti = anti)
      case Some(Binned(bin)) => exists(left, right, keys, slack, bin, contained, anti)
      case None => exists(left, right, keys, slack, binSize, contained, anti)
    }

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
    thr > 0 && df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(thr)
  }

  private def maybeBroadcast(df: DataFrame, small: Boolean): DataFrame =
    if (small) broadcast(df) else df

  /** Explode `df` into (row, bin) with the interval extended by `pad`. */
  private def binned(df: DataFrame, binSize: Long, pad: Long,
                     s: String, e: String): DataFrame =
    df.withColumn("_bin", explode(sequence(
      floorDiv(col(s) - pad, binSize), floorDiv(col(e) + pad - 1, binSize))))

  /** Rename right-side columns that collide with the left, suffixing
    * (pyranges suffix contract, reference methods/join.py:34-35). */
  def suffixRight(left: DataFrame, right: DataFrame, suffix: String): DataFrame = {
    val lcols = left.columns.toSet
    right.columns.foldLeft(right)((d, c) =>
      if (lcols.contains(c)) d.withColumnRenamed(c, c + suffix) else d)
  }

  /** join_overlaps(multiple=first/last) as a per-left-row reduce of
    * `matches` (left columns plus suffixed right columns: the binned
    * pairs, or a salted sweep pick's per-bin-copy winners). first =
    * smallest (Start_b, End_b), last = LARGEST — position order of the
    * other side (reference intersect doctest
    * core/pyranges_main.py:5406-5415: "last" on [25,33),[28,32) picks the
    * [28,32) row, i.e. max start, not max end); ties go ascending on the
    * remaining right columns, the order the sweep's native pick uses.
    * Row identity is the FULL left row (round-18, the duplicate-row_id
    * find): group keys are null-safe and no rejoin is needed. min_by
    * carries the right columns as an OPAQUE payload and compares only
    * the ordering struct; min(struct(...)) re-compares every payload
    * field on ties, which measurably drags on multi-million-pair sets. */
  private[graft] def pickRollup(left: DataFrame, matches: DataFrame, suffix: String,
                                last: Boolean): DataFrame = {
    val sortKeys = Seq(Start + suffix, End + suffix)
    val lCols = left.columns.toSeq
    val rCols = matches.columns.filterNot(lCols.contains).toSeq
    val ord = struct((sortKeys ++ rCols.filterNot(sortKeys.contains)).map { c =>
      if (last && sortKeys.contains(c)) (-col(c)).as(c) else col(c)
    }: _*)
    matches.groupBy(lCols.map(col): _*)
      .agg(min_by(struct(rCols.map(col): _*), ord).as("_m"))
      .select(matches.columns.map(c =>
        if (rCols.contains(c)) col(s"_m.$c").as(c) else col(c)): _*)
  }

  /** count_overlaps as a per-left-row reduce: sums `partials`' `countCol`
    * (1 per binned pair, or a salted sweep's per-bin-copy counts) per
    * FULL left row — two distinct rows sharing a row_id keep separate
    * counts (round-18, the duplicate-row_id find) — and rejoins `left`,
    * rows without partials at 0. The rejoin is null-safe (`<=>` on every
    * left column), so a NULL payload keeps its count. */
  private[graft] def countRollup(left: DataFrame, partials: DataFrame,
                                 countCol: String): DataFrame = {
    val lCols = left.columns.toSeq
    val ks = lCols.indices.map(i => s"_gx_k$i")
    val sums = partials.groupBy(lCols.map(col): _*)
      .agg(sum(col(countCol)).as(countCol))
      .toDF(ks :+ countCol: _*)
    val on = lCols.zip(ks).map { case (c, k) => col(c) <=> col(k) }.reduce(_ && _)
    left.join(sums, on, "left").drop(ks: _*)
      .na.fill(0L, Seq(countCol))
  }

  /** Inner pair join: left columns + suffixed right columns, one output
    * row per truly-overlapping pair. `contained` restricts to left
    * intervals fully inside a right interval (reference
    * contained_intervals_only). */
  def pairs(left: DataFrame, right: DataFrame, keys: Seq[String],
            slack: Long = 0, binSize: Long = RangeJoin.defaultBinSize, suffix: String = "_b",
            contained: Boolean = false): DataFrame = {
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
    val lb = binned(probe, binSize, slack, Start, End).alias("l")
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
    val dedup = col("l._bin") ===
      floorDiv(greatest(col(s"l.$Start") - slack, col(s"r.$rs")), binSize)
    val cond = (keyEq :+ (col("l._bin") === col("r._bin")) :+ overlap :+ dedup).reduce(_ && _)
    lb.join(rb, cond, "inner")
      .drop(rKeys: _*).drop("_bin")
  }

  /** Existence-only range join: left_semi / left_anti. No dedup predicate
    * needed (semi/anti dedup inherently); the right side should usually be
    * pre-merged per key by the caller for speed. */
  def exists(left: DataFrame, right: DataFrame, keys: Seq[String],
             slack: Long = 0, binSize: Long = RangeJoin.defaultBinSize,
             contained: Boolean = false, anti: Boolean = false): DataFrame = {
    val suffix = "_b"
    val r0 = suffixRight(left, right, suffix)
    val rKeys = keys.map(_ + suffix)
    val rs = Start + suffix
    val re = End + suffix
    val rightSmall = broadcastable(right)
    val rb = maybeBroadcast(
      binned(r0.select((rKeys :+ rs :+ re).map(col): _*), binSize, 0, rs, re),
      rightSmall).alias("r")
    val joinType = if (anti) "left_anti" else "left_semi"
    if (contained) {
      // Containment fast path: a containing right interval covers the
      // left's Start, so the right's (exploded) bin set always includes
      // floor(Start/binSize). The left needs NO explode — a single
      // computed bin — hence semi/anti joins directly and there is no
      // copy-dedup or rejoin: one join, zero extra shuffles (and zero
      // shuffles at all when the right side broadcasts).
      val lb = left.alias("l")
      val keyEq = keys.zip(rKeys).map { case (k, rk) => col(s"l.$k") === col(s"r.$rk") }
      val cond = (keyEq :+
        (floorDiv(col(s"l.$Start"), binSize) === col("r._bin")) :+
        (col(s"r.$rs") <= col(s"l.$Start") && col(s"l.$End") <= col(s"r.$re"))).reduce(_ && _)
      lb.join(rb, cond, joinType)
    } else {
      // A binned left_anti alone would be wrong: it only drops the (row,
      // bin) copies that match in their own bin, and the surviving copies
      // of a matched row would reappear. So: semi over the binned copies
      // first, dedupe the matches, then semi/anti the ORIGINAL left against
      // them on a single long id column. A left without the row_id
      // contract gets a positional id attached first — joining back on
      // all columns would silently mis-handle rows with null metadata
      // columns (null-unsafe equality) and conflate duplicate rows.
      val (l0, tmpId) =
        if (left.columns.contains(Cols.RowId)) (left, None)
        else ("_gx_rid": String) match { case c =>
          (left.withColumn(c, monotonically_increasing_id()), Some(c))
        }
      val idCol = tmpId.getOrElse(Cols.RowId)
      val lb = binned(l0, binSize, slack, Start, End).alias("l")
      val keyEq = keys.zip(rKeys).map { case (k, rk) => col(s"l.$k") === col(s"r.$rk") }
      val overlap =
        col(s"l.$Start") - slack < col(s"r.$re") && col(s"l.$End") + slack > col(s"r.$rs")
      val cond = (keyEq :+ (col("l._bin") === col("r._bin")) :+ overlap).reduce(_ && _)
      val matchedIds = lb.join(rb, cond, "left_semi")
        .select(col(s"l.$idCol")).distinct()
      // matched ids are <= left's row count of single longs: broadcast
      // them back when the left side itself is modest, avoiding a full
      // reshuffle of the left table.
      val res = l0.join(maybeBroadcast(matchedIds, broadcastable(left)),
        Seq(idCol), joinType)
      tmpId.fold(res)(c => res.drop(c))
    }
  }
}
