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
  */
object RangeJoin {
  import Cols.{Start, End}

  /** Session conf key overriding the default genomic bin width. */
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
    * to [64, 65536]. Shared with IntervalJoinRewrite. */
  def widthFor(meanLen: Double): Long = {
    var bin = 64L
    while (bin < 4.0 * meanLen && bin < 65536L) bin *= 4
    bin
  }

  /** (larger sampled mean length of the two sides, left span). Both
    * sides are sampled with `keys`, so a frame's length, span and salt
    * statistics share one memoized take whichever gate asks first. */
  private def sampledLenSpan(left: DataFrame, right: DataFrame,
                             keys: Seq[String]): (Double, Long) = {
    val l = Sizing.sideStats(left, keys)
    (math.max(l.meanLen, Sizing.sideStats(right, keys).meanLen), l.span)
  }

  /** The salted sweep's mega-bin, when [[Sizing.saltPlan]] salts the
    * left side: the span-scaled bin, widened until explode fan-out
    * stays ~1 copy per row. */
  private[graft] def sweepMegaBin(left: DataFrame, keys: Seq[String],
                           mean: Double): Option[Long] =
    Sizing.saltPlan(left, keys).map { b =>
      var w = b
      while (w < 4.0 * mean) w *= 2
      w
    }

  /** Estimated max concurrent overlap depth: rows (from leaf bytes /
    * ~64 B) x meanLen / span. The sweep's active buffers hold `depth`
    * row copies per task up to `sweepSpillDepth` (262144), then
    * stateless entries overflow to disk-spillable generations
    * (SweepOverflow — measured: 1M concurrent entries complete in
    * ~0.9 s, BASELINE.md "sweep depth stress"), so depth no longer
    * OOMs; past `spark.graft.join.sweepMaxDepth` (default 262144, the
    * in-heap cap) the binned join is still PREFERRED — its codegen'd
    * hash join streams the same candidate volume faster than the
    * overflow's re-scans, and stateful sweep modes (pick/count fold
    * state) cannot ride the overflow at all. */
  private[join] def depthOk(left: DataFrame, right: DataFrame,
                            mean: Double, span: Long): Boolean = {
    val bar = org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.join.sweepMaxDepth", "262144").toDouble
    val estRows = Sizing.leafScanBytes(left, right).toDouble / 64.0
    estRows * mean / math.max(span, 1L) <= bar
  }

  /** Last autoPairs decision: (strategy, mean len, bin width) —
    * test/debug observability (the Sizing.lastDecision contract). */
  val lastAutoPairs =
    new java.util.concurrent.atomic.AtomicReference[(String, Double, Long)]()

  /** Statistics-driven pair join: the sampled mean interval length of
    * both sides sizes the bin ([[widthFor]]) and routes to the binned
    * join or the sort-merge sweep operator ([[IntervalSweepJoin]]) when
    * the binned plan's explode fan-out mean/bin would exceed
    * `fanoutBar` — the MEASURED crossover (graft.SweepBench,
    * BASELINE.md "binned vs sweep": parity at fan-out 2, sweep 4x ahead
    * at 16). The sweep is salted when the key statistics of the same
    * left sample say per-key parallelism is scarce (same saltPlan gates
    * as the window ops: wide span, not many balanced keys). The
    * DataFrame-API counterpart of IntervalJoinRewrite's
    * `spark.graft.join.strategy=auto`. */
  def autoPairs(left: DataFrame, right: DataFrame, keys: Seq[String],
                slack: Long = 0, suffix: String = "_b",
                fanoutBar: Double = 2.0): DataFrame = {
    val (mean, lSpan) = sampledLenSpan(left, right, keys)
    val bin = widthFor(mean)
    if (mean / bin > fanoutBar && depthOk(left, right, mean, lSpan)) {
      val mb = sweepMegaBin(left, keys, mean)
      lastAutoPairs.set((mb.fold("sweep")(_ => "sweep-salted"), mean, bin))
      IntervalSweepJoin.pairs(left, right, keys, slack, suffix, megaBin = mb)
    } else {
      lastAutoPairs.set(("binned", mean, bin))
      pairs(left, right, keys, slack, bin, suffix)
    }
  }

  /** Size-gated strategy dispatch for the ops layer: below the gate
    * (every sf0.1 bench input) this IS `pairs` at the caller's bin —
    * zero sampling cost on small inputs; above it (conf
    * `spark.graft.join.autoThreshold` leaf bytes, default the measured
    * 32 MB salt gate) the sampled [[autoPairs]] choice takes over —
    * bin width from the data, sweep (salted if keys are scarce) when
    * the binned fan-out would explode. Containment keeps the binned
    * fast path at any size (the sweep's residual is overlap-shaped). */
  def pairsDispatch(left: DataFrame, right: DataFrame, keys: Seq[String],
                    slack: Long = 0, binSize: Long = RangeJoin.defaultBinSize,
                    suffix: String = "_b", contained: Boolean = false): DataFrame = {
    val threshold = org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.join.autoThreshold",
        Sizing.saltedInputThreshold.toString).toLong
    if (!contained &&
        Sizing.decide("rangejoin/auto", threshold, left, right)) {
      autoPairs(left, right, keys, slack, suffix)
    } else {
      pairs(left, right, keys, slack, binSize, suffix, contained)
    }
  }

  /** Shared auto decision for the sweep-native derived modes (pick /
    * count): None = stay on the binned plan; Some(megaBin) = sweep,
    * with the salt bin the key statistics demand (None inside = plain
    * per-key sweep). The statistics are one memoized take per side
    * (left with `keys`), the gates those of [[autoPairs]] /
    * [[existsDispatch]] — EXCEPT the fan-out bar, which
    * for pick/count is OR'd with salt availability: the MEASURED table
    * (BASELINE.md "sweep pick/count", graft.SweepBench --pick) shows
    * the salted sweep's fold modes beating the binned pairs+aggregation
    * at EVERY interval length (1.4x at fan-out 0.08 up to 11x at 16)
    * because they never materialize the pair set, while the PLAIN
    * sweep still loses at low fan-out when keys are scarce (one task
    * per key, 10.9 s vs binned 2.6 s) — exactly the case saltPlan
    * detects. So: salt available -> salted sweep at any length;
    * many balanced keys (salt demoted) -> fan-out bar as for pairs. */
  private[graft] def sweepAutoChoice(left: DataFrame, right: DataFrame,
                                     keys: Seq[String], op: String,
                                     contained: Boolean,
                                     thresholdOverride: Option[Long] = None)
      : Option[Option[Long]] = {
    val threshold = thresholdOverride.getOrElse(
      org.apache.spark.sql.internal.SQLConf.get
        .getConfString("spark.graft.join.autoThreshold",
          Sizing.saltedInputThreshold.toString).toLong)
    if (contained || !Sizing.decide(op, threshold, left, right)) return None
    val (mean, lSpan) = sampledLenSpan(left, right, keys)
    val bin = widthFor(mean)
    val mb = sweepMegaBin(left, keys, mean)
    if ((mean / bin > 2.0 || mb.isDefined) && depthOk(left, right, mean, lSpan)) {
      lastAutoPairs.set((mb.fold("sweep")(_ => "sweep-salted") + s"-$op", mean, bin))
      Some(mb)
    } else None
  }

  /** Existence-join counterpart of [[pairsDispatch]]: same size gate,
    * same sampled fan-out bar; above both, semi/anti run through the
    * sweep operator's native modes (no explode, no rid machinery)
    * instead of the binned exists. Containment keeps the binned fast
    * path (single computed left bin, no explode — already optimal). */
  def existsDispatch(left: DataFrame, right: DataFrame, keys: Seq[String],
                     slack: Long = 0, binSize: Long = RangeJoin.defaultBinSize,
                     contained: Boolean = false, anti: Boolean = false): DataFrame = {
    val threshold = org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.join.autoThreshold",
        Sizing.saltedInputThreshold.toString).toLong
    if (!contained &&
        Sizing.decide("rangejoin/existsAuto", threshold, left, right)) {
      val (mean, bin, go) = plainSweepBar(left, right, keys)
      if (go) {
        lastAutoPairs.set(("sweep-exists", mean, bin))
        IntervalSweepJoin.exists(left, right, keys, slack, anti = anti)
      } else {
        lastAutoPairs.set(("binned-exists", mean, bin))
        exists(left, right, keys, slack, bin, contained, anti)
      }
    } else {
      exists(left, right, keys, slack, binSize, contained, anti)
    }
  }

  /** The plain-sweep bar shared by [[existsDispatch]] and
    * [[sweepOuterChoice]]: sampled mean interval length vs the bin the
    * binned plan would pick — the regime where binned explode fan-out
    * loses — plus the depth guard. Returns (mean, bin, clears). Kept in
    * ONE place so a future bar/bin tuning cannot silently diverge the
    * dispatchers. */
  private def plainSweepBar(left: DataFrame, right: DataFrame, keys: Seq[String])
      : (Double, Long, Boolean) = {
    val (mean, lSpan) = sampledLenSpan(left, right, keys)
    val bin = widthFor(mean)
    (mean, bin, mean / bin > 2.0 && depthOk(left, right, mean, lSpan))
  }

  /** Outer-join counterpart of [[existsDispatch]]'s gate: above the
    * size gate and the plain-sweep fan-out bar, outer joins route
    * through the sweep operator's native outer modes — the binned outer
    * pays two extra anti-joins AND amplifies rows by bin fan-out, the
    * sweep does neither. Salt never applies (matched-ness is per-row
    * across bin copies, like exists), so the bar is the plain-sweep
    * one: long intervals / deep overlap where binned fan-out explodes.
    * Returns whether to route through [[IntervalSweepJoin.outer]]. */
  private[graft] def sweepOuterChoice(left: DataFrame, right: DataFrame,
                                      keys: Seq[String],
                                      contained: Boolean): Boolean = {
    val threshold = org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.join.autoThreshold",
        Sizing.saltedInputThreshold.toString).toLong
    if (contained ||
        !Sizing.decide("rangejoin/outerAuto", threshold, left, right))
      return false
    val (mean, bin, go) = plainSweepBar(left, right, keys)
    lastAutoPairs.set(((if (go) "sweep" else "binned") + "-outer", mean, bin))
    go
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

  /** Conf key for the probe-side fan-out gate (leaf bytes; 0 disables).
    * Alias of [[Sizing.FanoutKey]]. */
  val FanoutKey: String = Sizing.FanoutKey

  /** Minimum probe-side parallelism under a broadcast build.
    *
    * When the build side broadcasts, the whole probe pipeline (scan →
    * bin explode → hash probe → downstream partial aggregates) executes
    * inside the probe's SCAN stage, so its parallelism is the scan's
    * split count — and a small parquet input is often a single row
    * group, i.e. ONE task, serializing a 32-core join behind one core.
    * [[Sizing.fanOutSmallScan]] restores parallelism for the
    * price of one narrow exchange (MEASURED at sf0.1/local[32],
    * BASELINE.md "probe fan-out": pairs 3.8→1.4 s, join-first 5.2→1.8 s,
    * join+overlap 3.5→1.0 s steady); a no-op against 100 TB inputs.
    *
    * Applied to the PAIR join only: its probe does heavy per-row work
    * (every bin-mate candidate checked, ~17 matched pairs emitted per
    * probe row on the bench corpus, plus downstream pick/count partial
    * aggregates in the same stage). The exists (semi/anti) and
    * containment probes do a light early-out hash probe per row —
    * measured there, the extra exchange costs MORE than it saves
    * (q12 1.4→2.0 s, q13 1.2→1.8 s), so they stay un-fanned. */
  private def fanOutProbe(df: DataFrame): DataFrame =
    Sizing.fanOutSmallScan(df)

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
    val probe = if (rightSmall) fanOutProbe(left) else left
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
