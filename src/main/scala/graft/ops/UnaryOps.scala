package graft.ops

import graft.core.{Cols, Sizing}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Unary per-group interval kernels. Each takes the explicit group key
  * (Chromosome [+ Strand] [+ match_by]) — the reference factorizes the key
  * to dense uint32 before a Rust sort-sweep kernel (reference
  * core/pyranges_helpers.py:35-61); here the key is the window/hash
  * partition key, and the sort-sweep becomes a window-function plan that
  * whole-stage-codegens and scales horizontally.
  *
  * Design rule: one shuffle per operator where the reference does one
  * factorize+sort (SURVEY.md §3). All window columns in one op share a
  * single WindowSpec so Catalyst plans a single Window node.
  */
object UnaryOps {
  import Cols.{Start, End, Strand}

  private def keyCols(keys: Seq[String]): Seq[Column] = keys.map(col)

  /** Sweep preamble shared by merge/cluster: per-key running max of End
    * over rows ordered (Start, End), flagging rows that start a new
    * cluster (Start >= runningMaxEnd + slack — STRICT overlap: bookended
    * intervals are separate clusters at slack=0; slack=1 merges touching,
    * per the reference cluster doctest core/pyranges_main.py:700-727
    * "Slack=1 will cluster also bookended intervals"). Reference kernel:
    * ruranges merge/cluster sort-sweep (reference methods/merge.py:10-45,
    * range_frame/range_frame.py:216-264).
    *
    * A row with a NULL bound matches nothing and changes no other row: a
    * NULL Start sorts last, a NULL End never raises the running max, and
    * such a row never starts a cluster.
    */
  private def clusterFlag(keys: Seq[String], slack: Long, tieBreak: Seq[Column]) = {
    val w = Window.partitionBy(keyCols(keys): _*)
      .orderBy(Seq(col(Start).asc_nulls_last, col(End)) ++ tieBreak: _*)
    val prevMax = max(col(End)).over(w.rowsBetween(Window.unboundedPreceding, -1))
    val flag = when(nullBound, 0L)
      .when(prevMax.isNull || col(Start) >= prevMax + slack, 1L).otherwise(0L)
    (w, flag)
  }

  private def nullBound: Column = col(Start).isNull || col(End).isNull

  /** merge_overlaps (reference core/pyranges_main.py:2048-2141): union
    * overlapping (or within-`slack`, touching included) intervals into
    * super-intervals per key; optional count of constituent rows.
    *
    * Single shuffle: cluster start/end/count are recovered inside the same
    * window (last-row-of-cluster trick) instead of a second groupBy.
    */
  def merge(df: DataFrame, keys: Seq[String], slack: Long = 0,
            countCol: Option[String] = None): DataFrame =
    // auto-dispatch to the salted two-phase plan above the measured
    // 32 MB crossover (BASELINE.md "salted crossover": 1.9-4.9x wins
    // from 43 MB up), with a span-sampled mega-bin so narrow coordinate
    // domains still fan out. countCol pins the plain path: island
    // member counts cannot be recovered from split pieces.
    (if (countCol.isEmpty) Sizing.saltBin("merge", df, keys, df) else None) match {
      case Some(bin) => mergeSalted(df, keys, slack, bin)
      case None      => mergePlain(df, keys, slack, countCol)
    }

  /** merge below the salt gate: one window over the rows with both
    * bounds, so a NULL-bound row is dropped, as the salted plan's
    * explode drops it. */
  private[graft] def mergePlain(df: DataFrame, keys: Seq[String], slack: Long = 0,
                                countCol: Option[String] = None): DataFrame = {
    val (w, flag) = clusterFlag(keys, slack, Nil)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = df.filter(!nullBound)
      .withColumn("_new", flag)
      .withColumn("_runMax", max(col(End)).over(wRun))
      .withColumn("_rn", row_number().over(w))
      .withColumn("_clStart", last(when(col("_new") === 1L, col(Start)), ignoreNulls = true).over(wRun))
      .withColumn("_clRn", last(when(col("_new") === 1L, col("_rn")), ignoreNulls = true).over(wRun))
      .withColumn("_isLast", lead(col("_new"), 1, 1L).over(w) === 1L)
    val out = base.filter(col("_isLast"))
      .withColumn(Start, col("_clStart"))
      .withColumn(End, col("_runMax"))
    val withCount = countCol.fold(out)(c => out.withColumn(c, col("_rn") - col("_clRn") + 1L))
    withCount.select((keys ++ Seq(Start, End) ++ countCol.toSeq).map(col): _*)
  }

  /** Scalable merge for hot keys (the 100 TB path, SURVEY.md §7.4.5):
    * a plain merge window-partitions by the group key alone, so one huge
    * chromosome = one task. This variant salts by genomic mega-bin:
    * (1) split every interval at `saltBin` boundaries, (2) locally merge
    * the pieces per (key, bin) — parallelism = #bins, (3) globally merge
    * the resulting islands per key (input orders of magnitude smaller,
    * since phase 2 collapsed everything inside each bin). Identical
    * result set to merge(); island counts are not preserved (pieces of
    * one row would double-count), so no countCol here.
    */
  private[graft] def mergeSalted(df: DataFrame, keys: Seq[String], slack: Long,
                                 saltBin: Long): DataFrame = {
    // A piece CUT at its right bin edge extends 1bp into the next bin so
    // the two halves of one interval strictly overlap in phase 2 — under
    // the reference's strict sweep (bookended = separate at slack 0) a
    // plain cut would otherwise split the interval forever. The +1 never
    // bridges foreign islands: a cut piece's parent really covers the
    // boundary, so anything starting there shares its island anyway.
    val pieces = df
      .withColumn("_mb", explode(sequence(
        floor(col(Start).cast("double") / saltBin).cast("long"),
        floor((col(End) - 1).cast("double") / saltBin).cast("long"))))
      .withColumn("_pe", least(col(End), (col("_mb") + 1) * saltBin))
      .withColumn(Start, greatest(col(Start), col("_mb") * saltBin))
      .withColumn(End, when(col("_pe") < col(End), col("_pe") + 1).otherwise(col("_pe")))
      .drop("_pe")
    // both phases use mergePlain directly: phase 1's parallelism comes
    // from the (key, bin) partitioning itself, phase 2's input is the
    // collapsed island set (orders of magnitude smaller) — and routing
    // through the dispatching merge() would recurse on big inputs
    val local = mergePlain(pieces, keys :+ "_mb", slack).drop("_mb")
    mergePlain(local, keys, slack)
  }

  /** cluster_overlaps (reference core/pyranges_main.py:645-751): annotate
    * each row with a per-key cluster id (1-based, in (Start, End) sweep
    * order) instead of collapsing. A row with a NULL bound is in no
    * cluster: its id is NULL, and the other rows' ids are those they get
    * without it. */
  def cluster(df: DataFrame, keys: Seq[String], slack: Long = 0,
              clusterCol: String = "Cluster"): DataFrame = {
    val (w, flag) = clusterFlag(keys, slack, Nil)
    df.withColumn(clusterCol, when(!nullBound,
      sum(flag).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
  }

  /** complement_ranges (reference core/pyranges_main.py:5705-5896): gaps
    * strictly between merged intervals per key; optional chromSizes
    * (Chromosome, size) adds the [0, firstStart) and [lastEnd, size)
    * flanks (include_first_interval semantics). */
  def complement(df: DataFrame, keys: Seq[String],
                 chromSizes: Option[DataFrame] = None): DataFrame = {
    val merged = merge(df, keys)
    val w = Window.partitionBy(keyCols(keys): _*).orderBy(col(Start))
    val gaps = merged
      .withColumn("_nextStart", lead(col(Start), 1).over(w))
      .filter(col("_nextStart").isNotNull && col("_nextStart") > col(End))
      .select(keyCols(keys) ++ Seq(col(End).as(Start), col("_nextStart").as(End)): _*)
    chromSizes match {
      case None => gaps
      case Some(cs) =>
        // flanks from per-key outer bounds joined to chromsizes
        val bounds = merged.groupBy(keyCols(keys): _*)
          .agg(min(col(Start)).as("_minS"), max(col(End)).as("_maxE"))
          .join(broadcast(cs), Seq(Cols.Chrom))
        val left = bounds.filter(col("_minS") > 0)
          .select(keyCols(keys) ++ Seq(lit(0L).as(Start), col("_minS").as(End)): _*)
        val right = bounds.filter(col("_maxE") < col("size"))
          .select(keyCols(keys) ++ Seq(col("_maxE").as(Start), col("size").as(End)): _*)
        gaps.unionByName(left).unionByName(right)
    }
  }

  /** outer_ranges / boundaries (reference core/pyranges_main.py:534-609):
    * min(Start), max(End) [, count] per key. Pure hash aggregate. */
  def boundaries(df: DataFrame, keys: Seq[String],
                 countCol: Option[String] = None): DataFrame = {
    val aggs = Seq(min(col(Start)).as(Start), max(col(End)).as(End)) ++
      countCol.map(c => count(lit(1)).as(c)).toSeq
    df.groupBy(keyCols(keys): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** extend_ranges (reference core/pyranges_main.py:879-1039): extend
    * (or contract, negative values) interval ends; strand-aware: ext5
    * moves Start on "+" rows but End on "-" rows, ext3 the converse. */
  def extend(df: DataFrame, ext5: Long = 0, ext3: Long = 0,
             useStrand: Boolean = true): DataFrame = {
    val neg = if (useStrand && df.columns.contains(Strand))
      col(Strand) === Cols.RevStrand else lit(false)
    df.withColumn(Start, when(neg, col(Start) - ext3).otherwise(col(Start) - ext5))
      .withColumn(End, when(neg, col(End) + ext5).otherwise(col(End) + ext3))
  }

  /** extend_ranges with group_by (reference core/pyranges_main.py:
    * 879-1039, `group_by` arg): only the transcript's outermost 5'/3'
    * interval is extended — the 5'-most exon's outer edge takes ext5, the
    * 3'-most exon's outer edge ext3, strand-aware. Window projection per
    * transcript, no extra shuffle beyond the window. */
  def extendGrouped(df: DataFrame, txKeys: Seq[String], ext5: Long = 0,
                    ext3: Long = 0, useStrand: Boolean = true): DataFrame = {
    val w = Window.partitionBy(keyCols(txKeys): _*)
    val minS = min(col(Start)).over(w)
    val maxE = max(col(End)).over(w)
    val neg = if (useStrand && df.columns.contains(Strand))
      col(Strand) === Cols.RevStrand else lit(false)
    val leftExt = when(neg, ext3).otherwise(ext5)   // genomic-left edge
    val rightExt = when(neg, ext5).otherwise(ext3)  // genomic-right edge
    df.withColumn(Start, when(col(Start) === minS, col(Start) - leftExt)
        .otherwise(col(Start)))
      .withColumn(End, when(col(End) === maxE, col(End) + rightExt)
        .otherwise(col(End)))
  }

  /** clip_ranges / genome_bounds (reference core/pyranges_main.py:
    * 6075-6233): clamp intervals into [0, chromSize); rows entirely
    * outside are dropped. chromSizes: (Chromosome, size). */
  /** clip_ranges() without chromsizes (reference doctest
    * core/pyranges_main.py:6160-6170): clamp only at 0. */
  def clipZero(df: DataFrame): DataFrame =
    df.withColumn(Start, greatest(col(Start), lit(0L)))
      .filter(col(End) > col(Start))

  def clip(df: DataFrame, chromSizes: DataFrame,
           onlyRight: Boolean = false): DataFrame = {
    val joined = df.join(broadcast(chromSizes), Seq(Cols.Chrom))
    val clipped = joined
      .withColumn(Start, if (onlyRight) col(Start) else greatest(col(Start), lit(0L)))
      .withColumn(End, least(col(End), col("size")))
    clipped.filter(col(End) > col(Start)).drop("size")
  }

  /** split_overlaps (reference core/pyranges_main.py:3264-3415): cut the
    * key-space at every Start/End boundary into atomic segments;
    * between=false keeps only segments covered by >=1 input interval,
    * between=true also emits the uncovered gaps between them.
    *
    * Event plan (no join): +1/-1 boundary events, per-key prefix sum =
    * coverage depth of each inter-boundary segment.
    */
  def split(df: DataFrame, keys: Seq[String], between: Boolean = false): DataFrame = {
    val ev = df.select(keyCols(keys) :+ explode(array(
      struct(col(Start).as("_pos"), lit(1L).as("_d")),
      struct(col(End).as("_pos"), lit(-1L).as("_d")))).as("_ev"): _*)
      .select(keyCols(keys) ++ Seq(col("_ev._pos").as("_pos"), col("_ev._d").as("_d")): _*)
      .groupBy(keyCols(keys) :+ col("_pos"): _*).agg(sum(col("_d")).as("_d"))
    val w = Window.partitionBy(keyCols(keys): _*).orderBy(col("_pos"))
    val seg = ev
      .withColumn("_depth", sum(col("_d")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_next", lead(col("_pos"), 1).over(w))
      .filter(col("_next").isNotNull && (if (between) lit(true) else col("_depth") > 0))
    seg.select(keyCols(keys) ++ Seq(col("_pos").as(Start), col("_next").as(End)): _*)
  }

  /** group_cumsum (reference core/pyranges_main.py:5209-5307): 5'→3'
    * running total of interval lengths per key (transcript), the basis of
    * all local-coordinate math. Minus-strand groups run right-to-left.
    * Adds cumStart/cumEnd columns. Salted through [[runningSums]] for
    * large inputs; the salted plan needs tieBreak to make the sweep
    * order total when (Start, End) ties are possible. */
  def groupCumsum(df: DataFrame, keys: Seq[String], useStrand: Boolean = true,
                  cumStartCol: String = "cumStart", cumEndCol: String = "cumEnd",
                  tieBreak: Seq[Column] = Nil): DataFrame =
    groupCumsumSweep(df, keys, useStrand, cumStartCol, cumEndCol, tieBreak,
      Sizing.saltBin("groupCumsum", df, keys, df))

  /** [[groupCumsum]] with the salt decision made (tests and SaltBench
    * pick the branch here). */
  private[graft] def groupCumsumSweep(df: DataFrame, keys: Seq[String],
      useStrand: Boolean, cumStartCol: String, cumEndCol: String,
      tieBreak: Seq[Column], saltBin: Option[Long]): DataFrame = {
    val neg = if (useStrand && df.columns.contains(Strand))
      col(Strand) === Cols.RevStrand else lit(false)
    val pos1 = when(neg, -col(End)).otherwise(col(Start))
    val pos2 = when(neg, -col(Start)).otherwise(col(End))
    val len = col(End) - col(Start)
    runningSums(df, keys, pos1, pos2 +: tieBreak, Seq(cumEndCol -> len), saltBin)
      .withColumn(cumStartCol, col(cumEndCol) - len)
  }

  /** The per-key running sums of the sweeps (group_cumsum here, the RLE
    * runs in [[Coverage]]): adds, per (name, value) in `sums`, the
    * running sum of `value` per `keys` in (pos, tieBreak) order, and
    * with `nextCol` the next row's `pos` (NULL on a key's last row).
    *
    * saltBin = None: one per-key window. Some(bin): a plain window
    * partitions by the key alone, so one hot key serializes into one
    * task; the classic two-phase distributed prefix sum instead (1)
    * sums locally per (key, floor(pos / bin)) mega-bin — parallelism =
    * #bins, (2) turns the tiny per-bin totals into per-key exclusive
    * offsets, (3) joins them back; a next position crossing a bin edge
    * is the next non-empty bin's first `pos`. Identical output
    * (property-tested, OpsSpec) for sums that are exact in their type. */
  private[graft] def runningSums(df: DataFrame, keys: Seq[String], pos: Column,
      tieBreak: Seq[Column], sums: Seq[(String, Column)], saltBin: Option[Long],
      nextCol: Option[String] = None): DataFrame = {
    val k = keyCols(keys)
    val upTo = Window.unboundedPreceding
    saltBin match {
      case None =>
        val w = Window.partitionBy(k: _*).orderBy(pos +: tieBreak: _*)
        val summed = sums.foldLeft(df) { case (acc, (name, v)) =>
          acc.withColumn(name, sum(v).over(w.rowsBetween(upTo, Window.currentRow)))
        }
        nextCol.fold(summed)(n => summed.withColumn(n, lead(pos, 1).over(w)))
      case Some(bin) =>
        val d = df.withColumn("_rsmb", floor(pos.cast("double") / bin).cast("long"))
        val wLoc = Window.partitionBy(k :+ col("_rsmb"): _*).orderBy(pos +: tieBreak: _*)
        val idx = sums.indices
        val local = idx.foldLeft(d)((acc, i) => acc.withColumn(s"_rsloc$i",
            sum(sums(i)._2).over(wLoc.rowsBetween(upTo, Window.currentRow))))
        val withNext = nextCol.fold(local)(_ =>
          local.withColumn("_rsnextLoc", lead(pos, 1).over(wLoc)))
        val wBins = Window.partitionBy(k: _*).orderBy(col("_rsmb"))
        val totals = idx.map(i => sum(sums(i)._2).as(s"_rstot$i")) ++
          nextCol.map(_ => min(pos).as("_rsfirst"))
        val perBin = d.groupBy(k :+ col("_rsmb"): _*).agg(totals.head, totals.tail: _*)
        val offsets = idx.foldLeft(perBin)((acc, i) => acc.withColumn(s"_rsoff$i",
            coalesce(sum(col(s"_rstot$i")).over(
              wBins.rowsBetween(Window.unboundedPreceding, -1)), lit(0))))
        val binInfo = nextCol.fold(offsets)(_ =>
            offsets.withColumn("_rsnextFirst", lead(col("_rsfirst"), 1).over(wBins)))
          .select(k ++ (col("_rsmb") +: idx.map(i => col(s"_rsoff$i"))) ++
            nextCol.map(_ => col("_rsnextFirst")): _*)
        val joined = withNext.join(binInfo, keys :+ "_rsmb")
        val summed = idx.foldLeft(joined)((acc, i) =>
          acc.withColumn(sums(i)._1, col(s"_rsloc$i") + col(s"_rsoff$i")))
        val out = nextCol.fold(summed)(n =>
          summed.withColumn(n, coalesce(col("_rsnextLoc"), col("_rsnextFirst"))))
        val added = (sums.map(_._1) ++ nextCol).filterNot(df.columns.contains)
        out.select((df.columns.toSeq ++ added).map(col): _*)
    }
  }

  /** window_ranges (reference core/pyranges_main.py:4838-5096): chop each
    * interval into fixed-size windows from its 5' end (last window may be
    * shorter). Generator plan: explode(sequence(...)) — no shuffle. */
  def windowRanges(df: DataFrame, size: Long, useStrand: Boolean = true): DataFrame = {
    val neg = if (useStrand && df.columns.contains(Strand))
      col(Strand) === Cols.RevStrand else lit(false)
    // "+" rows window left→right from Start; "-" rows right→left from End.
    val fwd = df.filter(!neg)
      .withColumn("_ws", explode(sequence(col(Start), col(End) - 1, lit(size))))
      .withColumn(End, least(col("_ws") + size, col(End)))
      .withColumn(Start, col("_ws")).drop("_ws")
    val rev = df.filter(neg)
      .withColumn("_we", explode(sequence(col(End), col(Start) + 1, lit(-size))))
      .withColumn(Start, greatest(col("_we") - size, col(Start)))
      .withColumn(End, col("_we")).drop("_we")
    fwd.unionByName(rev)
  }

  /** tile_ranges (reference core/pyranges_main.py:3719-3846): snap
    * intervals onto the global grid of `size`; one row per overlapped
    * tile; optional overlap column — the FRACTION of the tile covered
    * (reference doctest :3805 TileOverlap 0.32) when fraction=true, the
    * overlap length in bp otherwise. */
  def tile(df: DataFrame, size: Long, overlapCol: Option[String] = None,
           fraction: Boolean = false): DataFrame = {
    val t = df.withColumn("_t",
      explode(sequence(floor(col(Start).cast("double") / size).cast("long"),
                       floor((col(End) - 1).cast("double") / size).cast("long"))))
    val withBounds = t
      .withColumn("_ts", col("_t") * size)
      .withColumn("_te", (col("_t") + 1) * size)
    val ovLen = least(col(End), col("_te")) - greatest(col(Start), col("_ts"))
    val withOv = overlapCol.fold(withBounds)(c => withBounds.withColumn(c,
      if (fraction) ovLen.cast("double") / size else ovLen))
    withOv.withColumn(Start, col("_ts")).withColumn(End, col("_te"))
      .drop("_t", "_ts", "_te")
  }

  /** tile_genome (reference methods/tile_genome.py:13-109): tile the whole
    * genome from a chromSizes table (Chromosome, size). */
  def tileGenome(chromSizes: DataFrame, size: Long,
                 fullLastTile: Boolean = false): DataFrame = {
    val t = chromSizes.withColumn("_t",
      explode(sequence(lit(0L), floor((col("size") - 1).cast("double") / size).cast("long"))))
    t.withColumn(Start, col("_t") * size)
      .withColumn(End, if (fullLastTile) (col("_t") + 1) * size
                       else least((col("_t") + 1) * size, col("size")))
      .drop("_t", "size")
  }

  /** max_disjoint_overlaps (reference core/pyranges_main.py:1911-2046):
    * greedy non-overlapping subset per key. The reference kernel scans in
    * START order and keeps an interval iff it doesn't overlap the last
    * kept one (its doctest :1987-2000 keeps [19,27) over the
    * higher-cardinality {[20,22),[24,25)} — first-fit by start, not the
    * classic by-end maximum-cardinality greedy). Inherently sequential
    * per key: repartition + sortWithinPartitions + mapPartitions with
    * carried lastEnd (reference kernel: ruranges max_disjoint,
    * range_frame/range_frame.py:397-449). */
  def maxDisjoint(df: DataFrame, keys: Seq[String], slack: Long = 0,
                  tieBreak: Seq[Column] = Nil): DataFrame = {
    val schema = df.schema
    val keyIdx = keys.map(schema.fieldIndex)
    val sIdx = schema.fieldIndex(Start)
    val eIdx = schema.fieldIndex(End)
    // tieBreak totalizes the scan order: rows tied on (Start, End) keep
    // a deterministic representative (the reference's row order is its
    // input index)
    val sorted = df.repartition(keyCols(keys): _*)
      .sortWithinPartitions(((keys :+ Start).map(col) :+ col(End)) ++ tieBreak: _*)
    sorted.mapPartitions { it =>
      var curKey: Seq[Any] = null
      var lastEnd = Long.MinValue
      it.filter { r =>
        val k = keyIdx.map(r.get)
        if (curKey == null || k != curKey) { curKey = k; lastEnd = Long.MinValue }
        val s = r.getLong(sIdx)
        // keep iff no strict overlap with the last kept (bookended kept
        // at slack=0, mirroring the cluster boundary convention)
        if (lastEnd == Long.MinValue || s >= lastEnd + slack) {
          lastEnd = math.max(lastEnd, r.getLong(eIdx)); true
        } else false
      }
    }(Encoders.row(schema))
  }

  /** sort_ranges (reference core/pyranges_main.py:2822-2997): sort by
    * Chromosome (natural order unless natsort=false), then Strand, then
    * optional `by` columns, then Start/End — with minus-strand groups in
    * DESCENDING genomic order (5'->3') when useStrand. */
  def sortRanges(df: DataFrame, by: Seq[String] = Nil,
                 useStrand: Boolean = true, natsort: Boolean = true,
                 rankCol: Option[String] = None): DataFrame = {
    val chromKey = if (natsort) graft.expr.NatSort.natsortKey(col(Cols.Chrom))
                   else col(Cols.Chrom)
    val strandKey = if (df.columns.contains(Strand)) Seq(col(Strand)) else Nil
    val neg = if (useStrand && df.columns.contains(Strand))
      col(Strand) === Cols.RevStrand else lit(false)
    val pos1 = when(neg, -col(End)).otherwise(col(Start))
    val pos2 = when(neg, -col(Start)).otherwise(col(End))
    val keys = Seq(chromKey) ++ strandKey ++ by.map(col) ++ Seq(pos1, pos2)
    // rankCol materializes the sort position as data (a 1-based global
    // rank over the same key), making the ordering verifiable by an
    // engine-vs-engine compare that re-sorts rows; the single-partition
    // window is the price of a global rank and is for verification use
    df.orderBy(keys: _*)
      .transform(d => rankCol.fold(d)(rc => d.withColumn(rc,
        row_number().over(Window.orderBy(keys: _*)).cast("long"))))
  }
}
