package graft.ops

import graft.core.Cols
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Coverage / run-length encoding (reference core/pyranges_main.py:
  * 4344-4466 `to_rle`; methods/to_rle.py:15-63): per-key RLE coverage
  * vector as a DataFrame of constant-coverage runs — emit (Start, +v) and
  * (End, -v) events, per-key prefix sum, pair adjacent breakpoints.
  * This is also the data behind to_bigwig (reference core/out.py:164-224).
  */
object Coverage {
  import Cols.{Start, End}

  /** Auto-switch: the plain per-key window sweep serializes each key into
    * one task — fine for small inputs (fewer stages wins), a straggler
    * for big ones (one hot chromosome = one task). Above the shared
    * input-size threshold the salted two-phase prefix sum takes over.
    * Measured at local[32]/sf0.1: plain rleBinary 4.7 s vs salted 2.5 s;
    * at sf0.01 plain wins by stage count. The round-8 A/B (BASELINE.md
    * "q87 decomposition") forced the salted plan BELOW the gate on
    * q87's 14 MB / 3-key shape and it LOST (steady 5.9-7.0 s vs plain
    * 3.0-3.7 s at local[32]): with ~40k breakpoints its two extra
    * shuffles cost more than the 3-task serialization they remove. */
  private def bigInput(dfs: DataFrame*): Boolean =
    graft.core.Sizing.decide("rle", graft.core.Sizing.saltedInputThreshold,
      dfs: _*)

  /** Runs of constant coverage between min(Start) and max(End) per key.
    * valueCol: weight column (default 1 per interval). Zero-coverage runs
    * interior to the span are included; flanking zero runs are not.
    * Dispatches to the salted two-phase sweep for large inputs (identical
    * output — property-tested; exact for integer-valued weights). */
  def toRle(df: DataFrame, keys: Seq[String],
            valueCol: Option[String] = None,
            scoreCol: String = "Score"): DataFrame =
    if (bigInput(df))
      graft.core.Sizing.saltPlan(df, keys) match {
        case Some(bin) => toRleSalted(df, keys, valueCol, scoreCol, saltBin = bin)
        case None      => toRlePlain(df, keys, valueCol, scoreCol)
      }
    else toRlePlain(df, keys, valueCol, scoreCol)

  def toRlePlain(df: DataFrame, keys: Seq[String],
                 valueCol: Option[String] = None,
                 scoreCol: String = "Score"): DataFrame = {
    val k = keys.map(col)
    val v = valueCol.map(col).getOrElse(lit(1L)).cast("double")
    val ev = df.select(k :+ explode(array(
        struct(col(Start).as("_pos"), v.as("_d")),
        struct(col(End).as("_pos"), (-v).as("_d")))).as("_ev"): _*)
      .select(k ++ Seq(col("_ev._pos").as("_pos"), col("_ev._d").as("_d")): _*)
      .groupBy(k :+ col("_pos"): _*).agg(sum(col("_d")).as("_d"))
    val w = Window.partitionBy(k: _*).orderBy(col("_pos"))
    ev.withColumn(scoreCol,
        sum(col("_d")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_next", lead(col("_pos"), 1).over(w))
      .filter(col("_next").isNotNull)
      .select(k ++ Seq(col("_pos").as(Start), col("_next").as(End), col(scoreCol)): _*)
  }

  /** Scalable RLE for hot keys (the 100 TB path, mirroring mergeSalted):
    * the plain toRle window-partitions by key alone, so one huge
    * chromosome = one sorted task. Classic two-phase distributed prefix
    * sum instead: (1) per-(key, megabin) local prefix sums — parallelism
    * = #bins; (2) per-key running offsets over the tiny bin-totals table;
    * (3) join offsets back. Run ends crossing bin boundaries take the
    * next non-empty bin's first breakpoint. Identical output to toRle
    * (property-tested). */
  def toRleSalted(df: DataFrame, keys: Seq[String],
                  valueCol: Option[String] = None, scoreCol: String = "Score",
                  saltBin: Long = 16384): DataFrame = {
    val k = keys.map(col)
    val v = valueCol.map(col).getOrElse(lit(1L)).cast("double")
    val ev = df.select(k :+ explode(array(
        struct(col(Start).as("_pos"), v.as("_d")),
        struct(col(End).as("_pos"), (-v).as("_d")))).as("_ev"): _*)
      .select(k ++ Seq(col("_ev._pos").as("_pos"), col("_ev._d").as("_d")): _*)
      .groupBy(k :+ col("_pos"): _*).agg(sum(col("_d")).as("_d"))
      .withColumn("_mb", floor(col("_pos").cast("double") / saltBin).cast("long"))
    val wLoc = Window.partitionBy(k :+ col("_mb"): _*).orderBy(col("_pos"))
    val local = ev
      .withColumn("_loc", sum(col("_d")).over(
        wLoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_nextLoc", lead(col("_pos"), 1).over(wLoc))
    val wBins = Window.partitionBy(k: _*).orderBy(col("_mb"))
    val binInfo = ev.groupBy(k :+ col("_mb"): _*)
      .agg(sum(col("_d")).as("_tot"), min(col("_pos")).as("_first"))
      .withColumn("_off", coalesce(sum(col("_tot")).over(
        wBins.rowsBetween(Window.unboundedPreceding, -1)), lit(0.0)))
      .withColumn("_nextFirst", lead(col("_first"), 1).over(wBins))
      .select(k ++ Seq(col("_mb"), col("_off"), col("_nextFirst")): _*)
    local.join(binInfo, keys :+ "_mb")
      .withColumn(scoreCol, col("_loc") + col("_off"))
      .withColumn("_next", coalesce(col("_nextLoc"), col("_nextFirst")))
      .filter(col("_next").isNotNull)
      .select(k ++ Seq(col("_pos").as(Start), col("_next").as(End), col(scoreCol)): _*)
  }

  /** Binary Rle algebra (reference to_bigwig `divide` mode and pyrle run
    * arithmetic, core/out.py:164-224): depth of `a` and depth of `b` as
    * aligned constant runs over the union of both breakpoint sets — one
    * sweep, two prefix sums. Downstream columns combine them (ratio,
    * log2-ratio, difference) without re-splitting. */
  def rleBinary(a: DataFrame, b: DataFrame, keys: Seq[String],
                scoreA: String = "score_a", scoreB: String = "score_b"): DataFrame =
    if (bigInput(a, b))
      // span/key refinement samples the larger side (a drives the
      // breakpoint volume in the divide pipelines)
      graft.core.Sizing.saltPlan(a, keys) match {
        case Some(bin) => rleBinarySalted(a, b, keys, scoreA, scoreB, bin)
        case None      => rleBinaryPlain(a, b, keys, scoreA, scoreB)
      }
    else rleBinaryPlain(a, b, keys, scoreA, scoreB)

  def rleBinaryPlain(a: DataFrame, b: DataFrame, keys: Seq[String],
                     scoreA: String = "score_a", scoreB: String = "score_b"): DataFrame = {
    val k = keys.map(col)
    def events(df: DataFrame, dA: Long, dB: Long): DataFrame =
      df.select(k :+ explode(array(
          struct(col(Start).as("_pos"), lit(dA).as("_da"), lit(dB).as("_db")),
          struct(col(End).as("_pos"), lit(-dA).as("_da"), lit(-dB).as("_db")))).as("_ev"): _*)
        .select(k ++ Seq(col("_ev._pos").as("_pos"), col("_ev._da").as("_da"),
          col("_ev._db").as("_db")): _*)
    val ev = events(a, 1, 0).unionByName(events(b, 0, 1))
      .groupBy(k :+ col("_pos"): _*)
      .agg(sum(col("_da")).as("_da"), sum(col("_db")).as("_db"))
    val w = Window.partitionBy(k: _*).orderBy(col("_pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val w2 = Window.partitionBy(k: _*).orderBy(col("_pos"))
    ev.withColumn(scoreA, sum(col("_da")).over(w))
      .withColumn(scoreB, sum(col("_db")).over(w))
      .withColumn("_next", lead(col("_pos"), 1).over(w2))
      .filter(col("_next").isNotNull)
      .select(k ++ Seq(col("_pos").as(Start), col("_next").as(End),
        col(scoreA), col(scoreB)): _*)
  }

  /** to_bigwig-shaped export (reference core/out.py:164-224,
    * return_data=True): the RLE coverage as (Chromosome, Start, End,
    * Score) rows, optionally RPM-normalized (Score x 1e6 / row count —
    * computed as a lazy 1-row aggregate, no driver action). Writing the
    * binary .bw container itself is out of scope offline; this table IS
    * the addEntries payload. */
  def toBigwigRanges(df: DataFrame, valueCol: Option[String] = None,
                     rpm: Boolean = true): DataFrame = {
    val r = toRle(df, Seq(Cols.Chrom), valueCol, "Score")
    if (!rpm) r
    else {
      val n = df.groupBy().agg(count(lit(1)).as("_n"))
      r.crossJoin(broadcast(n))
        .withColumn("Score", col("Score") * 1e6 / col("_n"))
        .drop("_n")
    }
  }

  /** to_bigwig divide mode (reference core/out.py:183-196): aligned
    * coverage runs of `cov` and `bg`, zero-divisor runs dropped, adjacent
    * runs with EQUAL RATIO defragmented (the reference defragments after
    * log2(cov/bg)). Scores are returned as the reduced integer fraction
    * (score_a, score_b) so the result is exact across engines; take
    * log2(score_a / score_b) at the caller's float edge (exactly the
    * reference's log2 values, since equal ratios defragment equally). */
  def bigwigDivideRanges(cov: DataFrame, bg: DataFrame,
                         keys: Seq[String] = Seq(Cols.Chrom)): DataFrame = {
    val k = keys.map(col)
    val runs = rleBinary(cov, bg, keys).filter(col("score_b") =!= 0)
    val islands =
      if (bigInput(cov, bg))
        graft.core.Sizing.saltPlan(cov, keys) match {
          case Some(bin) => defragSalted(runs, keys, bin)
          case None      => defragIslands(runs, keys)
        }
      else defragIslands(runs, keys)
    islands
      // codegen'd long gcd; integer DIV keeps the quotient exact at any
      // magnitude (no double round-trip, which loses bits above 2^53)
      .withColumn("_g", graft.expr.Exprs.gcd_long(col("_a"), col("_b")))
      .select(k ++ Seq(col(Start), col(End),
        when(col("_g") === 0, col("_a"))
          .otherwise(expr("_a div _g")).as("score_a"),
        when(col("_g") === 0, col("_b"))
          .otherwise(expr("_b div _g")).as("score_b")): _*)
  }

  /** Defrag window: merge adjacent (prevEnd == Start) runs with EQUAL
    * ratio into islands, keeping (min a, min b) as the representative
    * pair — min commutes with positive scaling, so the mins of an
    * equal-ratio island keep its ratio. Output: keys + Start/End + _a/_b
    * (gcd reduction happens once, at the caller). */
  private[graft] def defragIslands(runs: DataFrame, keys: Seq[String]): DataFrame = {
    val k = keys.map(col)
    val w = Window.partitionBy(k: _*).orderBy(col(Start))
    val prevEnd = lag(col(End), 1).over(w)
    val sameRatio = col("score_a") * lag(col("score_b"), 1).over(w) ===
      col("score_b") * lag(col("score_a"), 1).over(w)
    val flagged = runs.withColumn("_nf",
      when(prevEnd.isNull || prevEnd =!= col(Start) || !sameRatio, 1L).otherwise(0L))
    val grouped = flagged.withColumn("_gid",
      sum(col("_nf")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    grouped.groupBy(k :+ col("_gid"): _*)
      .agg(min(col(Start)).as(Start), max(col(End)).as(End),
        min(col("score_a")).as("_a"), min(col("score_b")).as("_b"))
      .drop("_gid")
  }

  /** Salted defrag — the last per-key window of the divide export on the
    * hot-key path. Runs are assigned to mega-bins by Start (never split),
    * defragged locally per (key, bin); an island strictly interior to
    * its bin (neither the bin's first nor last) can never extend across
    * a boundary, so it is FINAL. Only the <= 2 boundary islands per
    * (key, bin) go through the per-key stitch window — phase-2 input is
    * bounded by 2x the bin count, not the data. A chain spanning whole
    * bins still stitches: a single-island bin is both first and last,
    * so it rides into phase 2. Identical output to the plain defrag
    * (property-tested). */
  private[graft] def defragSalted(runs: DataFrame, keys: Seq[String],
                           saltBin: Long): DataFrame = {
    val d = runs.withColumn("_mb",
      floor(col(Start).cast("double") / saltBin).cast("long"))
    val local = defragIslands(d, keys :+ "_mb")
    val wIsl = Window.partitionBy((keys :+ "_mb").map(col): _*)
    val marked = local
      .withColumn("_first", col(Start) === min(col(Start)).over(wIsl))
      .withColumn("_last", col(End) === max(col(End)).over(wIsl))
    val interior = marked.filter(!col("_first") && !col("_last"))
      .drop("_mb", "_first", "_last")
    val boundary = marked.filter(col("_first") || col("_last"))
      .drop("_mb", "_first", "_last")
    val stitched = defragIslands(boundary
      .withColumnRenamed("_a", "score_a").withColumnRenamed("_b", "score_b"),
      keys)
    interior.unionByName(stitched)
  }

  /** rleBinary via the two-phase distributed prefix sum (same structure
    * as toRleSalted, two delta streams): local per-(key, megabin) prefix
    * sums in parallel + per-key bin offsets joined back. Identical output
    * to rleBinary (property-tested); the hot-key path. */
  def rleBinarySalted(a: DataFrame, b: DataFrame, keys: Seq[String],
                      scoreA: String = "score_a", scoreB: String = "score_b",
                      saltBin: Long = 16384): DataFrame = {
    val k = keys.map(col)
    def events(df: DataFrame, dA: Long, dB: Long): DataFrame =
      df.select(k :+ explode(array(
          struct(col(Start).as("_pos"), lit(dA).as("_da"), lit(dB).as("_db")),
          struct(col(End).as("_pos"), lit(-dA).as("_da"), lit(-dB).as("_db")))).as("_ev"): _*)
        .select(k ++ Seq(col("_ev._pos").as("_pos"), col("_ev._da").as("_da"),
          col("_ev._db").as("_db")): _*)
    val ev = events(a, 1, 0).unionByName(events(b, 0, 1))
      .groupBy(k :+ col("_pos"): _*)
      .agg(sum(col("_da")).as("_da"), sum(col("_db")).as("_db"))
      .withColumn("_mb", floor(col("_pos").cast("double") / saltBin).cast("long"))
    val wLoc = Window.partitionBy(k :+ col("_mb"): _*).orderBy(col("_pos"))
    val local = ev
      .withColumn("_la", sum(col("_da")).over(
        wLoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_lb", sum(col("_db")).over(
        wLoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_nextLoc", lead(col("_pos"), 1).over(wLoc))
    val wBins = Window.partitionBy(k: _*).orderBy(col("_mb"))
    val binInfo = ev.groupBy(k :+ col("_mb"): _*)
      .agg(sum(col("_da")).as("_ta"), sum(col("_db")).as("_tb"),
        min(col("_pos")).as("_first"))
      .withColumn("_offA", coalesce(sum(col("_ta")).over(
        wBins.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_offB", coalesce(sum(col("_tb")).over(
        wBins.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_nextFirst", lead(col("_first"), 1).over(wBins))
      .select(k ++ Seq(col("_mb"), col("_offA"), col("_offB"), col("_nextFirst")): _*)
    local.join(binInfo, keys :+ "_mb")
      .withColumn(scoreA, col("_la") + col("_offA"))
      .withColumn(scoreB, col("_lb") + col("_offB"))
      .withColumn("_next", coalesce(col("_nextLoc"), col("_nextFirst")))
      .filter(col("_next").isNotNull)
      .select(k ++ Seq(col("_pos").as(Start), col("_next").as(End),
        col(scoreA), col(scoreB)): _*)
  }
}
