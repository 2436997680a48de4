package graft.ops

import graft.core.{Cols, Sizing}
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

  /** Runs of constant coverage between min(Start) and max(End) per key.
    * valueCol: weight column (default 1 per interval). Zero-coverage runs
    * interior to the span are included; flanking zero runs are not.
    * Salted for large inputs (see [[rleRuns]]). */
  def toRle(df: DataFrame, keys: Seq[String],
            valueCol: Option[String] = None,
            scoreCol: String = "Score"): DataFrame =
    rleRuns(Seq(df -> Seq(valueCol.map(col).getOrElse(lit(1L)).cast("double"))),
      keys, Seq(scoreCol), Sizing.saltBin("rle", df, keys, df))

  /** Binary Rle algebra (reference to_bigwig `divide` mode and pyrle run
    * arithmetic, core/out.py:164-224): depth of `a` and depth of `b` as
    * aligned constant runs over the union of both breakpoint sets — one
    * sweep, two prefix sums. Downstream columns combine them (ratio,
    * log2-ratio, difference) without re-splitting. The salt decision
    * gates on both sides and samples `a`, the side that drives the
    * breakpoint volume in the divide pipelines. */
  def rleBinary(a: DataFrame, b: DataFrame, keys: Seq[String],
                scoreA: String = "score_a", scoreB: String = "score_b"): DataFrame =
    binaryRuns(a, b, keys, scoreA, scoreB, Sizing.saltBin("rle", a, keys, a, b))

  /** [[rleBinary]] under an already-made salt decision. */
  private def binaryRuns(a: DataFrame, b: DataFrame, keys: Seq[String], scoreA: String,
                         scoreB: String, saltBin: Option[Long]): DataFrame =
    rleRuns(Seq(a -> Seq(lit(1L), lit(0L)), b -> Seq(lit(0L), lit(1L))), keys,
      Seq(scoreA, scoreB), saltBin)

  /** The RLE sweep of [[toRle]] (one event stream) and [[rleBinary]]
    * (two): each stream row with both bounds emits (Start, +w) and
    * (End, -w) for its weights w, one score per weight; events
    * aggregate per (key, position), [[UnaryOps.runningSums]] turns them
    * into per-key running depths, and each breakpoint pairs with the
    * next one.
    *
    * saltBin is the decision of [[Sizing.saltBin]]: the plain per-key
    * window is a straggler on big inputs (one hot chromosome = one
    * sorted task; measured at local[32]/sf0.1: plain rleBinary 4.7 s vs
    * salted 2.5 s), while below the gate fewer stages win. The round-8
    * A/B (BASELINE.md "q87 decomposition") forced the salted plan BELOW
    * the gate on q87's 14 MB / 3-key shape and it LOST (steady 5.9-7.0 s
    * vs plain 3.0-3.7 s at local[32]): with ~40k breakpoints its two
    * extra shuffles cost more than the 3-task serialization they
    * remove. */
  private[graft] def rleRuns(streams: Seq[(DataFrame, Seq[Column])], keys: Seq[String],
                             scores: Seq[String], saltBin: Option[Long]): DataFrame = {
    val k = keys.map(col)
    val ds = scores.indices.map(i => s"_d$i")
    // a NULL-bound row covers nothing, as in merge
    def events(df: DataFrame, ws: Seq[Column]): DataFrame =
      df.filter(col(Start).isNotNull && col(End).isNotNull).select(k :+ explode(array(
          struct(col(Start).as("_pos") +: ws.zip(ds).map { case (w, d) => w.as(d) }: _*),
          struct(col(End).as("_pos") +: ws.zip(ds).map { case (w, d) => (-w).as(d) }: _*)
        )).as("_ev"): _*)
        .select(k ++ ("_pos" +: ds).map(c => col("_ev." + c).as(c)): _*)
    val sums = ds.map(d => sum(col(d)).as(d))
    val ev = streams.map { case (df, ws) => events(df, ws) }.reduce(_ unionByName _)
      .groupBy(k :+ col("_pos"): _*).agg(sums.head, sums.tail: _*)
    UnaryOps.runningSums(ev, keys, col("_pos"), Nil,
        scores.zip(ds.map(col)), saltBin, Some("_next"))
      .filter(col("_next").isNotNull)
      .select(k ++ Seq(col("_pos").as(Start), col("_next").as(End)) ++ scores.map(col): _*)
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
    // one salt decision for both per-key sweeps: the RLE and the defrag
    val saltBin = Sizing.saltBin("rle", cov, keys, cov, bg)
    val runs = binaryRuns(cov, bg, keys, "score_a", "score_b", saltBin)
      .filter(col("score_b") =!= 0)
    val islands = saltBin.fold(defragIslands(runs, keys))(defragSalted(runs, keys, _))
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
}
