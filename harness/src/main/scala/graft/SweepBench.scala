package graft

import graft.core.Cols
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A/B harness for the binned-vs-sweep interval-join crossover — the
  * measurement behind the fan-out bar of the interval-join chooser
  * (`RangeJoin.choose`). Generates interval tables
  * whose MEAN LENGTH is the swept axis while coverage depth is held
  * constant (span scales with n*len/depth), so the only thing changing
  * between rows of the result table is the binned plan's explode
  * fan-out at the auto-chosen bin width:
  *
  *   fanout = meanLen / min(65536, nextPow4(4*meanLen))
  *
  * Short intervals: fan-out ~0.1, the binned equi-join should win (hash
  * join beats sort + merge). Long intervals: the 65536 clamp caps the
  * bin, fan-out grows linearly with length, and the exploded row count
  * (n * fanout) swamps the join — the sweep never amplifies rows and
  * should win. The crossover's fan-out value is what the conf encodes.
  *
  * Usage:
  *   SPARK_GRAFT_CPUS=32 sbt -batch "harness/runMain graft.SweepBench [nRows]"
  *     [--check]   also xxhash-compare binned vs sweep pair sets
  *     [--pick]    A/B the derived modes instead: first-match pick and
  *                 per-row count, binned pairs+aggregation vs the
  *                 sweep's native fold modes (plain and salted)
  *     [--demote]  demotion-cost A/B for the spillable pick: in-heap vs
  *                 spillDepth=64 on the one-key depth-1024 worst case
  *     [--lens=20,2000,65536,262144,1048576]   mean lengths to sweep
  *
  * Results recorded in BASELINE.md ("binned vs sweep" table).
  */
object SweepBench {
  import Cols._

  /** Deterministic interval table: n rows over 3 chromosomes (1 with
    * `hot` — the skew axis: a single key serializes any per-key plan),
    * start pseudorandom in [0, span), length uniform-ish in
    * [1, 2*meanLen] (mean ~meanLen). Parquet-backed so leaf stats and
    * scan behavior are the real thing. */
  def mkTable(s: SparkSession, n: Long, meanLen: Long, span: Long,
              seed: Long, path: String, hot: Boolean = false): DataFrame = {
    if (!new java.io.File(path).exists) {
      s.range(n)
        .withColumn(Chrom,
          if (hot) lit("c0") else concat(lit("c"), pmod(col("id"), lit(3L))))
        .withColumn(Start, pmod(xxhash64(col("id"), lit(seed)), lit(span)))
        .withColumn(End, col(Start)
          + pmod(xxhash64(col("id"), lit(seed + 1)), lit(2L * meanLen)) + 1L)
        .withColumnRenamed("id", RowId)
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
  }

  /** Checksum-force: evaluates every column of every pair so Catalyst
    * can't prune the join under test. */
  private def sig(d: DataFrame): (Long, Long) = {
    val h = xxhash64(d.columns.map(col): _*)
    val r = d.select(count(lit(1)), bit_xor(h)).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def time(reps: Int)(body: => DataFrame): (Double, Long) = {
    var rows = 0L
    val best = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      rows = sig(body)._1
      (System.nanoTime() - t0) / 1e9
    }.min
    (best, rows)
  }

  def main(args: Array[String]): Unit = {
    val nums = args.filter(a => a.nonEmpty && a.forall(_.isDigit)).map(_.toLong)
    val n = nums.headOption.getOrElse(2000000L)
    val lens = args.find(_.startsWith("--lens="))
      .map(_.stripPrefix("--lens=").split(",").map(_.toLong).toSeq)
      .getOrElse(Seq(20L, 2000L, 65536L, 262144L, 1048576L))
    val check = args.contains("--check")
    val spark = Harness.session("sweepbench", Harness.cpus("32"))

    if (args.contains("--depth")) {
      // eviction/buffer stress: one key, every interval concurrently
      // active (depth == n). Anti against an empty right isolates the
      // buffer machinery (no candidate visits): heap eviction keeps it
      // O(n log n) — the pre-round-6 linear-scan eviction was O(n^2)
      // here. The count row holds depth at ~1024 and scales n: its cost
      // is the intrinsic O(n * depth) candidate folds, so the per-fold
      // rate should stay flat as n grows.
      import spark.implicits._
      for (n <- Seq(65536L, 262144L, 1048576L)) {
        val l = spark.range(n).select(lit("c0").as(Chrom), col("id").as(Start),
          (col("id") + 2L * n).as(End), col("id").as(RowId))
        val rEmpty = spark.range(0).select(lit("c0").as(Chrom), col("id").as(Start),
          (col("id") + 1).as(End), col("id").as(RowId))
        val (tAnti, rowsAnti) = time(1)(
          graft.join.IntervalSweepJoin.exists(l, rEmpty, Seq(Chrom), anti = true))
        require(rowsAnti == n, s"anti flush lost rows: $rowsAnti != $n")
        val nd = n / 4
        val ld = spark.range(nd).select(lit("c0").as(Chrom), (col("id") * 4).as(Start),
          (col("id") * 4 + 4096L).as(End), col("id").as(RowId))
        val (tCnt, _) = time(1)(
          graft.join.IntervalSweepJoin.count(ld, ld.drop(RowId), Seq(Chrom), countCol = "n"))
        println(f"""{"depthN":$n,"antiFlushSec":$tAnti%.1f,"countN":$nd,"countDepth":1024,"countSec":$tCnt%.1f}""")
      }
      spark.stop()
      return
    }

    if (args.contains("--demote")) {
      // demotion-cost A/B for the spillable PICK (winner-identity
      // overflow): the round-8 stateful-overflow worst case — one key
      // (one core), 50k x 50k, concurrent depth ~1024 — in-heap
      // (default spillDepth) vs ~94% of entries demoted (spillDepth=64).
      // First is log-cheap (ascending right starts: the first match is
      // final); Last is the log-heavy case (every arrival beats every
      // incumbent) and leans on the per-arrival append dedup. Signatures
      // must match between configurations — this measures, and re-proves,
      // the degraded path.
      import graft.join.IntervalSweepJoin
      val nd = 50000L
      val ld = spark.range(nd).select(lit("c0").as(Chrom), (col("id") * 4).as(Start),
        (col("id") * 4 + 4096L).as(End), col("id").as(RowId))
      val rd = ld.drop(RowId)
      for (last <- Seq(false, true)) {
        val tag = if (last) "last" else "first"
        spark.conf.unset("spark.graft.join.sweepSpillDepth")
        val sHeap = sig(IntervalSweepJoin.pick(ld, rd, Seq(Chrom), last = last))
        val (tHeap, _) = time(2)(IntervalSweepJoin.pick(ld, rd, Seq(Chrom), last = last))
        spark.conf.set("spark.graft.join.sweepSpillDepth", "64")
        val sDem = sig(IntervalSweepJoin.pick(ld, rd, Seq(Chrom), last = last))
        val (tDem, _) = time(2)(IntervalSweepJoin.pick(ld, rd, Seq(Chrom), last = last))
        require(sHeap == sDem, s"demoted pick $tag diverged: $sHeap != $sDem")
        println(f"""{"mode":"pick_$tag","n":$nd,"depth":1024,"inHeapSec":$tHeap%.1f,"demotedSec":$tDem%.1f,"overheadX":${tDem / tHeap}%.2f}""")
      }
      spark.conf.unset("spark.graft.join.sweepSpillDepth")
      spark.stop()
      return
    }

    val hot = args.contains("--hot")
    val depth = 4L // held-constant expected coverage depth per chrom
    lens.foreach { len =>
      // span chosen so n rows of ~len cover each chrom ~depth deep
      val chroms = if (hot) 1L else 3L
      val span = math.max(1000000L, n * len / (chroms * depth))
      val dir = s"/tmp/graft_sweepbench"
      val tag = if (hot) "hot_" else ""
      val l = mkTable(spark, n, len, span, 41L, s"$dir/${tag}l_n${n}_len$len.parquet", hot)
      val r = mkTable(spark, n / 4, len, span, 97L, s"$dir/${tag}r_n${n}_len$len.parquet", hot)
      val autoBin = graft.join.RangeJoin.autoBinSize(l, r)
      val fanout = len.toDouble / autoBin
      // the salt bin the count/pick dispatch would pick
      import graft.join.RangeJoin.{Sweep, Use, choose}
      val mb = choose(l, r, Seq(Chrom), Use.Count) match {
        case Sweep(m) => m
        case _ => None
      }

      if (args.contains("--pick")) {
        // derived-mode A/B: first-match pick and per-row count, binned
        // (pairs + aggregation, the sub-gate plan) vs the sweep's native
        // fold modes (plain and salted) — the measurement behind routing
        // joinOverlaps(multiple=first/last) / countOverlaps through the
        // sweep in its regime
        import graft.join.{IntervalSweepJoin, RangeJoin}
        def binnedPick: DataFrame = RangeJoin.pickRollup(l, RangeJoin.pairs(
          RangeJoin.identified(l), r, Seq(Chrom), binSize = autoBin), "_b", last = false)
        def binnedCount: DataFrame = RangeJoin.binnedCount(l, r, Seq(Chrom), 0, autoBin, "n")
        val reps = 2
        val (tPb, nPb) = time(reps)(binnedPick)
        val (tPs, nPs) = time(reps)(IntervalSweepJoin.pick(l, r, Seq(Chrom), last = false))
        val (tPm, nPm) = time(reps)(IntervalSweepJoin.pick(l, r, Seq(Chrom), last = false,
          megaBin = mb))
        require(nPb == nPs && nPb == nPm, s"pick rows diverged: $nPb/$nPs/$nPm")
        val (tCb, nCb) = time(reps)(binnedCount)
        val (tCs, nCs) = time(reps)(IntervalSweepJoin.count(l, r, Seq(Chrom), countCol = "n"))
        val (tCm, nCm) = time(reps)(IntervalSweepJoin.count(l, r, Seq(Chrom), countCol = "n",
          megaBin = mb))
        require(nCb == nCs && nCb == nCm, s"count rows diverged: $nCb/$nCs/$nCm")
        println(f"""{"len":$len,"bin":$autoBin,"fanout":$fanout%.2f,"megaBin":${mb.getOrElse(0L)},"pickBinned":$tPb%.1f,"pickSweep":$tPs%.1f,"pickSalted":$tPm%.1f,"countBinned":$tCb%.1f,"countSweep":$tCs%.1f,"countSalted":$tCm%.1f}""")
      } else if (check) {
        val sb = sig(graft.join.RangeJoin.pairs(l, r, Seq(Chrom), binSize = autoBin))
        val ss = sig(graft.join.IntervalSweepJoin.pairs(l, r, Seq(Chrom)))
        val sm = sig(graft.join.IntervalSweepJoin.pairs(l, r, Seq(Chrom), megaBin = mb))
        println(s"[sweepcheck] len=$len binned=$sb sweep=$ss salted=$sm " +
          s"match=${sb == ss && sb == sm}")
        require(sb == ss && sb == sm,
          s"binned / sweep / salted pair sets diverged at len=$len")
      } else {
        val reps = 2
        val (tBin, rowsBin) =
          time(reps)(graft.join.RangeJoin.pairs(l, r, Seq(Chrom), binSize = autoBin))
        val (tSweep, rowsSweep) =
          time(reps)(graft.join.IntervalSweepJoin.pairs(l, r, Seq(Chrom)))
        val (tSalt, rowsSalt) =
          time(reps)(graft.join.IntervalSweepJoin.pairs(l, r, Seq(Chrom), megaBin = mb))
        require(rowsBin == rowsSweep && rowsBin == rowsSalt,
          s"row counts diverged: $rowsBin / $rowsSweep / $rowsSalt")
        println(f"""{"len":$len,"bin":$autoBin,"fanout":$fanout%.2f,"megaBin":${mb.getOrElse(0L)},"pairs":$rowsBin,"binned":$tBin%.1f,"sweep":$tSweep%.1f,"sweepSalted":$tSalt%.1f,"saltedSpeedupVsSweep":${tSweep / tSalt}%.2f}""")
      }
    }
    spark.stop()
  }
}
