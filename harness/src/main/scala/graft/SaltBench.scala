package graft

import graft.core.Cols
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A/B harness for the salted-vs-plain crossover (the one unmeasured
  * 100×-scale claim in BASELINE.md): generates a hot-key interval table
  * ≥1 GB in parquet leaf bytes — sf0.1's `gr` exploded `factor`× with
  * half of all copies forced onto one chromosome, so one key holds ~2/3
  * of the rows — then times the plain window/sweep plan against the
  * salted two-phase plan for merge / group_cumsum / to_rle / nearest at
  * that size. The Sizing gates are also evaluated on the generated
  * table so the run records whether the auto-switch would fire there.
  *
  * Results are recorded in BASELINE.md ("salted crossover" table).
  * Usage: SPARK_GRAFT_CPUS=32 sbt -batch "harness/runMain graft.SaltBench [factor]"
  *
  * `--manykeys` relabels the rows over 2000 balanced keys; `--sorted`
  * also writes that table sorted by (Chromosome, Start), the layout of
  * a coordinate-sorted file, whose first rows show only its first keys.
  * Either way the run prints the salt gate's view of the table: the key
  * count of the first-rows sample, the whole input's, and the plan.
  */
object SaltBench {
  import Cols._

  /** Deterministic hot-key explosion of `gr`. Each source row becomes
    * `factor` copies; `hotPct`% of the (row, copy) pairs land on
    * chromosome "A" (the hot key), the rest keep their source
    * chromosome; starts scale out to a chromosome-realistic ~240M
    * coordinate span (orderkey*400 + a prime stride per copy) so
    * mega-bin salting has real bins to fan out over
    * — the first harness draft kept gr's ~1M span and handed mergeSalted
    * all of two 1M-wide bins. */
  def hotKeyTable(s: SparkSession, sfDir: String, factor: Int,
                  hotPct: Int = 50): DataFrame = {
    val base = Tables.gr(s, sfDir)
    base.withColumn("_k", explode(sequence(lit(0L), lit(factor - 1L))))
      // gr's packed row_id is already ~2^60, so id*factor overflows a
      // long — a 64-bit hash of (id, copy) keeps the tie-break key
      // deterministic and collision-free in practice at 36M rows
      .withColumn(RowId, xxhash64(col(RowId), col("_k")))
      // hotPct% of copies land on the hot chromosome "A" (plus the ~1/3
      // natural A share of the rest): hotPct 50 -> ~0.67 hot share,
      // 5 -> ~0.37, 95 -> ~0.97 — the skew sweep axis. Decided per
      // (row, copy) from the hash above, so the share holds at any factor
      .withColumn(Chrom, when(pmod(col(RowId), lit(100L)) < hotPct,
        lit("A")).otherwise(col(Chrom)))
      // length BEFORE start is rewritten — withColumn(Start,...) replaces
      // the column, so a later End-Start would see the scaled Start
      .withColumn("_len", (col(End) - col(Start)) % 5000L + 1L)
      .withColumn(Start, col(Start) * 400L + (col("_k") * 6151L) % 997331L)
      .withColumn(End, col(Start) + col("_len"))
      .drop("_k", "_len")
  }

  /** Evaluate every output column (xxhash64 over the full row, summed):
    * a bare count() lets Catalyst PRUNE the very window/aggregate columns
    * under test — the first harness draft timed a cumsum whose cumsum
    * had been optimized away. */
  private def force(df: DataFrame): Unit = {
    // bit_xor, not sum: summing 36M pseudo-random longs overflows under
    // ANSI arithmetic
    val h = xxhash64(df.columns.map(col): _*)
    df.select(bit_xor(h)).head()
  }

  private def time(reps: Int)(body: => DataFrame): Double =
    (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      force(body)
      (System.nanoTime() - t0) / 1e9
    }.min

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nums = args.filter(a => a.nonEmpty && a.forall(_.isDigit)).map(_.toInt)
    val factor = nums.headOption.getOrElse(60)
    val hotPct = nums.drop(1).headOption.getOrElse(50)
    val spark = Harness.session("saltbench", Harness.cpus("32"))

    // --manykeys: same bytes, ~2000 distinct keys — probes whether the
    // salted split still pays when the plain window already has more
    // keys than cores (parallelism comes free)
    val sorted = args.contains("--sorted")
    val manyKeys = sorted || args.contains("--manykeys")
    // v2: tables of the earlier per-copy hot-key formula differ
    val dir = "/tmp/graft_saltbench/v2"
    val path =
      if (sorted) s"$dir/gr_x${factor}_mk_sorted.parquet"
      else if (manyKeys) s"$dir/gr_x${factor}_mk.parquet"
      else if (hotPct == 50) s"$dir/gr_x$factor.parquet"
      else s"$dir/gr_x${factor}_h$hotPct.parquet"
    if (!new java.io.File(path).exists) {
      println(s"[saltbench] generating $path ...")
      val t = hotKeyTable(spark, sfDir, factor, hotPct)
      val mk = if (manyKeys)
        t.withColumn(Chrom, concat(lit("k"), pmod(col(RowId), lit(2000L))))
      else t
      val out = if (sorted) mk.sort(Chrom, Start) else mk
      out.write.mode("overwrite").parquet(path)
    }
    val df = spark.read.parquet(path)
    val leafBytes = graft.core.Sizing.leafScanBytes(df)
    val nRows = df.count()
    val hotShare = df.filter(col(Chrom) === "A").count().toDouble / nRows
    println(f"[saltbench] rows=$nRows%d leafBytes=${leafBytes.toLong / (1 << 20)}%d MB hotShare=$hotShare%.2f")

    // would the auto-switch fire at this size?
    val fire = graft.core.Sizing.decide("saltbench/input",
      graft.core.Sizing.saltedInputThreshold, df)
    println(s"[saltbench] gate(${graft.core.Sizing.saltedInputThreshold >> 20}MB)=$fire")
    // the key rule of the salt gate: the first-rows sample, then the
    // census that runs when the sample cannot settle it
    val sampled = graft.core.Sizing.sideStats(df, Seq(Chrom))
    val whole = graft.core.Sizing.keyCensus(df, Seq(Chrom))
    println(f"[saltbench] keys sample=${sampled.distinctKeys}%d " +
      f"(hot ${sampled.hotShare}%.3f) whole=${whole.distinctKeys}%d " +
      f"(hot ${whole.hotShare}%.3f, ${if (whole.census) "census" else "sample"}) " +
      s"saltPlan=${graft.core.Sizing.saltPlan(df, Seq(Chrom))}")

    // the salted side's mega-bin: the dispatchers' span-scaled bin, with
    // the narrow-span and many-keys demotions off (--manykeys measures
    // the salted plan the demotion would skip)
    val bin = graft.core.Sizing.saltPlan(df).getOrElse(16384L)
    // nearest's sweep choice is made inside nearestK: force the gate
    // while the plan is built and run
    def under[T](mode: String)(body: => T): T = {
      spark.conf.set(graft.core.Sizing.ForceKey, mode)
      try body finally spark.conf.unset(graft.core.Sizing.ForceKey)
    }
    val right = Tables.gr2(spark, sfDir)
      .withColumn("_len", (col(End) - col(Start)) % 5000L + 1L)
      .withColumn(Start, col(Start) * 400L)
      .withColumn(End, col(Start) + col("_len"))
      .drop("_len")
    def merge(saltBin: Option[Long]) = saltBin.fold(
      graft.ops.UnaryOps.mergePlain(df, Seq(Chrom)))(
      graft.ops.UnaryOps.mergeSalted(df, Seq(Chrom), 0, _))
    // group_cumsum: per-key running sum, row_id tie-break for total order
    def cumsum(saltBin: Option[Long]) = graft.ops.UnaryOps.groupCumsumSweep(df,
      Seq(Chrom), useStrand = true, "cumStart", "cumEnd", Seq(col(RowId)), saltBin)
    def rle(saltBin: Option[Long]) = graft.ops.Coverage.rleRuns(
      Seq(df -> Seq(lit(1.0))), Seq(Chrom), Seq("Score"), saltBin)
    // nearest (k=1, overlaps excluded to hit the sweep path on both sides)
    def nearest() = graft.ops.NearestK.nearestK(df, right, Seq(Chrom), 1,
      excludeOverlaps = true)

    // --check: at-scale equivalence — the plain==salted property tests
    // run on small fixtures; this compares full-row checksums at a size
    // where the salted dispatch actually fires
    if (args.contains("--check")) {
      def sig(d: DataFrame): (Long, Long) = {
        val h = xxhash64(d.columns.map(col): _*)
        val r = d.select(count(lit(1)), bit_xor(h)).head()
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
      val matches = Seq[(String, Option[Long] => (Long, Long))](
          "merge" -> (b => sig(merge(b))), "cumsum" -> (b => sig(cumsum(b))),
          "rle" -> (b => sig(rle(b))),
          "nearest" -> (b => under(if (b.isEmpty) "plain" else "salted")(sig(nearest()))))
        .map { case (op, run) =>
          val (p, s) = (run(None), run(Some(bin)))
          println(s"[saltcheck] $op plain=$p salted=$s match=${p == s}")
          p == s
        }
      require(matches.forall(identity), "salted output diverged at scale")
      spark.stop()
      return
    }

    val reps = 2
    def report(op: String, plainSec: Double, saltedSec: Double): Unit =
      println(f"""{"op":"$op","plain":$plainSec%.1f,"salted":$saltedSec%.1f,"speedup":${plainSec / saltedSec}%.2f}""")

    // merge: plain single window vs mega-bin split + two-level merge
    report("merge", time(reps)(merge(None)), time(reps)(merge(Some(bin))))
    report("cumsum", time(reps)(cumsum(None)), time(reps)(cumsum(Some(bin))))
    // to_rle: depth runs per key
    report("rle", time(reps)(rle(None)), time(reps)(rle(Some(bin))))
    report("nearest", under("plain")(time(reps)(nearest())),
      under("salted")(time(reps)(nearest())))

    spark.stop()
  }
}
