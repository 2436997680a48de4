package graft
import scala.jdk.CollectionConverters._

/** Benchmark main. Protocol (BASELINE.md): one timed `count()` per
  * SparkEntry.queries entry at local[SPARK_GRAFT_CPUS] over
  * SPARK_GRAFT_SF_DIR.
  *
  * Output contract: one JSON object per line. Per-query lines stream as
  * results arrive (so a truncated capture still carries the heaviest
  * timings), and the driver-parsed `{"metric":"total",...}` line prints
  * LAST — BENCH_r02.json was tail-truncated mid-line and lost 15 queries
  * plus the total because the total printed first.
  *
  * Measurement hygiene (the round-2 driver-vs-builder reconciliation):
  * between queries the harness clears the Spark cache AND runs a full
  * System.gc() — both uncounted — so one query's allocation debt is not
  * billed to whichever query the JVM happens to collect under. Each
  * per-query line carries the GC time that DID land inside the measured
  * region (`gcMs`), and the total line carries heap/GC/load telemetry,
  * making host pressure visible in BENCH_r{N}.json instead of
  * indistinguishable from a plan regression. */
object Bench {
  private def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

  // Optional plain-file copy of every JSON line (SPARK_GRAFT_BENCH_OUT):
  // the driver's harness captures sbt stdout, where `[info] ` prefixes
  // and log interleaving have defeated its parser every round since r14
  // (`parsed: null` in BENCH_r14..r17). Writing the same lines to a bare
  // file restores the machine-readable contract without touching the
  // timed region or the stdout protocol — additions-only (VERDICT r17
  // item #2).
  private val outFile: Option[java.io.PrintWriter] =
    sys.env.get("SPARK_GRAFT_BENCH_OUT").map { p =>
      new java.io.PrintWriter(new java.io.FileWriter(p, false), true)
    }

  private def emit(line: String): Unit = {
    println(line)
    outFile.foreach(_.println(line))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus("4")
    val spark = Harness.session("bench", cpus)
    // JIT/codegen warmup (uncounted): without it the first measured query
    // absorbs ~5-8 s of one-off JVM cost that belongs to no query
    locally {
      import org.apache.spark.sql.functions._
      val g = Tables.gr(spark, sfDir)
      g.groupBy(col(graft.core.Cols.Chrom)).count().count()
      graft.ops.UnaryOps.merge(g.limit(10000), Seq(graft.core.Cols.Chrom)).count()
      graft.join.RangeJoin.pairs(g.limit(5000), Tables.gr2(spark, sfDir).limit(5000),
        Seq(graft.core.Cols.Chrom)).count()
    }
    // start-of-run ambient-load line: two rounds of official captures
    // breached the 2x gate purely from host noise with no way to tell
    // after the fact — record the load BEFORE any measured work so an
    // elevated-ambient run is self-documenting (BASELINE.md protocol).
    val loadStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    emit(s"""{"metric":"env","heapMaxMb":${Runtime.getRuntime.maxMemory >> 20},"cpus":"$cpus","sf":"$sfDir","loadAvgStart":$loadStart}""")
    // optional args: run only the named queries (local profiling; the
    // driver invokes with no args and gets the full suite)
    val only = args.toSet
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only.contains(n) }
    var nFailed = 0
    val results = selected.map { case (name, fn) =>
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      // a failed query must be VISIBLE: r7 shipped four analysis-broken
      // queries that registered as ~0.1 s "passes" inside the official
      // total because this catch silently returned. Emit the error on the
      // per-query line and count it into the total line's nFailed.
      val err: Option[String] =
        try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable =>
          // strip ALL control chars (parser errors embed caret
          // diagnostics), not just whitespace — one stray \f would make
          // the JSON line unparseable and hide the failure again
          Some(Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\\p{Cntrl}\"\\\\]", " ").take(200)) }
      val dt = (System.nanoTime() - t0) / 1e9
      val gcIn = gcMillis() - gc0
      err match {
        case Some(m) =>
          nFailed += 1
          emit(s"""{"q":"$name","sec":$dt,"gcMs":$gcIn,"err":"$m"}""")
        case None =>
          emit(s"""{"q":"$name","sec":$dt,"gcMs":$gcIn}""")
      }
      // queries are independent: drop cached blocks a query pinned and
      // collect its garbage NOW (uncounted) so neither is billed to the
      // next query
      spark.catalog.clearCache()
      System.gc()
      name -> dt
    }
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // apples-to-apples subtotal: the 74.8 s baseline was recorded over
    // exactly these 20 queries (commit 9c7bc86) — every suite addition
    // since inflates total-vs-total through COVERAGE, not regression, so
    // the total line carries the like-for-like number the 2x gate can
    // be adjudicated against directly
    val baseline20 = Set("q01_agg", "q02_boundaries", "q03_merge",
      "q04_cluster", "q05_complement", "q06_extend", "q07_window",
      "q08_tile", "q09_cumsum", "q10_split", "q11_rle", "q12_overlap",
      "q13_overlap_invert", "q14_join", "q15_intersect", "q16_count",
      "q17_subtract", "q18_nearest", "q19_setint", "q20_setunion")
    val baseline20Sec = results.collect {
      case (n, dt) if baseline20.contains(n) => dt
    }.sum
    // SELF-NORMALIZING HOST YARDSTICK (VERDICT r15 item #3): re-time
    // the frozen 20-query subset once more at the END of the run. The
    // subset's code is pinned (unchanged since 9c7bc86, the commit the
    // 74.8 s reference was recorded against — re-verify with
    // `git diff 9c7bc86..HEAD -- src/main/scala/graft/SparkEntry.scala
    // | grep '"q0'` before touching q01-q20), so round over round this
    // number moves with the HOST GENERATION, not with code: adjudicate
    // the gate by comparing baseline20Sec against the same line's
    // baselineSameDaySec and the recorded bands in BASELINE.md, instead
    // of against whichever host generation the 74.8 s landed on. Warm
    // by construction (the whole suite ran first), so compare it only
    // to other rounds' baselineSameDaySec, never to a cold first pass.
    // Full-suite runs only (the driver's shape); per-query profiling
    // invocations skip it and report -1.
    // FAILURE-HONEST (round-16 ADVICE / VERDICT r16 item #3): a warm-pass
    // crash must not silently deflate the yardstick — a broken query
    // contributes ~0 s and the "host got faster" reading would be the r7
    // silent-pass failure mode all over again. Count failures, surface
    // them per-query, and report -1 for the yardstick itself when any
    // subset query errored (a partial sum is not a yardstick).
    var nFailedWarm = 0
    val baselineSameDaySec = if (only.isEmpty) {
      val subset = SparkEntry.queries.filter {
        case (n, _) => baseline20.contains(n)
      }
      val s = subset.map { case (n, fn) =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count() catch { case e: Throwable =>
          nFailedWarm += 1
          emit(s"""{"q":"$n","warmErr":"${Option(e.getMessage)
            .getOrElse(e.getClass.getName)
            .replaceAll("[\\p{Cntrl}\"\\\\]", " ").take(200)}"}""")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        System.gc()
        dt
      }.sum
      if (nFailedWarm > 0) -1.0 else s
    } else -1.0
    val load = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    spark.stop()
    // driver-parsed line: LAST, after even spark.stop(), so nothing can
    // print below it and tail-capture always keeps it intact. It must also
    // be SHORT: BENCH_r03.json embedded the whole 93-query map here (~3.3 KB)
    // and the driver's tail-capture window cut the line's HEAD off — exactly
    // where "metric":"total","value": lives. The per-query timings already
    // stream above as individual lines; never duplicate them here.
    // loadAvgStart rides on the TOTAL line too (not only the env line at
    // the top): the r14 driver artifact needed builder-side A/Bs to
    // attribute a 0.53x reading to host degradation — with start load AND
    // total GC on the one line the driver parses, a degraded capture
    // self-reports (adjudication rule recorded in BASELINE.md)
    emit(s"""{"metric":"total","value":$total,"unit":"sec","nQueries":${results.size},"nFailed":$nFailed,"baseline20Sec":${math.round(baseline20Sec * 1000) / 1000.0},"baselineSameDaySec":${math.round(baselineSameDaySec * 1000) / 1000.0},"nFailedWarm":$nFailedWarm,"sf":"$sfDir","heapMaxMb":${Runtime.getRuntime.maxMemory >> 20},"gcTotalMs":${gcMillis()},"loadAvgStart":$loadStart,"loadAvg":$load}""")
  }
}
