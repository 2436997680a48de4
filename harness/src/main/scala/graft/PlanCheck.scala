package graft

/** Dev tool: dump physical plans of selected queries for the
  * plan-quality audit (pushdown, broadcast, codegen spans, shuffle
  * count).
  *
  * Usage:
  *   SPARK_GRAFT_CPUS=32 sbt "harness/runMain graft.PlanCheck <sfdir> <mode>"
  *     --summary                        one row of plan stats per query
  *     --summary-forced                 the same, every Sizing gate forced salted
  *     --formatted <outdir> <query...>  explain("formatted") per query
  *     <query...>                       plan text + stats per query
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    // audit at the BENCH config by default (round-2 verdict: auditing at
    // local[4]/sf0.01 showed the plans the Sizing gates DON'T pick at the
    // driver's local[32]/sf0.1 — the audit must match the config that runs)
    val cpus = Harness.cpus("32")
    val spark = Harness.session("plancheck", cpus, logLevel = "ERROR")
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    // --summary: one markdown row of plan stats per query (all queries) —
    // the PLANS.md generator for the plan-quality audit. --summary-forced
    // emits the same table with every Sizing gate forced HIGH (the
    // above-gate branches a 100x-scale run would execute).
    if (args.length > 1 &&
        (args(1) == "--summary" || args(1) == "--summary-forced")) {
      val forcedMode = args(1) == "--summary-forced"
      if (forcedMode) spark.conf.set(graft.core.Sizing.ForceKey, "salted")
      println(s"Config: local[$cpus], shuffle.partitions=$cpus, AQE on, data=$dir" +
        (if (forcedMode) ", ALL SIZING GATES FORCED SALTED" else ""))
      println()
      println("| query | exchanges | sorts | broadcast joins | sort-merge joins | notes |")
      println("|---|---|---|---|---|---|")
      for ((n, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
        try {
          val df = fn(spark, dir)
          val s = df.queryExecution.executedPlan.toString
          val ex = "Exchange".r.findAllIn(s).size
          val so = "Sort ".r.findAllIn(s).size
          val bhj = "BroadcastHashJoin".r.findAllIn(s).size
          val smj = "SortMergeJoin".r.findAllIn(s).size
          val bnl = "BroadcastNestedLoopJoin".r.findAllIn(s).size
          val cart = "CartesianProduct".r.findAllIn(s).size
          val notes = (if (cart > 0) "CARTESIAN! " else "") +
            (if (bnl > 0) s"bnl=$bnl " else "") +
            (if (s.contains("PushedFilters: [")
                 && !s.contains("PushedFilters: []")) "pushdown " else "")
          println(s"| $n | $ex | $so | $bhj | $smj | ${notes.trim} |")
        } catch { case e: Throwable =>
          println(s"| $n | - | - | - | - | plan failed: ${e.getClass.getSimpleName} |")
        }
      }
      spark.stop()
      return
    }
    // --formatted <outdir> <query...>: write each query's
    // explain("formatted") to <outdir>/<query>.txt — the optimization-
    // round evidence files (plans/r{N}/<query>_{before,after}.txt)
    if (args.length > 2 && args(1) == "--formatted") {
      val outDir = new java.io.File(args(2))
      outDir.mkdirs()
      for (n <- args.drop(3)) {
        val df = SparkEntry.queries(n)(spark, dir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(new java.io.File(outDir, s"$n.txt"))
        try w.write(txt) finally w.close()
        println(s"[plancheck] wrote ${outDir}/$n.txt (${txt.length} chars)")
      }
      spark.stop()
      return
    }
    val names = if (args.length > 1) args.drop(1).toSeq
                else Seq("q03_merge", "q14_join", "q16_count", "q20_setunion")
    for (n <- names) {
      println(s"\n======================= $n =======================")
      val df = SparkEntry.queries(n)(spark, dir)
      val plan = df.queryExecution.executedPlan.toString
      println(plan.linesIterator.take(60).mkString("\n"))
      val s = plan
      println(f"[plan-stats] exchanges=${"Exchange".r.findAllIn(s).size} " +
        f"sorts=${"Sort ".r.findAllIn(s).size} " +
        f"bhj=${"BroadcastHashJoin".r.findAllIn(s).size} " +
        f"smj=${"SortMergeJoin".r.findAllIn(s).size} " +
        f"wholestage=${"WholeStageCodegen".r.findAllIn(s).size}")
    }
    spark.stop()
  }
}
