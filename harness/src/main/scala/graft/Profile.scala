package graft

/** Local profiling harness: run named queries N times each inside ONE
  * JVM/session, printing per-iteration wall times. Separates one-time
  * cost (plan analysis, codegen compile, JIT) — iteration 1 only — from
  * steady-state per-row compute (iterations 2+). Usage:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *     sbt "harness/runMain graft.Profile 3 q66_pipeline q52_join_first"
  *
  * SPARK_GRAFT_CONF="k=v;k=v" sets confs for A/B runs (Harness.session).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val names = args.drop(1).toSeq
    val spark = Harness.session("profile", Harness.cpus("32"))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to reps).map { i =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        df.queryExecution.executedPlan // analyze + optimize + plan
        val tPlan = (System.nanoTime() - t0) / 1e9
        df.count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        f"$dt%.2f(p$tPlan%.2f)"
      }
      println(s"[profile] $name: ${times.mkString(" ")}")
    }
    spark.stop()
  }
}
