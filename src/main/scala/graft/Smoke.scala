package graft

/** Local smoke runner for the driver's t1 check: SparkEntry.entry must
  * return >0 rows at sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session("smoke", cores = "4")
    // no args: the driver's flagship smoke; with args: run the named
    // queries at sf0.01 (local debugging of a single queries() entry)
    if (args.isEmpty) {
      val df = SparkEntry.entry(spark)
      println(s"[smoke] entry rows=${df.count()}")
      df.show(5)
    } else args.foreach { name =>
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.01")
      println(s"[smoke] $name rows=${df.count()}")
      df.show(5)
    }
    spark.stop()
  }
}
