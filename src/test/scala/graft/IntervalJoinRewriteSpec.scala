package graft

import graft.core.Cols
import graft.plans.IntervalJoinRewrite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The optimizer rule turns a naively written overlap join into the
  * binned plan — verified by plan inspection AND result equivalence
  * against both the naive join (rule off) and RangeJoin.pairs. */
class IntervalJoinRewriteSpec extends AnyFunSuite {
  import Cols._

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def mkDF(n: Int, span: Long, maxLen: Long, seed: Long) = {
    import spark.implicits._
    (0 until n).map { i =>
      val s = (i * seed) % span
      ("c" + (i % 3), s, s + 1 + (i * 31L) % maxLen, i.toLong)
    }.toDF(Chrom, Start, End, "id")
  }

  test("naive overlap join is rewritten to the binned plan with equal results") {
    val l = mkDF(500, 5000, 300, 2654435761L)
    val r = mkDF(300, 5000, 80, 40503L).toDF(Chrom + "2", "s2", "e2", "id2")

    def joined = l.join(r,
      l(Chrom) === r(Chrom + "2") && l(Start) < r("e2") && r("s2") < l(End))

    // baseline: rule off
    val naive = joined.collect().map(_.toSeq.toList).toSet

    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ IntervalJoinRewrite
    try {
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("_graft_bin_"), s"rewrite did not fire:\n$plan")
      val rewritten = joined.collect().map(_.toSeq.toList).toSet
      assert(rewritten == naive)
      assert(rewritten.nonEmpty)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == IntervalJoinRewrite)
    }
  }

  test("rewrite is exact in the presence of degenerate (End <= Start) rows") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import spark.implicits._
    object Walk extends AdaptiveSparkPlanHelper
    // degenerate rows: End < Start and End == Start; such rows can still
    // match (e.g. Start=500, End=3 needs s2<3 and e2>500) and the
    // unclamped sequence() would throw Illegal sequence boundaries. The
    // 10M-long degenerate rows on both sides get one bin copy each: a
    // sequence counting down from Start's bin to End's would make ~150k.
    // RDD-backed, so the explode runs and reports its rows
    val sc = spark.sparkContext
    val l = sc.parallelize(Seq(("c0", 500L, 3L, 0L), ("c0", 10L, 10L, 1L),
      ("c0", 5L, 40L, 2L), ("c0", 10000000L, 0L, 3L)), 2).toDF(Chrom, Start, End, "id")
    val r = sc.parallelize(Seq(("c0", 1L, 600L, 10L), ("c0", 30L, 35L, 11L),
      ("c0", 10000000L, 0L, 12L)), 2).toDF(Chrom + "2", "s2", "e2", "id2")
    def joined(jt: String) = l.join(r,
      l(Chrom) === r(Chrom + "2") && l(Start) < r("e2") && r("s2") < l(End), jt)
    val jts = Seq("inner", "left_semi", "left_anti")
    val naive = jts.map(jt => jt -> joined(jt).collect().map(_.toSeq.toList).toSet).toMap
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ IntervalJoinRewrite
    try {
      for (jt <- jts) {
        val df = joined(jt)
        val plan = df.queryExecution.optimizedPlan.toString
        assert(plan.contains("_graft_bin_"), s"$jt rewrite did not fire:\n$plan")
        assert(df.collect().map(_.toSeq.toList).toSet == naive(jt), jt)
        val copies = Walk.collect(df.queryExecution.executedPlan) {
          case g: GenerateExec => g.metrics("numOutputRows").value
        }.sum
        assert(copies < 100, s"$jt exploded $copies bin copies")
      }
      assert(naive("inner").exists(_(1) == 500L)) // the degenerate match is real
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == IntervalJoinRewrite)
    }
  }

  test("left_semi and left_anti overlap joins rewrite with equal results") {
    import spark.implicits._
    val l0 = mkDF(400, 4000, 200, 2654435761L)
    // inject duplicate left rows and a null metadata column: multiplicity
    // must be preserved and null columns must not drop rows (rid-based
    // collapse, no value-equality join on left columns)
    val l = l0.unionAll(l0.limit(25))
      .withColumn("meta", when(col("id") % 3 === 0, lit(null: String)).otherwise(lit("m")))
    val r = mkDF(250, 4000, 60, 40503L).toDF(Chrom + "2", "s2", "e2", "id2")

    for (jt <- Seq("left_semi", "left_anti")) {
      def joined = l.join(r,
        l(Chrom) === r(Chrom + "2") && l(Start) < r("e2") && r("s2") < l(End), jt)
      val naive = joined.collect().map(_.toSeq.toList)
        .groupBy(identity).view.mapValues(_.size).toMap
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ IntervalJoinRewrite
      try {
        val plan = joined.queryExecution.optimizedPlan.toString
        assert(plan.contains("_graft_bin_"), s"$jt rewrite did not fire:\n$plan")
        val rewritten = joined.collect().map(_.toSeq.toList)
          .groupBy(identity).view.mapValues(_.size).toMap
        assert(rewritten == naive, s"$jt mismatch")
        assert(naive.nonEmpty)
      } finally {
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations.filterNot(_ == IntervalJoinRewrite)
      }
    }
  }

  test("autoBinSize scales with interval length; joins stay exact at any bin") {
    import graft.join.RangeJoin
    val short = mkDF(300, 5000, 10, 2654435761L)   // mean len ~5
    val long = mkDF(300, 500000, 20000, 40503L)    // mean len ~10k
    val bShort = RangeJoin.autoBinSize(short, short)
    val bLong = RangeJoin.autoBinSize(long, long)
    assert(bShort == 64, s"short intervals should pick the floor bin, got $bShort")
    assert(bLong >= 16384, s"long intervals should pick a coarse bin, got $bLong")
    assert(bLong <= 65536)
    // equivalence: the auto-chosen width returns the same pairs as default
    val r = mkDF(200, 5000, 40, 97L)
    def pairSet(bin: Long) = RangeJoin.pairs(short, r, Seq(Chrom), binSize = bin)
      .collect().map(_.toSeq.toList).toSet
    assert(pairSet(bShort) == pairSet(RangeJoin.defaultBinSize))
  }

  test("spark.graft.join.binSize conf retunes the rewrite's bin width") {
    val l = mkDF(100, 2000, 50, 2654435761L)
    val r = mkDF(80, 2000, 30, 40503L).toDF(Chrom + "2", "s2", "e2", "id2")
    def joined = l.join(r,
      l(Chrom) === r(Chrom + "2") && l(Start) < r("e2") && r("s2") < l(End))
    val naive = joined.collect().map(_.toSeq.toList).toSet
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ IntervalJoinRewrite
    spark.conf.set(graft.join.RangeJoin.BinSizeKey, "1024")
    try {
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("1024"), s"conf bin width not used:\n$plan")
      assert(joined.collect().map(_.toSeq.toList).toSet == naive)
    } finally {
      spark.conf.unset(graft.join.RangeJoin.BinSizeKey)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == IntervalJoinRewrite)
    }
  }

  test("GraftExtensions wires rule + SQL functions into a session") {
    // withExtensions is the programmatic form of
    // --conf spark.sql.extensions=graft.plans.GraftExtensions (the config
    // string only applies on a fresh SparkContext, which a shared test
    // JVM cannot provide — same code path either way)
    spark.sparkContext // force the shared context first
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      assert(s2.sql("SELECT natsort_key('chr2')").head.getString(0)
        == "chr" + "0" * 9 + "2")
      assert(s2.sql("SELECT translate_cds('ATGTAA')").head.getString(0) == "M*")
      import s2.implicits._
      val l = (0L until 50L).map(i => ("c", i * 7 % 100, i * 7 % 100 + 5, i))
        .toDF(Chrom, Start, End, "id")
      val r = (0L until 40L).map(i => ("c", i * 11 % 100, i * 11 % 100 + 3, i))
        .toDF("k2", "s2", "e2", "id2")
      val j = l.join(r, l(Chrom) === r("k2") && l(Start) < r("e2") && r("s2") < l(End))
      assert(j.queryExecution.optimizedPlan.toString.contains("_graft_bin_"),
        "extensions-injected rewrite did not fire")
      assert(j.count() > 0)
      // sweep end-to-end in an extensions-configured session (planner
      // strategy available, equal results)
      s2.conf.set("spark.graft.join.strategy", "sweep")
      try {
        val js = l.join(r, l(Chrom) === r("k2") && l(Start) < r("e2") && r("s2") < l(End))
        assert(js.queryExecution.executedPlan.toString.contains("IntervalSweepJoin"),
          "sweep did not plan in the extensions session")
        assert(js.count() == j.count())
      } finally s2.conf.unset("spark.graft.join.strategy")
    } finally {
      // restore the suite's sessions; do NOT stop s2 (shared context)
      prevActive.foreach(SparkSession.setActiveSession)
      prevDefault.foreach(SparkSession.setDefaultSession)
    }
  }

  test("strategy=sweep plans IntervalSweepJoinExec for inner/semi/anti with equal results") {
    import spark.implicits._
    val l0 = mkDF(400, 4000, 200, 2654435761L)
    val l = l0.unionAll(l0.limit(25))
      .withColumn("meta", when(col("id") % 3 === 0, lit(null: String)).otherwise(lit("m")))
    val r = mkDF(250, 4000, 60, 40503L).toDF(Chrom + "2", "s2", "e2", "id2")
    for (jt <- Seq("inner", "left_semi", "left_anti")) {
      def joined = l.join(r,
        l(Chrom) === r(Chrom + "2") && l(Start) < r("e2") && r("s2") < l(End), jt)
      val naive = joined.collect().map(_.toSeq.toList)
        .groupBy(identity).view.mapValues(_.size).toMap
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ IntervalJoinRewrite
      spark.conf.set("spark.graft.join.strategy", "sweep")
      try {
        val exec = joined.queryExecution.executedPlan.toString
        assert(exec.contains("IntervalSweepJoin"), s"$jt did not plan the sweep:\n$exec")
        val swept = joined.collect().map(_.toSeq.toList)
          .groupBy(identity).view.mapValues(_.size).toMap
        assert(swept == naive, s"$jt mismatch")
        assert(naive.nonEmpty)
      } finally {
        spark.conf.unset("spark.graft.join.strategy")
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations.filterNot(_ == IntervalJoinRewrite)
      }
    }
  }

  test("sweep matches naive on null keys, null bounds and duplicates for all join types") {
    import spark.implicits._
    // null chromosome on both sides, null Start on the left, duplicates:
    // inner/semi drop null-key rows, anti must KEEP them (they match
    // nothing); null bounds never match (three-valued logic)
    val l = Seq(
      (null.asInstanceOf[String], Some(5L), 40L, 0L),
      ("c0", Some(5L), 40L, 1L),
      ("c0", Some(5L), 40L, 1L), // duplicate row
      ("c0", None, 40L, 2L),     // null Start
      ("c1", Some(100L), 140L, 3L)
    ).toDF(Chrom, Start, End, "id")
      .select(col(Chrom), col(Start), col(End), col("id"))
    val r = Seq(
      (null.asInstanceOf[String], 0L, 50L, 10L),
      ("c0", 30L, 35L, 11L),
      ("c2", 0L, 1000L, 12L)
    ).toDF(Chrom + "2", "s2", "e2", "id2")
    for (jt <- Seq("inner", "left_semi", "left_anti")) {
      def joined = l.join(r,
        l(Chrom) === r(Chrom + "2") && l(Start) < r("e2") && r("s2") < l(End), jt)
      val naive = joined.collect().map(_.toSeq.toList)
        .groupBy(identity).view.mapValues(_.size).toMap
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ IntervalJoinRewrite
      spark.conf.set("spark.graft.join.strategy", "sweep")
      try {
        val swept = joined.collect().map(_.toSeq.toList)
          .groupBy(identity).view.mapValues(_.size).toMap
        assert(swept == naive, s"$jt mismatch: swept=$swept naive=$naive")
      } finally {
        spark.conf.unset("spark.graft.join.strategy")
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations.filterNot(_ == IntervalJoinRewrite)
      }
    }
  }

  test("binned matches naive on null keys, null bounds and duplicates for all join types") {
    import spark.implicits._
    // mirror of the sweep null-semantics test on the binned strategy:
    // a left row with NULL Start/End must survive LEFT ANTI (it matches
    // nothing) — the outer=false Generate used to swallow it, making
    // anti output depend on which strategy auto sampled its way into
    val l = Seq(
      (null.asInstanceOf[String], Some(5L), Some(40L), 0L),
      ("c0", Some(5L), Some(40L), 1L),
      ("c0", Some(5L), Some(40L), 1L), // duplicate row
      ("c0", None, Some(40L), 2L),     // null Start
      ("c0", Some(5L), None, 3L),      // null End
      ("c1", Some(100L), Some(140L), 4L)
    ).toDF(Chrom, Start, End, "id")
      // a MAP payload: semi/anti reduce wide rows' bin copies on the
      // engine row id alone, so the map is never a grouping key
      .withColumn("m", map(lit("id"), col("id")))
    val r = Seq(
      (null.asInstanceOf[String], 0L, 50L, 10L),
      ("c0", 30L, 35L, 11L),
      ("c2", 0L, 1000L, 12L)
    ).toDF(Chrom + "2", "s2", "e2", "id2")
    for (jt <- Seq("inner", "left_semi", "left_anti")) {
      def joined = l.join(r,
        l(Chrom) === r(Chrom + "2") && l(Start) < r("e2") && r("s2") < l(End), jt)
      val naive = joined.collect().map(_.toSeq.toList)
        .groupBy(identity).view.mapValues(_.size).toMap
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ IntervalJoinRewrite
      spark.conf.set("spark.graft.join.strategy", "binned")
      try {
        val plan = joined.queryExecution.optimizedPlan
        assert(plan.toString.contains("_graft_bin_"), s"$jt rewrite did not fire:\n$plan")
        assert(!plan.collect {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
            a.groupingExpressions.exists(
              _.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
        }.contains(true), s"$jt: a MAP grouping key:\n$plan")
        val binned = joined.collect().map(_.toSeq.toList)
          .groupBy(identity).view.mapValues(_.size).toMap
        assert(binned == naive, s"$jt mismatch: binned=$binned naive=$naive")
      } finally {
        spark.conf.unset("spark.graft.join.strategy")
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations.filterNot(_ == IntervalJoinRewrite)
      }
    }
  }

  test("auto strategy picks sweep for long intervals, binned for short") {
    // long intervals: mean len ~1M over a 100M span -> fan-out at the
    // 65536 clamp is ~15 > the default bar -> sweep
    import spark.implicits._
    def mkLong(n: Int, seed: Long) = (0 until n).map { i =>
      val s = (i * seed) % 100000000L
      ("c" + (i % 3), s, s + 500000L + (i * 31L) % 1000000L, i.toLong)
    }.toDF(Chrom, Start, End, "id")
    val lLong = mkLong(300, 2654435761L)
    val rLong = mkLong(200, 40503L).toDF(Chrom + "2", "s2", "e2", "id2")
    def joinedLong = lLong.join(rLong,
      lLong(Chrom) === rLong(Chrom + "2") && lLong(Start) < rLong("e2")
        && rLong("s2") < lLong(End))
    // short intervals: existing corpus shape -> binned
    val lShort = mkDF(300, 5000, 100, 2654435761L)
    val rShort = mkDF(200, 5000, 60, 40503L).toDF(Chrom + "2", "s2", "e2", "id2")
    def joinedShort = lShort.join(rShort,
      lShort(Chrom) === rShort(Chrom + "2") && lShort(Start) < rShort("e2")
        && rShort("s2") < lShort(End))

    val naiveLong = joinedLong.collect().map(_.toSeq.toList).toSet
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ IntervalJoinRewrite
    try {
      val execLong = joinedLong.queryExecution.executedPlan.toString
      assert(execLong.contains("IntervalSweepJoin"),
        s"auto did not pick sweep for long intervals:\n$execLong")
      val (choice, meanLen, _) = graft.join.RangeJoin.lastAutoPairs.get()
      assert(choice.startsWith("sweep") && meanLen > 500000,
        s"lastAutoPairs=$choice meanLen=$meanLen")
      assert(joinedLong.collect().map(_.toSeq.toList).toSet == naiveLong)
      assert(naiveLong.nonEmpty)

      val planShort = joinedShort.queryExecution.optimizedPlan.toString
      assert(planShort.contains("_graft_bin_"),
        s"auto did not pick binned for short intervals:\n$planShort")
      assert(graft.join.RangeJoin.lastAutoPairs.get()._1 == "binned")
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == IntervalJoinRewrite)
    }
  }

  test("auto salts the sweep on a hot single key with equal results") {
    import spark.implicits._
    // ONE chromosome, long intervals: a plain sweep would run one task;
    // auto must pick the mega-binned sweep (Generate + bin in the keys)
    def mk(n: Int, seed: Long) = (0 until n).map { i =>
      val s = (i * seed) % 80000000L
      ("chrHot", s, s + 400000L + (i * 31L) % 800000L, i.toLong)
    }.toDF(Chrom, Start, End, "id")
    val l = mk(300, 2654435761L)
    val r = mk(200, 40503L).toDF(Chrom + "2", "s2", "e2", "id2")
    def joined = l.join(r,
      l(Chrom) === r(Chrom + "2") && l(Start) < r("e2") && r("s2") < l(End))
    val naive = joined.collect().map(_.toSeq.toList).toSet
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ IntervalJoinRewrite
    try {
      val exec = joined.queryExecution.executedPlan.toString
      assert(exec.contains("IntervalSweepJoin"), s"no sweep in:\n$exec")
      assert(exec.contains("_graft_bin_mb"), s"sweep not salted in:\n$exec")
      assert(graft.join.RangeJoin.lastAutoPairs.get()._1 == "sweep-salted")
      assert(joined.collect().map(_.toSeq.toList).toSet == naive)
      assert(naive.nonEmpty)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == IntervalJoinRewrite)
    }
  }

  test("the rule and the ops dispatchers make the same interval-join decision") {
    import graft.join.RangeJoin
    import spark.implicits._
    type DF = org.apache.spark.sql.DataFrame
    def mk(n: Int, seed: Long, keys: Int, span: Long, minLen: Long, lenRange: Long, id: String) =
      (0 until n).map { i =>
        val s = (i * seed) % span
        ("c" + (i % keys), s, s + minLen + (i * 31L) % lenRange, i.toLong)
      }.toDF(Chrom, Start, End, id)
    def sides(keys: Int, span: Long, minLen: Long, lenRange: Long) =
      (mk(300, 2654435761L, keys, span, minLen, lenRange, "id"),
        mk(200, 40503L, keys, span, minLen, lenRange, "rid"))
    // (shape, frames, expected inner tag, expected semi/anti tag)
    val shapes = Seq(
      ("short intervals", sides(3, 5000L, 1L, 100L), "binned", "binned-exists"),
      ("long intervals on 3 keys", sides(3, 100000000L, 500000L, 1000000L),
        "sweep.*", "sweep-exists"),
      // the salt bin widens to 2,097,152 over a ~1.9M span: too few bins
      ("one key, narrow span", sides(1, 1500000L, 200000L, 200000L), "sweep", "sweep-exists"))
    def withRule[T](body: => T): T = {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ IntervalJoinRewrite
      try body finally spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == IntervalJoinRewrite)
    }
    def decision = {
      val (tag, _, bin) = RangeJoin.lastAutoPairs.get()
      (tag, bin)
    }
    def pairIds(df: DF) = df.select("id", "rid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    def leftIds(df: DF) = df.select("id").collect().map(_.getLong(0)).toSeq.sorted

    for ((shape, (l, r), innerTag, existsTag) <- shapes) {
      val r2 = r.toDF(Chrom + "2", "s2", "e2", "rid")
      def joined(jt: String) = l.join(r2,
        l(Chrom) === r2(Chrom + "2") && l(Start) < r2("e2") && r2("s2") < l(End), jt)

      val naive = pairIds(joined("inner"))
      assert(naive.nonEmpty, shape)
      val (ruleRows, ruleChoice) = withRule((pairIds(joined("inner")), decision))
      val opsRows = pairIds(RangeJoin.autoPairs(l, r, Seq(Chrom)))
      assert(ruleChoice._1.matches(innerTag), s"$shape: rule chose $ruleChoice")
      assert(decision == ruleChoice, s"$shape: ops chose $decision, rule $ruleChoice")
      assert(ruleRows == naive, s"$shape: rule rows")
      assert(opsRows == naive, s"$shape: ops rows")

      spark.conf.set("spark.graft.join.autoThreshold", "1")
      try for (anti <- Seq(false, true)) {
        val jt = if (anti) "left_anti" else "left_semi"
        val naiveIds = leftIds(joined(jt))
        val (ruleIds, ruleExists) = withRule((leftIds(joined(jt)), decision))
        val opsIds = leftIds(RangeJoin.existsDispatch(l, r, Seq(Chrom), anti = anti))
        assert(ruleExists._1 == existsTag, s"$shape $jt: rule chose $ruleExists")
        assert(decision == ruleExists, s"$shape $jt: ops chose $decision, rule $ruleExists")
        assert(ruleIds == naiveIds && opsIds == naiveIds, s"$shape $jt rows")
      } finally spark.conf.unset("spark.graft.join.autoThreshold")
    }
  }

  def withRule[T](strategy: String)(body: => T): T = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ IntervalJoinRewrite
    spark.conf.set("spark.graft.join.strategy", strategy)
    try body finally {
      spark.conf.unset("spark.graft.join.strategy")
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == IntervalJoinRewrite)
    }
  }

  def bag(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq.toList).groupBy(identity).view.mapValues(_.size).toMap

  test("conjuncts beyond the overlap shape are kept on every route and join type") {
    import spark.implicits._
    val l0 = mkDF(300, 4000, 200, 2654435761L)
    // duplicate left rows: semi/anti must keep their multiplicity
    val l = l0.unionAll(l0.limit(20))
    val r = mkDF(200, 4000, 60, 40503L).toDF(Chrom + "2", "s2", "e2", "id2")
    for (jt <- Seq("inner", "left_semi", "left_anti")) {
      def joined = l.join(r, l(Chrom) === r(Chrom + "2") && l(Start) < r("e2") &&
        r("s2") < l(End) && l("id") % 2 === r("id2") % 2, jt)
      val naive = bag(joined)
      assert(naive.nonEmpty, jt)
      // the residual must cut: without it the result differs
      assert(bag(l.join(r, l(Chrom) === r(Chrom + "2") && l(Start) < r("e2") &&
        r("s2") < l(End), jt)) != naive, jt)
      for (strategy <- Seq("binned", "sweep", "auto")) withRule(strategy) {
        val plan = joined.queryExecution.optimizedPlan.toString
        assert(plan.contains("_graft_bin_") || plan.contains("IntervalSweepJoin"),
          s"$jt/$strategy rewrite did not fire:\n$plan")
        assert(bag(joined) == naive, s"$jt/$strategy mismatch")
      }
    }
  }

  test("binned semi/anti stay exact on left rows wider than two bins") {
    import spark.implicits._
    // bin 64: rows up to 2 bins wide join as one copy, wider rows join
    // one copy per bin and reduce per row; both kinds, duplicates and a
    // null bound on the left
    val l = Seq(("c0", 10L, 60L, 0L), ("c0", 10L, 60L, 0L), ("c0", 0L, 1000L, 1L),
      ("c0", 0L, 1000L, 1L), ("c0", 300L, 900L, 2L), ("c0", 2000L, 2600L, 3L),
      ("c1", 0L, 5000L, 4L), ("c0", 5000L, 5100L, 5L))
      .toDF(Chrom, Start, End, "id")
      .union(Seq(("c0", 7L, 9L)).toDF(Chrom, Start, "id")
        .select(col(Chrom), col(Start), lit(null).cast("long").as(End), col("id")))
    val r = Seq(("c0", 950L, 960L, 10L), ("c0", 40L, 50L, 11L), ("c0", 2590L, 2700L, 12L),
      ("c1", 4990L, 4999L, 13L)).toDF(Chrom + "2", "s2", "e2", "id2")
    spark.conf.set(graft.join.RangeJoin.BinSizeKey, "64")
    try for (jt <- Seq("left_semi", "left_anti")) {
      def joined = l.join(r,
        l(Chrom) === r(Chrom + "2") && l(Start) < r("e2") && r("s2") < l(End), jt)
      val naive = bag(joined)
      withRule("binned") {
        val plan = joined.queryExecution.optimizedPlan.toString
        assert(plan.contains("_graft_bin_"), s"$jt rewrite did not fire:\n$plan")
        assert(bag(joined) == naive, s"$jt mismatch")
      }
    } finally spark.conf.unset(graft.join.RangeJoin.BinSizeKey)
  }

  test("a stream-static join lowers through the binned builder per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val r = Seq(("c", 3L, 8L, 1L), ("c", 40L, 55L, 2L), ("d", 0L, 100L, 3L))
      .toDF("k2", "s2", "e2", "id2")
    val batch = Seq(("c", 1L, 5L), ("c", 50L, 60L), ("c", 10L, 20L), ("d", 90L, 400L))
    def run(name: String): (Set[List[Any]], String) = {
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long, Long)]
      val s = in.toDF().toDF(Chrom, Start, End)
      val q = s.join(r, s(Chrom) === r("k2") && s(Start) < r("e2") && r("s2") < s(End))
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        in.addData(batch: _*)
        q.processAllAvailable()
        (spark.table(name).collect().map(_.toSeq.toList).toSet,
          q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
            .streamingQuery.lastExecution.optimizedPlan.toString)
      } finally q.stop()
    }
    val (naive, _) = run("ijr_naive")
    val (rewritten, plan) = withRule("auto")(run("ijr_rule"))
    assert(plan.contains("_graft_bin_"), s"stream rewrite did not fire:\n$plan")
    assert(rewritten == naive && naive.size == 3)
  }

  test("a BROADCAST hint on the right side is kept: broadcast above the size threshold") {
    val l = mkDF(400, 4000, 60, 2654435761L)
    val r = mkDF(300, 4000, 60, 40503L).toDF(Chrom + "2", "s2", "e2", "id2")
    l.createOrReplaceTempView("ijr_hint_l")
    r.createOrReplaceTempView("ijr_hint_r")
    def query(hint: String, join: String) = spark.sql(s"SELECT $hint l.* FROM ijr_hint_l l " +
      s"$join JOIN ijr_hint_r r ON l.$Chrom = r.${Chrom}2 AND l.$Start < r.e2 AND r.s2 < l.$End")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
    try {
      assert(r.queryExecution.optimizedPlan.stats.sizeInBytes > 1024)
      for (join <- Seq("INNER", "LEFT SEMI", "LEFT ANTI")) {
        val naive = query("", join).collect().map(_.toSeq.toList).sorted(
          Ordering.by[List[Any], String](_.mkString("|")))
        for (strategy <- Seq("binned", "auto")) withRule(strategy) {
          val hinted = query("/*+ BROADCAST(r) */", join)
          val plan = hinted.queryExecution.executedPlan.toString
          assert(plan.contains("_graft_bin_") && plan.contains("BroadcastHashJoin"),
            s"$join/$strategy: the hint was dropped:\n$plan")
          val unhinted = query("", join).queryExecution.executedPlan.toString
          assert(!unhinted.contains("BroadcastHashJoin"), s"$join/$strategy:\n$unhinted")
          assert(hinted.collect().map(_.toSeq.toList).sorted(
            Ordering.by[List[Any], String](_.mkString("|"))) sameElements naive,
            s"$join/$strategy")
        }
      }
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("rule leaves non-interval joins untouched") {
    val l = mkDF(50, 500, 30, 2654435761L)
    val r = mkDF(50, 500, 30, 40503L).toDF(Chrom + "2", "s2", "e2", "id2")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ IntervalJoinRewrite
    try {
      val equi = l.join(r, l(Chrom) === r(Chrom + "2"))
      assert(!equi.queryExecution.optimizedPlan.toString.contains("_graft_bin_"))
      assert(equi.count() > 0)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == IntervalJoinRewrite)
    }
  }
}
