package graft

import graft.core.Cols
import graft.ops.{BinaryOps, UnaryOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck-generator-driven property tests for the algebraic laws the
  * reference asserts implicitly (SURVEY.md §5): merge idempotence,
  * subtract containment, overlap/invert partition, split coverage
  * conservation. Generators are sampled with fixed seeds (deterministic,
  * a handful of cases — each case runs Spark jobs). */
class PropertySpec extends AnyFunSuite {
  import Cols._

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val params = Gen.Parameters.default.withSize(40)
  def forAll[A](g: Gen[A])(f: A => Unit): Unit =
    (0 until 3).foreach(i => f(g.apply(params, Seed(42L + i)).get))
  def forAll[A, B](g1: Gen[A], g2: Gen[B])(f: (A, B) => Unit): Unit =
    (0 until 3).foreach { i =>
      f(g1.apply(params, Seed(42L + i)).get, g2.apply(params, Seed(1042L + i)).get)
    }

  val genIntervals: Gen[List[(String, Long, Long)]] =
    Gen.nonEmptyListOf(for {
      c <- Gen.oneOf("chr1", "chr2")
      s <- Gen.chooseNum(0L, 500L)
      len <- Gen.chooseNum(1L, 120L)
    } yield (c, s, s + len))

  def df(rows: List[(String, Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF(Chrom, Start, End).withColumn(RowId, monotonically_increasing_id())
  }
  def totalCovered(d: DataFrame): Long = {
    val m = UnaryOps.merge(d, Seq(Chrom))
    if (m.isEmpty) 0L
    else m.agg(sum(col(End) - col(Start))).head.getLong(0)
  }

  test("merge is idempotent and conserves covered length") {
    forAll(genIntervals) { rows =>
      val d = df(rows)
      val once = UnaryOps.merge(d, Seq(Chrom))
      val twice = UnaryOps.merge(once, Seq(Chrom))
      assert(once.collect().toSet == twice.collect().toSet)
      assert(totalCovered(d) == once.agg(sum(col(End) - col(Start))).head.getLong(0))
    }
  }

  test("overlap and invert partition the left side") {
    forAll(genIntervals, genIntervals) { (lr, rr) =>
      val l = df(lr)
      val r = df(rr)
      val hit = BinaryOps.overlap(l, r, Seq(Chrom)).count()
      val miss = BinaryOps.overlap(l, r, Seq(Chrom), invert = true).count()
      assert(hit + miss == l.count())
    }
  }

  test("subtract stays within self and removes exactly the covered length") {
    forAll(genIntervals, genIntervals) { (lr, rr) =>
      val l = df(lr)
      val r = df(rr)
      val sub = BinaryOps.subtract(l, r, Seq(Chrom))
      // every output fragment sits inside some input row with the same id
      val bad = sub.alias("s").join(l.alias("i"), col(s"s.$RowId") === col(s"i.$RowId") &&
        (col(s"s.$Start") < col(s"i.$Start") || col(s"s.$End") > col(s"i.$End")), "inner")
      assert(bad.count() == 0)
      // covered(l) == covered(l minus r) + covered(l intersect r)
      val inter = BinaryOps.setIntersect(l, r, Seq(Chrom))
        .withColumn(RowId, monotonically_increasing_id())
      assert(totalCovered(l) == totalCovered(sub) + totalCovered(inter))
    }
  }

  test("split(between=false) segments exactly tile the merged islands") {
    forAll(genIntervals) { rows =>
      val d = df(rows)
      val seg = UnaryOps.split(d, Seq(Chrom))
      assert(totalCovered(d) == seg.agg(sum(col(End) - col(Start))).head.getLong(0))
    }
  }

  test("updateWhere touches only matching rows") {
    val g = graft.core.GenomicFrame(df(List(("chr1", 0L, 5L), ("chr2", 3L, 9L))))
    val u = g.updateWhere(col(Chrom) === "chr1", Start -> lit(100L))
    val got = u.df.select(Chrom, Start).collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("chr1", 100L), ("chr2", 3L)))
  }

  test("salted defrag equals plain across bin boundaries (divide export)") {
    import spark.implicits._
    // deterministic pseudo-random run table: disjoint adjacent-or-gapped
    // runs per key, ratios drawn from a small set so equal-ratio chains
    // regularly cross the tiny salt bins
    val ratios = Seq((2L, 4L), (3L, 6L), (1L, 3L), (5L, 5L), (2L, 6L))
    val rows = (for {
      key <- Seq("c", "d")
      i <- 0 until 120
    } yield {
      val h = (i * 2654435761L + key.hashCode) & 0x7fffffff
      val start = i * 7L + (h % 3)         // gap when h % 3 > 0
      val (a, b) = ratios((h % 5).toInt)
      (key, start, start + 7L - (h % 3), a, b)
    }).toSeq
    val runs = rows.toDF(Chrom, Start, End, "score_a", "score_b")
    def canon(df: DataFrame) = df.select(Chrom, Start, End, "_a", "_b")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val plain = canon(graft.ops.Coverage.defragIslands(runs, Seq(Chrom)))
    for (bin <- Seq(16L, 64L, 1024L)) {
      val salted = canon(graft.ops.Coverage.defragSalted(runs, Seq(Chrom), bin))
      assert(salted == plain, s"saltBin=$bin")
    }
    // hand-built chain crossing a bin boundary collapses to one island
    val chain = Seq(("c", 0L, 10L, 2L, 4L), ("c", 10L, 20L, 3L, 6L),
                    ("c", 20L, 30L, 5L, 10L))
      .toDF(Chrom, Start, End, "score_a", "score_b")
    assert(canon(graft.ops.Coverage.defragSalted(chain, Seq(Chrom), 16L)) ==
      Set(("c", 0L, 30L, 2L, 4L)))
  }

  test("native bigWig codec round-trips generated run tables exactly") {
    // values on the quarter grid are float32-exact, so write->read is an
    // identity on the row SET (section layout is an internal detail);
    // natsort chrom ids and multi-section splits get exercised by the
    // generator's chr10/chr2 mix and the small itemsPerSlot
    import spark.implicits._
    val genRuns: Gen[List[(String, Long, Long, Double)]] =
      Gen.nonEmptyListOf(for {
        c <- Gen.oneOf("chr1", "chr2", "chr10")
        s <- Gen.chooseNum(0L, 100000L)
        len <- Gen.chooseNum(1L, 500L)
        q <- Gen.chooseNum(-2000, 2000)
      } yield (c, s, s + len, q / 4.0))
    var i = 0
    forAll(genRuns) { rows =>
      val path = s"/tmp/graft_prop_bw_$i.bw"
      i += 1
      val d = rows.toDF(Chrom, Start, End, "Value")
      graft.io.BigWig.writeBigwig(d, path, itemsPerSlot = 7)
      val back = graft.io.BigWig.readBigwig(spark, path).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      // multiset compare: duplicate rows must survive too
      assert(back.toSeq.sorted == rows.map(t => (t._1, t._2, t._3, t._4)).sorted)
    }
  }

  test("sweep pick/count (plain and salted) equal the binned aggregation paths") {
    import graft.join.IntervalSweepJoin
    // negative coordinates included: the sweep's null/position routing
    // must stay monotone left of zero
    val genNeg: Gen[List[(String, Long, Long)]] =
      genIntervals.map(_.map { case (c, s, e) => (c, s - 300, e - 300) })
    forAll(genNeg, genNeg) { (lr, rr) =>
      val l = df(lr)
      val r = df(rr)
      def canon(d: DataFrame): Map[List[Any], Int] = {
        val cols = d.columns.sorted.map(col).toIndexedSeq
        d.select(cols: _*).collect().map(_.toSeq.toList)
          .groupBy(identity).view.mapValues(_.size).toMap
      }
      for (last <- Seq(false, true)) {
        // binned reference: pairs + min_by aggregation (the sub-gate path)
        val want = canon(BinaryOps.joinOverlaps(l, r, Seq(Chrom),
          multiple = if (last) "last" else "first"))
        for (mb <- Seq(None, Some(64L))) {
          val got = canon(IntervalSweepJoin.pick(l, r, Seq(Chrom), last, megaBin = mb))
          assert(got == want, s"pick last=$last megaBin=$mb diverged")
        }
      }
      val wantN = canon(BinaryOps.countOverlaps(l, r, Seq(Chrom), countCol = "n"))
      for (mb <- Seq(None, Some(64L))) {
        val gotN = canon(IntervalSweepJoin.count(l, r, Seq(Chrom), countCol = "n",
          megaBin = mb))
        assert(gotN == wantN, s"count megaBin=$mb diverged")
      }
    }
    // null keys and null bounds: count keeps every left row at 0; pick
    // drops them (inner semantics) — mirror of the binned contract
    import spark.implicits._
    val ln = Seq(
      (null.asInstanceOf[String], Some(5L), 40L, 0L),
      ("chr1", Some(5L), 40L, 1L),
      ("chr1", None, 40L, 2L), // null Start
      ("chr2", Some(-50L), -10L, 3L)
    ).toDF(Chrom, Start, End, RowId)
    val rn = Seq(("chr1", 30L, 35L, 10L), ("chr2", -20L, 0L, 11L))
      .toDF(Chrom, Start, End, RowId)
    def canonN(d: DataFrame): Set[(Long, Long)] =
      d.select(col(RowId), col("n")).collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
    val expect = Set((0L, 0L), (1L, 1L), (2L, 0L), (3L, 1L))
    for (mb <- Seq(None, Some(16L))) {
      assert(canonN(IntervalSweepJoin.count(ln, rn, Seq(Chrom), countCol = "n",
        megaBin = mb)) == expect, s"null-row count megaBin=$mb")
    }
    assert(IntervalSweepJoin.pick(ln, rn, Seq(Chrom), last = false)
      .select(col(RowId)).collect().map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("sweep overflow: depth past sweepSpillDepth degrades to spill, stays exact") {
    import graft.join.IntervalSweepJoin
    import spark.implicits._
    // one key, every interval overlapping every other (depth == n), with
    // the in-heap cap forced to 32: most of the active sets live in the
    // disk-backed overflow generations and every mode must still match
    // the naive plans exactly
    spark.conf.set("spark.graft.join.sweepSpillDepth", "32")
    try {
      val n = 400
      val l = (0 until n).map(i => ("c", i.toLong, 2000L + i, i.toLong))
        .toDF(Chrom, Start, End, RowId)
      val r = (0 until n).map(i => ("c", i.toLong + 3, 2500L + i, (1000 + i).toLong))
        .toDF(Chrom, Start, End, RowId)
      def canon(d: DataFrame): Map[List[Any], Int] = {
        val cols = d.columns.sorted.map(col).toIndexedSeq
        d.select(cols: _*).collect().map(_.toSeq.toList)
          .groupBy(identity).view.mapValues(_.size).toMap
      }
      // pairs == binned pairs
      assert(canon(IntervalSweepJoin.pairs(l, r, Seq(Chrom))) ==
        canon(graft.join.RangeJoin.pairs(l, r, Seq(Chrom))), "pairs under spill")
      // semi/anti == binned exists
      for (anti <- Seq(false, true)) {
        assert(canon(IntervalSweepJoin.exists(l, r, Seq(Chrom), anti = anti)) ==
          canon(graft.join.RangeJoin.exists(l, r, Seq(Chrom), anti = anti)),
          s"exists anti=$anti under spill")
      }
      // pick/count == binned aggregation paths
      assert(canon(IntervalSweepJoin.count(l, r, Seq(Chrom), countCol = "n")) ==
        canon(BinaryOps.countOverlaps(l, r, Seq(Chrom), countCol = "n")),
        "count under spill")
      assert(canon(IntervalSweepJoin.pick(l, r, Seq(Chrom), last = false)) ==
        canon(BinaryOps.joinOverlaps(l, r, Seq(Chrom), multiple = "first")),
        "pick under spill")
      // stateful modes past the in-heap depth: count/semi/anti demote
      // to the stateful overflow (row spills, 8-byte state resident),
      // pick to the winner-identity overflow (row spills, winner rows in
      // a disk-backed candidate log) — every mode stays EXACT where pick
      // used to raise sweepHardDepth
      assert(canon(IntervalSweepJoin.count(l, r, Seq(Chrom), countCol = "n")) ==
        canon(BinaryOps.countOverlaps(l, r, Seq(Chrom), countCol = "n")),
        "count past the former hard cap")
      for (anti <- Seq(false, true)) {
        assert(canon(IntervalSweepJoin.exists(l, r, Seq(Chrom), anti = anti)) ==
          canon(graft.join.RangeJoin.exists(l, r, Seq(Chrom), anti = anti)),
          s"exists anti=$anti past the former hard cap")
      }
      // outer matched flags demote the same way
      val r0 = graft.join.RangeJoin.suffixRight(l, r, "_b")
      val naiveFull = l.join(r0,
        l(Chrom) === r0(Chrom + "_b") &&
          l(Start) < r0(End + "_b") && l(End) > r0(Start + "_b"), "full_outer")
        .drop(Chrom + "_b")
      assert(canon(IntervalSweepJoin.outer(l, r, Seq(Chrom), "outer")) ==
        canon(naiveFull), "full outer past the former hard cap")
      // demoted pick, first AND last: equals the aggregation-path plan
      // exactly. rDup duplicates every right coordinate pair under a
      // different RowId so the winner compare falls through to the
      // RESIDENT tie keys (ascending remaining right columns — the same
      // ordering tail the min_by struct uses)
      val rDup = r.union(
        r.withColumn(RowId, r(RowId) + 1000L))
      for (last <- Seq(false, true)) {
        val m = if (last) "last" else "first"
        assert(canon(IntervalSweepJoin.pick(l, rDup, Seq(Chrom), last = last)) ==
          canon(BinaryOps.joinOverlaps(l, rDup, Seq(Chrom), multiple = m)),
          s"pick $m past the former hard cap")
      }
    } finally {
      spark.conf.unset("spark.graft.join.sweepSpillDepth")
    }
  }

  test("sweep operator equals the naive join for inner/semi/anti on random inputs") {
    import spark.implicits._
    def rule(on: Boolean): Unit = spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == graft.plans.IntervalJoinRewrite) ++
        Option.when(on)(graft.plans.IntervalJoinRewrite)
    try {
      forAll(genIntervals, genIntervals) { (lr, rr) =>
        val l = lr.zipWithIndex.map { case ((c, s, e), i) => (c, s, e, i.toLong) }
          .toDF(Chrom, Start, End, "id")
        val r = rr.zipWithIndex.map { case ((c, s, e), i) => (c, s, e, i.toLong) }
          .toDF(Chrom + "2", "s2", "e2", "id2")
        for (jt <- Seq("inner", "left_semi", "left_anti")) {
          def joined = l.join(r,
            l(Chrom) === r(Chrom + "2") && l(Start) < r("e2") && r("s2") < l(End), jt)
          // rule off -> Spark's own plan; rule on -> the strategy's builder:
          // the sweep's native modes or the binned pair/exists joins
          rule(on = false)
          val naive = joined.collect().map(_.toSeq.toList)
            .groupBy(identity).view.mapValues(_.size).toMap
          rule(on = true)
          for (strategy <- Seq("sweep", "binned")) {
            spark.conf.set("spark.graft.join.strategy", strategy)
            val rewritten = joined.collect().map(_.toSeq.toList)
              .groupBy(identity).view.mapValues(_.size).toMap
            assert(rewritten == naive, s"$jt ($strategy) diverged from naive join")
          }
        }
      }
    } finally {
      spark.conf.unset("spark.graft.join.strategy")
      rule(on = false)
    }
  }

  test("sweep outer modes equal the naive outer join over null keys/bounds") {
    import spark.implicits._
    // ~1 in 9 rows gets a null key / null start / null end: null keys
    // match nothing (SQL equi-join), null bounds overlap nothing — both
    // must still SURFACE on their outer side, null-padded
    val genRows: Gen[List[(Option[String], Option[Long], Option[Long])]] =
      Gen.nonEmptyListOf(for {
        c0 <- Gen.oneOf("chr1", "chr2")
        c <- Gen.frequency(8 -> Gen.const(Option(c0)), 1 -> Gen.const(Option.empty[String]))
        s <- Gen.chooseNum(0L, 500L)
        len <- Gen.chooseNum(1L, 120L)
        sOpt <- Gen.frequency(8 -> Gen.const(Option(s)), 1 -> Gen.const(Option.empty[Long]))
        eOpt <- Gen.frequency(8 -> Gen.const(Option(s + len)), 1 -> Gen.const(Option.empty[Long]))
      } yield (c, sOpt, eOpt))
    forAll(genRows, genRows) { (lr, rr) =>
      val l = lr.zipWithIndex.map { case ((c, s, e), i) => (c, s, e, i.toLong) }
        .toDF(Chrom, Start, End, "lid")
      val r = rr.zipWithIndex.map { case ((c, s, e), i) => (c, s, e, i.toLong) }
        .toDF(Chrom, Start, End, "rid")
      for (slack <- Seq(0L, 3L);
           (jt, sparkJt) <- Seq("left" -> "left_outer", "right" -> "right_outer",
             "outer" -> "full_outer")) {
        val swept = graft.join.IntervalSweepJoin.outer(l, r, Seq(Chrom), jt, slack)
        val r0 = graft.join.RangeJoin.suffixRight(l, r, "_b")
        val naive = l.join(r0,
          l(Chrom) === r0(Chrom + "_b") &&
            l(Start) - slack < r0(End + "_b") &&
            l(End) + slack > r0(Start + "_b"), sparkJt)
          .drop(Chrom + "_b")
        def bag(d: DataFrame) = d.collect().map(_.toSeq.toList)
          .groupBy(identity).view.mapValues(_.size).toMap
        assert(bag(swept) == bag(naive), s"$jt slack=$slack diverged from naive outer")
      }
    }
  }

  test("demoted pick crosses generation boundaries and stays exact") {
    import graft.join.IntervalSweepJoin
    import spark.implicits._
    // generations are max(1024, spillDepth) rows, so 3000 demoted
    // entries span 3 generations; moderate depth (~64) lets early
    // generations RETIRE mid-key (dropExpired drain, not just the flush
    // path the one-generation stress tests reach). Duplicate right
    // coordinates exercise tie keys across the generation seams.
    spark.conf.set("spark.graft.join.sweepSpillDepth", "32")
    try {
      val n = 3000
      val l = (0 until n).map(i => ("c", i.toLong * 4, i.toLong * 4 + 256L, i.toLong))
        .toDF(Chrom, Start, End, RowId)
      val r0 = (0 until n).map(i => ("c", i.toLong * 4 + 2, i.toLong * 4 + 200L, (10000 + i).toLong))
      val r = (r0 ++ r0.map { case (c, s, e, id) => (c, s, e, id + n) })
        .toDF(Chrom, Start, End, RowId)
      def canon(d: DataFrame): Map[List[Any], Int] = {
        val cols = d.columns.sorted.map(col).toIndexedSeq
        d.select(cols: _*).collect().map(_.toSeq.toList)
          .groupBy(identity).view.mapValues(_.size).toMap
      }
      for (last <- Seq(false, true)) {
        val m = if (last) "last" else "first"
        assert(canon(IntervalSweepJoin.pick(l, r, Seq(Chrom), last = last)) ==
          canon(BinaryOps.joinOverlaps(l, r, Seq(Chrom), multiple = m)),
          s"multi-generation demoted pick $m diverged")
      }
    } finally spark.conf.unset("spark.graft.join.sweepSpillDepth")
  }

  test("randomized demotion: count/semi/anti/outer/pick equal naive plans at spillDepth=4") {
    import spark.implicits._
    import graft.join.IntervalSweepJoin
    // EVERY stateful entry beyond the first four demotes to the
    // stateful overflow (pick: the winner-identity overflow) on random
    // inputs (including null keys/bounds for the outer mode) — the
    // strongest randomized exercise of the spilled-row + resident-state
    // machinery
    spark.conf.set("spark.graft.join.sweepSpillDepth", "4")
    try {
      val genRows: Gen[List[(Option[String], Option[Long], Option[Long])]] =
        Gen.nonEmptyListOf(for {
          c0 <- Gen.oneOf("chr1", "chr2")
          c <- Gen.frequency(9 -> Gen.const(Option(c0)), 1 -> Gen.const(Option.empty[String]))
          s <- Gen.chooseNum(0L, 300L)
          len <- Gen.chooseNum(1L, 150L)
          sOpt <- Gen.frequency(9 -> Gen.const(Option(s)), 1 -> Gen.const(Option.empty[Long]))
          eOpt <- Gen.frequency(9 -> Gen.const(Option(s + len)), 1 -> Gen.const(Option.empty[Long]))
        } yield (c, sOpt, eOpt))
      forAll(genRows, genRows) { (lr, rr) =>
        val l = lr.zipWithIndex.map { case ((c, s, e), i) => (c, s, e, i.toLong) }
          .toDF(Chrom, Start, End, RowId)
        val r = rr.zipWithIndex.map { case ((c, s, e), i) => (c, s, e, (1000 + i).toLong) }
          .toDF(Chrom, Start, End, RowId)
        def bag(d: DataFrame) = {
          val cols = d.columns.sorted.map(col).toIndexedSeq
          d.select(cols: _*).collect().map(_.toSeq.toList)
            .groupBy(identity).view.mapValues(_.size).toMap
        }
        // null-safe naive inputs for semi/anti/count (binned plans
        // already handle nulls; direct comparison)
        for (anti <- Seq(false, true)) {
          assert(bag(IntervalSweepJoin.exists(l, r, Seq(Chrom), anti = anti)) ==
            bag(graft.join.RangeJoin.exists(l, r, Seq(Chrom), anti = anti)),
            s"demoted exists anti=$anti diverged")
        }
        assert(bag(IntervalSweepJoin.count(l, r, Seq(Chrom), countCol = "n")) ==
          bag(BinaryOps.countOverlaps(l, r, Seq(Chrom), countCol = "n")),
          "demoted count diverged")
        val r0 = graft.join.RangeJoin.suffixRight(l, r, "_b")
        val naiveFull = l.join(r0,
          l(Chrom) === r0(Chrom + "_b") &&
            l(Start) < r0(End + "_b") && l(End) > r0(Start + "_b"), "full_outer")
          .drop(Chrom + "_b")
        assert(bag(IntervalSweepJoin.outer(l, r, Seq(Chrom), "outer")) ==
          bag(naiveFull), "demoted full outer diverged")
        // pick vs the aggregation path: random coordinate collisions
        // exercise the resident tie keys on both plans' shared ordering
        for (last <- Seq(false, true)) {
          val m = if (last) "last" else "first"
          assert(bag(IntervalSweepJoin.pick(l, r, Seq(Chrom), last = last)) ==
            bag(BinaryOps.joinOverlaps(l, r, Seq(Chrom), multiple = m)),
            s"demoted pick $m diverged")
        }
      }
    } finally spark.conf.unset("spark.graft.join.sweepSpillDepth")
  }

  test("sweep outer stays exact when the non-pinned side crosses sweepSpillDepth") {
    import spark.implicits._
    // under LeftOuter the RIGHT side may overflow to spill generations
    // (only the left pins matched flags); under RightOuter vice versa —
    // force both overflow paths with a tiny spillDepth and deep overlap,
    // plus a right-only and a left-only key group for the padding paths
    spark.conf.set("spark.graft.join.sweepSpillDepth", "8")
    try {
      val l = ((0 until 200).map(i => ("chr1", (i % 50).toLong, (i % 50) + 100L, i.toLong))
        :+ (("chrL", 0L, 10L, 999L))).toDF(Chrom, Start, End, "lid")
      val r = ((0 until 150).map(i => ("chr1", (i % 40) + 25L, (i % 40) + 60L, i.toLong))
        :+ (("chrR", 0L, 10L, 998L))).toDF(Chrom, Start, End, "rid")
      for ((jt, sparkJt) <- Seq("left" -> "left_outer", "right" -> "right_outer",
             "outer" -> "full_outer")) {
        val swept = graft.join.IntervalSweepJoin.outer(l, r, Seq(Chrom), jt)
        val r0 = graft.join.RangeJoin.suffixRight(l, r, "_b")
        val naive = l.join(r0,
          l(Chrom) === r0(Chrom + "_b") &&
            l(Start) < r0(End + "_b") && l(End) > r0(Start + "_b"), sparkJt)
          .drop(Chrom + "_b")
        def bag(d: DataFrame) = d.collect().map(_.toSeq.toList)
          .groupBy(identity).view.mapValues(_.size).toMap
        assert(bag(swept) == bag(naive), s"$jt diverged past spillDepth")
      }
    } finally spark.conf.unset("spark.graft.join.sweepSpillDepth")
  }

  test("packSequences invariants: capacity, order, contiguity, totality") {
    import spark.implicits._
    val genDocs: Gen[List[(String, Long, Long)]] =
      Gen.nonEmptyListOf(for {
        st <- Gen.oneOf("en", "de", "zh")
        id <- Gen.chooseNum(0L, 10000L)
        nt <- Gen.chooseNum(1L, 300L)
      } yield (st, id, nt)).map(_.distinctBy(d => (d._1, d._2)))
    forAll(genDocs) { rows =>
      val budget = 256L
      val out = graft.ml.Sampling
        .packSequences(rows.toDF("lang", "doc_id", "nt"), "lang", "doc_id", "nt", budget)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      assert(out.length == rows.length)                       // totality
      for ((st, binRows) <- out.groupBy(r => (r._1, r._4))) {
        val sorted = binRows.sortBy(_._5)
        assert(sorted.map(_._5).toSeq == sorted.indices.map(_.toLong)) // pos contiguous from 0
        val total = sorted.map(_._3).sum
        assert(total <= budget || sorted.length == 1,         // capacity unless oversized singleton
          s"bin $st over budget with ${sorted.length} rows, $total tokens")
      }
      for ((_, stRows) <- out.groupBy(_._1)) {
        val byId = stRows.sortBy(_._2)
        // walking ids in order, (bin, pos) must be lexicographically
        // non-decreasing with no skipped bins (greedy = order-defined)
        assert(byId.map(_._4).toSeq == byId.map(_._4).sorted.toSeq)
        assert(byId.map(_._4).distinct.sorted.zipWithIndex.forall { case (b, i) => b == i })
      }
    }
  }

  test("mixByEpochs copy-count law over random recipes") {
    import spark.implicits._
    // every doc of a recipe stratum emits floor(pct/100) or +1 copies
    // (exactly floor when pct is a whole multiple of 100), reps are
    // contiguous from 1, and strata outside the recipe emit nothing
    val genRecipe = Gen.mapOf(Gen.zip(
      Gen.oneOf("a", "b", "c", "d"), Gen.chooseNum(0, 400)))
      .suchThat(_.nonEmpty)
    val genDocs = Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(1L, 500L), Gen.oneOf("a", "b", "c", "d", "x")))
      .map(_.distinctBy(_._1))
    forAll(genDocs, genRecipe) { (rows, recipe) =>
      val out = graft.ml.Sampling
        .mixByEpochs(rows.toDF("doc_id", "lang"), recipe, stratumCol = "lang")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(out.forall(o => recipe.contains(o._2)))
      val byDoc = out.groupBy(_._1)
      for ((id, lang) <- rows) {
        val reps = byDoc.getOrElse(id, Array.empty).map(_._3).sorted.toSeq
        assert(reps == (1L to reps.size).toSeq, s"doc $id reps $reps")
        recipe.get(lang) match {
          case None => assert(reps.isEmpty)
          case Some(pct) =>
            val whole = pct / 100
            if (pct % 100 == 0) assert(reps.size == whole,
              s"doc $id: whole-epoch recipe $pct gave ${reps.size} copies")
            else assert(reps.size == whole || reps.size == whole + 1,
              s"doc $id: recipe $pct gave ${reps.size} copies")
        }
      }
    }
  }

  test("bucket-star edge law: edges are verified pairs and a subset of the all-pairs graph") {
    import spark.implicits._
    // random corpora of template copies + unique docs: every star edge
    // must (1) be a TRUE pair under brute-force shingle jaccard, and
    // (2) appear in nearDuplicatePairs' exact pair set (the star graph
    // is a verified subgraph, never an over-merge)
    val words = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh",
      "ii", "jj", "kk", "ll", "mm", "nn", "oo", "pp", "qq", "rr")
    val genDoc = for {
      n <- Gen.chooseNum(12, 18)
      toks <- Gen.listOfN(n, Gen.oneOf(words))
    } yield toks
    val genCorpus = for {
      nTmpl <- Gen.chooseNum(1, 3)
      tmpls <- Gen.listOfN(nTmpl, genDoc)
      copies <- Gen.chooseNum(2, 5)
      uniq <- Gen.listOfN(4, genDoc)
    } yield {
      val members = tmpls.zipWithIndex.flatMap { case (t, c) =>
        (0 until copies).map { i =>
          val m = t.toArray
          m(m.length - 2) = s"u${c}_$i" // one mutated token per copy
          (c * 100L + i, m.mkString(" "))
        }
      }
      members ++ uniq.zipWithIndex.map { case (t, i) =>
        (900L + i, (t :+ s"tail$i").mkString(" "))
      }
    }
    forAll(genCorpus) { rows =>
      val docs = rows.toDF("doc_id", "text")
      def jac(a: String, b: String): (Long, Long) = {
        def sh(t: String) = t.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
        val (sa, sb) = (sh(a), sh(b))
        ((sa & sb).size.toLong, (sa | sb).size.toLong)
      }
      val byId = rows.toMap
      val star = graft.ml.Dedup.nearDuplicateBucketEdges(docs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val allPairs = graft.ml.Dedup.nearDuplicatePairs(docs)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      for ((a, b) <- star) {
        val (ni, nu) = jac(byId(a), byId(b))
        assert(ni * 100 >= nu * 50, s"star edge ($a,$b) fails brute jaccard $ni/$nu")
      }
      // star edges order a=bucket-min < b, all-pairs a<b: directly comparable
      assert(star.subsetOf(allPairs), s"star ${star -- allPairs} not in all-pairs")
    }
  }

  test("fixed-point Q18 ln matches Math.log within 1e-12 over the idf argument range") {
    // the BM25 ln replay: y = 2(N+1)/(2 df+1) for random (N, df <= N);
    // run the EXACT integer pipeline (range reduction + atanh series,
    // BigInt floor division mirroring decimal(38,0)/HUGEINT) and
    // compare against double ln — the quantization must stay orders
    // below the 1e-6 score quantum
    val S = BigInt("1000000000000000000")
    val LN2 = BigInt(graft.ml.Ranking.LN2_Q18)
    def lnQ18(num: Long, den: Long): BigInt = {
      val q = num / den
      val m = 63 - java.lang.Long.numberOfLeadingZeros(q)
      val p2 = 1L << m
      val a = BigInt(num) - BigInt(den) * p2
      val b = BigInt(num) + BigInt(den) * p2
      val z = a * S / b
      val z2 = z * z / S
      var p = z
      var acc = z
      for (i <- 1 until graft.ml.Ranking.lnSeriesTerms) {
        p = p * z2 / S
        acc += p / (2 * i + 1)
      }
      BigInt(m) * LN2 + 2 * acc
    }
    val gen = for {
      n <- Gen.chooseNum(1L, 1000000000000L)
      df <- Gen.chooseNum(1L, n)
    } yield (n, df)
    (0 until 200).foreach { i =>
      val (n, df) = gen.apply(params, Seed(7L + i)).get
      val (num, den) = (2 * (n + 1), 2 * df + 1)
      val got = lnQ18(num, den).toDouble / 1e18
      val want = math.log(num.toDouble / den)
      assert(math.abs(got - want) < 1e-12,
        s"N=$n df=$df: fixed $got vs double $want")
    }
  }

  test("simhash re-band recursion equals brute force on random clustered fingerprints") {
    // random 60-bit fingerprints engineered into hamming-close clusters
    // (a few bases, members = bases with 0-5 random bit flips, so the
    // set mixes identical fps, near pairs, and far pairs); the banded
    // path with a TINY maxBucket — forcing the compacted-remainder
    // recursion — must equal brute-force all-pairs exactly
    val mask60 = (1L << 60) - 1
    val genFps: Gen[List[Long]] = for {
      nBase <- Gen.chooseNum(3, 8)
      bases <- Gen.listOfN(nBase, Gen.chooseNum(Long.MinValue, Long.MaxValue)
        .map(_ & mask60))
      n <- Gen.chooseNum(12, 30)
      picks <- Gen.listOfN(n, for {
        b <- Gen.oneOf(bases)
        nf <- Gen.chooseNum(0, 5)
        flips <- Gen.listOfN(nf, Gen.chooseNum(0, 59))
      } yield flips.foldLeft(b)((v, i) => v ^ (1L << i)))
    } yield picks
    import spark.implicits._
    forAll(genFps) { fps =>
      val withIds = fps.zipWithIndex.map { case (f, i) => (i.toLong, f) }
      val fpDf = withIds.toDF("doc_id", "simhash").localCheckpoint()
      for (t <- Seq(1, 3)) {
        val brute = (for {
          (fa, a) <- withIds.map(_.swap)
          (fb, b) <- withIds.map(_.swap)
          if a < b && java.lang.Long.bitCount(fa ^ fb) <= t
        } yield (a, b, java.lang.Long.bitCount(fa ^ fb).toLong)).toSet
        for (mb <- Seq(2, 1 << 16)) {
          val got = graft.ml.Dedup
            .simhashPairsFromFp(fpDf, maxHamming = t, bands = 4,
              idCol = "doc_id", maxBucket = mb)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
          assert(got == brute, s"t=$t maxBucket=$mb: ${got.size} vs ${brute.size}")
        }
      }
    }
  }
}
