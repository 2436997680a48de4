package graft

import graft.core.Cols
import graft.join.RangeJoin
import graft.ml.{Dedup, Similarity, TextOps}
import graft.ops.{BinaryOps, Coverage, UnaryOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden tests mirroring the reference's doctest examples (cited per
  * test) plus algebraic properties the reference asserts implicitly. */
class OpsSpec extends AnyFunSuite {
  import Cols._

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def gf(rows: (String, Long, Long)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF(Chrom, Start, End)
      .withColumn(RowId, monotonically_increasing_id())
  }
  def gfs(rows: (String, String, Long, Long)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF(Chrom, Strand, Start, End)
      .withColumn(RowId, monotonically_increasing_id())
  }
  def rows3(df: DataFrame): Set[(String, Long, Long)] =
    df.select(Chrom, Start, End).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  // merge_overlaps: strictly-overlapping intervals merge; bookended stay
  // separate at slack=0, slack=1 merges them (reference cluster doctest
  // core/pyranges_main.py:700-727 "Slack=1 will cluster also bookended").
  test("merge merges overlapping; bookended need slack=1") {
    val df = gf(("chr1", 1, 5), ("chr1", 4, 9), ("chr1", 9, 11), ("chr1", 15, 20),
                ("chr2", 1, 3))
    val m = UnaryOps.merge(df, Seq(Chrom), 0, Some("n"))
    assert(rows3(m) == Set(("chr1", 1L, 9L), ("chr1", 9L, 11L), ("chr1", 15L, 20L),
      ("chr2", 1L, 3L)))
    val counts = m.select(Chrom, Start, "n").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(counts == Set(("chr1", 1L, 2L), ("chr1", 9L, 1L), ("chr1", 15L, 1L),
      ("chr2", 1L, 1L)))
    assert(rows3(UnaryOps.merge(df, Seq(Chrom), slack = 1)) ==
      Set(("chr1", 1L, 11L), ("chr1", 15L, 20L), ("chr2", 1L, 3L)))
  }

  // Regression (round-2 advice): exists() on a left WITHOUT the row_id
  // contract must not fall back to all-column equality — null metadata
  // columns would then never match themselves (null-unsafe =), silently
  // dropping overlapping rows from semi and keeping them in anti.
  test("overlap semi/anti keep null-metadata and duplicate rows correct without row_id") {
    import spark.implicits._
    val l = Seq(
      ("chr1", 1L, 5L, null.asInstanceOf[String]),   // overlaps, null meta
      ("chr1", 2L, 6L, "m"),                          // overlaps
      ("chr1", 2L, 6L, "m"),                          // exact duplicate row
      ("chr1", 50L, 60L, null.asInstanceOf[String])  // no overlap, null meta
    ).toDF(Chrom, Start, End, "meta") // deliberately NO RowId column
    val r = gf(("chr1", 4, 10))
    val semi = RangeJoin.exists(l, r, Seq(Chrom))
    val anti = RangeJoin.exists(l, r, Seq(Chrom), anti = true)
    assert(semi.count() == 3, "null-meta overlapping row and both duplicates survive semi")
    assert(semi.where(col("meta").isNull).count() == 1)
    assert(anti.count() == 1)
    assert(anti.select(Start).as[Long].collect().toSeq == Seq(50L))
  }

  test("merge slack bridges gaps strictly smaller than slack") {
    val df = gf(("c", 1, 5), ("c", 7, 9))  // gap of 2
    assert(rows3(UnaryOps.merge(df, Seq(Chrom), slack = 3)) == Set(("c", 1L, 9L)))
    assert(rows3(UnaryOps.merge(df, Seq(Chrom), slack = 2)) ==
      Set(("c", 1L, 5L), ("c", 7L, 9L)))
  }

  test("mergeSalted equals merge (hot-key salting is transparent)") {
    // deterministic pseudo-random intervals spanning several salt bins
    val rows = (0 until 500).map { i =>
      val s = (i * 2654435761L) % 4000
      ("c" + (i % 2), s, s + 1 + (i * 40503L) % 120)
    }
    val df = gf(rows: _*)
    val plain = rows3(UnaryOps.merge(df, Seq(Chrom), slack = 3))
    // one-position bins, an odd bin, a mid bin, one bin wider than the span
    for (bin <- Seq(1L, 7L, 256L, 1L << 20))
      assert(rows3(UnaryOps.mergeSalted(df, Seq(Chrom), 3, bin)) == plain, s"bin=$bin")
  }

  test("groupCumsumSalted equals groupCumsumPlain (incl. minus strand)") {
    val rows = (0 until 400).map { i =>
      val s = (i * 2654435761L) % 4000
      ("c" + (i % 2), s, s + 1 + (i * 40503L) % 90)
    }
    val df = gf(rows: _*)
      .withColumn(Strand, when(col(RowId) % 2 === 0, "+").otherwise("-"))
    def canon(d: DataFrame) = d.select(RowId, "cs", "ce").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def cumsum(saltBin: Option[Long]) = canon(UnaryOps.groupCumsumSweep(df,
      Seq(Chrom, Strand), useStrand = true, "cs", "ce", Seq(col(RowId)), saltBin))
    val plain = cumsum(None)
    assert(plain == canon(UnaryOps.groupCumsum(df, Seq(Chrom, Strand),
      useStrand = true, "cs", "ce", Seq(col(RowId)))))
    for (bin <- Seq(1L, 7L, 256L, 1L << 20))
      assert(cumsum(Some(bin)) == plain, s"bin=$bin")
  }

  test("merge is idempotent") {
    val df = gf(("c", 1, 5), ("c", 4, 9), ("c", 20, 30), ("c", 25, 26))
    val once = UnaryOps.merge(df, Seq(Chrom))
    val twice = UnaryOps.merge(once, Seq(Chrom))
    assert(rows3(once) == rows3(twice))
  }

  // cluster_overlaps (reference core/pyranges_main.py:645-751): cluster
  // ids per key in sweep order.
  test("cluster annotates rows, same id iff same island") {
    val df = gf(("c", 1, 5), ("c", 4, 9), ("c", 12, 14))
    val got = UnaryOps.cluster(df, Seq(Chrom), 0, "cid")
      .select(Start, "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(1L) == got(4L) && got(12L) != got(1L))
  }

  // complement_ranges (reference core/pyranges_main.py:5705-5896).
  test("complement emits gaps between merged islands") {
    val df = gf(("c", 1, 5), ("c", 4, 9), ("c", 12, 14), ("c", 20, 25))
    assert(rows3(UnaryOps.complement(df, Seq(Chrom))) ==
      Set(("c", 9L, 12L), ("c", 14L, 20L)))
  }

  test("complement with chromSizes adds the [0, first) and [last, size) flanks") {
    import spark.implicits._
    val df = gf(("c", 5, 10), ("c", 20, 25))
    val cs = Seq(("c", 100L)).toDF(Chrom, "size")
    assert(rows3(UnaryOps.complement(df, Seq(Chrom), Some(cs))) ==
      Set(("c", 0L, 5L), ("c", 10L, 20L), ("c", 25L, 100L)))
    // interval starting at 0 / ending at size: no empty flanks
    val df2 = gf(("c", 0, 10), ("c", 90, 100))
    assert(rows3(UnaryOps.complement(df2, Seq(Chrom), Some(cs))) ==
      Set(("c", 10L, 90L)))
  }

  test("tileGenome tiles chromosomes from sizes; last tile clipped or full") {
    import spark.implicits._
    val cs = Seq(("c", 25L)).toDF(Chrom, "size")
    assert(rows3(UnaryOps.tileGenome(cs, 10)) ==
      Set(("c", 0L, 10L), ("c", 10L, 20L), ("c", 20L, 25L)))
    assert(rows3(UnaryOps.tileGenome(cs, 10, fullLastTile = true)) ==
      Set(("c", 0L, 10L), ("c", 10L, 20L), ("c", 20L, 30L)))
  }

  // split_overlaps (reference core/pyranges_main.py:3264-3415 doctest:
  // between=False keeps covered segments only).
  test("split cuts at every boundary; between=true adds gaps") {
    val df = gf(("c", 3, 10), ("c", 5, 7), ("c", 11, 12))
    assert(rows3(UnaryOps.split(df, Seq(Chrom))) ==
      Set(("c", 3L, 5L), ("c", 5L, 7L), ("c", 7L, 10L), ("c", 11L, 12L)))
    assert(rows3(UnaryOps.split(df, Seq(Chrom), between = true)) ==
      Set(("c", 3L, 5L), ("c", 5L, 7L), ("c", 7L, 10L), ("c", 10L, 11L), ("c", 11L, 12L)))
  }

  // extend_ranges strand semantics (reference core/pyranges_main.py:
  // 879-1039: ext_5 moves Start on "+", End on "-").
  test("extend is strand-aware") {
    val df = gfs(("c", "+", 10, 20), ("c", "-", 10, 20))
    val got = UnaryOps.extend(df, ext5 = 3, ext3 = 7)
      .select(Strand, Start, End).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("+", 7L, 27L), ("-", 3L, 23L)))
  }

  // window_ranges (reference core/pyranges_main.py:4838-5096): minus
  // strand windows run from the 5' end = the End coordinate.
  test("windowRanges chops from the 5' end per strand") {
    val df = gfs(("c", "+", 0, 10), ("c", "-", 0, 10))
    val got = UnaryOps.windowRanges(df, 4)
      .select(Strand, Start, End).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("+", 0L, 4L), ("+", 4L, 8L), ("+", 8L, 10L),
                      ("-", 6L, 10L), ("-", 2L, 6L), ("-", 0L, 2L)))
  }

  // tile_ranges (reference core/pyranges_main.py:3719-3846): global grid.
  test("tile snaps to the global grid") {
    val df = gf(("c", 5, 21))
    assert(rows3(UnaryOps.tile(df, 10)) ==
      Set(("c", 0L, 10L), ("c", 10L, 20L), ("c", 20L, 30L)))
  }

  // max_disjoint_overlaps (reference core/pyranges_main.py:1911-2046):
  // first-fit greedy in START order (see doctest :1987-2000).
  test("maxDisjoint keeps the start-order first-fit subset") {
    val df = gf(("c", 1, 10), ("c", 2, 3), ("c", 4, 5), ("c", 4, 12))
    assert(rows3(UnaryOps.maxDisjoint(df, Seq(Chrom))) == Set(("c", 1L, 10L)))
    val df2 = gf(("c", 1, 5), ("c", 5, 7), ("c", 6, 9))
    assert(rows3(UnaryOps.maxDisjoint(df2, Seq(Chrom))) ==
      Set(("c", 1L, 5L), ("c", 5L, 7L)))  // bookended kept at slack=0
  }

  // group_cumsum (reference core/pyranges_main.py:5209-5307): 5'->3'.
  test("groupCumsum runs 5'->3' (reversed on minus strand)") {
    val df = gfs(("c", "-", 0, 5), ("c", "-", 10, 12))
    val got = UnaryOps.groupCumsum(df, Seq(Chrom, Strand))
      .select(Start, "cumStart", "cumEnd").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // minus strand: [10,12) is 5'-most -> cum [0,2); [0,5) -> cum [2,7)
    assert(got == Set((10L, 0L, 2L), (0L, 2L, 7L)))
  }

  // overlap/invert (reference core/pyranges_main.py:2393-2615).
  test("overlap keeps hit rows; invert keeps the complement; union is all") {
    val l = gf(("c", 1, 5), ("c", 10, 12), ("d", 1, 2))
    val r = gf(("c", 4, 11))
    val hit = BinaryOps.overlap(l, r, Seq(Chrom))
    val miss = BinaryOps.overlap(l, r, Seq(Chrom), invert = true)
    assert(rows3(hit) == Set(("c", 1L, 5L), ("c", 10L, 12L)))
    assert(rows3(miss) == Set(("d", 1L, 2L)))
  }

  test("overlap slack extends matching range; contained restricts") {
    val l = gf(("c", 1, 5), ("c", 8, 9))
    val r = gf(("c", 6, 7))
    assert(rows3(BinaryOps.overlap(l, r, Seq(Chrom))) == Set.empty[(String, Long, Long)])
    // slack=1 only touches (half-open: extended [1,6) vs [6,7) is no overlap)
    assert(rows3(BinaryOps.overlap(l, r, Seq(Chrom), slack = 1)) ==
      Set.empty[(String, Long, Long)])
    assert(rows3(BinaryOps.overlap(l, r, Seq(Chrom), slack = 2)) ==
      Set(("c", 1L, 5L), ("c", 8L, 9L)))
    val l2 = gf(("c", 2, 4), ("c", 1, 9))
    val r2 = gf(("c", 1, 5))
    assert(rows3(BinaryOps.overlap(l2, r2, Seq(Chrom), contained = true)) ==
      Set(("c", 2L, 4L)))
  }

  test("duplicate row_id rows stay separate in countOverlaps and " +
    "join_first picks per physical row, in BOTH gate states (round-18: " +
    "the sf0.001 lineitem duplicate-key find — row identity is the full " +
    "left row, not row_id alone)") {
    import spark.implicits._
    // two DISTINCT left rows sharing row_id 1: A=[0,10) matches only
    // r1, B=[20,40) matches only r2; row_id 2 is a control
    val l = Seq(("c", 0L, 10L, 1L), ("c", 20L, 40L, 1L), ("c", 50L, 60L, 2L))
      .toDF(Chrom, Start, End, RowId)
    val r = Seq(("c", 5L, 8L), ("c", 25L, 30L), ("c", 26L, 31L), ("c", 55L, 56L))
      .toDF(Chrom, Start, End)
      .withColumn(RowId, monotonically_increasing_id())
    // both gate states, plus salted with sweepMaxDepth=0: the gate opens
    // but the depth guard keeps the choice binned, so the pick must
    // still roll up the pairs
    for ((force, depth) <- Seq(("plain", None), ("salted", None), ("salted", Some("0")))) {
      spark.conf.set(graft.core.Sizing.ForceKey, force)
      depth.foreach(spark.conf.set("spark.graft.join.sweepMaxDepth", _))
      try {
        val n = BinaryOps.countOverlaps(l, r, Seq(Chrom), countCol = "n")
          .select(Start, "n").collect()
          .map(x => (x.getLong(0), x.getLong(1))).toMap
        assert(n == Map(0L -> 1L, 20L -> 2L, 50L -> 1L),
          s"countOverlaps per-row counts wrong under force=$force: $n")
        val first = BinaryOps.joinOverlaps(l, r, Seq(Chrom),
            multiple = "first")
          .select(col(Start), col(Start + "_b")).collect()
          .map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted
        assert(first == Seq(0L -> 5L, 20L -> 25L, 50L -> 55L),
          s"join_first per-row pick wrong under force=$force depth=$depth: $first")
      } finally {
        spark.conf.unset(graft.core.Sizing.ForceKey)
        spark.conf.unset("spark.graft.join.sweepMaxDepth")
      }
    }
  }

  test("NULL payloads and a left side without row_id keep their counts " +
    "and picks, under forced plain and salted gates") {
    import spark.implicits._
    // the NULL-Name row overlaps two right rows: a null-unsafe rejoin
    // on the left columns would drop its count to 0
    val l = Seq(("c", 0L, 10L, Some("a")), ("c", 20L, 40L, None),
      ("c", 50L, 60L, Some("z")), ("c", 70L, 80L, None))
      .toDF(Chrom, Start, End, "Name")
    val r = Seq(("c", 5L, 8L), ("c", 25L, 30L), ("c", 26L, 31L), ("c", 55L, 56L))
      .toDF(Chrom, Start, End)
    for (left <- Seq(l, l.withColumn(RowId, monotonically_increasing_id()));
         force <- Seq("plain", "salted")) {
      spark.conf.set(graft.core.Sizing.ForceKey, force)
      val ctx = s"force=$force row_id=${left.columns.contains(RowId)}"
      try {
        val n = BinaryOps.countOverlaps(left, r, Seq(Chrom), countCol = "n")
          .select(Start, "n").collect()
          .map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted
        assert(n == Seq(0L -> 1L, 20L -> 2L, 50L -> 1L, 70L -> 0L), s"count $ctx: $n")
        for ((m, want) <- Seq("first" -> Seq(0L -> 5L, 20L -> 25L, 50L -> 55L),
                              "last" -> Seq(0L -> 5L, 20L -> 26L, 50L -> 55L))) {
          val got = BinaryOps.joinOverlaps(left, r, Seq(Chrom), multiple = m)
            .select(col(Start), col(Start + "_b"), col("Name")).collect()
            .map(x => (x.getLong(0), x.getLong(1), Option(x.getString(2)))).toSeq.sorted
          assert(got.map(x => (x._1, x._2)) == want &&
            got.map(_._3) == Seq(Some("a"), None, Some("z")), s"$m $ctx: $got")
        }
      } finally spark.conf.unset(graft.core.Sizing.ForceKey)
    }
  }

  test("a NULL-bound row changes no other row in merge, overlap, subtract, cluster " +
    "and countOverlaps, under forced plain and salted gates") {
    import spark.implicits._
    // the NULL-Start right row sorts first in an ascending sweep: its End
    // must not become the running max that swallows the other rows
    val r = Seq(("c1", Some(100L), 200L), ("c1", Some(300L), 400L), ("c1", None, 1000L))
      .toDF(Chrom, Start, End)
    val l = Seq(("c1", 150L, 160L), ("c1", 350L, 380L), ("c1", 500L, 510L))
      .toDF(Chrom, Start, End)
    def bounds(df: DataFrame) = df.select(Start, End).collect()
      .map(x => (Option(x.get(0)), x.getLong(1))).toSeq.sortBy(_.toString)
    def starts(df: DataFrame) = df.select(Start).collect().map(_.getLong(0)).toSeq.sorted
    val k = Seq(Chrom)
    for (force <- Seq("plain", "salted")) {
      spark.conf.set(graft.core.Sizing.ForceKey, force)
      try {
        assert(bounds(UnaryOps.merge(r, k)) == Seq(Some(100L) -> 200L, Some(300L) -> 400L),
          s"merge $force")
        assert(starts(BinaryOps.overlap(l, r, k)) == Seq(150L, 350L), s"overlap $force")
        assert(starts(BinaryOps.overlap(l, r, k, invert = true)) == Seq(500L),
          s"overlap invert $force")
        assert(bounds(BinaryOps.subtract(l, r, k)) == Seq(Some(500L) -> 510L),
          s"subtract $force")
        val cl = UnaryOps.cluster(r, k).select(End, "Cluster").collect()
          .map(x => (x.getLong(0), Option.unless(x.isNullAt(1))(x.getLong(1)))).toSeq.sorted
        assert(cl == Seq(200L -> Some(1L), 400L -> Some(2L), 1000L -> None), s"cluster $force")
        val n = BinaryOps.countOverlaps(l, r, k, countCol = "n").select(Start, "n").collect()
          .map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted
        assert(n == Seq(150L -> 1L, 350L -> 1L, 500L -> 0L), s"countOverlaps $force")
      } finally spark.conf.unset(graft.core.Sizing.ForceKey)
    }
  }

  // subtract_overlaps (reference core/pyranges_main.py:3522-3643 doctest:
  // one row can split into many; covered rows disappear).
  test("subtract splits and drops covered rows") {
    val l = gf(("c", 0, 10), ("c", 20, 22), ("c", 30, 35))
    val r = gf(("c", 2, 4), ("c", 6, 8), ("c", 19, 23))
    assert(rows3(BinaryOps.subtract(l, r, Seq(Chrom))) ==
      Set(("c", 0L, 2L), ("c", 4L, 6L), ("c", 8L, 10L), ("c", 30L, 35L)))
  }

  test("subtract output is always within self") {
    val l = gf(("c", 5, 15))
    val r = gf(("c", 0, 7), ("c", 9, 11), ("c", 14, 30))
    assert(rows3(BinaryOps.subtract(l, r, Seq(Chrom))) ==
      Set(("c", 7L, 9L), ("c", 11L, 14L)))
  }

  test("subtract passes unmatched null-bound, null-key and degenerate rows through " +
    "unchanged, under plain and salted gates") {
    import spark.implicits._
    val l = Seq[(String, Option[Long], Option[Long], String)](
      ("c", Some(0L), Some(10L), "a"),
      ("c", None, None, "no-bounds"), ("c", Some(50L), None, "no-end"),
      (null, Some(0L), Some(10L), "no-key"),
      ("c", Some(500L), Some(500L), "empty"), ("c", Some(2000L), Some(1000L), "inverted"),
      ("c", Some(3000L), Some(4000L), null), ("c", Some(3000L), Some(4000L), null),
      // matched in one bin, unmatched in its other bins
      ("c", Some(250L), Some(700L), "wide"),
      ("c", Some(300L), Some(320L), "covered"))
      .toDF(Chrom, Start, End, "name")
    val r = Seq[(String, Long, Long)](("c", 2L, 4L), ("c", 300L, 320L), (null, 0L, 100L))
      .toDF(Chrom, Start, End)
    val want = Seq[(String, Option[Long], Option[Long], String)](
      ("c", Some(0L), Some(2L), "a"), ("c", Some(4L), Some(10L), "a"),
      ("c", None, None, "no-bounds"), ("c", Some(50L), None, "no-end"),
      (null, Some(0L), Some(10L), "no-key"),
      ("c", Some(500L), Some(500L), "empty"), ("c", Some(2000L), Some(1000L), "inverted"),
      ("c", Some(3000L), Some(4000L), null), ("c", Some(3000L), Some(4000L), null),
      ("c", Some(250L), Some(300L), "wide"), ("c", Some(320L), Some(700L), "wide"))
      .map(_.toString).sorted
    for (force <- Seq("plain", "salted")) {
      spark.conf.set(graft.core.Sizing.ForceKey, force)
      try {
        val got = BinaryOps.subtract(l, r, Seq(Chrom)).as[(String, Option[Long], Option[Long],
          String)].collect().map(_.toString).toSeq.sorted
        assert(got == want, s"force=$force")
      } finally spark.conf.unset(graft.core.Sizing.ForceKey)
    }
  }

  test("subtract on long intervals runs the sweep's left-outer mode and equals the binned result") {
    import spark.implicits._
    // mean length ~700k > 2 x the widest auto bin (65536): Use.Outer sweeps
    def mk(n: Int, seed: Long) = (0 until n).map { i =>
      val s = (i * seed) % 40000000L
      ("c" + (i % 2), s, s + 400000L + (i * 31L) % 600000L)
    }
    // unmatched extras past every right row: no bounds, no key, degenerate
    val l = (mk(200, 2654435761L).map { case (c, s, e) => (c, Option(s), Option(e)) } ++
      Seq[(String, Option[Long], Option[Long])](("c0", None, None),
        (null, Some(5L), Some(900000L)),
        ("c0", Some(60000000L), Some(60000000L)), ("c1", Some(61000000L), Some(60000000L))))
      .toDF(Chrom, Start, End)
    val r = mk(40, 40503L).toDF(Chrom, Start, End)
    def canon(df: DataFrame) = df.collect().map(_.toSeq.toList.toString).toSeq.sorted
    def under(force: String)(body: => DataFrame): Seq[String] = {
      spark.conf.set(graft.core.Sizing.ForceKey, force)
      try canon(body) finally spark.conf.unset(graft.core.Sizing.ForceKey)
    }
    val swept = under("salted")(BinaryOps.subtract(l, r, Seq(Chrom)))
    assert(RangeJoin.lastAutoPairs.get()._1 == "sweep-outer")
    val binned = under("plain")(BinaryOps.subtract(l, r, Seq(Chrom), binSize = 65536))
    assert(swept == binned)
    assert(swept.nonEmpty && swept != canon(l))
  }

  // nearest_ranges (reference core/pyranges_main.py:2143-2391; touching
  // intervals have distance 1, overlap 0 per README.md:51-53).
  test("nearest: overlap=0, touching=1, else gap+1; min dist wins") {
    val l = gf(("c", 10, 12), ("c", 0, 2), ("c", 50, 60))
    val r = gf(("c", 12, 14), ("c", 5, 8), ("c", 55, 56))
    val got = BinaryOps.nearest(l, r, Seq(Chrom), distCol = "dist")
      .select(Start, "dist").collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(got(10L) == 1L)   // [10,12) vs [12,14) touching
    assert(got(0L) == 4L)    // [0,2) vs [5,8): gap 3 -> dist 4
    assert(got(50L) == 0L)   // overlap
  }

  test("nearest ties break to smallest right row_id") {
    val l = gf(("c", 10, 11))
    val r = gf(("c", 5, 8), ("c", 13, 16))  // both dist 3+1=... left: 10-8+1=3; right: 13-11+1=3
    val got = BinaryOps.nearest(l, r, Seq(Chrom), distCol = "dist").collect()
    assert(got.length == 1)
    val rid = got.head.getAs[Long](RowId + "_b")
    assert(rid == 0L)  // first right row (smaller id) wins the tie
  }

  // k-nearest sweep (reference core/pyranges_main.py:2143-2391).
  test("nearestK returns ranked k neighbors; buffer keeps tie-min ids") {
    val l = gf(("c", 100, 110))
    val r = gf(("c", 10, 20), ("c", 30, 40), ("c", 50, 60), ("c", 120, 130),
               ("c", 105, 106))
    val got = graft.ops.NearestK.nearestK(l, r, Seq(Chrom), 3, distCol = "dist")
      .select("dist", "nearest_rank").collect()
      .map(x => (x.getLong(0), x.getInt(1))).sortBy(_._2)
    // overlap [105,106) d=0; [120,130) d=11; [50,60) d=41
    assert(got.toSeq == Seq((0L, 1), (11L, 2), (41L, 3)))
  }

  test("nearestK upstream direction is strand-relative") {
    val l = gfs(("c", "+", 100, 110), ("c", "-", 100, 110))
    val r = gf(("c", 10, 20), ("c", 150, 160))
    val got = graft.ops.NearestK.nearestK(l, r, Seq(Chrom), 1,
        direction = "upstream", excludeOverlaps = true, distCol = "dist")
      .select(Strand, Start + "_b").collect()
      .map(x => (x.getString(0), x.getLong(1))).toMap
    assert(got("+") == 10L)   // upstream of "+" = genomic left
    assert(got("-") == 150L)  // upstream of "-" = genomic right
  }

  test("salted nearestK sweep equals plain across salt-bin boundaries") {
    // pseudo-random intervals spanning many 16384-position salt bins,
    // sparse rights so trailing-k state crosses bins regularly
    val lRows = (0 until 300).map { i =>
      val s = (i * 2654435761L) % 300000
      ("c" + (i % 2), s, s + 1 + (i * 31L) % 50)
    }
    val rRows = (0 until 40).map { i =>
      val s = (i * 40503L) % 300000
      ("c" + (i % 2), s, s + 1 + (i * 17L) % 30)
    }
    val l = gf(lRows: _*)
    val r = gf(rRows: _*)
    def canon(d: DataFrame) = d.select(RowId, RowId + "_b", "dist", "nearest_rank")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getInt(3))).toSet
    def nearest(k: Int, force: String) = {
      spark.conf.set(graft.core.Sizing.ForceKey, force)
      try canon(graft.ops.NearestK.nearestK(l, r, Seq(Chrom), k, distCol = "dist"))
      finally spark.conf.unset(graft.core.Sizing.ForceKey)
    }
    for (k <- Seq(1, 3))
      assert(nearest(k, "salted") == nearest(k, "plain"), s"k=$k")
  }

  // join_overlaps left/outer keep unmatched with nulls (reference
  // core/pyranges_main.py:1267-1288 doctest, NaN -> null deviation).
  test("joinOverlaps left keeps unmatched left rows with null right") {
    val l = gf(("c", 1, 5), ("c", 10, 12))
    val r = gf(("c", 4, 6))
    val j = BinaryOps.joinOverlaps(l, r, Seq(Chrom), joinType = "left")
    assert(j.count() == 2)
    assert(j.filter(col(Start + "_b").isNull).select(Start).collect()
      .head.getLong(0) == 10L)
  }

  test("joinOverlaps right/outer keep unmatched right rows with null left") {
    val l = gf(("c", 1, 5))
    val r = gf(("c", 4, 6), ("c", 50, 60), ("d", 1, 2))
      .withColumnRenamed(RowId, "rid2")
    val right = BinaryOps.joinOverlaps(l, r, Seq(Chrom), joinType = "right")
    assert(right.count() == 3)
    assert(right.filter(col(Start).isNull).count() == 2)
    val outer = BinaryOps.joinOverlaps(l, r, Seq(Chrom), joinType = "outer")
    assert(outer.count() == 3)  // 1 match + 2 right-only + 0 left-only
    val l2 = gf(("c", 1, 5), ("e", 7, 9))
    val outer2 = BinaryOps.joinOverlaps(l2, r, Seq(Chrom), joinType = "outer")
    assert(outer2.count() == 4)
    assert(outer2.filter(col(Start + "_b").isNull).select(Chrom).collect()
      .map(_.getString(0)).toSeq == Seq("e"))
  }

  test("joinOverlaps multiple=first picks smallest Start_b") {
    val l = gf(("c", 0, 100))
    val r = gf(("c", 50, 60), ("c", 10, 20), ("c", 70, 80))
    val j = BinaryOps.joinOverlaps(l, r, Seq(Chrom), multiple = "first")
    assert(j.count() == 1 && j.select(Start + "_b").collect().head.getLong(0) == 10L)
  }

  // RangeJoin binning: pairs must be unique even when intervals span
  // many bins (the greatest-start-bin dedup trick).
  test("rangeJoin emits each overlapping pair exactly once across bins") {
    val l = gf(("c", 0, 10000))           // spans many bins at binSize=64
    val r = gf(("c", 500, 9000), ("c", 9990, 20000))
    val p = RangeJoin.pairs(l, r, Seq(Chrom), binSize = 64)
    assert(p.count() == 2)
  }

  // reference skip_if_empty short-circuit (range_frame.py:35-43) — in
  // Spark, PropagateEmptyRelation; ops must stay well-defined on empties.
  test("operators are well-defined on empty inputs") {
    val empty = gf().limit(0)
    val some = gf(("c", 1, 5))
    assert(UnaryOps.merge(empty, Seq(Chrom)).count() == 0)
    assert(UnaryOps.split(empty, Seq(Chrom)).count() == 0)
    assert(UnaryOps.complement(empty, Seq(Chrom)).count() == 0)
    assert(BinaryOps.overlap(some, empty, Seq(Chrom)).count() == 0)
    assert(BinaryOps.overlap(some, empty, Seq(Chrom), invert = true).count() == 1)
    assert(BinaryOps.subtract(some, empty, Seq(Chrom)).count() == 1)
    assert(BinaryOps.countOverlaps(some, empty, Seq(Chrom), countCol = "n")
      .agg(sum("n")).head.getLong(0) == 0)
    assert(BinaryOps.nearest(some, empty, Seq(Chrom)).count() == 0)
    assert(graft.ops.NearestK.nearestK(some, empty, Seq(Chrom), 2).count() == 0)
    assert(UnaryOps.maxDisjoint(empty, Seq(Chrom)).count() == 0)
    assert(Coverage.toRle(empty, Seq(Chrom)).count() == 0)
  }

  test("IntervalSweepJoin.pairs equals binned RangeJoin.pairs incl. long intervals") {
    val lRows = (0 until 300).map { i =>
      val s = (i * 2654435761L) % 3000
      ("c" + (i % 2), s, s + 1 + (i * 97L) % 400)   // some very long
    }
    val rRows = (0 until 200).map { i =>
      val s = (i * 40503L) % 3000
      ("c" + (i % 2), s, s + 1 + (i * 31L) % 90)
    }
    val l = gf(lRows: _*)
    val r = gf(rRows: _*).withColumnRenamed(RowId, "rid2")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toList).toSet
    for (slack <- Seq(0L, 5L)) {
      val binned = canon(RangeJoin.pairs(l, r, Seq(Chrom), slack = slack, binSize = 64))
      val swept = canon(graft.join.IntervalSweepJoin.pairs(l, r, Seq(Chrom), slack = slack))
      assert(swept == binned)
    }
  }

  test("RangeJoin.autoPairs dispatches on sampled fan-out with equal results") {
    import spark.implicits._
    // short intervals (mean ~10): binned; long (mean ~500k at 64k bin
    // clamp -> fan-out ~8): sweep. Both must equal the fixed-bin join.
    def mk(n: Int, span: Long, lenBase: Long, seed: Long) =
      (0 until n).map { i =>
        val s = (i * seed) % span
        ("c" + (i % 2), s, s + lenBase + (i * 31L) % lenBase, i.toLong)
      }.toDF(Chrom, Start, End, RowId)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toList).toSet

    val lShort = mk(200, 4000, 10, 2654435761L)
    val rShort = mk(150, 4000, 8, 40503L).withColumnRenamed(RowId, "rid2")
    val gotShort = canon(RangeJoin.autoPairs(lShort, rShort, Seq(Chrom)))
    assert(RangeJoin.lastAutoPairs.get()._1 == "binned")
    assert(gotShort == canon(RangeJoin.pairs(lShort, rShort, Seq(Chrom), binSize = 64)))

    val lLong = mk(200, 40000000L, 400000L, 2654435761L)
    val rLong = mk(150, 40000000L, 400000L, 40503L).withColumnRenamed(RowId, "rid2")
    val gotLong = canon(RangeJoin.autoPairs(lLong, rLong, Seq(Chrom)))
    assert(RangeJoin.lastAutoPairs.get()._1.startsWith("sweep"))
    assert(gotLong == canon(RangeJoin.pairs(lLong, rLong, Seq(Chrom), binSize = 65536)))
    assert(gotLong.nonEmpty && gotShort.nonEmpty)

    // extreme estimated overlap depth demotes the sweep back to binned
    // (active buffers hold depth row copies; binned spills instead)
    spark.conf.set("spark.graft.join.sweepMaxDepth", "0")
    try {
      val demoted = canon(RangeJoin.autoPairs(lLong, rLong, Seq(Chrom)))
      assert(RangeJoin.lastAutoPairs.get()._1 == "binned")
      assert(demoted == gotLong)
    } finally spark.conf.unset("spark.graft.join.sweepMaxDepth")
  }

  test("ops-layer pairsDispatch: binned below the size gate, sampled auto above") {
    import spark.implicits._
    def mk(n: Int, seed: Long) = (0 until n).map { i =>
      val s = (i * seed) % 30000000L
      ("c" + (i % 2), s, s + 300000L + (i * 31L) % 600000L, i.toLong)
    }.toDF(Chrom, Start, End, RowId)
    val l = mk(250, 2654435761L)
    val r = mk(150, 40503L).withColumnRenamed(RowId, "rid2")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toList).toSet
    // default gate (32 MB): tiny local input stays on the plain binned
    // path — no sample job, lastAutoPairs untouched
    graft.join.RangeJoin.lastAutoPairs.set(null)
    val below = canon(graft.join.RangeJoin.pairsDispatch(l, r, Seq(Chrom),
      binSize = 16384))
    assert(graft.join.RangeJoin.lastAutoPairs.get() == null,
      "dispatch sampled below the gate")
    // gate lowered to 1 byte: the sampled auto choice fires (long
    // intervals -> sweep) with identical results
    spark.conf.set("spark.graft.join.autoThreshold", "1")
    try {
      val above = canon(graft.join.RangeJoin.pairsDispatch(l, r, Seq(Chrom),
        binSize = 16384))
      val choice = graft.join.RangeJoin.lastAutoPairs.get()
      assert(choice != null && choice._1.startsWith("sweep"), s"choice=$choice")
      assert(above == below)
      assert(below.nonEmpty)
      // the ops layer inherits the dispatch: joinOverlaps over the gate
      val j = graft.ops.BinaryOps.joinOverlaps(l, r, Seq(Chrom))
      assert(j.count() == below.size)
    } finally spark.conf.unset("spark.graft.join.autoThreshold")
  }

  test("sweep exists equals binned exists for semi/anti incl. nulls and slack") {
    import spark.implicits._
    val l = (Seq(
      (null.asInstanceOf[String], 5L, 40L, 0L),
      ("c0", 5L, 40L, 1L), ("c0", 5L, 40L, 1L), // duplicate
      ("c1", 100L, 140L, 3L)) ++
      (0 until 200).map { i =>
        val s = (i * 2654435761L) % 3000
        ("c" + (i % 2), s, s + 1 + (i * 97L) % 400, 10L + i)
      }).toDF(Chrom, Start, End, RowId)
    val r = (0 until 120).map { i =>
      val s = (i * 40503L) % 3000
      ("c" + (i % 2), s, s + 1 + (i * 31L) % 90, i.toLong)
    }.toDF(Chrom, Start, End, RowId)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(df.columns.sorted.map(col): _*) // exists may reorder columns
        .collect().map(_.toSeq.toList).groupBy(identity).view.mapValues(_.size).toMap
    for (anti <- Seq(false, true); slack <- Seq(0L, 5L)) {
      val binned = canon(RangeJoin.exists(l, r, Seq(Chrom), slack, 64,
        contained = false, anti = anti))
      val swept = canon(graft.join.IntervalSweepJoin.exists(
        l, r, Seq(Chrom), slack, anti = anti))
      assert(swept == binned, s"anti=$anti slack=$slack")
      assert(binned.nonEmpty)
    }
    // dispatch: gate at 1 byte + long intervals -> sweep-exists fires
    val lLong = (0 until 150).map { i =>
      val s = (i * 2654435761L) % 30000000L
      ("c" + (i % 2), s, s + 300000L + (i * 31L) % 600000L, i.toLong)
    }.toDF(Chrom, Start, End, RowId)
    val rLong = (0 until 100).map { i =>
      val s = (i * 40503L) % 30000000L
      ("c" + (i % 2), s, s + 300000L + (i * 31L) % 600000L, i.toLong)
    }.toDF(Chrom, Start, End, RowId)
    spark.conf.set("spark.graft.join.autoThreshold", "1")
    try {
      val got = canon(RangeJoin.existsDispatch(lLong, rLong, Seq(Chrom), anti = true))
      assert(RangeJoin.lastAutoPairs.get()._1 == "sweep-exists")
      assert(got == canon(RangeJoin.exists(lLong, rLong, Seq(Chrom), 0, 65536,
        contained = false, anti = true)))
    } finally spark.conf.unset("spark.graft.join.autoThreshold")
  }

  test("mega-binned (salted) sweep equals plain sweep and binned, incl. slack") {
    import spark.implicits._
    def mk(n: Int, seed: Long) = (0 until n).map { i =>
      val s = (i * seed) % 2000000L
      // mix of long and short interval lengths (binned comparison needs
      // End > Start — the hand-built binned path has no degenerate clamp)
      val len = 1L + (i * 31L) % 300000L
      ("c" + (i % 2), s, s + len, i.toLong)
    }.toDF(Chrom, Start, End, RowId)
    val l = mk(300, 2654435761L)
    val r = mk(200, 40503L).withColumnRenamed(RowId, "rid2")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toList).toSet
    for (slack <- Seq(0L, 1000L); mb <- Seq(65536L, 1 << 20)) {
      val salted = canon(graft.join.IntervalSweepJoin.pairs(
        l, r, Seq(Chrom), slack = slack, megaBin = Some(mb)))
      val plain = canon(graft.join.IntervalSweepJoin.pairs(
        l, r, Seq(Chrom), slack = slack))
      assert(salted == plain, s"slack=$slack mb=$mb salted != plain sweep")
      val binned = canon(RangeJoin.pairs(l, r, Seq(Chrom), slack = slack,
        binSize = 16384))
      assert(salted == binned, s"slack=$slack mb=$mb salted != binned")
      assert(salted.nonEmpty)
    }
  }

  // Coverage/RLE (reference core/pyranges_main.py:4344-4466 doctest).
  test("toRle computes depth runs incl. interior zeros") {
    val df = gf(("c", 1, 3), ("c", 2, 5), ("c", 7, 8))
    val got = Coverage.toRle(df, Seq(Chrom)).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == Set((1L, 2L, 1.0), (2L, 3L, 2.0), (3L, 5L, 1.0),
                      (5L, 7L, 0.0), (7L, 8L, 1.0)))
  }

  test("rleBinarySalted equals rleBinary across megabin boundaries") {
    val aRows = (0 until 300).map { i =>
      val s = (i * 2654435761L) % 1500
      ("c" + (i % 2), s, s + 1 + (i * 97L) % 250)
    }
    val bRows = (0 until 150).map { i =>
      val s = (i * 40503L) % 1500
      ("c" + (i % 2), s, s + 1 + (i * 31L) % 80)
    }
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val (a, b) = (gf(aRows: _*), gf(bRows: _*))
    val plain = canon(Coverage.rleBinary(a, b, Seq(Chrom)))
    for (bin <- Seq(1L, 7L, 128L, 1L << 20)) {
      val salted = canon(Coverage.rleRuns(
        Seq(a -> Seq(lit(1L), lit(0L)), b -> Seq(lit(0L), lit(1L))), Seq(Chrom),
        Seq("score_a", "score_b"), Some(bin)))
      assert(salted == plain, s"bin=$bin")
    }
  }

  test("toRleSalted equals toRle across megabin boundaries") {
    val rows = (0 until 400).map { i =>
      val s = (i * 2654435761L) % 2000
      ("c" + (i % 2), s, s + 1 + (i * 97L) % 300)
    }
    // an integer weight column (signed, zeros included) beside the
    // default weight 1: both sum as doubles
    val df = gf(rows: _*).withColumn("w", (col(RowId) % 5 - 1).cast("int"))
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    for ((valueCol, weight) <- Seq(None -> lit(1.0), Some("w") -> col("w").cast("double"))) {
      val plain = canon(Coverage.toRle(df, Seq(Chrom), valueCol))
      for (bin <- Seq(1L, 7L, 128L, 1L << 20))
        assert(canon(Coverage.rleRuns(Seq(df -> Seq(weight)), Seq(Chrom), Seq("Score"),
          Some(bin))) == plain, s"valueCol=$valueCol bin=$bin")
    }
  }

  test("custom expressions register for SQL and run under codegen") {
    import spark.implicits._
    graft.expr.Exprs.register(spark)
    Seq(("chr10", "ATGTAA")).toDF("c", "s").createOrReplaceTempView("_exprs_t")
    val r = spark.sql(
      "SELECT natsort_key(c) AS k, translate_cds(s) AS p FROM _exprs_t").head
    assert(r.getString(0) == "chr0000000010" && r.getString(1) == "M*")
    // null propagation through the native expressions
    val n = Seq((null: String, null: String)).toDF("c", "s")
      .select(graft.expr.Exprs.natsort_key(col("c")),
        graft.expr.Exprs.translate_cds(col("s"))).head
    assert(n.isNullAt(0) && n.isNullAt(1))
  }

  // natural sort (reference methods/sort.py:12-40).
  test("natsortKey orders chr2 before chr10") {
    import spark.implicits._
    val got = Seq("chr10", "chr2", "chrX", "chr1_alt", "chr1")
      .toDF("c").orderBy(graft.expr.NatSort.natsortKey(col("c")))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("chr1", "chr1_alt", "chr2", "chr10", "chrX"))
  }

  // ---- training-data ops ----
  test("exactGroups and dropExactDuplicates keep smallest id per key") {
    import spark.implicits._
    val df = Seq((5L, "aa"), (2L, "aa"), (9L, "bb"), (1L, "aa"))
      .toDF("doc_id", "text")
    val groups = graft.ml.Dedup.exactGroups(df, md5(col("text")), "doc_id")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(groups == Set((1L, 3L), (9L, 1L)))
    val kept = graft.ml.Dedup.dropExactDuplicates(df, md5(col("text")), "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 9L))
  }

  test("simhash60: identical text same hash; different text different") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox jumps"), (2L, "the quick brown fox jumps"),
                 (3L, "completely unrelated words entirely")).toDF("doc_id", "text")
    val got = Dedup.simhash60(df).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(1L) == got(2L) && got(1L) != got(3L))
  }

  test("simhashNearDupPairs equals brute-force all-pairs under the bound") {
    // pigeonhole-banding completeness on real text at several bounds
    // (bands stays 4, so 3 is the max guaranteed bound; also checks the
    // guard rejects an unsound configuration)
    val docs = Tables.pq(spark, "/root/testdata/sf0.001", "documents")
    val fps = Dedup.simhash60(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    for (t <- Seq(0, 3)) {
      val brute = (for {
        (a, fa) <- fps; (b, fb) <- fps if a < b
        h = java.lang.Long.bitCount(fa ^ fb) if h <= t
      } yield (a, b, h.toLong)).toSet
      val banded = Dedup.simhashNearDupPairs(docs, maxHamming = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(banded == brute, s"t=$t: ${banded.size} vs ${brute.size}")
      // force the hot-bucket path on every bucket (maxBucket=2): the
      // recursive sub-banding must still be exact, not approximate
      val hot = Dedup.simhashNearDupPairs(docs, maxHamming = t, maxBucket = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(hot == brute, s"hot-path t=$t: ${hot.size} vs ${brute.size}")
    }
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairs(docs, maxHamming = 4, bands = 4)
    }
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairs(docs, maxHamming = 3, bands = 61)
    }
  }

  test("simhash re-band recursion splits buckets that agree on chunk AND sub-chunk") {
    import spark.implicits._
    // Adversarial population for the one-level re-band: every
    // fingerprint is zero in bits 0-44 (so chunks 0-2 collide AND,
    // under zero-masking instead of compaction, every aligned
    // sub-chunk collides too — the round-9 blind spot where the
    // "split" re-collected the whole bucket). The compacted recursion
    // must keep descending until the differing top bits enter a key
    // chunk, terminate, and still equal brute force exactly.
    val fps = (1L to 6L).map(k => (k, k << 55))
    val brute = (for {
      (a, fa) <- fps; (b, fb) <- fps if a < b
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(brute.size == 15) // all pairs: xor of 1..6 has <= 3 bits
    val fpDf = fps.toDF("doc_id", "simhash").localCheckpoint()
    val got = graft.ml.Dedup
      .simhashPairsFromFp(fpDf, maxHamming = 3, bands = 4, idCol = "doc_id",
        maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute, s"${got.size} vs ${brute.size}")
    // same population at a bound that excludes some pairs: hamming
    // verify still trims the deep-bucket candidates exactly
    val brute1 = brute.filter(_._3 <= 1L)
    val got1 = graft.ml.Dedup
      .simhashPairsFromFp(fpDf, maxHamming = 1, bands = 4, idCol = "doc_id",
        maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got1 == brute1, s"${got1.size} vs ${brute1.size}")
  }

  test("duplicateClusters strategy=buckets agrees with pairs on planted near-dups") {
    import spark.implicits._
    // three planted clusters of mutated copies + unique docs: the
    // bucket-star graph must produce the same components as the exact
    // all-pairs graph here (every member shares its cluster's dominant
    // band min, so every star edge verifies)
    // 20 tokens -> 18 3-gram shingles; one mutated token kills 3, so
    // copy-vs-copy jaccard ~ 15/21 = 71%, comfortably above 50%
    val base = Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon",
      "one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty",
      "red orange yellow green blue indigo violet purple pink black white gray brown maroon teal navy olive lime aqua coral")
    val docs = (base.zipWithIndex.flatMap { case (t, c) =>
      (0 to 4).map { i =>
        val toks = t.split(" ")
        // mutate ONE token per copy (distinct positions), keeping
        // 3-gram jaccard far above 50%
        toks(7) = if (i == 0) toks(7) else s"mut${c}_$i"
        (c * 100L + i, toks.mkString(" "))
      }
    } ++ Seq((900L, "completely different words entirely unrelated content here now"),
             (901L, "another standalone document nothing shared with any cluster at all")))
      .toDF("doc_id", "text")
    def comps(strategy: String) =
      graft.ml.Dedup.duplicateClusters(docs, strategy = strategy)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaPairs = comps("pairs")
    val viaBuckets = comps("buckets")
    assert(viaPairs == viaBuckets, s"$viaPairs vs $viaBuckets")
    // exactly the 15 planted members cluster, keeper = cluster min
    assert(viaPairs.size == 15 && (0 to 2).forall(c =>
      (0 to 4).forall(i => viaPairs(c * 100L + i) == c * 100L)))
    intercept[IllegalArgumentException] {
      graft.ml.Dedup.duplicateClusters(docs, strategy = "nope")
    }
  }

  test("bucket-star second chance links members whose only shared bucket has a dissimilar minimum") {
    import spark.implicits._
    // The scenario the second chance exists for: a bucket {x, a, b}
    // whose minimum x is NOT a near-dup of anyone, while a and b are
    // near-dups of each other and share no other bucket. Round 1 tries
    // only (x,a) and (x,b) — both fail — so without the second chance
    // a and b are silently dropped; with it, b re-pairs against the
    // bucket's second minimum a and the verified edge restores the
    // pairs-mode cluster. The fixture is ENGINEERED deterministically:
    // a shared 3-gram with a tiny band-1 hash forces the co-bucket,
    // and a seed search makes the bands-2..4 minima of a and b differ
    // so band 1 is their only meeting point.
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    }
    def shingles(toks: Seq[String]): Seq[String] =
      toks.sliding(3).map(_.mkString(" ")).toSeq.distinct
    def hk(k: Int, shs: Seq[String]): String =
      shs.map(s => md5hex(k.toString + s)).min
    val anchorTok = (0 until 500000).iterator.map(i => s"z$i")
      .find(t => md5hex("1" + s"$t aa bb").startsWith("0000")).get
    val anchorHash = md5hex("1" + s"$anchorTok aa bb")
    val a3 = Seq(anchorTok, "aa", "bb")
    val shared = (1 to 11).map(i => s"s$i")
    val xToks = a3 ++ (1 to 16).map(i => s"u$i")
    val sx = shingles(xToks)
    val Some((aToks, bToks)) = (1 to 2000).iterator.map { seed =>
      (a3 ++ shared ++ (1 to 5).map(i => s"p${seed}_$i"),
        a3 ++ shared ++ (1 to 5).map(i => s"q${seed}_$i"))
    }.find { case (at, bt) =>
      val (sa, sb) = (shingles(at), shingles(bt))
      // band 1: the engineered anchor shingle is the minimum in all
      // three docs; bands 2-4: a and b never agree
      Seq(sa, sb, sx).forall(s => hk(1, s) == anchorHash) &&
        (2 to 4).forall(k => hk(k, sa) != hk(k, sb))
    }
    val (sa, sb) = (shingles(aToks), shingles(bToks))
    def jacPct(p: Seq[String], q: Seq[String]): Long =
      p.toSet.intersect(q.toSet).size * 100L / p.toSet.union(q.toSet).size
    assert(jacPct(sa, sb) >= 50, "fixture: a/b must verify")
    assert(jacPct(sx, sa) < 50 && jacPct(sx, sb) < 50,
      "fixture: x must fail the verify against both")
    val docs = Seq((1L, xToks.mkString(" ")), (2L, aToks.mkString(" ")),
      (3L, bToks.mkString(" "))).toDF("doc_id", "text")
    // engine sanity: the engine's band hashes agree with the fixture math
    val sig = Dedup.minhashSignature(docs).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(k => r.getString(k))).toMap
    assert(sig.values.map(_.head).toSet.size == 1, "band-1 co-bucket")
    assert((1 to 3).forall(k => sig(2L)(k) != sig(3L)(k)), "bands 2-4 split a/b")
    def clusters(sc: Boolean) = graft.ml.Dedup
      .duplicateClusters(docs, strategy = "buckets", secondChance = sc)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(clusters(sc = false).isEmpty,
      "round 1 alone must drop the a/b cluster (the gap being closed)")
    val got = clusters(sc = true)
    assert(got == Map(2L -> 2L, 3L -> 2L), s"second chance must restore it: $got")
    // and the restored clustering equals the exact pairs-mode answer
    val viaPairs = graft.ml.Dedup.duplicateClusters(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == viaPairs)
  }

  test("bucket-edge verify: array mode and legacy string mode emit identical edges") {
    import spark.implicits._
    // clusters of near-identical docs (one mutated token each) plus
    // unique noise: enough verified edges and enough FAILED candidates
    // that both verify-join spellings are exercised on both outcomes
    val docs = (0L until 90L).map { i =>
      val c = i / 6
      val toks = (0 until 20).map { p =>
        if (p == (i % 6) + 3) s"m${i}_$p"
        else if (i % 6 >= 4) s"w${c}x$p"   // 2 of 6: different cluster text
        else s"w${c}_$p"
      }
      (i, toks.mkString(" "))
    }.toDF("doc_id", "text")
    def edges(key: String): Set[(Long, Long)] = {
      spark.conf.set("spark.graft.dedup.verifyKey", key)
      try graft.ml.Dedup.nearDuplicateBucketEdges(docs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      finally spark.conf.unset("spark.graft.dedup.verifyKey")
    }
    val viaArray = edges("array")
    val viaString = edges("string")
    assert(viaArray.nonEmpty, "fixture must produce verified edges")
    assert(viaArray == viaString,
      s"array-vs-string mismatch: only-array=${viaArray -- viaString} " +
        s"only-string=${viaString -- viaArray}")
  }

  test("nearDuplicatePairs: array and string verify modes are bit-identical, " +
       "including the minJaccardPct=0 bandSize>1 zero-intersection contract") {
    import spark.implicits._
    val docs = (0L until 60L).map { i =>
      val c = i / 6
      val toks = (0 until 20).map { p =>
        if (p == (i % 6) + 3) s"m${i}_$p"
        else if (i % 6 >= 4) s"w${c}x$p"
        else s"w${c}_$p"
      }
      (i, toks.mkString(" "))
    }.toDF("doc_id", "text")
    def pairs(key: String, minPct: Int, bandSz: Int): Set[(Long, Long, Long, Long)] = {
      spark.conf.set("spark.graft.dedup.verifyKey", key)
      try Dedup.nearDuplicatePairs(docs, numHashes = 4, bandSize = bandSz,
          minJaccardPct = minPct)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      finally spark.conf.unset("spark.graft.dedup.verifyKey")
    }
    for ((minPct, bandSz) <- Seq((50, 1), (0, 2))) {
      val a = pairs("array", minPct, bandSz)
      val s = pairs("string", minPct, bandSz)
      assert(a.nonEmpty, s"fixture must produce pairs at pct=$minPct band=$bandSz")
      assert(a == s, s"pct=$minPct band=$bandSz: only-array=${a -- s} only-string=${s -- a}")
    }
  }

  test("pairJaccard: array and string modes agree, zero-intersection candidates " +
       "surface as n_intersect=0 and shingle-less docs drop, in both") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "alpha beta gamma delta epsilon zeta theta"),
      (3L, "one two three four five six seven"),
      (4L, "too short")                                   // < shingleK words: no shingles
    ).toDF("doc_id", "text")
    val cands = Seq((1L, 2L), (1L, 3L), (2L, 4L)).toDF("a", "b")
    def jac(key: String): Set[(Long, Long, Long, Long)] = {
      spark.conf.set("spark.graft.dedup.verifyKey", key)
      try Dedup.pairJaccard(docs, cands)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      finally spark.conf.unset("spark.graft.dedup.verifyKey")
    }
    val a = jac("array")
    val s = jac("string")
    assert(a == s, s"only-array=${a -- s} only-string=${s -- a}")
    assert(a.exists(t => t._1 == 1L && t._2 == 3L && t._3 == 0L),
      "the disjoint (1,3) candidate must surface with n_intersect=0")
    assert(!a.exists(t => t._2 == 4L), "the shingle-less doc's candidate must drop")
  }

  test("pairJaccard: candidate-id semi-prefilter is invisible — results " +
       "keyed only by the candidates' docs, absent ids drop, untouched " +
       "corpus rows change nothing (round-17 serve-path prefilter)") {
    import spark.implicits._
    // 6-doc corpus, candidates touch only docs 1-3; doc 99 is absent
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "alpha beta gamma delta epsilon zeta theta"),
      (3L, "one two three four five six seven"),
      (4L, "untouched filler document words here now"),
      (5L, "another untouched corpus row with text"),
      (6L, "yet more corpus ballast never referenced")
    ).toDF("doc_id", "text")
    val cands = Seq((1L, 2L), (1L, 3L), (2L, 99L)).toDF("a", "b")
    def run(d: org.apache.spark.sql.DataFrame, key: String) = {
      spark.conf.set("spark.graft.dedup.verifyKey", key)
      try Dedup.pairJaccard(d, cands).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      finally spark.conf.unset("spark.graft.dedup.verifyKey")
    }
    for (key <- Seq("array", "string")) {
      val full = run(docs, key)
      // the corpus minus the never-referenced rows yields the SAME
      // verdicts: the prefilter must make untouched rows structurally
      // irrelevant, not just usually-unread
      val trimmed = run(docs.filter(col("doc_id") <= 3), key)
      assert(full == trimmed, s"[$key] full=$full trimmed=$trimmed")
      // candidate with an id absent from the corpus drops (inner joins
      // on the candidate ids — unchanged by the prefilter)
      assert(!full.exists(t => t._2 == 99L), s"[$key] absent-id candidate must drop")
      assert(full.map(t => (t._1, t._2)) == Set((1L, 2L), (1L, 3L)), s"[$key] $full")
    }
  }

  test("simhashNearDupPairs: templated corpus (collapsed fingerprints) stays linear") {
    import spark.implicits._
    // 600 identical docs -> ONE distinct fingerprint: the banded
    // self-join sees one row per bucket instead of 600 (the round-8
    // quadratic detonation shape); the intra-class join emits exactly
    // the true C(600,2) identical pairs plus nothing else.
    val templated = (1L to 600L).map(i => (i, "lorem ipsum dolor sit amet template"))
    val extra = Seq((1001L, "completely different content here entirely"),
                    (1002L, "another unrelated document with other words"))
    val docs = (templated ++ extra).toDF("doc_id", "text")
    val got = Dedup.simhashNearDupPairs(docs, maxHamming = 3)
    val intraCount = got.filter(col("hamming") === 0).count()
    assert(intraCount == 600L * 599L / 2,
      s"expected C(600,2) intra-class pairs, got $intraCount")
    // all intra pairs stay inside the templated id range
    assert(got.filter(col("hamming") === 0 && col("b") > 1000L).count() == 0)
  }

  test("MinHashAgg aggregate matches the expression-based signature") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
                   (2L, "one two three four five six seven")).toDF("doc_id", "text")
    val viaExpr = Dedup.minhashSignature(docs, "text", "doc_id", 4, 3)
      .select("doc_id", "h1", "h2", "h3", "h4").collect()
      .map(r => r.getLong(0) -> Seq(r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
      .toMap
    val viaAgg = docs
      .select(col("doc_id"), explode(graft.ml.TextOps.wordShingles(col("text"), 3)).as("sh"))
      .groupBy("doc_id")
      .agg(graft.ml.MinHashAgg.minhash(col("sh"), 4).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    assert(viaAgg == viaExpr)
  }

  test("minhash LSH finds planted near-duplicates") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val df = Seq((1L, base), (2L, base + " lambda"),
                 (3L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val pairs = Dedup.nearDuplicatePairs(df, numHashes = 4, bandSize = 1,
      shingleK = 3, minJaccardPct = 50).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("composable LSH blocks reproduce the fused nearDuplicatePairs result") {
    // minhashSignature -> lshCandidatePairs -> pairJaccard is the
    // user-composable spelling of nearDuplicatePairs; same inputs must
    // yield the same (a, b, n_intersect, n_union) rows
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val df = Seq((1L, base), (2L, base + " lambda"), (3L, base + " mu nu"),
                 (4L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val sig = Dedup.minhashSignature(df, "text", "doc_id", 4, 3)
    val cand = Dedup.lshCandidatePairs(sig, "doc_id", 4, 1)
    val composed = Dedup.pairJaccard(df, cand, "text", "doc_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val fused = Dedup.nearDuplicatePairs(df, numHashes = 4, bandSize = 1,
        shingleK = 3, minJaccardPct = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(composed == fused && composed.nonEmpty)
  }

  test("merge and cluster preserve narrow integer position dtypes") {
    // reference tests/unit/test_ruranges_dtypes.py:33-44: core ops must
    // not silently widen the position dtype the caller stored (int32
    // parquet files are the common genomics case; widening doubles the
    // shuffle width of every downstream op)
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType, ShortType}
    for (t <- Seq(ShortType, IntegerType)) {
      val df = Seq(("chr1", 1L, 10L), ("chr1", 5L, 8L), ("chr1", 20L, 25L),
                   ("chr1", 21L, 30L))
        .toDF(Chrom, Start, End)
        .withColumn(Start, col(Start).cast(t))
        .withColumn(End, col(End).cast(t))
      val merged = UnaryOps.merge(df, Seq(Chrom))
      val clustered = UnaryOps.cluster(df, Seq(Chrom), 0, "Cluster")
      for (out <- Seq(merged, clustered); c <- Seq(Start, End)) {
        assert(out.schema(c).dataType == t,
          s"$c widened to ${out.schema(c).dataType} (wanted $t)")
      }
      assert(merged.select(Start, End).collect()
        .map(r => (r.get(0).toString.toLong, r.get(1).toString.toLong)).toSet
        == Set((1L, 10L), (20L, 30L)))
    }
  }

  test("connectedComponents labels every node with its component minimum") {
    import spark.implicits._
    // two multi-edge components, one isolated pair, a self-loop, a null
    val pairs = Seq((5L, 3L), (3L, 7L), (9L, 7L), (20L, 21L), (40L, 40L),
                    (50L, 60L), (60L, 55L), (55L, 50L))
      .toDF("a", "b")
      .union(Seq((null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(99L)))
        .toDF("a", "b"))
    val got = graft.ml.Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(3L -> 3L, 5L -> 3L, 7L -> 3L, 9L -> 3L,
      20L -> 20L, 21L -> 20L, 50L -> 50L, 55L -> 50L, 60L -> 50L))
  }

  test("connectedComponents equals local union-find on random graphs and long chains") {
    import spark.implicits._
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    // a 64-node path graph forces many propagation rounds without
    // pointer jumping — the log-round bound is what keeps maxIter safe
    val chain = (0L until 63L).map(i => (i + 1, i))
    val rng = new scala.util.Random(42)
    val random = Seq.fill(300)((rng.nextInt(80).toLong, rng.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
    for (edges <- Seq(chain, random)) {
      val got = graft.ml.Dedup.connectedComponents(edges.toDF("a", "b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == unionFind(edges), s"mismatch on ${edges.take(5)}...")
    }
  }

  test("bm25TopTerms ranks rare terms above stop-words and respects topN") {
    import spark.implicits._
    val df = Seq(
      (1L, "the the the zebra the the"),
      (2L, "the cat sat on the mat"),
      (3L, "the dog sat on the rug")).toDF("doc_id", "text")
    val got = graft.ml.Ranking.bm25TopTerms(df, "text", "doc_id", topN = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(5)))
    assert(got.count(_._1 == 1L) == 2)
    // zebra appears in one doc only -> highest idf -> rank 1 for doc 1
    assert(got.contains((1L, "zebra", 1L)))
    // 'the' appears in every doc -> idf ln(1 + 0.5/3.5) is the smallest;
    // it must not outrank doc 2/3's distinctive words
    assert(got.filter(t => t._1 == 2L && t._3 == 1L).head._2 != "the")
  }

  test("bm25TopTerms returns an empty typed frame for an empty corpus") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = graft.ml.Ranking.bm25TopTerms(empty, "text", "doc_id", 3)
    assert(out.columns.toSeq ==
      Seq("doc_id", "term", "tf", "df", "score_x1m", "rnk"))
    assert(out.count() == 0)
  }

  test("stratifiedSampleByHash keeps small strata whole and is deterministic") {
    import spark.implicits._
    val df = (1L to 400L).map(i => (i, if (i <= 10) "small" else "big"))
      .toDF("doc_id", "lang")
    val got = graft.ml.Sampling
      .stratifiedSampleByHash(df, "lang", "doc_id", 50L)
      .collect().map(r => (r.getLong(1), r.getString(0)))
    assert(got.count(_._2 == "small") == 10)     // under target: all kept
    val big = got.count(_._2 == "big")
    assert(big > 20 && big < 90, s"big stratum kept $big of 390 for target 50")
    val again = graft.ml.Sampling
      .stratifiedSampleByHash(df.repartition(7), "lang", "doc_id", 50L)
      .collect().map(r => (r.getLong(1), r.getString(0)))
    assert(got.toSet == again.toSet)             // partitioning-independent
  }

  test("temperatureSampleSqrt flattens toward sqrt weights and keeps tiny strata whole") {
    import spark.implicits._
    // 900 big + 9 small: raw shares 100:1, sqrt weights 30:3 = 10:1
    val df = ((1L to 900L).map((_, "big")) ++ (901L to 909L).map((_, "small")))
      .toDF("doc_id", "lang")
    val got = graft.ml.Sampling
      .temperatureSampleSqrt(df, "lang", "doc_id", 100L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // small's target = 100*3/33 = 9.09 > 9 rows -> threshold caps, all kept
    assert(got.count(_._2 == "small") == 9)
    val big = got.count(_._2 == "big")
    // big's target = 100*30/33 = 90.9 of 900 -> binomial around 91
    assert(big > 55 && big < 130, s"big stratum kept $big of 900 for target ~91")
    // deterministic across partitioning
    val again = graft.ml.Sampling
      .temperatureSampleSqrt(df.repartition(5), "lang", "doc_id", 100L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSet == again.toSet)
    // NULL strata are excluded from census AND output: adding null-lang
    // rows must not change the real strata's thresholds (they used to
    // inflate Z and deflate every other stratum's share)
    val withNulls = df.union(
      (1000L to 1400L).map(i => (i, null: String)).toDF("doc_id", "lang"))
    val gotN = graft.ml.Sampling
      .temperatureSampleSqrt(withNulls, "lang", "doc_id", 100L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(gotN.toSet == got.toSet)
  }

  test("mixByEpochs: whole copies exact, fractional draw bounded, absent strata dropped") {
    import spark.implicits._
    val df = ((1L to 200L).map((_, "a")) ++ (201L to 400L).map((_, "b")) ++
      (401L to 500L).map((_, "c"))).toDF("doc_id", "lang")
    // a: 2.5 epochs -> each doc 2 or 3 copies; b: 0.4 -> 0 or 1;
    // c absent from the recipe -> dropped entirely
    val got = graft.ml.Sampling
      .mixByEpochs(df, Map("a" -> 250, "b" -> 40), stratumCol = "lang")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(!got.exists(_._2 == "c"))
    val perDoc = got.groupBy(_._1).view.mapValues(_.map(_._3).sorted.toSeq).toMap
    // every 'a' doc appears, rep is contiguous 1..nc with nc in {2, 3}
    (1L to 200L).foreach { id =>
      val reps = perDoc(id)
      assert(reps == (1L to reps.size).toSeq && (reps.size == 2 || reps.size == 3),
        s"doc $id reps $reps")
    }
    val aCopies = got.count(_._2 == "a")
    assert(aCopies > 430 && aCopies < 570, s"a emitted $aCopies, expected ~500")
    val bCopies = got.count(_._2 == "b")
    assert(got.filter(_._2 == "b").forall(_._3 == 1L))
    assert(bCopies > 40 && bCopies < 125, s"b emitted $bCopies, expected ~80")
    // deterministic across partitioning
    val again = graft.ml.Sampling
      .mixByEpochs(df.repartition(7), Map("a" -> 250, "b" -> 40), stratumCol = "lang")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSet == again.toSet && got.length == again.length)
  }

  test("packSequences greedy first-fit: budget breaks, oversized rows, stratum resets") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, 60L), ("a", 2L, 50L), ("a", 3L, 20L),  // 60+50 fit, 20 spills
      ("a", 4L, 200L),                                  // oversized: own bin
      ("a", 5L, 10L),
      ("b", 6L, 30L)).toDF("lang", "doc_id", "nt")
    val got = graft.ml.Sampling
      .packSequences(df, "lang", "doc_id", "nt", 128L)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(3), r.getLong(4)))
      .toMap
    assert(got(("a", 1L)) == (0L, 0L) && got(("a", 2L)) == (0L, 1L))
    assert(got(("a", 3L)) == (1L, 0L))
    assert(got(("a", 4L)) == (2L, 0L))
    assert(got(("a", 5L)) == (3L, 0L))
    assert(got(("b", 6L)) == (0L, 0L))               // new stratum restarts
  }

  test("freqClassStats scores grams by exact floor(log2(global count))") {
    import spark.implicits._
    // 'a b' occurs 4x globally (class 2), 'b c' 2x (class 1), 'x y' 1x (class 0)
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "a b a b"), (4L, "x y"))
      .toDF("doc_id", "text")
    val got = graft.ml.TextOps.freqClassStats(df, "text", "doc_id", 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == (2L, 3L, 1L))   // 'a b'(2) + 'b c'(1)
    assert(got(3L) == (3L, 4L, 0L))   // 'a b'(2) + 'b a'(0) + 'a b'(2)
    assert(got(4L) == (1L, 0L, 0L))   // singleton gram -> class 0
  }

  test("crossContamination finds planted leaks and drops df-capped shingles") {
    import spark.implicits._
    val leak = "alpha beta gamma delta epsilon"
    val stop = "common one two"
    val train = Seq((1L, s"$leak and more words here"), (2L, s"unrelated text entirely $stop"))
      .toDF("doc_id", "text")
    val eval_ = Seq((10L, s"prefix $leak suffix"), (11L, s"nothing shared at all $stop"))
      .toDF("doc_id", "text")
    val got = graft.ml.Dedup
      .crossContamination(train, eval_, "text", "doc_id", 3, 2, 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // 'alpha beta gamma', 'beta gamma delta', 'gamma delta epsilon' = 3 shared
    assert(got == Set((1L, 10L, 3L), (2L, 11L, 1L)).filter(_._3 >= 2))
    // with the df cap at 1 every shingle of the planted leak (df=2) drops
    val capped = graft.ml.Dedup
      .crossContamination(train, eval_, "text", "doc_id", 3, 1, 1)
      .collect()
    assert(capped.isEmpty)
    // the Bloom pre-filter changes shuffled volume, never results —
    // equal on real data across thresholds
    val docs = Tables.pq(spark, "/root/testdata/sf0.001", "documents")
    val tr = docs.where(col("doc_id") % 3 === 0)
    val ev = docs.where(col("doc_id") % 3 =!= 0)
    for ((ms, cap) <- Seq((1, 1000), (2, 50))) {
      val plain = graft.ml.Dedup
        .crossContamination(tr, ev, "text", "doc_id", 3, ms, cap)
        .collect().map(_.toSeq).toSet
      val bloom = graft.ml.Dedup
        .crossContamination(tr, ev, "text", "doc_id", 3, ms, cap,
          bloomPrefilter = true)
        .collect().map(_.toSeq).toSet
      assert(bloom == plain && plain.nonEmpty, s"ms=$ms cap=$cap")
    }
  }

  test("bruteForceTopK returns k ranked neighbors; lshTopK subset agrees on buckets") {
    import spark.implicits._
    val df = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
                 (3L, Array(-1.0f, 0.0f)), (4L, Array(0.95f, 0.05f)))
      .toDF("vec_id", "embedding")
    val knn = Similarity.bruteForceTopK(df, 1)
    val best = knn.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(best(1L) == 4L || best(1L) == 2L)
    assert(best(3L) == 2L || best(3L) == 1L || best(3L) == 4L)
    assert(knn.count() == 4)
  }

  test("translateCds: standard code, stops, partial codon -> X, unknown=X") {
    import spark.implicits._
    // trailing partial -> 'X' per reference ext/seqs.py:161 ("Incomplete
    // codons at the end ... result in the unknown character")
    val got = Seq("ATGGCCTAA", "atggcc", "ATGNNNTGA", "AUGGCC", "ATGGC")
      .toDF("s").select(graft.ext.Seqs.translateCds(col("s")))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("MA*", "MA", "MX*", "MA", "MX"))
  }

  test("translate doctests: NCBI tables, +U selenocysteine, gaps, custom code") {
    import spark.implicits._
    val df = Seq("ATGAAATTTGGGTGA").toDF("s")
    def one(c: org.apache.spark.sql.Column): String =
      df.select(c).head.getString(0)
    // reference ext/seqs.py:201-215 doctest values
    assert(one(graft.ext.Seqs.translate(col("s"))) == "MKFG*")
    assert(one(graft.ext.Seqs.translate(col("s"), "2")) == "MKFGW")
    assert(one(graft.ext.Seqs.translate(col("s"), "1+U")) == "MKFGU")
    assert(Seq("ATGTTGCTGAA").toDF("s")
      .select(graft.ext.Seqs.translate(col("s"))).head.getString(0) == "MLLX")
    assert(Seq("ATG---TAA").toDF("s")
      .select(graft.ext.Seqs.translate(col("s"))).head.getString(0) == "M-*")
    // custom dict (reference :211-214): A-initial codons -> A, else Q
    val custom = (for {
      b1 <- "TCAG"; b2 <- "TCAG"; b3 <- "TCAG"
    } yield s"$b1$b2$b3" -> (if (b1 == 'A') "A" else "Q")).toMap
    assert(one(graft.ext.Seqs.translateCustom(col("s"), custom)) == "AAQQQ")
  }

  test("reverseComplement preserves case and handles RNA") {
    import spark.implicits._
    val got = Seq("ACGTacgt", "AUGC").toDF("s")
      .select(graft.ext.Seqs.reverseComplement(col("s")))
      .collect().map(_.getString(0)).toSeq
    // revcomp(AUGC): complement A→T, U→A, G→C, C→G then reverse = GCAT
    assert(got == Seq("acgtACGT", "GCAT"))
  }

  test("fisherExactGreater matches known 2x2 values") {
    import spark.implicits._
    val got = Seq((1L, 9L, 11L, 3L), (9L, 1L, 3L, 11L))
      .toDF("a", "b", "c", "d")
      .select(graft.ext.Stats.fisherExactGreater(col("a"), col("b"), col("c"), col("d")))
      .collect().map(_.getDouble(0))
    // classic tea-tasting-style table: P[X>=1] ~ 0.9999; P[X>=9] ~ 0.00135
    assert(got(0) > 0.999)
    assert(math.abs(got(1) - 0.001346) < 1e-4)
  }

  test("fisherExact less / two-sided match exact hand-computed values") {
    import spark.implicits._
    // [[3,1],[1,3]]: greater = 17/70, less = 69/70, two-sided = 34/70
    val r = Seq((3L, 1L, 1L, 3L)).toDF("a", "b", "c", "d")
      .select(
        graft.ext.Stats.fisherExactGreater(col("a"), col("b"), col("c"), col("d")),
        graft.ext.Stats.fisherExactLess(col("a"), col("b"), col("c"), col("d")),
        graft.ext.Stats.fisherExactTwoSided(col("a"), col("b"), col("c"), col("d")))
      .head
    assert(math.abs(r.getDouble(0) - 17.0 / 70) < 1e-9)
    assert(math.abs(r.getDouble(1) - 69.0 / 70) < 1e-9)
    assert(math.abs(r.getDouble(2) - 34.0 / 70) < 1e-9)
  }

  test("ivfTopK recalls the brute-force best neighbor on clustered data") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val exact = graft.ml.Similarity.bruteForceTopK(emb, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approx = graft.ml.Similarity.ivfTopK(emb, 1, nCentroids = 8, nProbe = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = exact.count { case (id, nb) => approx.get(id).contains(nb) }
    // labeled clusters in the synthetic embeddings => IVF recall is high
    assert(hits.toDouble / exact.size > 0.8, s"recall ${hits.toDouble / exact.size}")
  }

  test("cosineNearDupPairs exact equals LSH superset-filtered and thresholds correctly") {
    import spark.implicits._
    val df = Seq((1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(0.99f, 0.01f, 0.0f)),
                 (3L, Array(0.0f, 1.0f, 0.0f)), (4L, Array(-1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val exact = graft.ml.Similarity.cosineNearDupPairs(df, minDot = 900000, exact = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((1L, 2L)))
    val lsh = graft.ml.Similarity.cosineNearDupPairs(df, minDot = 900000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))  // LSH may miss, never invents
  }

  test("nearestCentroid normalizes by count, ties break to smaller label") {
    import spark.implicits._
    // label 3 has the LARGEST sum-centroid on axis x (3 x 0.7) but a
    // smaller MEAN than label 0 — [1,0] must stay with 0, which fails if
    // the implementation skips the /n normalization. The [0.5,0.5] rows
    // score 5e5 against labels 0, 1, 5 AND 6 (exact four-way rational
    // tie) — the smaller-label rule must send both to 0.
    // the Option rows are all dropped by the null/empty hardening: null
    // label, null vector, empty vector — none may surface in the matrix
    // (label 9 exists ONLY in degenerate rows and must vanish entirely)
    val df = Seq(
      (Option(0), Option(Array(1.0f, 0.0f))), (Option(0), Option(Array(1.0f, 0.0f))),
      (Option(1), Option(Array(0.0f, 1.0f))), (Option(1), Option(Array(0.0f, 1.0f))),
      (Option(3), Option(Array(0.7f, 0.0f))), (Option(3), Option(Array(0.7f, 0.0f))),
      (Option(3), Option(Array(0.7f, 0.0f))),
      (Option(5), Option(Array(0.5f, 0.5f))), (Option(6), Option(Array(0.5f, 0.5f))),
      (Option.empty[Int], Option(Array(9.0f, 9.0f))),
      (Option(9), Option.empty[Array[Float]]),
      (Option(9), Option(Array.empty[Float])))
      .toDF("label", "embedding")
    val got = graft.ml.Similarity.nearestCentroid(df)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((0L, 0L) -> 2L, (1L, 1L) -> 2L, (3L, 0L) -> 3L,
      (5L, 0L) -> 1L, (6L, 0L) -> 1L), s"got $got")
  }

  test("lshBucketFixed (literal plane matrix) equals md5-expression lshBucket") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val both = emb.select(
      graft.ml.Similarity.lshBucket(col("embedding"), 8).as("a"),
      graft.ml.Similarity.lshBucketFixed(col("embedding"), 8, 64).as("b"))
    assert(both.filter(col("a") =!= col("b")).count() == 0)
  }

  test("sortRanges rankCol materializes natural-order positions") {
    import spark.implicits._
    val df = Seq(("chr10", "+", 5L, 9L), ("chr2", "+", 1L, 3L),
                 ("chr2", "-", 1L, 3L), ("chr2", "-", 4L, 8L))
      .toDF(Cols.Chrom, Cols.Strand, Cols.Start, Cols.End)
    val got = UnaryOps.sortRanges(df, Nil, useStrand = true, natsort = true,
        rankCol = Some("rank"))
      .orderBy("rank")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // natural order: chr2 before chr10; '-' strand 5'->3' = descending
    assert(got == Seq(("chr2", "+", 1L), ("chr2", "-", 4L), ("chr2", "-", 1L),
      ("chr10", "+", 5L)))
  }

  test("langId picks the wordlist with most hits") {
    import spark.implicits._
    val df = Seq("the cat is on the mat and that", "der hund ist nicht ein",
                 "xyzzy plugh").toDF("text")
    val got = df.select(TextOps.langId(col("text"))).collect().map(_.getString(0)).toSeq
    assert(got == Seq("en", "de", "und"))
  }

  test("fingerprint equals for identical shingle sets") {
    import spark.implicits._
    val df = Seq("a b c d e", "a b c d e", "v w x y z").toDF("text")
    val fps = df.select(TextOps.fingerprint(col("text"))).collect().map(_.getString(0))
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  test("hashedNgramEmbedding (in-row) is bit-equal to the explode+agg " +
      "spelling; short/NULL docs embed as zeros; validates args") {
    import spark.implicits._
    val dim = 16
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8"),      // exact dup: same vector
      (3L, "a b c a b c a b c a b"),         // repeated shingles (distinct)
      (4L, "only two"),                      // < n tokens: zero vector
      (5L, null: String),                    // NULL: zero vector
      (6L, "u1 u2 u3 u4 u5")).toDF("doc_id", "text")
    def byId(d: DataFrame, c: String): Map[Long, Seq[Float]] =
      d.collect().map(r => r.getLong(r.fieldIndex("doc_id")) ->
        r.getSeq[Float](r.fieldIndex(c))).toMap
    for (hash <- Seq("xxhash64", "md5")) {
      val got = byId(TextOps.hashedNgramEmbedding(docs, "text", "emb",
        n = 3, dim = dim, hash = hash), "emb")
      // the retired explode + two-agg spelling (r14 soak scaffolding),
      // hash-parameterized the same way
      val bucket = (s: org.apache.spark.sql.Column) =>
        if (hash == "xxhash64") pmod(xxhash64(s), lit(dim.toLong)).cast("int")
        else (conv(substring(md5(s), 1, 6), 16, 10).cast("long") % dim).cast("int")
      val sign = (s: org.apache.spark.sql.Column) =>
        if (hash == "xxhash64") (pmod(xxhash64(s, lit("sgn")), lit(2)) * 2 - 1).cast("double")
        else (conv(substring(md5(s), 7, 1), 16, 10).cast("long") % 2 * 2 - 1).cast("double")
      val exploded = docs.select(col("doc_id"),
          explode(array_distinct(TextOps.wordShingles(col("text"), 3))).as("_sh"))
        .select(col("doc_id"), bucket(col("_sh")).as("_b"), sign(col("_sh")).as("_v"))
        .groupBy(col("doc_id"), col("_b")).agg(sum(col("_v")).as("_s"))
        .groupBy(col("doc_id"))
        .agg(map_from_entries(collect_list(struct(col("_b"), col("_s")))).as("_m"))
        .select(col("doc_id"),
          transform(sequence(lit(0), lit(dim - 1)), i =>
            coalesce(element_at(col("_m"), i.cast("int")), lit(0.0))
              .cast("float")).as("emb"))
      val old = byId(exploded, "emb")
      // exploded drops shingle-less docs; the operator zero-embeds them
      for ((id, v) <- got) {
        assert(v.length == dim)
        assert(old.get(id).map(_ == v).getOrElse(v.forall(_ == 0f)),
          s"hash=$hash doc=$id: $v vs ${old.get(id)}")
      }
      assert(got(1L) == got(2L) && got(1L) != got(6L))
      assert(got(4L).forall(_ == 0f) && got(5L).forall(_ == 0f))
      // signed sums are non-trivial: doc 3's repeated distinct shingle
      // set still lands integer-valued mass somewhere
      assert(got(3L).exists(_ != 0f))
    }
    // distinct=false counts every occurrence: doc 3 repeats shingles,
    // so its multiset embedding must differ from the distinct one
    val multi = byId(TextOps.hashedNgramEmbedding(docs, "text", "emb",
      n = 3, dim = dim, distinct = false), "emb")
    val dist = byId(TextOps.hashedNgramEmbedding(docs, "text", "emb",
      n = 3, dim = dim), "emb")
    assert(multi(3L) != dist(3L) && multi(1L) == dist(1L))
    intercept[IllegalArgumentException] {
      TextOps.hashedNgramEmbedding(docs, "text", "emb", n = 0, dim = dim)
    }
    intercept[IllegalArgumentException] {
      TextOps.hashedNgramEmbedding(docs, "text", "emb", hash = "crc")
    }
  }

  // ---- paragraph-level dedup (CCNet-style) ----

  private def paraDocs = {
    import spark.implicits._
    // doc 1: unique A, boilerplate B; doc 2: B twice + unique C;
    // doc 3: ONLY boilerplate B; doc 4: empty paragraphs around unique D
    Seq(
      (1L, "alpha text\nBOILER"),
      (2L, "BOILER\ncharlie text\nBOILER"),
      (3L, "BOILER"),
      (4L, "\ndelta text\n\n")).toDF("doc_id", "text")
  }

  test("dedupParagraphs keep-first keeps each paragraph at its smallest (doc, pos)") {
    val got = Dedup.dedupParagraphs(paraDocs)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    // BOILER's first occurrence is (doc 1, pos 1): doc 1 keeps both
    // paragraphs; doc 2 loses BOTH its copies (within-doc repeats drop
    // too); doc 3 drops to an empty shell; doc 4's empties never count
    assert(got == Seq(
      (1L, "alpha text\nBOILER", 2L, 2L),
      (2L, "charlie text", 3L, 1L),
      (3L, "", 1L, 0L),
      (4L, "delta text", 1L, 1L)))
  }

  test("dedupParagraphs df mode drops only over-frequency paragraphs, everywhere") {
    // BOILER appears in 3 distinct docs > maxDocFreq=2 -> dropped in
    // all of them, including both copies in doc 2; unique paragraphs
    // stay put (unlike keep-first, doc 2 keeps nothing of BOILER but
    // would keep a paragraph shared with just one other doc)
    val got = Dedup.dedupParagraphs(paraDocs, mode = "df", maxDocFreq = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "alpha text", 2L, 1L),
      (2L, "charlie text", 3L, 1L),
      (3L, "", 1L, 0L),
      (4L, "delta text", 1L, 1L)))
    // at maxDocFreq=3 nothing is over-frequency: docs reassemble whole
    // (minus empty paragraphs), within-doc repeats intact
    val all = Dedup.dedupParagraphs(paraDocs, mode = "df", maxDocFreq = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(all == Seq((1L, "alpha text\nBOILER"),
      (2L, "BOILER\ncharlie text\nBOILER"), (3L, "BOILER"),
      (4L, "delta text")))
  }

  test("dedupParagraphs is partitioning-independent and validates its mode") {
    val base = Dedup.dedupParagraphs(paraDocs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val rep = Dedup.dedupParagraphs(paraDocs.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(base == rep)
    // NULL and empty texts come back as empty shells with zero counts,
    // never NULL counts
    import spark.implicits._
    val withNull = Seq((1L, "x y"), (2L, null: String), (3L, ""))
      .toDF("doc_id", "text")
    val shells = Dedup.dedupParagraphs(withNull).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(shells == Seq((1L, "x y", 1L, 1L), (2L, "", 0L, 0L),
      (3L, "", 0L, 0L)))
    intercept[IllegalArgumentException] {
      Dedup.dedupParagraphs(paraDocs, mode = "nope")
    }
    intercept[IllegalArgumentException] {
      Dedup.dedupParagraphs(paraDocs, mode = "df", maxDocFreq = 0)
    }
  }

  // ---- exact substring dedup (token-span axis) ----

  private def substrDocs = {
    import spark.implicits._
    // doc 1 owns every gram it contains; doc 2 shares a 4-token run
    // with doc 1 (two overlapping 3-gram windows -> one merged span);
    // doc 3 repeats its own 3-token phrase three times
    Seq(
      (1L, "a b c d e f"),
      (2L, "x a b c d y"),
      (3L, "p q r p q r p q r")).toDF("doc_id", "text")
  }

  test("dedupSubstrings keep-first removes later occurrences, merging overlapping windows") {
    val got = Dedup.dedupSubstrings(substrDocs, minMatchTokens = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    // doc 1 is globally first for every shared gram: untouched; doc 2's
    // windows at pos 1 ("a b c") and pos 2 ("b c d") union to [1, 5);
    // doc 3's self-repeats: every window past pos 2 re-occurs earlier,
    // so [3, 9) vanishes and one copy of the phrase survives
    assert(got == Seq(
      (1L, "a b c d e f", 6L, 0L),
      (2L, "x y", 6L, 4L),
      (3L, "p q r", 9L, 6L)))
  }

  test("dedupSubstrings mode=all removes every occurrence of a duplicated span") {
    val got = Dedup.dedupSubstrings(substrDocs, minMatchTokens = 3, mode = "all")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    // the shared "a b c d" run dies in BOTH docs ([0,4) in doc 1,
    // [1,5) in doc 2); doc 3's every window occurs >= twice -> the
    // whole document is duplicated span
    assert(got == Seq(
      (1L, "e f", 6L, 4L),
      (2L, "x y", 6L, 4L),
      (3L, "", 9L, 9L)))
  }

  test("dedupSubstrings passes short docs through canonicalized; NULL-safe; validates args") {
    import spark.implicits._
    val docs = Seq((1L, "  one   two  "), (2L, null: String), (3L, ""))
      .toDF("doc_id", "text")
    val got = Dedup.dedupSubstrings(docs, minMatchTokens = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    // < k tokens: no windows, text whitespace-canonicalized; NULL ->
    // empty shell with zero counts; "" tokenizes to one empty token
    // (the tokens() convention) and survives as ""
    assert(got == Seq((1L, "one two", 2L, 0L), (2L, "", 0L, 0L),
      (3L, "", 1L, 0L)))
    intercept[IllegalArgumentException] {
      Dedup.dedupSubstrings(docs, minMatchTokens = 1)
    }
    intercept[IllegalArgumentException] {
      Dedup.dedupSubstrings(docs, mode = "nope")
    }
  }

  test("hotSubstrings + removeSubstrings: membership-only serve equals its spec, batch-split-invariant") {
    import spark.implicits._
    // reference corpus: "a b c d" appears twice (across docs) -> hot;
    // every other window once
    val ref = Seq((100L, "a b c d e"), (101L, "z a b c d")).toDF("doc_id", "text")
    val hot = Dedup.hotSubstrings(ref, minMatchTokens = 4).cache()
    assert(hot.count() == 1) // only "a b c d"
    val in = Seq(
      (1L, "q a b c d r"),   // one hot window at pos 1 -> [1, 5) removed
      (2L, "a b c x d"),     // no hot window (broken run) -> untouched
      (3L, "a b"))           // shorter than k -> untouched
      .toDF("doc_id", "text")
    val got = Dedup.removeSubstrings(in, hot, minMatchTokens = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "q r", 6L, 4L),
      (2L, "a b c x d", 5L, 0L),
      (3L, "a b", 2L, 0L)))
    // batch-boundary invariance (the q138 foreachBatch contract):
    // removing against a static hot set commutes with any split of the
    // incoming corpus
    val split = Dedup.removeSubstrings(in.where(col("doc_id") === 1), hot,
        minMatchTokens = 4)
      .union(Dedup.removeSubstrings(in.where(col("doc_id") =!= 1), hot,
        minMatchTokens = 4))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(split == got)
    hot.unpersist()
    intercept[IllegalArgumentException] {
      Dedup.hotSubstrings(ref, minOcc = 0)
    }
  }

  test("dedupSubstrings is partitioning-independent") {
    val base = Dedup.dedupSubstrings(substrDocs, minMatchTokens = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val rep = Dedup.dedupSubstrings(substrDocs.repartition(7), minMatchTokens = 3)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(base == rep)
  }

  // ---- product quantization ----

  test("pqEncode snaps codebook rows to their own codes; ADC equals the reconstruction dot") {
    import spark.implicits._
    val cb = graft.ml.Pq.pqCodebooks(4, 8, 4) // dim 16, 8 codes/subspace
    // a vector assembled FROM codebook entries must encode back to
    // exactly those codes (distance 0 beats every distinct entry)
    val picks = Seq(2, 5, 0, 7)
    val v = picks.zipWithIndex.flatMap { case (c, s) => cb(s)(c) }
    val df = Seq((1L, v)).toDF("id", "v")
    val codes = df.select(graft.ml.Pq.pqEncode(col("v"), cb).as("codes"))
      .head().getSeq[Long](0)
    assert(codes == picks.map(_.toLong))
    // ADC against own codes == exact dot with the vector itself (the
    // reconstruction of a codebook-exact vector is the vector)
    val q = (1 to 16).map(i => (i * 37 % 23 - 11).toLong)
    val expect = q.zip(v).map { case (a, b) => a * b }.sum
    val got = df.select(graft.ml.Pq.adcScore(
      graft.ml.Pq.adcLut(typedLit(q), cb),
      graft.ml.Pq.pqEncode(col("v"), cb), 4).as("s")).head().getLong(0)
    assert(got == expect)
  }

  test("ivfPqTopK rerank scores are exact dots; parameter validation") {
    import spark.implicits._
    // 3 tight planted clusters in 16 dims (millivalue floats quantize
    // exactly at x1000)
    val base = Seq.tabulate(3, 16)((c, d) => ((c * 101 + d * 7) % 200 - 100))
    val rows = for (c <- 0 until 3; j <- 0 until 4) yield
      (c * 10L + j, base(c).zipWithIndex.map { case (v, d) =>
        (v + (if (d == j) 1 else 0)).toFloat / 1000f })
    val df = rows.toDF("vec_id", "embedding")
    val got = graft.ml.Pq.ivfPqTopK(df, k = 2,
      codebooks = graft.ml.Pq.pqCodebooks(4, 8, 4),
      centroids = Similarity.ivfCentroids(8, 16), nProbe = 2, rerank = 6)
    val rowsOut = got.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    // every re-ranked score must equal the EXACT quantized dot of the pair
    val qv = df.select(col("vec_id"),
        Similarity.quantize(col("embedding")).as("q")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    for (((a, b), s) <- rowsOut)
      assert(s == qv(a).zip(qv(b)).map { case (x, y) => x * y }.sum,
        s"pair ($a,$b)")
    // shape: ranks are 1..k per query, no self pairs, and the exact
    // re-rank orders by descending dot (ties to smaller nb)
    val byQ = rowsOut.groupBy(_._1._1)
    for ((_, rs) <- byQ) assert(rs.length <= 2)
    assert(rowsOut.forall { case ((a, b), _) => a != b })
    val ranked = got.collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(2), r.getLong(1)))
      .groupBy(_._1)
    for ((_, rs) <- ranked) {
      val o = rs.sortBy(_._2).map(r => (r._3, r._4)).toSeq
      assert(o == o.sortBy { case (s, nb) => (-s, nb) })
    }
    intercept[IllegalArgumentException] {
      graft.ml.Pq.ivfPqTopK(df, k = 5,
        codebooks = graft.ml.Pq.pqCodebooks(4, 8, 4),
        centroids = Similarity.ivfCentroids(8, 16), rerank = 3)
    }
    intercept[IllegalArgumentException] { // codebooks don't cover dim
      graft.ml.Pq.ivfPqTopK(df, k = 1,
        codebooks = graft.ml.Pq.pqCodebooks(2, 8, 4),
        centroids = Similarity.ivfCentroids(8, 16))
    }
  }

  // ---- deterministic shard assignment / export ----

  test("assignShards is a pure function of id: deterministic, in-range, balanced") {
    import spark.implicits._
    val df = (1L to 2000L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val got = graft.ml.Sampling.assignShards(df, "doc_id", nShards = 8)
      .select("doc_id", "shard").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(got.forall { case (_, s) => s >= 0 && s < 8 })
    // same assignment under different partitioning and row order
    val again = graft.ml.Sampling
      .assignShards(df.repartition(13).orderBy(desc("doc_id")), "doc_id", 8)
      .select("doc_id", "shard").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(got.toMap == again.toMap)
    // hash balance: every shard within 2x of the uniform share
    val sizes = got.groupBy(_._2).values.map(_.size)
    assert(sizes.size == 8 && sizes.min > 125 && sizes.max < 500,
      s"shard sizes ${sizes.toSeq.sorted}")
    intercept[IllegalArgumentException] {
      graft.ml.Sampling.assignShards(df, "doc_id", nShards = 0)
    }
  }

  test("exportShards writes one file per shard and a manifest that recounts the data") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_shards_").toString
    try {
      val df = (1L to 500L).map(i => (i, "w " * (i % 7).toInt + "end"))
        .toDF("doc_id", "text")
      val man = graft.ml.Sampling.exportShards(df, dir, "doc_id", nShards = 4)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
      // layout: shard=K directories, exactly one data file each
      val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
        .map(_.getName).filterNot(_.startsWith("_")).sorted.toSeq
      assert(dirs == (0 until 4).map(i => s"shard=$i"))
      for (d <- dirs) {
        val files = new java.io.File(s"$dir/$d").listFiles()
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        assert(files.length == 1, s"$d has ${files.length} data files")
      }
      // manifest matches an independent recount of the written corpus
      val back = spark.read.parquet(dir)
      val re = back.groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), sum(length(col("text"))).as("c"),
          min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
      assert(man == re)
      assert(man.map(_._2).sum == 500L)
      // shard column survives the roundtrip as the partition column and
      // equals a fresh assignment
      val fresh = graft.ml.Sampling.assignShards(df, "doc_id", 4)
        .select("doc_id", "shard").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toMap
      val stored = back.select("doc_id", "shard").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toMap
      assert(fresh == stored)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("exportShards resume=true skips completed shard directories") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_shards_resume_").toString
    def dataFiles(shard: Int): Seq[String] = {
      val d = new java.io.File(s"$dir/shard=$shard")
      if (!d.exists()) Seq.empty
      else d.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(_.getName).sorted.toSeq
    }
    try {
      val df = (1L to 500L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      // simulate a partially-completed export: only the rows of shards
      // 0 and 1 made it to disk before the "crash"
      val assigned = graft.ml.Sampling.assignShards(df, "doc_id", 4)
      val partialIds = assigned.where(col("shard") < 2)
        .select("doc_id").as[Long].collect().toSet
      graft.ml.Sampling.exportShards(
        df.where(col("doc_id").isin(partialIds.toSeq: _*)), dir, "doc_id",
        nShards = 4)
      val before0 = dataFiles(0)
      val before1 = dataFiles(1)
      assert(before0.nonEmpty && before1.nonEmpty && dataFiles(2).isEmpty)
      // resume over the FULL corpus: shards 0/1 must be left untouched
      // (same physical files), shards 2/3 filled in
      val man = graft.ml.Sampling.exportShards(df, dir, "doc_id",
          nShards = 4, resume = true)
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      assert(dataFiles(0) == before0 && dataFiles(1) == before1,
        "resume rewrote a completed shard")
      assert(dataFiles(2).size == 1 && dataFiles(3).size == 1)
      // the manifest recounts ALL shards and the corpus is complete
      assert(man.values.sum == 500L && man.keySet == Set(0, 1, 2, 3))
      val back = spark.read.parquet(dir).select("doc_id").as[Long]
        .collect().sorted.toSeq
      assert(back == (1L to 500L))
      // a second resume with everything present rewrites nothing
      graft.ml.Sampling.exportShards(df, dir, "doc_id", nShards = 4,
        resume = true)
      assert((0 to 3).map(dataFiles) ==
        Seq(before0, before1, dataFiles(2), dataFiles(3)))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("trainCodebooks pads to a rectangular m x k x subDim codebook " +
    "when a subspace has fewer distinct points than k") {
    import spark.implicits._
    // 3 distinct vectors, k = 8: k-means can only find 3 centers; the
    // codebook must still come back k-rectangular (padded by cycling)
    // so ivfPqTopK's rectangularity require holds
    val df = (1 to 60)
      .map(i => Tuple1(Array.fill(8)((i % 3).toFloat)))
      .toDF("embedding")
    val cb = graft.ml.Pq.trainCodebooks(df, "embedding", m = 2, k = 8,
      dim = 8, sampleFraction = 1.0)
    assert(cb.length == 2)
    assert(cb.forall(_.length == 8), s"ragged: ${cb.map(_.length).toSeq}")
    assert(cb.forall(_.forall(_.length == 4)))
    // padded entries are copies of trained centers, never junk
    for (s <- cb) {
      val distinct = s.map(_.toSeq).toSet
      assert(distinct.size <= 3 && distinct.nonEmpty)
    }
    // the padded codebook satisfies the operator's contract end-to-end
    val vecs = (1L to 20L)
      .map(i => (i, Array.fill(16)((i % 3).toFloat))).toDF("vec_id", "embedding")
    val cb2 = Array(cb(0), cb(1), cb(0), cb(1))
    val out = graft.ml.Pq.ivfPqTopK(vecs, k = 1, codebooks = cb2,
      centroids = Similarity.ivfCentroids(4, 16), nProbe = 4)
    assert(out.count() > 0)
  }

  test("nearestCells kernel is bit-equal to the unrolled struct spelling " +
    "(random vectors, ties, short/long inputs, nProbe clamping)") {
    import spark.implicits._
    // the spelling NearestCellsLong replaced: array_sort over per-cell
    // (d, c) struct literals — kept here as the semantics oracle
    def structSpelling(q: org.apache.spark.sql.Column,
                       centers: Array[Array[Long]], nProbe: Int) = {
      val distStructs = centers.zipWithIndex.map { case (c, ci) =>
        val c2 = c.map(v => v * v).sum
        struct((lit(c2) - lit(2L) * Similarity.dotLong(q, typedLit(c.toSeq))).as("d"),
          lit(ci.toLong).as("c"))
      }
      transform(slice(array_sort(array(distStructs: _*)), 1, nProbe),
        s => s.getField("c"))
    }
    val rnd = new scala.util.Random(7)
    val rows = (1 to 300).map { i =>
      val len = i % 5 match {
        case 0 => 3  // shorter than the centroid dim
        case 1 => 10 // longer (extra components ignored, like dotLong)
        case _ => 8
      }
      (i.toLong, Array.fill(len)(rnd.nextInt(2001) - 1000L))
    } ++ Seq((1001L, Array.fill(8)(0L)), // equidistant from symmetric centers
      (1002L, Array.empty[Long]))        // ranks purely by |c|^2
    val df = rows.toDF("id", "v").repartition(7).localCheckpoint()
    // symmetric center pairs force distance TIES (the +/- rows are
    // equidistant from the all-zero vector), exercising the c-asc break
    val base = Array.tabulate(6, 8)((c, d) =>
      ((c * 13 + d * 7) % 21).toLong - 10)
    val centers = base ++ base.map(_.map(-_))
    for (nProbe <- Seq(1, 2, 5, 40)) {
      val got = df.select(col("id"),
        Similarity.nearestCells(col("v"), centers, nProbe).as("k"),
        structSpelling(col("v"), centers, nProbe).as("s"))
        .collect()
      for (r <- got) {
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"id ${r.getLong(0)} nProbe $nProbe: ${r.getSeq[Long](1)} vs ${r.getSeq[Long](2)}")
        assert(r.getSeq[Long](1).length == math.min(nProbe, centers.length))
      }
    }
  }

  test("two-level nearestCells is bit-equal to the flat kernel " +
      "(ties, duplicate/padded centroids, short/empty vectors, every nProbe)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 400).map { i =>
      val len = i % 5 match {
        case 0 => 3
        case 1 => 10
        case _ => 8
      }
      (i.toLong, Array.fill(len)(rnd.nextInt(2001) - 1000L))
    } ++ Seq((2001L, Array.fill(8)(0L)), (2002L, Array.empty[Long]))
    val df = rows.toDF("id", "v").repartition(5).localCheckpoint()
    // 600 centers: clustered structure (so pruning actually fires),
    // symmetric pairs (distance ties), plus padToK-style duplicates
    // (equal-distance duplicate cells must break to the smaller id)
    val base = Array.tabulate(299, 8)((c, d) =>
      ((c % 10) * 200 + ((c * 13 + d * 7) % 21)).toLong - 1000)
    val centers0 = base ++ base.map(_.map(-_))
    val centers = centers0 ++ Array(centers0(0), centers0(1)) // 600
    for (nProbe <- Seq(1, 3, 17, 700)) {
      val got = df.select(col("id"),
        graft.expr.Exprs.nearest_cells_two_level(col("v"), centers, nProbe).as("t"),
        graft.expr.Exprs.nearest_cells(col("v"), centers, nProbe).as("f"))
        .collect()
      for (r <- got)
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"id ${r.getLong(0)} nProbe $nProbe: ${r.getSeq[Long](1)} vs ${r.getSeq[Long](2)}")
    }
    // the product path stays on the flat early-exit kernel at every k
    // (two-level was measured SLOWER on high-dim hashed embeddings —
    // BASELINE.md round15-assign; it remains an explicit opt-in)
    val bridge = org.apache.spark.sql.GraftColumnBridge
    assert(bridge.expression(Similarity.nearestCells(col("v"), centers, 1))
      .isInstanceOf[graft.expr.NearestCellsLong])
    assert(bridge.expression(Similarity.nearestCells(col("v"), centers.take(32), 1))
      .isInstanceOf[graft.expr.NearestCellsLong])
  }

  test("trainIvfCentroids: rectangular nCells x dim in quantized space, " +
    "padded when k-means converges short, and trained cells make " +
    "semanticDedup anchor-exact on its training distribution") {
    import spark.implicits._
    // 3 distinct directions, 20 copies each; k = 5 forces padding
    val df = (0 until 60)
      .map(i => Tuple1(Array.tabulate(8)(j => if (j == i % 3) 1f else 0f)))
      .toDF("embedding")
    val cm = Similarity.trainIvfCentroids(df, nCells = 5, sampleFraction = 1.0)
    assert(cm.length == 5 && cm.forall(_.length == 8))
    // trained centers recover the 3 planted directions exactly (each
    // direction's mean IS the direction at scale 1000)
    val distinct = cm.map(_.toSeq).distinct
    assert(distinct.length == 3, s"expected 3 distinct centers, got $distinct")
    assert(distinct.forall(c => c.count(_ == 1000L) == 1 && c.count(_ == 0L) == 7))
    // end to end: anchor-mode semantic dedup over trained cells keeps
    // exactly one member per planted direction
    val vecs = (0 until 30)
      .map(i => (i.toLong, Array.tabulate(8)(j => if (j == i % 3) 1f else 0f)))
      .toDF("vec_id", "embedding")
    val out = graft.ml.SemDedup.semanticDedup(vecs, cm, 99, mode = "anchor")
    assert(out.where(col("kept")).count() == 3)
    intercept[IllegalArgumentException] {
      Similarity.trainIvfCentroids(df, nCells = 0)
    }
  }

  // ---- semantic dedup (SemDeDup) ----

  private def semCorpus = {
    import spark.implicits._
    // three exact-duplicate families along distinct directions plus
    // orthogonal singletons: families collapse to one survivor at any
    // threshold, singletons never match anything
    val dirs = Seq(
      Array.tabulate(8)(i => if (i == 0) 1f else 0f),
      Array.tabulate(8)(i => if (i == 1) 1f else 0f),
      Array.tabulate(8)(i => if (i == 2) 1f else 0f))
    val fams = for {
      (d, f) <- dirs.zipWithIndex
      k <- 0 until 4
    } yield (f * 10L + k, d.map(_ * (1f + k))) // parallel => cosine = 1
    val singles = (0 until 3).map(i =>
      (100L + i, Array.tabulate(8)(j => if (j == i + 3) 1f else 0f)))
    (fams ++ singles).toDF("vec_id", "embedding")
  }

  test("semanticDedup: exact-duplicate families keep exactly one member; " +
    "orthogonal singletons always survive") {
    val cm = Similarity.ivfCentroids(4, 8)
    val out = graft.ml.SemDedup.semanticDedup(semCorpus, cm,
      thresholdPct = 99).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    assert(out.length == 15)
    // parallel vectors share a cell (assignment is direction-dominated
    // for equal-norm centroids), so each family keeps exactly one
    for (f <- 0 until 3) {
      val fam = out.filter(t => t._1 >= f * 10 && t._1 < f * 10 + 4)
      assert(fam.map(_._2).distinct.length == 1, s"family $f split cells")
      assert(fam.count(_._3) == 1, s"family $f kept ${fam.count(_._3)}")
    }
    assert(out.filter(_._1 >= 100).forall(_._3), "a singleton was dropped")
  }

  test("semanticDedup: anchor-mode drops are a subset of pairwise drops; " +
    "the rank-1 member of every cell survives both") {
    val df = semCorpus
    val cm = Similarity.ivfCentroids(4, 8)
    def dropped(mode: String) =
      graft.ml.SemDedup.semanticDedup(df, cm, thresholdPct = 99,
          mode = mode)
        .where(!col("kept")).select("vec_id").collect()
        .map(_.getLong(0)).toSet
    val pw = dropped("pairwise")
    val an = dropped("anchor")
    assert(an.subsetOf(pw), s"anchor $an not within pairwise $pw")
    // keep="central" flips the ranking; still one survivor per family
    val central = graft.ml.SemDedup.semanticDedup(df, cm,
      thresholdPct = 99, keep = "central")
    assert(central.where(col("kept")).count() ==
      graft.ml.SemDedup.semanticDedup(df, cm, thresholdPct = 99)
        .where(col("kept")).count())
  }

  test("semanticDedup: NULL and empty vectors pass through kept with cell -1; " +
    "result is invariant to input partitioning") {
    import spark.implicits._
    val base = semCorpus
    val withBad = base.unionByName(
      Seq((200L, null.asInstanceOf[Array[Float]]), (201L, Array.empty[Float]))
        .toDF("vec_id", "embedding"))
    val cm = Similarity.ivfCentroids(4, 8)
    val out = graft.ml.SemDedup.semanticDedup(withBad, cm, thresholdPct = 50)
    val bad = out.where(col("vec_id") >= 200).collect()
    assert(bad.length == 2)
    assert(bad.forall(r => r.getLong(1) == -1L && r.isNullAt(2) && r.getBoolean(3)))
    val a = graft.ml.SemDedup.semanticDedup(withBad, cm, 50)
      .collect().map(r => (r.getLong(0), r.getBoolean(3))).sorted.toSeq
    val b = graft.ml.SemDedup.semanticDedup(
        withBad.repartition(13).orderBy(desc("vec_id")), cm, 50)
      .collect().map(r => (r.getLong(0), r.getBoolean(3))).sorted.toSeq
    assert(a == b)
  }

  test("semanticDedup: zero-norm vectors neither kill nor die " +
    "(cosine is undefined at |v| = 0 — the 0 >= 0 degeneracy is guarded)") {
    import spark.implicits._
    // an all-zero vector ranks FIRST in its cell under keep=edge
    // (centroid dot 0 beats the negative dots of real members in some
    // cells); without the n2 > 0 gate guards it would read as a
    // duplicate of everything and kill its whole cell
    val zero = (999L, Array.fill(8)(0f))
    val fam = (0 until 4).map(k => (k.toLong, Array.fill(8)(1f + k)))
    val df = (fam :+ zero).toDF("vec_id", "embedding")
    val cm = Similarity.ivfCentroids(4, 8)
    // the zero vector RANKS FIRST in this cell (centroid dot 0 sorts
    // before the members' positive dots under keep=edge) — the anchor
    // must still be the best-ranked row that CAN kill, so the family
    // collapses in BOTH modes instead of the zero row freezing it
    for (mode <- Seq("pairwise", "anchor")) {
      val out = graft.ml.SemDedup.semanticDedup(df, cm, 50, mode = mode)
        .collect().map(r => (r.getLong(0), r.getBoolean(3))).toMap
      assert(out(999L), s"$mode: the zero vector must survive (no evidence)")
      assert((0L to 3L).count(out(_)) == 1,
        s"$mode: family kept ${(0L to 3L).count(out(_))}")
    }
    // streaming serve spelling: a zero/empty probe passes, and a
    // zero-norm REFERENCE row can't kill a probe either
    val probes = Seq((1L, Array.fill(8)(2f)), (2L, Array.empty[Float]),
      (3L, Array.fill(8)(0f))).toDF("vec_id", "embedding")
    val refs = Seq(Tuple1(Array.fill(8)(0f))).toDF("embedding")
    val kept = graft.ml.SemDedup.semanticFilterStream(probes, refs, cm, 50)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L))
  }

  test("NearestCellsLong compares by matrix CONTENT, not reference " +
    "(canonicalization/exchange reuse across separately-built matrices)") {
    val a = graft.expr.NearestCellsLong(
      org.apache.spark.sql.catalyst.expressions.Literal(1L),
      Similarity.ivfCentroids(4, 8), 2)
    val b = graft.expr.NearestCellsLong(
      org.apache.spark.sql.catalyst.expressions.Literal(1L),
      Similarity.ivfCentroids(4, 8), 2)
    assert(a == b && a.hashCode == b.hashCode)
    val c = b.copy(nProbe = 3)
    assert(a != c)
    val d = b.copy(centers = Similarity.ivfCentroids(5, 8))
    assert(a != d)
  }

  test("semanticDedup: the cosine gate is exact at the threshold boundary " +
    "(parallel vectors at t=100 drop; below-threshold pairs survive)") {
    import spark.implicits._
    // (3,4,0..) vs (4,3,0..): cos = 24/25 = 96% exactly — >= 96 drops,
    // 97 keeps; scale multiplies out of the exact integer comparison
    val df = Seq(
      (1L, Array(3f, 4f) ++ Array.fill(6)(0f)),
      (2L, Array(4f, 3f) ++ Array.fill(6)(0f))).toDF("vec_id", "embedding")
    val cm = Similarity.ivfCentroids(4, 8)
    def kept(t: Int) = graft.ml.SemDedup.semanticDedup(df, cm, t)
      .where(col("kept")).count()
    assert(kept(96) == 1, "cos=96% pair must drop at t=96 (inclusive gate)")
    assert(kept(97) == 2, "cos=96% pair must survive at t=97")
    intercept[IllegalArgumentException] {
      graft.ml.SemDedup.semanticDedup(df, cm, 0)
    }
    intercept[IllegalArgumentException] {
      graft.ml.SemDedup.semanticDedup(df, cm, 50, mode = "bogus")
    }
  }

  test("fused cosineKillGate is bit-equal to the Decimal Column gate " +
    "(random pairs at many thresholds, exact boundary ties at " +
    "magnitudes where doubles cannot decide, zero norms, ragged " +
    "lengths, negative dots)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pairs = (1 to 300).map { i =>
      val la = if (i % 7 == 0) 5 else 8
      val lb = if (i % 11 == 0) 6 else 8
      val a = Array.fill(la)((rnd.nextInt(2001) - 1000).toLong)
      val b0 = Array.fill(lb)((rnd.nextInt(2001) - 1000).toLong)
      // plant scaled near-parallels so the gate actually fires (cos=1
      // pairs must pass at every threshold — the early exit must never
      // abandon them)
      val b = if (i % 3 == 0) java.util.Arrays.copyOf(a.map(_ * 2), lb)
              else b0
      (i.toLong, a, b)
    } ++ Seq(
      // cos = 24/25 = 96% EXACTLY at ~1e13-scale dots: 10^4*dot^2 and
      // t^2*n2a*n2b are equal reals beyond double precision (~5.8e30),
      // so the double screen's guard band must route to BigInteger and
      // agree with the Decimal(38,0) spelling on >= at t=96, < at t=97
      (1001L, Array(3000000L, 4000000L), Array(4000000L, 3000000L)),
      // ... and one ulp off the tie on either side
      (1002L, Array(3000000L, 4000000L), Array(4000000L, 3000001L)),
      (1003L, Array(3000000L, 4000000L), Array(4000000L, 2999999L)),
      (1004L, Array.fill(8)(0L), Array.fill(8)(7L)), // zero norm
      (1005L, Array(1000000L, -1000000L), Array(-1000000L, 1000000L))) // dot < 0
    val df = pairs.toDF("id", "a", "b").localCheckpoint()
    val n2a = graft.expr.Exprs.dot_long(col("a"), col("a"))
    val n2b = graft.expr.Exprs.dot_long(col("b"), col("b"))
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    for (t <- Seq(1, 50, 96, 97, 100)) {
      // the Column contract re-spelled independently of SemDedup
      val d = graft.expr.Exprs.dot_long(col("a"), col("b")).cast(dec)
      val colGate = (n2a > 0) && (n2b > 0) &&
        (graft.expr.Exprs.dot_long(col("a"), col("b")) >= 0) &&
        (lit(10000L).cast(dec) * d * d >=
          lit(t.toLong * t).cast(dec) * n2a.cast(dec) * n2b.cast(dec))
      val fused =
        graft.expr.Exprs.cosine_kill_gate(col("a"), col("b"), n2a, n2b, t)
      val diverged = df
        .where(coalesce(colGate, lit(false)) =!= coalesce(fused, lit(false)))
        .select("id").collect().map(_.getLong(0)).toSeq
      assert(diverged.isEmpty, s"t=$t: rows $diverged diverge")
    }
    // the exact-tie row resolves inclusively at 96 and drops at 97
    val tie = df.where(col("id") === 1001L).select(
      graft.expr.Exprs.cosine_kill_gate(col("a"), col("b"), n2a, n2b, 96),
      graft.expr.Exprs.cosine_kill_gate(col("a"), col("b"), n2a, n2b, 97))
      .head()
    assert(tie.getBoolean(0) && !tie.getBoolean(1))
    // ... and the v2 prefix-rider gate (CosineKillGatePre, the batch
    // kill join's spelling) agrees with BOTH on every row x threshold,
    // with the riders built by the production PrefixNorms16 expression
    val pna = graft.expr.Exprs.prefix_norms(col("a"))
    val pnb = graft.expr.Exprs.prefix_norms(col("b"))
    for (t <- Seq(1, 50, 96, 97, 100)) {
      val v1 =
        graft.expr.Exprs.cosine_kill_gate(col("a"), col("b"), n2a, n2b, t)
      val v2 = graft.expr.Exprs.cosine_kill_gate_pre(
        col("a"), col("b"), pna, pnb, t)
      val diverged = df
        .where(coalesce(v1, lit(false)) =!= coalesce(v2, lit(false)))
        .select("id").collect().map(_.getLong(0)).toSeq
      assert(diverged.isEmpty, s"v2 gate t=$t: rows $diverged diverge")
    }
    val tie2 = df.where(col("id") === 1001L).select(
      graft.expr.Exprs.cosine_kill_gate_pre(col("a"), col("b"), pna, pnb, 96),
      graft.expr.Exprs.cosine_kill_gate_pre(col("a"), col("b"), pna, pnb, 97))
      .head()
    assert(tie2.getBoolean(0) && !tie2.getBoolean(1))
  }

  test("int-width vector kernels are bit-equal to the long spellings " +
    "(round-18 narrowing): dot in all four width combinations, " +
    "nearestCells, PrefixNorms16, and both kill gates incl. the exact " +
    "boundary tie that only BigInteger can decide") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val pairs = (1 to 200).map { i =>
      val la = if (i % 7 == 0) 5 else 8
      val lb = if (i % 11 == 0) 6 else 8
      val a = Array.fill(la)((rnd.nextInt(2001) - 1000).toLong)
      val b0 = Array.fill(lb)((rnd.nextInt(2001) - 1000).toLong)
      val b = if (i % 3 == 0) java.util.Arrays.copyOf(a.map(_ * 2), lb)
              else b0
      (i.toLong, a, b)
    } ++ Seq(
      // the exact 96% tie at dots ~2.4e13 (inside long, components
      // inside int): the int kernels must route to the same BigInteger
      // compare and agree on >= at t=96, < at t=97
      (1001L, Array(3000000L, 4000000L), Array(4000000L, 3000000L)),
      (1002L, Array(3000000L, 4000000L), Array(4000000L, 3000001L)),
      (1003L, Array(3000000L, 4000000L), Array(4000000L, 2999999L)),
      (1004L, Array.fill(8)(0L), Array.fill(8)(7L)),
      (1005L, Array(1000000L, -1000000L), Array(-1000000L, 1000000L)))
    val df = pairs.toDF("id", "a", "b")
      .withColumn("ai", col("a").cast("array<int>"))
      .withColumn("bi", col("b").cast("array<int>"))
      .localCheckpoint()
    // dot: all four width combinations agree
    val dotDiverged = df.where(
        graft.expr.Exprs.dot_long(col("a"), col("b")) =!=
          graft.expr.Exprs.dot_long(col("ai"), col("bi")) ||
        graft.expr.Exprs.dot_long(col("a"), col("b")) =!=
          graft.expr.Exprs.dot_long(col("ai"), col("b")) ||
        graft.expr.Exprs.dot_long(col("a"), col("b")) =!=
          graft.expr.Exprs.dot_long(col("a"), col("bi")))
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(dotDiverged.isEmpty, s"dot width combos diverge on $dotDiverged")
    // prefix norms: identical long arrays off either width
    val pnDiverged = df.where(not(
        graft.expr.Exprs.prefix_norms(col("a")) <=>
          graft.expr.Exprs.prefix_norms(col("ai"))))
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(pnDiverged.isEmpty, s"prefix norms diverge on $pnDiverged")
    // nearestCells: same cells in the same order at nProbe 1 and 3
    val cm = graft.ml.Similarity.ivfCentroids(16, 8)
    for (np <- Seq(1, 3)) {
      val ncDiverged = df.where(not(
          graft.expr.Exprs.nearest_cells(col("a"), cm, np) <=>
            graft.expr.Exprs.nearest_cells(col("ai"), cm, np)))
        .select("id").collect().map(_.getLong(0)).toSeq
      assert(ncDiverged.isEmpty, s"nearestCells np=$np diverge on $ncDiverged")
    }
    // both kill gates, all thresholds incl. the band-routed tie
    val n2a = graft.expr.Exprs.dot_long(col("a"), col("a"))
    val n2b = graft.expr.Exprs.dot_long(col("b"), col("b"))
    val pna = graft.expr.Exprs.prefix_norms(col("a"))
    val pnb = graft.expr.Exprs.prefix_norms(col("b"))
    val pnai = graft.expr.Exprs.prefix_norms(col("ai"))
    val pnbi = graft.expr.Exprs.prefix_norms(col("bi"))
    for (t <- Seq(1, 50, 96, 97, 100)) {
      val g = df.where(
          coalesce(graft.expr.Exprs.cosine_kill_gate(
            col("a"), col("b"), n2a, n2b, t), lit(false)) =!=
          coalesce(graft.expr.Exprs.cosine_kill_gate(
            col("ai"), col("bi"), n2a, n2b, t), lit(false)) ||
          coalesce(graft.expr.Exprs.cosine_kill_gate_pre(
            col("a"), col("b"), pna, pnb, t), lit(false)) =!=
          coalesce(graft.expr.Exprs.cosine_kill_gate_pre(
            col("ai"), col("bi"), pnai, pnbi, t), lit(false)))
        .select("id").collect().map(_.getLong(0)).toSeq
      assert(g.isEmpty, s"kill gates t=$t diverge on $g")
    }
    val tie = df.where(col("id") === 1001L).select(
      graft.expr.Exprs.cosine_kill_gate_pre(col("ai"), col("bi"), pnai, pnbi, 96),
      graft.expr.Exprs.cosine_kill_gate_pre(col("ai"), col("bi"), pnai, pnbi, 97))
      .head()
    assert(tie.getBoolean(0) && !tie.getBoolean(1))
  }

  test("SemIndex serve width follows the STORED schema: an index " +
    "written under either vecWidth probes identically, and appendNew " +
    "matches the table's own spelling (round-18 narrowing)") {
    import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}
    val cm = graft.ml.Similarity.ivfCentroids(8, 8)
    val build = semCorpus.where(col("vec_id") % 3 =!= 0)
    val extra = semCorpus.where(col("vec_id") % 3 === 1)
    val queries = semCorpus.where(col("vec_id") % 3 === 0)
    graft.ml.SemIndex.write(build, "semwidth_int", cm, thresholdPct = 60)
    // the same survivors as an older build stored them: `_q` as
    // array<bigint>, same bucket spec, same graft.* properties
    spark.table("semwidth_int")
      .withColumn("_q", col("_q").cast(ArrayType(LongType)))
      .repartition(8, col("_cell"))
      .write.format("parquet").bucketBy(8, "_cell").sortBy("_cell", "vec_id")
      .mode("overwrite").saveAsTable("semwidth_long")
    val props = spark.sql("SHOW TBLPROPERTIES semwidth_int").collect()
      .map(r => r.getString(0) -> r.getString(1))
      .collect { case (k, v) if k.startsWith("graft.") => s"'$k'='$v'" }
    spark.sql(s"ALTER TABLE semwidth_long SET TBLPROPERTIES(${props.mkString(",")})")
    def dataType(table: String) =
      spark.table(table).schema("_q").dataType.asInstanceOf[ArrayType].elementType
    assert(dataType("semwidth_int") == IntegerType)
    assert(dataType("semwidth_long") == LongType)
    def lifecycle(table: String) = {
      graft.ml.SemIndex.appendNew(extra, table)
      graft.ml.SemIndex.probe(spark, table, queries)
        .orderBy("vec_id").collect().map(_.toSeq).toSeq
    }
    val a = lifecycle("semwidth_int")
    val b = lifecycle("semwidth_long")
    assert(a == b, "int-stored and long-stored indexes probe differently")
    // appendNew kept each table's own spelling
    assert(dataType("semwidth_int") == IntegerType)
    assert(dataType("semwidth_long") == LongType)
    assert(spark.table("semwidth_int").count() ==
      spark.table("semwidth_long").count())
    spark.sql("DROP TABLE IF EXISTS semwidth_int")
    spark.sql("DROP TABLE IF EXISTS semwidth_long")
  }

  test("PrefixNorms16: last element is the full squared norm, entries " +
    "are the exact stride-16 prefixes, and the empty/short shapes hold") {
    import spark.implicits._
    val rows = Seq(
      (1L, Array.tabulate(40)(i => (i - 20).toLong)),
      (2L, Array.tabulate(16)(i => i.toLong)),
      (3L, Array(7L)),
      (4L, Array.empty[Long]))
    val got = rows.toDF("id", "v")
      .select(col("id"), graft.expr.Exprs.prefix_norms(col("v")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    for ((id, v) <- rows) {
      val expect =
        if (v.isEmpty) Array(0L)
        else Array.tabulate((v.length + 15) / 16) { k =>
          v.take(math.min(16 * (k + 1), v.length)).map(x => x * x).sum
        }
      assert(java.util.Arrays.equals(got(id), expect),
        s"id=$id: ${got(id).toSeq} vs ${expect.toSeq}")
    }
  }

  test("TwoLevelCells rejects ragged centroid matrices (the dim-space " +
    "prune is only exact for rectangular centers — round-16 ADVICE)") {
    intercept[IllegalArgumentException] {
      graft.expr.TwoLevelCells.build(
        Array(Array(1L, 2L, 3L), Array(1L, 2L)))
    }
  }

  test("semanticDedup pairwise rank-band chunking is exact: every band " +
    "width produces the identical audit frame, including a hot cell " +
    "spanning many bands") {
    import spark.implicits._
    val cm = Similarity.ivfCentroids(4, 8)
    // semCorpus + a HOT 40-member parallel family: with bandRows = 1
    // the hot cell spans dozens of bands and every killer replicates
    // across them — the published rule's answer must not move by a row
    // direction 7 — unused by semCorpus (families 0-2, singletons 3-5),
    // so the family's fate is decided entirely within itself
    val hot = (0 until 40)
      .map(k => (500L + k, Array.tabulate(8)(j => if (j == 7) 1f + k else 0f)))
      .toDF("vec_id", "embedding")
    val df = semCorpus.unionByName(hot).repartition(5)
    def run(b: Int, keep: String = "edge") =
      graft.ml.SemDedup.semanticDedup(df, cm, 99, keep = keep, bandRows = b)
        .collect().map(_.toSeq).toSet
    val ref = run(1 << 20) // one band per cell — the unchunked join
    for (b <- Seq(1, 3, 8)) assert(run(b) == ref, s"bandRows=$b diverged")
    // the hot family keeps exactly one member under maximal chunking
    val keptHot = graft.ml.SemDedup
      .semanticDedup(df, cm, 99, bandRows = 1)
      .where(col("kept") && col("vec_id") >= 500L && col("vec_id") < 600L)
      .count()
    assert(keptHot == 1, s"hot family kept $keptHot under bandRows=1")
    // keep=central chunked == unchunked too; anchor ignores the band
    assert(run(2, keep = "central") == run(1 << 20, keep = "central"))
    intercept[IllegalArgumentException] {
      graft.ml.SemDedup.semanticDedup(df, cm, 99, bandRows = 0)
    }
  }

  test("boundedTrainingSample caps the training set and is a pure " +
    "function of row content (partitioning-invariant, order pinned)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val df = (0 until 600)
      .map(_ => Tuple1(Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("embedding")
    val a = Similarity.boundedTrainingSample(df, "embedding", 1.0, 128, 1000)
      .collect().map(_.getSeq[Long](0).toSeq).toSeq
    assert(a.size <= 128 && a.nonEmpty, s"cap violated: ${a.size}")
    // identical rows, identical ORDER, from any input partitioning —
    // the k-means float-aggregation order is content-determined
    val b = Similarity.boundedTrainingSample(
        df.repartition(13), "embedding", 1.0, 128, 1000)
      .collect().map(_.getSeq[Long](0).toSeq).toSeq
    val c = Similarity.boundedTrainingSample(
        df.coalesce(1), "embedding", 1.0, 128, 1000)
      .collect().map(_.getSeq[Long](0).toSeq).toSeq
    assert(a == b && a == c)
    intercept[IllegalArgumentException] {
      Similarity.boundedTrainingSample(df, "embedding", 1.0, 1, 1000)
    }
  }

  test("trainIvfCentroids under a row cap still recovers planted " +
    "directions (duplicates collapse; the cap bounds memory, not signal)") {
    import spark.implicits._
    // 200 copies each of 3 directions: identical vectors share a hash,
    // so the cap keeps at most capPer per residue — the three distinct
    // contents all survive and k-means lands exactly on the directions
    val df = (0 until 600)
      .map(i => Tuple1(Array.tabulate(8)(j => if (j == i % 3) 1f else 0f)))
      .toDF("embedding")
    val cm = Similarity.trainIvfCentroids(df, nCells = 5,
      sampleFraction = 1.0, maxSampleRows = 256)
    assert(cm.length == 5 && cm.forall(_.length == 8))
    val distinct = cm.map(_.toSeq).distinct
    assert(distinct.length == 3, s"expected 3 distinct centers, got $distinct")
    assert(distinct.forall(c => c.count(_ == 1000L) == 1 && c.count(_ == 0L) == 7))
  }

  test("trainIvfCentroidsLloyd: partitioning-invariant (order-free " +
    "integer stages), recovers planted directions, and respects the " +
    "sample cap") {
    import spark.implicits._
    // 3 planted directions with per-copy jitter in a disjoint dim, so
    // vectors are DISTINCT (exercises the content-hash init draw), yet
    // means land back on the directions
    val df = (0 until 600)
      .map { i =>
        (i.toLong, Array.tabulate(8) { j =>
          if (j == i % 3) 1f
          else if (j == 3 + i % 3) (i % 5) * 0.001f
          else 0f
        })
      }
      .toDF("vec_id", "embedding")
    val m1 = Similarity.trainIvfCentroidsLloyd(df.repartition(7),
      nCells = 3, sampleFraction = 1.0)
    val m2 = Similarity.trainIvfCentroidsLloyd(df.repartition(3),
      nCells = 3, sampleFraction = 1.0)
    assert(java.util.Arrays.deepEquals(
        m1.asInstanceOf[Array[AnyRef]], m2.asInstanceOf[Array[AnyRef]]),
      "Lloyd matrices differ across input partitionings")
    assert(m1.length == 3 && m1.forall(_.length == 8))
    // each direction dominates exactly one trained center
    val majors = m1.map(c => c.indexOf(c.max)).toSet
    assert(majors == Set(0, 1, 2), s"planted dims not separated: $majors")
    // cap respected + padding when distinct contents < nCells
    val tiny = Seq(Tuple1(Array(1f, 0f)), Tuple1(Array(0f, 1f)))
      .toDF("embedding")
    val padded = Similarity.trainIvfCentroidsLloyd(tiny, nCells = 4,
      sampleFraction = 1.0)
    assert(padded.length == 4)
    intercept[IllegalArgumentException] {
      Similarity.trainIvfCentroidsLloyd(df, nCells = 0)
    }
  }

  test("exportShards resume validates the export spec and distrusts " +
    "empty shard directories") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_shards_spec_").toString
    try {
      val df = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      graft.ml.Sampling.exportShards(df, dir, "doc_id", nShards = 4)
      assert(new java.io.File(s"$dir/_export_spec").exists(),
        "fresh export must stamp the spec marker")
      // resume under a DIFFERENT nShards or salt re-routes every row —
      // it must fail loudly instead of silently dropping shards
      val e1 = intercept[IllegalArgumentException] {
        graft.ml.Sampling.exportShards(df, dir, "doc_id", nShards = 8,
          resume = true)
      }
      assert(e1.getMessage.contains("nShards"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        graft.ml.Sampling.exportShards(df, dir, "doc_id", nShards = 4,
          salt = "other", resume = true)
      }
      assert(e2.getMessage.contains("salt"), e2.getMessage)
      // an EMPTY shard directory (non-rename-atomic crash debris) is
      // NOT done: wipe shard=2's files; the resume must rewrite it
      val s2 = new java.io.File(s"$dir/shard=2")
      s2.listFiles().foreach(f => assert(f.delete()))
      graft.ml.Sampling.exportShards(df, dir, "doc_id", nShards = 4,
        resume = true)
      assert(s2.listFiles().exists(_.getName.endsWith(".parquet")),
        "resume skipped an empty shard directory")
      val back = spark.read.parquet(dir).select("doc_id").as[Long]
        .collect().sorted.toSeq
      assert(back == (1L to 200L))
      // shard directories WITHOUT a marker cannot be trusted for a skip
      assert(new java.io.File(s"$dir/_export_spec").delete())
      val e3 = intercept[IllegalArgumentException] {
        graft.ml.Sampling.exportShards(df, dir, "doc_id", nShards = 4,
          resume = true)
      }
      assert(e3.getMessage.contains("_export_spec"), e3.getMessage)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }
}
