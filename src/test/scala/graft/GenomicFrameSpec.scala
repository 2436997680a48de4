package graft

import graft.core.{Cols, GenomicFrame, StrandBehavior}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** User-facing API surface tests: the pyranges-style method chain a
  * reference user would write, end-to-end through the wrapper. */
class GenomicFrameSpec extends AnyFunSuite {
  import Cols._

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def mk(rows: (String, String, Long, Long)*): GenomicFrame = {
    import spark.implicits._
    GenomicFrame(rows.toSeq.toDF(Chrom, Strand, Start, End)
      .withColumn(RowId, monotonically_increasing_id()))
  }

  test("wrap demotes when loc columns are missing") {
    import spark.implicits._
    assert(GenomicFrame.of(Seq((1, 2)).toDF("a", "b")).isLeft)
    assert(GenomicFrame.of(Seq(("c", 1L, 2L)).toDF(Chrom, Start, End)).isRight)
  }

  test("strand_behavior=same restricts matches; opposite flips; ignore widens") {
    val a = mk(("c", "+", 0, 10))
    val b = mk(("c", "-", 5, 15))
    assert(a.overlap(b, StrandBehavior.Same).df.count() == 0)
    assert(a.overlap(b, StrandBehavior.Opposite).df.count() == 1)
    assert(a.overlap(b, StrandBehavior.Ignore).df.count() == 1)
    // auto: both stranded -> same
    assert(a.overlap(b).df.count() == 0)
  }

  test("method chain: merge -> complement -> count vs other") {
    val a = mk(("c", "+", 0, 5), ("c", "+", 3, 9), ("c", "+", 20, 30))
    val gaps = a.mergeOverlaps().complementRanges()
    val got = gaps.df.select(Start, End).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSet == Set((9L, 20L)))
    // [4,21) overlaps all three rows ([20,30) since 20 < 21)
    val counted = a.countOverlaps(mk(("c", "+", 4, 21)), countCol = "n")
    assert(counted.df.agg(sum("n")).head.getLong(0) == 3L)
  }

  test("joinOverlaps via wrapper suffixes and honors auto strand") {
    val a = mk(("c", "+", 0, 10))
    val b = mk(("c", "+", 5, 15), ("c", "-", 5, 15))
    val j = a.joinOverlaps(b)
    assert(j.df.count() == 1)
    assert(j.df.columns.contains(Start + "_b"))
  }

  test("per-row ops on a frame without row_id add only their own columns") {
    import spark.implicits._
    val a = GenomicFrame(Seq(("c", "+", 0L, 10L, "x"), ("c", "+", 0L, 10L, "x"))
      .toDF(Chrom, Strand, Start, End, "name"))
    val b = GenomicFrame(Seq(("c", "+", 5L, 8L)).toDF(Chrom, Strand, Start, End))
    def added(g: GenomicFrame) = g.df.columns.toSeq.diff(a.df.columns.toSeq)
    assert(added(a.joinOverlaps(b)) == Seq("Start_b", "End_b"))
    assert(added(a.joinOverlaps(b, multiple = "first")) == Seq("Start_b", "End_b"))
    assert(added(a.subtractOverlaps(b)).isEmpty)
    assert(added(a.countOverlaps(b)) == Seq("NumberOverlaps"))
    assert(added(a.nearestRanges(b)) == Seq("row_id_b", "Start_b", "End_b", "Distance"))
    // every op still keeps the two identical input rows apart
    assert(a.countOverlaps(b).df.collect().map(_.getAs[Long]("NumberOverlaps")).toSeq == Seq(1L, 1L))
    assert(a.subtractOverlaps(b).df.count() == 4)
    assert(a.nearestRanges(b).df.count() == 2)
  }

  test("loci accessor filters chrom/strand/range") {
    val a = mk(("c", "+", 0, 10), ("c", "-", 20, 30), ("d", "+", 0, 5))
    assert(a.loci("c").df.count() == 2)
    assert(a.loci("c", Some("+")).df.count() == 1)
    assert(a.loci("c", None, Some(25L), Some(40L)).df.count() == 1)
  }

  test("invalidRanges reports empty/negative rows") {
    import spark.implicits._
    val bad = GenomicFrame(Seq(("c", 5L, 5L), ("c", -1L, 3L), ("c", 1L, 2L))
      .toDF(Chrom, Start, End))
    val reasons = bad.invalidRanges.select("invalid_reason").collect().map(_.getString(0))
    assert(reasons.toSet == Set("empty_or_negative_length", "negative_positions"))
  }

  test("makeStrandValid, summary, concat, loc-column sugar") {
    import spark.implicits._
    val messy = GenomicFrame(Seq(("c", ".", 0L, 5L), ("c", "-", 10L, 20L))
      .toDF(Chrom, Strand, Start, End))
    assert(messy.makeStrandValid.df.select(Strand).collect()
      .map(_.getString(0)).toSeq == Seq("+", "-"))
    val a = mk(("c", "+", 0, 5), ("c", "+", 3, 9))
    val s = a.summary()
    // intervals row: n=2; coverage row: one merged island of length 9
    val byWhat = s.collect().map(r => r.getAs[String]("what") ->
      (r.getAs[Long]("n"), r.getAs[Long]("total_len"))).toMap
    assert(byWhat("intervals") == ((2L, 11L)) && byWhat("coverage") == ((1L, 9L)))
    val b = mk(("d", "-", 1, 2)).df.withColumn("extra", lit(7))
    val cat = GenomicFrame.concat(Seq(a, GenomicFrame(b)))
    assert(cat.df.count() == 3 && cat.df.columns.contains("extra"))
    assert(cat.getWithLocColumns(Seq("extra")).df.columns.toSeq ==
      Seq(Chrom, Start, End, Strand, "extra"))
    assert(cat.removeNonLocColumns.df.columns.length == 4)
  }

  test("concat preserves length; mixed strandedness is never strand-valid") {
    // reference tests/unit/test_concat.py: len(a)+len(b) == len(concat),
    // and concat with any unstranded side must not be strand_valid
    val s1 = mk(("c", "+", 0, 5), ("c", "-", 3, 9))
    val s2 = mk(("d", "+", 1, 2))
    val u1 = GenomicFrame(s1.df.drop(Strand))
    val u2 = GenomicFrame(s2.df.drop(Strand))
    def len(g: GenomicFrame): Long = g.df.count()
    // stranded + stranded: lengths add, validity survives
    val ss = GenomicFrame.concat(Seq(s1, s2))
    assert(len(ss) == len(s1) + len(s2) && ss.strandValid)
    // unstranded + unstranded: lengths add, no strand column
    val uu = GenomicFrame.concat(Seq(u1, u2))
    assert(len(uu) == 3 && !uu.strandValid)
    // mixed (either order): the missing side's strands are NULL — the
    // frame must NOT claim strand validity
    val su = GenomicFrame.concat(Seq(s1, u2))
    val us = GenomicFrame.concat(Seq(u1, s2))
    assert(len(su) == 3 && !su.strandValid)
    assert(len(us) == 3 && !us.strandValid)
  }

  test("getSequence extracts and reverse-complements by strand") {
    import spark.implicits._
    val seqs = Seq(("c", "ACGTACGTAA")).toDF(Chrom, "seq")
    val a = mk(("c", "+", 0, 4), ("c", "-", 0, 4))
    val got = a.getSequence(seqs).df.select(Strand, "sequence").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(got("+") == "ACGT")
    assert(got("-") == "ACGT")  // revcomp of ACGT is ACGT
    // [1,5) of ACGTACGTAA is CGTA; revcomp = TACG
    val b = mk(("c", "-", 1, 5))
    assert(b.getSequence(seqs).df.head.getAs[String]("sequence") == "TACG")
  }

  test("chromosomes / chromosomes_and_strands / strand_valid accessors") {
    // reference doctest core/pyranges_main.py:617-632: natsorted pairs
    val g = mk(("chr2", "-", 2, 3), ("chr2", "+", 3, 10),
      ("chr11", "-", 9, 12), ("chr1", "+", 1, 3))
    assert(g.strandValid)
    // natsort: chr1 < chr2 < chr11 (lexicographic would put chr11 second)
    assert(g.chromosomes == Seq("chr1", "chr2", "chr11"))
    assert(g.chromosomesAndStrands ==
      Seq(("chr1", "+"), ("chr2", "+"), ("chr2", "-"), ("chr11", "-")))
    // '.' strand (reference :3431-3441) -> invalid; pairs accessor refuses
    val dot = mk(("chr1", "+", 1, 5), ("chr1", ".", 6, 8))
    assert(!dot.strandValid)
    intercept[IllegalArgumentException](dot.chromosomesAndStrands)
    assert(!GenomicFrame(g.df.drop(Strand)).strandValid)
  }

  test("repr renders a PyRanges-style preview with dtypes and footer") {
    val g = mk(("chr1", "+", 1, 11), ("chr1", "-", 40, 60), ("chr2", "+", 5, 9))
    val r = g.repr()
    assert(r.contains("Chromosome"))
    assert(r.contains("int64"))
    assert(r.contains("str"))
    assert(r.contains("GenomicFrame with 3 rows and 5 columns."))
    assert(r.contains("Contains 2 chromosomes and 2 strands."))
    // truncation marker appears once rows exceed the preview budget
    val many = mk((1 to 20).map(i => ("chr1", "+", i.toLong, i + 5L)): _*)
    assert(many.repr(maxRows = 8).contains("..."))
  }

  test("repr goldens replay the reference constructor doctests") {
    // inputs from the reference's PyRanges constructor doctests
    // (core/pyranges_main.py:120-146); the layout is the repo's documented
    // deviation (no pandas index column / pipe rail, truncation row
    // instead of a sorted tail) but the semantic content — header row,
    // dtype row, dash rule, cell values, rows/columns footer,
    // chromosome/strand count line — is pinned exactly. Trailing pad
    // spaces are stripped per line so the goldens stay readable.
    import spark.implicits._
    def norm(s: String): String =
      s.linesIterator.map(_.replaceAll("\\s+$", "")).mkString("\n")

    val g1 = Seq(("chr1", 100L, 150L), ("chr2", 200L, 201L))
      .toDF(Chrom, Start, End)
    assert(norm(graft.core.ToStringRepr.tostring(g1)) ==
      """Chromosome  Start  End
        |str         int64  int64
        |----------  -----  -----
        |chr1        100    150
        |chr2        200    201
        |GenomicFrame with 2 rows and 3 columns.
        |Contains 2 chromosomes.""".stripMargin)

    val g2 = Seq((1L, "+", 1L, 2L, 0L, 12L, 10L, 2L),
        (1L, "-", 4L, 27L, 1L, 11L, 9L, 3L))
      .toDF(Chrom, Strand, Start, End, "TP", "FP", "TN", "FN")
    assert(norm(graft.core.ToStringRepr.tostring(g2)) ==
      """Chromosome  Strand  Start  End    TP     FP     TN     FN
        |int64       str     int64  int64  int64  int64  int64  int64
        |----------  ------  -----  -----  -----  -----  -----  -----
        |1           +       1      2      0      12     10     2
        |1           -       4      27     1      11     9      3
        |GenomicFrame with 2 rows and 8 columns.
        |Contains 1 chromosomes and 2 strands.""".stripMargin)
  }

  test("display options: set/get/reset semantics and the aligned display block") {
    import graft.core.Options
    Options.resetOptions()
    try {
      // reference core/options.py doctest semantics
      assert(Options.getOption("max_rows_to_show").contains(8))
      Options.setOption("max_rows_to_show", 10)
      assert(Options.getOption("max_rows_to_show").contains(10))
      Options.setOption("console_width", 120)
      assert(Options.getOption("console_width").contains(120))
      Options.resetOptions()
      assert(Options.getOption("max_rows_to_show").contains(8))
      assert(Options.getOption("console_width").isEmpty)
      intercept[IllegalArgumentException](Options.setOption("nope", 1))
      intercept[IllegalArgumentException](Options.getOption("nope"))
      // the reference's display_options golden (core/options.py:100-115)
      // at defaults — same names, defaults, descriptions, alignment rule
      assert(Options.displayOptions ==
        """max_rows_to_show         :    8 (the max number of rows to show in PyRanges repr)
          |max_column_names_to_show :    3 (how many columns listed in PyRanges repr when not all fit the screen width)
          |console_width            : None (console width, affecting PyRanges representation (None for auto))
          |html_max_cols            :   20 (max number of columns to show as HTML (e.g. Jupyter), others are hidden)
          |html_max_rows            : None (max n. of rows shown as HTML (e.g. Jupyter). If undefined, max_rows_to_show is used)""".stripMargin)
    } finally Options.resetOptions()
  }

  test("repr honors max_rows_to_show and console_width from options") {
    import graft.core.Options
    Options.resetOptions()
    try {
      val many = mk((1 to 20).map(i => ("chr1", "+", i.toLong, i + 5L)): _*)
      // conftest-pinned settings: rows 8, names 3, width 120
      Options.setOption("max_rows_to_show", 8)
      Options.setOption("max_column_names_to_show", 3)
      Options.setOption("console_width", 120)
      val r = many.repr()
      // 3 header lines + 8 rows + truncation + footer + chrom line
      assert(r.contains("...") && r.count(_ == '\n') <= 13)
      Options.setOption("max_rows_to_show", 2)
      val r2 = many.repr()
      assert(r2.count(_ == '\n') < r.count(_ == '\n'))
      // narrow console: trailing columns elide, footer lists hidden
      // names (up to max_column_names_to_show, then "...")
      Options.setOption("max_rows_to_show", 8)
      Options.setOption("console_width", 24)
      import spark.implicits._
      val wide = Seq((1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L))
        .toDF("c1", "c2", "c3", "c4", "c5", "c6", "c7", "c8")
      val rw = graft.core.ToStringRepr.tostring(wide)
      assert(rw.linesIterator.next().length <= 24) // "..." rail fits the budget too
      assert(rw.contains("columns not shown:"))
      assert(rw.contains("\"c")) // hidden names listed
      assert(rw.contains(", ...).")) // more hidden than names shown
      // explicit argument overrides the option
      val rFull = graft.core.ToStringRepr.tostring(wide,
        maxTotalWidth = Int.MaxValue)
      assert(!rFull.contains("columns not shown"))
    } finally Options.resetOptions()
  }

  test("reprHtml honors html_max_cols and html_max_rows, escapes cells") {
    import graft.core.Options
    import spark.implicits._
    Options.resetOptions()
    try {
      val many = mk((1 to 20).map(i => ("chr1", "+", i.toLong, i + 5L)): _*)
      // html_max_rows unset -> falls back to max_rows_to_show
      Options.setOption("max_rows_to_show", 4)
      val h = many.reprHtml()
      assert(h.count(_ == '<') > 0 && h.contains("20 rows"))
      assert("<tr><td>".r.findAllIn(h).size == 5) // 4 preview + "..." row
      // html_max_rows takes precedence once set
      Options.setOption("html_max_rows", 2)
      assert("<tr><td>".r.findAllIn(many.reprHtml()).size == 3)
      // column cap elides behind a "..." th and counts the hidden
      Options.setOption("html_max_cols", 3)
      val wide = Seq((1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L))
        .toDF("c1", "c2", "c3", "c4", "c5", "c6", "c7", "c8")
      val hw = graft.core.ToStringRepr.tohtml(wide)
      assert(hw.contains("<th>c3</th><th>...</th>") && !hw.contains("<th>c4"))
      assert(hw.contains("(5 columns not shown)"))
      assert(hw.contains("8 columns"))
      // explicit args override; cells escape markup
      assert(!graft.core.ToStringRepr.tohtml(wide, maxCols = 8)
        .contains("not shown"))
      val evil = Seq(("<b>&x", 1L)).toDF("s", "n")
      val he = graft.core.ToStringRepr.tohtml(evil)
      assert(he.contains("&lt;b&gt;&amp;x") && !he.contains("<b>&x"))
      // a caller-supplied cached total short-circuits the footer count
      // job (the Jupyter re-render path); the preview itself already IS
      // the total for non-truncated frames
      assert(graft.core.ToStringRepr.tohtml(evil, totalRows = 42L)
        .contains("42 rows"))
      assert(he.contains("1 rows"))
    } finally Options.resetOptions()
  }
}
