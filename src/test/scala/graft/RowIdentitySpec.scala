package graft

import graft.core.{Cols, Sizing}
import graft.ops.BinaryOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Row identity is the engine's: every per-left-row op decides each
  * PHYSICAL input row once, whatever its payload. Rows a `row_id`
  * contract would get wrong — a `row_id` shared by distinct rows,
  * identical rows (also without any `row_id`), NULL and MAP payloads,
  * rows over several bins, mostly empty partitions — go through every
  * per-row op under each gate state, against brute-force expected rows. */
class RowIdentitySpec extends AnyFunSuite {
  import Cols.{Chrom, Start, End, RowId}

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Keys = Seq(Chrom)

  private def frame(schema: Seq[StructField], rows: Seq[Seq[Any]], slices: Int = 2): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(Row.fromSeq), slices),
      StructType(StructField(Chrom, StringType) +: StructField(Start, LongType) +:
        StructField(End, LongType) +: schema))

  // A = [0,10), B = [20,40) and B' = [100,110) share row_id 1; two rows
  // identical in every column; NULL and MAP payloads; two rows over
  // several bins and two (on c3) wider than two of the widest auto bin;
  // one row on a key the right side lacks; twelve rows over 12 partitions
  private def left = frame(Seq(StructField(RowId, LongType), StructField("name", StringType),
    StructField("m", MapType(StringType, LongType))), Seq(
    Seq("c1", 0L, 10L, 1L, null, Map("a" -> 1L)), Seq("c1", 20L, 40L, 1L, "b", Map("b" -> 2L)),
    Seq("c1", 100L, 110L, 1L, null, Map.empty[String, Long]),
    Seq("c1", 2L, 6L, 7L, "x", Map("a" -> 1L)), Seq("c1", 2L, 6L, 7L, "x", Map("a" -> 1L)),
    Seq("c1", 22L, 24L, 2L, "y", null), Seq("c1", 50L, 60L, 3L, "z", null),
    Seq("c1", 250L, 270L, 5L, "w", Map("c" -> 3L)), Seq("c1", 500L, 800L, 6L, null, null),
    Seq("c2", 0L, 10L, 4L, "r", Map("a" -> 1L)),
    Seq("c3", 0L, 300000L, 8L, "v", null), Seq("c3", 400000L, 700000L, 9L, null, Map("d" -> 4L))),
    slices = 12)

  private def genes = frame(Seq(StructField(RowId, LongType), StructField("gene", StringType)),
    Seq(Seq("c1", 5L, 8L, 10L, "g1"), Seq("c1", 25L, 30L, 11L, "g2"),
      Seq("c1", 27L, 35L, 12L, "g3"), Seq("c1", 260L, 262L, 13L, "g4"),
      Seq("c3", 150000L, 150010L, 14L, "g5")))

  private val gateStates = Seq(
    "force=plain" -> Seq(Sizing.ForceKey -> "plain"),
    "force=salted" -> Seq(Sizing.ForceKey -> "salted"),
    "salted, sweepMaxDepth=0" -> Seq(Sizing.ForceKey -> "salted",
      "spark.graft.join.sweepMaxDepth" -> "0"))

  private def under[T](conf: Seq[(String, String)])(body: => T): T = {
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally conf.foreach { case (k, _) => spark.conf.unset(k) }
  }

  // ---- brute force over the collected rows --------------------------

  private type Rec = Map[String, Any]

  private def recs(df: DataFrame): Seq[Rec] =
    df.collect().toSeq.map(r => df.columns.zip(r.toSeq).toMap)

  private def s(r: Rec) = r(Start).asInstanceOf[Long]
  private def e(r: Rec) = r(End).asInstanceOf[Long]
  private def hits(l: Rec, r: Rec) = l(Chrom) == r(Chrom) && s(l) < e(r) && e(l) > s(r)

  /** Right columns as they land next to `lCols` (keys dropped, the rest
    * suffixed on collision). */
  private def rightAs(lCols: Seq[String], r: Rec): Rec =
    (r - Chrom).map { case (c, v) => (if (lCols.contains(c)) c + "_b" else c) -> v }

  private def canon(rs: Seq[Rec], cols: Seq[String]) =
    rs.map(r => cols.map(c => String.valueOf(r.getOrElse(c, null)))).sortBy(_.mkString("|"))

  /** Runs every (op, expected rows, expected columns) case as its own
    * concurrent job — each is a few tiny stages, so they overlap well —
    * then compares. The gate confs are session-wide and hold for all. */
  private def check(cases: Seq[(String, () => DataFrame, Seq[Rec], Seq[String])]): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val got = Await.result(Future.traverse(cases) { c =>
        Future { val df = c._2(); (df.columns.toSet, recs(df)) }
      }, scala.concurrent.duration.Duration(10, "min"))
      for (((name, _, want, cols), (gotCols, gotRows)) <- cases.zip(got)) withClue(name + ": ") {
        assert(gotCols == cols.toSet)
        assert(canon(gotRows, cols) == canon(want, cols))
      }
    } finally pool.shutdown()
  }

  private def subtractOne(l: Rec, rs: Seq[Rec]): Seq[Rec] = {
    val cover = rs.filter(hits(l, _)).map(r => (s(r), e(r))).sorted
    var at = s(l)
    val out = Seq.newBuilder[Rec]
    cover.foreach { case (a, b) =>
      if (a > at) out += l + (End -> math.min(a, e(l))) + (Start -> at)
      at = math.max(at, b)
    }
    if (at < e(l)) out += l + (Start -> at)
    out.result().filter(p => s(p) < e(p))
  }

  private def distance(l: Rec, r: Rec): Long =
    if (hits(l, r)) 0L else if (e(r) <= s(l)) s(l) - e(r) + 1 else s(r) - e(l) + 1

  // ---- the matrix -----------------------------------------------------

  for ((state, conf) <- gateStates) {
    test(s"per-row ops decide each physical row once: $state") {
      under(conf) {
        val left = this.left
        val right = genes
        val ls = recs(left)
        val rs = recs(right)
        val lCols = left.columns.toSeq
        val rCols = rs.head.keys.filterNot(_ == Chrom).map(c =>
          if (lCols.contains(c)) c + "_b" else c).toSeq
        val pairs = for (l <- ls; r <- rs if hits(l, r)) yield l ++ rightAs(lCols, r)

        val picks = Seq("first", "last").map { pick =>
          val want = ls.flatMap { l =>
            val m = rs.filter(hits(l, _)).sortBy(r => (s(r), e(r)))
            (if (pick == "first") m.headOption else m.lastOption).map(l ++ rightAs(lCols, _))
          }
          (s"joinOverlaps($pick)", () => BinaryOps.joinOverlaps(left, right, Keys, multiple = pick),
            want, lCols ++ rCols)
        }
        val unmatchedL = ls.filterNot(l => rs.exists(hits(l, _)))
        val unmatchedR = rs.filterNot(r => ls.exists(hits(_, r))).map(rightAs(lCols, _))
        val near = ls.flatMap { l =>
          rs.filter(_(Chrom) == l(Chrom)).sortBy(r => (distance(l, r), r(RowId).asInstanceOf[Long]))
            .headOption.map(r => l + ("row_id_b" -> r(RowId)) + ("Start_b" -> s(r)) +
              ("End_b" -> e(r)) + ("Distance" -> distance(l, r)))
        }
        val chrom = "ACGTTGCAAC" * 100
        val chunks = spark.createDataFrame(spark.sparkContext.parallelize(
          chrom.grouped(25).zipWithIndex.map { case (c, i) => Row("c1", i * 25L, c) }.toSeq, 3),
          StructType(Seq(StructField(Chrom, StringType), StructField("cstart", LongType),
            StructField("chunk", StringType))))
        check(Seq[(String, () => DataFrame, Seq[Rec], Seq[String])](
          ("countOverlaps", () => BinaryOps.countOverlaps(left, right, Keys, countCol = "n"),
            ls.map(l => l + ("n" -> rs.count(hits(l, _)).toLong)), lCols :+ "n"),
          ("joinOverlaps(all)", () => BinaryOps.joinOverlaps(left, right, Keys), pairs,
            lCols ++ rCols),
          ("joinOverlaps(left)", () => BinaryOps.joinOverlaps(left, right, Keys, joinType = "left"),
            pairs ++ unmatchedL, lCols ++ rCols),
          ("joinOverlaps(right)", () => BinaryOps.joinOverlaps(left, right, Keys,
            joinType = "right"), pairs ++ unmatchedR, lCols ++ rCols),
          ("joinOverlaps(outer)", () => BinaryOps.joinOverlaps(left, right, Keys,
            joinType = "outer"), pairs ++ unmatchedL ++ unmatchedR, lCols ++ rCols),
          ("overlap", () => BinaryOps.overlap(left, right, Keys),
            ls.filter(l => rs.exists(hits(l, _))), lCols),
          ("overlap(invert)", () => BinaryOps.overlap(left, right, Keys, invert = true),
            unmatchedL, lCols),
          ("subtract", () => BinaryOps.subtract(left, right, Keys),
            ls.flatMap(subtractOne(_, rs)), lCols),
          ("nearest", () => BinaryOps.nearest(left, right, Keys), near,
            lCols ++ Seq("row_id_b", "Start_b", "End_b", "Distance")),
          ("getSequenceChunked", () => graft.ext.Seqs.getSequenceChunked(left, chunks),
            ls.map(l => l + ("sequence" -> (if (l(Chrom) == "c1")
              chrom.substring(s(l).toInt, e(l).toInt) else null))), lCols :+ "sequence"))
          ++ picks)
      }
    }
  }

  test("a shared row_id or identical rows no longer merge rows: the reported cases") {
    under(Seq(Sizing.ForceKey -> "plain")) {
      val got = BinaryOps.subtract(left, genes, Keys)
        .collect().map(r => (r.getAs[Long](Start), r.getAs[Long](End))).sorted.toSeq
      // A keeps its tail (8,10); [22,24), [50,60), c2's row and c3's second
      // overlap nothing; c3's first loses g5's [150000,150010)
      assert(got == Seq((0L, 5L), (0L, 10L), (0L, 150000L), (2L, 5L), (2L, 5L), (8L, 10L),
        (20L, 25L), (22L, 24L), (35L, 40L), (50L, 60L), (100L, 110L), (250L, 260L),
        (262L, 270L), (500L, 800L), (150010L, 300000L), (400000L, 700000L)))
      assert(BinaryOps.overlap(left, genes, Keys, invert = true)
        .collect().map(_.getAs[Long](Start)).sorted.toSeq ==
        Seq(0L, 22L, 50L, 100L, 400000L, 500L).sorted)
      val near = BinaryOps.nearest(left, genes, Keys)
        .collect().map(r => r.getAs[Long](Start) -> r.getAs[Long]("Start_b")).toMap
      assert(near(20L) == 25L)
      // the same identical rows without a row_id column
      val bare = left.drop(RowId)
      val counts = BinaryOps.countOverlaps(bare, genes, Keys, countCol = "n")
        .collect().map(r => r.getAs[Long](Start) -> r.getAs[Long]("n")).toSeq.sorted
      assert(counts.filter(_._1 == 2L) == Seq(2L -> 1L, 2L -> 1L))
      assert(BinaryOps.joinOverlaps(bare, genes, Keys, multiple = "first")
        .filter(org.apache.spark.sql.functions.col(Start) === 2L).count() == 2)
    }
  }
}
