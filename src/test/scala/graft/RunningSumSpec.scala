package graft

import graft.core.{Cols, Sizing}
import graft.ops.{Coverage, UnaryOps}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The per-key running-sum sweeps (`Coverage.rleRuns` behind toRle and
  * rleBinary, `UnaryOps.runningSums` behind groupCumsum) against brute
  * force, under the forced plain and salted gates: NULL keys, bounds and
  * weights, End <= Start, identical rows, one hot key over several salt
  * mega-bins, and mostly empty partitions. A NULL-bound row covers
  * nothing and changes no other row's sums. */
class RunningSumSpec extends AnyFunSuite {
  import Cols.{Chrom, Strand, Start, End, RowId}

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def under[T](force: String)(body: => T): T = {
    spark.conf.set(Sizing.ForceKey, force)
    try body finally spark.conf.unset(Sizing.ForceKey)
  }

  private val schema = StructType(Seq(StructField(Chrom, StringType),
    StructField(Strand, StringType), StructField(Start, LongType),
    StructField(End, LongType), StructField(RowId, LongType), StructField("w", LongType)))

  private def frame(rows: Seq[Seq[Any]]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(Row.fromSeq), 24), schema)

  // NULL Start / End / both, a NULL key and a NULL strand, an empty and
  // an inverted row, two identical rows, a NULL weight, and a hot key
  // "c2" whose rows span 0..150k, about ten 16384-wide mega-bins, with
  // rows across bin edges; 24 partitions for ~50 rows
  private val rows: Seq[Seq[Any]] = Seq(
    Seq("c1", "+", 100L, 200L, 1L, 2L), Seq("c1", "+", null, 1000L, 2L, 1L),
    Seq("c1", "+", 300L, 400L, 3L, 1L), Seq("c1", "+", 50000L, null, 4L, 1L),
    Seq("c1", "-", null, null, 5L, 1L), Seq("c1", "-", 250L, 350L, 6L, null),
    Seq(null, "+", 10L, 20L, 7L, 1L), Seq(null, "+", 15L, 40L, 8L, 3L),
    Seq("c1", "+", 500L, 500L, 9L, 1L), Seq("c1", "+", 2000L, 1000L, 10L, 1L),
    Seq("c1", "+", 3000L, 4000L, 11L, 1L), Seq("c1", "+", 3000L, 4000L, 11L, 1L),
    Seq("c3", null, 5L, 15L, 12L, 1L), Seq("c3", "-", 8L, 30L, 13L, 1L)) ++
    (0 until 36).map { i =>
      val s = i * 4111L % 150000L
      Seq("c2", if (i % 3 == 0) "-" else "+", s, s + 1 + i * 997L % 30000L, 100L + i, 1L + i % 4)
    }

  private def cell(v: Any): String = String.valueOf(v)
  private def cell(v: Option[Any]): String = v.fold("null")(cell(_: Any))
  private def canon(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toSeq.map(cell).mkString("|")).toSeq.sorted

  /** SQL `sum`: NULL until the first non-NULL value. */
  private def sqlSum(vs: Seq[Option[Double]]): Option[Double] =
    vs.flatten.reduceOption(_ + _)

  private def opt(v: Any): Option[Long] = Option(v).map(_.asInstanceOf[Long])

  private type Weights = Seq[Any] => Seq[Option[Double]]

  /** The runs of the event model: each row with both bounds emits
    * (Start, +w) and (End, -w) for its weights w; per key (NULL is a
    * key), events sum per position, and each position pairs with the
    * next one. */
  private def bruteRuns(streams: Seq[(Seq[Seq[Any]], Weights)], keyIdx: Seq[Int]): Seq[String] = {
    val events = streams.flatMap { case (rs, weights) =>
      rs.filter(r => r(2) != null && r(3) != null).flatMap { r =>
        val ws = weights(r)
        Seq((keyIdx.map(r), r(2).asInstanceOf[Long], ws),
          (keyIdx.map(r), r(3).asInstanceOf[Long], ws.map(_.map(-_))))
      }
    }
    events.groupBy(_._1).toSeq.flatMap { case (key, evs) =>
      val byPos = evs.groupBy(_._2).toSeq.sortBy(_._1).map { case (p, es) => p -> es.map(_._3) }
      byPos.indices.init.map { j =>
        val upTo = byPos.take(j + 1).flatMap(_._2)
        val depth = upTo.head.indices.map(i => sqlSum(upTo.map(_(i))))
        // + 0.0: no -0.0, as in Spark's sums
        (key.map(cell) ++ Seq(cell(byPos(j)._1), cell(byPos(j + 1)._1)) ++
          depth.map(d => cell(d.map(_ + 0.0)))).mkString("|")
      }
    }.sorted
  }

  test("toRle drops a NULL-bound row under both gates") {
    import spark.implicits._
    val df = Seq[(String, Option[Long], Long)](("c1", Some(100L), 200L), ("c1", None, 1000L),
      ("c1", Some(300L), 400L)).toDF(Chrom, Start, End)
    for (force <- Seq("plain", "salted")) under(force) {
      val runs = Coverage.toRle(df, Seq(Chrom)).select(Start, End, "Score").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
      assert(runs == Seq((100L, 200L, 1.0), (200L, 300L, 0.0), (300L, 400L, 1.0)), force)
    }
  }

  test("toRle and rleBinary match brute force under forced plain and salted gates") {
    val df = frame(rows)
    val other = rows.filter(r => r(0) != "c3").map(r => r.updated(2, opt(r(2)).map[Any](_ + 50L).orNull))
    val one: Weights = _ => Seq(Some(1.0))
    val weighted: Weights = r => Seq(opt(r(5)).map(_.toDouble))
    for (force <- Seq("plain", "salted")) under(force) {
      for ((keys, keyIdx) <- Seq(Seq(Chrom) -> Seq(0), Seq(Chrom, Strand) -> Seq(0, 1))) {
        val out = keys ++ Seq(Start, End, "Score")
        assert(canon(Coverage.toRle(df, keys), out) == bruteRuns(Seq(rows -> one), keyIdx),
          s"toRle $keys $force")
        assert(canon(Coverage.toRle(df, keys, valueCol = Some("w")), out) ==
          bruteRuns(Seq(rows -> weighted), keyIdx), s"toRle weighted $keys $force")
      }
      val depths = Seq("score_a", "score_b").foldLeft(
        Coverage.rleBinary(df, frame(other), Seq(Chrom)))((d, c) => d.withColumn(c, col(c).cast("double")))
      assert(canon(depths, Seq(Chrom, Start, End, "score_a", "score_b")) ==
        bruteRuns(Seq(rows -> (_ => Seq(Some(1.0), Some(0.0))),
          other -> (_ => Seq(Some(0.0), Some(1.0)))), Seq(0)), s"rleBinary $force")
    }
  }

  test("groupCumsum matches brute force under forced plain and salted gates") {
    val df = frame(rows)
    // 5' -> 3' per (Chromosome, Strand): minus rows run right to left;
    // the row id breaks (pos, pos2) ties, identical rows tie fully
    val expected = rows.groupBy(r => (r(0), r(1))).toSeq.flatMap { case (_, rs) =>
      def neg(r: Seq[Any]) = r(1) == "-"
      def pos(r: Seq[Any], i: Int, j: Int) = if (neg(r)) opt(r(j)).map(-_) else opt(r(i))
      val order = Ordering.Tuple3(Ordering.Option(Ordering.Long), Ordering.Option(Ordering.Long),
        Ordering.Long)
      val sorted = rs.sortBy(r => (pos(r, 2, 3), pos(r, 3, 2), r(4).asInstanceOf[Long]))(order)
      sorted.indices.map { i =>
        val r = sorted(i)
        def len(x: Seq[Any]) = for (s <- opt(x(2)); e <- opt(x(3))) yield (e - s).toDouble
        val cumEnd = sqlSum(sorted.take(i + 1).map(len)).map(_.toLong)
        val cumStart = for (c <- cumEnd; l <- len(r)) yield c - l.toLong
        (r.map(cell) ++ Seq(cell(cumEnd), cell(cumStart))).mkString("|")
      }
    }.sorted
    for (force <- Seq("plain", "salted")) under(force) {
      val got = UnaryOps.groupCumsum(df, Seq(Chrom, Strand), tieBreak = Seq(col(RowId)))
      assert(canon(got, schema.fieldNames.toSeq ++ Seq("cumEnd", "cumStart")) == expected,
        force)
    }
  }
}
