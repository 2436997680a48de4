package graft.core

import graft.join.RangeJoin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-name contract for genomic interval tables.
  *
  * Mirrors the reference's column constants (reference:
  * pyranges1/core/names.py:41-56 — GENOME_LOC_COLS = [Chromosome, Start,
  * End], valid strand values "+"/"-"). Coordinates are 0-based half-open
  * [Start, End). All coordinates are LongType (the reference preserves
  * narrow int dtypes; Spark has no unsigned ints so we normalize to Long —
  * documented deviation, see SURVEY.md §1.4).
  */
object Cols {
  val Chrom  = "Chromosome"
  val Start  = "Start"
  val End    = "End"
  val Strand = "Strand"
  /** Explicit row-identity column replacing the pandas index contract
    * (reference documents index preserved/duplicated per op). */
  val RowId  = "row_id"
  val GenomeLoc: Seq[String] = Seq(Chrom, Start, End)
  val FwdStrand = "+"
  val RevStrand = "-"
}

/** Binary-op strand matching knob (reference
  * core/pyranges_helpers.py:274-313). "Opposite" is implemented by
  * flipping other's strand before grouping (reference :222-224). */
sealed trait StrandBehavior
object StrandBehavior {
  case object Auto     extends StrandBehavior
  case object Same     extends StrandBehavior
  case object Opposite extends StrandBehavior
  case object Ignore   extends StrandBehavior
}

/** Thin wrapper over a DataFrame carrying the genomic schema contract.
  * Every operator is a pure DataFrame => DataFrame function; this class
  * only resolves group keys (Chromosome [+ Strand] [+ matchBy]) the way
  * the reference's prepare_by_single/prepare_by_binary helpers do
  * (reference core/pyranges_helpers.py:157-227).
  */
final case class GenomicFrame(df: DataFrame) {
  import Cols._

  def hasStrand: Boolean = df.columns.contains(Strand)

  /** use_strand="auto" resolution: strand column present. The reference
    * additionally checks strand validity (values all +/-); we assume the
    * ingest path normalized strands (validate() reports otherwise). */
  def resolveUseStrand(useStrand: Option[Boolean]): Boolean =
    useStrand.getOrElse(hasStrand)

  def groupCols(useStrand: Boolean, matchBy: Seq[String] = Nil): Seq[String] =
    (Seq(Chrom) ++ (if (useStrand && hasStrand) Seq(Strand) else Nil)) ++ matchBy

  /** Validity reasons, mirroring InvalidRangesReason (reference
    * range_frame/range_frame_validator.py:99-130). */
  def invalidRanges: DataFrame = {
    val reason = when(col(Start).isNull || col(End).isNull, "nan_positions")
      .when(col(End) <= col(Start), "empty_or_negative_length")
      .when(col(Start) < 0, "negative_positions")
    df.withColumn("invalid_reason", reason).filter(col("invalid_reason").isNotNull)
  }

  /** loci accessor sugar (reference core/loci_getter.py:21-149):
    * chromosome/strand/range filter, predicate-pushdown friendly. */
  def loci(chrom: String, strand: Option[String] = None,
           start: Option[Long] = None, end: Option[Long] = None): GenomicFrame = {
    var c: Column = col(Chrom) === chrom
    strand.foreach(s => c = c && col(Strand) === s)
    start.foreach(b => c = c && col(End) > b)
    end.foreach(e => c = c && col(Start) < e)
    GenomicFrame(df.filter(c))
  }

  def lengths: DataFrame = df.withColumn("length", col(End) - col(Start))

  /** Immutable analog of the reference's loci SETTER (reference
    * core/loci_getter.py setitem): update columns on the rows matching a
    * predicate, leave the rest unchanged. */
  def updateWhere(cond: Column, updates: (String, Column)*): GenomicFrame =
    GenomicFrame(updates.foldLeft(df) { case (d, (c, v)) =>
      d.withColumn(c, when(cond, v).otherwise(col(c)))
    })

  /** strand_valid (reference core/pyranges_main.py:3418-3450): strand
    * column present and every value '+'/'-'. One tiny boolean aggregate. */
  def strandValid: Boolean =
    // coalesce(false): NULL strands (e.g. after concat with a
    // strand-less frame) must read as invalid — bool_and silently
    // IGNORES null inputs, which made a half-stranded frame "valid"
    // (reference tests/unit/test_concat.py:12-13: concat with an
    // unstranded side is never strand_valid)
    hasStrand && df.agg(bool_and(coalesce(
        col(Strand).isin(FwdStrand, RevStrand), lit(false))))
      .head().getBoolean(0)

  /** chromosomes (reference core/pyranges_main.py:612-614): distinct
    * chromosome names in natural-sort order. Small driver-side list — the
    * distinct is a map-side-combined aggregate over one column. */
  def chromosomes: Seq[String] =
    df.select(col(Chrom)).distinct()
      .orderBy(graft.expr.NatSort.natsortKey(col(Chrom)))
      .collect().map(_.getString(0)).toSeq

  /** chromosomes_and_strands (reference core/pyranges_main.py:617-632);
    * requires valid strand info, like the reference. */
  def chromosomesAndStrands: Seq[(String, String)] = {
    require(strandValid,
      "PyRanges contains non-genomic strands or no strand column. Only +/- are valid.")
    df.select(col(Chrom), col(Strand)).distinct()
      .orderBy(graft.expr.NatSort.natsortKey(col(Chrom)), col(Strand))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
  }

  def flipStrand: GenomicFrame = GenomicFrame(
    df.withColumn(Strand, when(col(Strand) === FwdStrand, RevStrand).otherwise(FwdStrand)))

  def removeStrand: GenomicFrame = GenomicFrame(df.drop(Strand))

  /** Attach a `row_id` column if absent (payload: ops number rows themselves). */
  def withRowId: GenomicFrame =
    if (df.columns.contains(RowId)) this
    else GenomicFrame(df.withColumn(RowId, monotonically_increasing_id()))

  // ------------------------------------------------------------------
  // pyranges-parity operator surface. Each method resolves the group key
  // (Chromosome [+ Strand] [+ matchBy]) the way prepare_by_single /
  // prepare_by_binary do (reference core/pyranges_helpers.py:157-227),
  // then delegates to the pure DataFrame operator. strandBehavior
  // "opposite" flips other's strand before grouping (reference :222-224).
  // ------------------------------------------------------------------

  import graft.ops.{BinaryOps, Composites, Coverage, UnaryOps}

  private def k1(useStrand: Option[Boolean], matchBy: Seq[String]): Seq[String] =
    groupCols(resolveUseStrand(useStrand), matchBy)

  /** Resolve binary keys + possibly strand-flipped other. */
  private def prepareBinary(other: GenomicFrame, behavior: StrandBehavior,
                            matchBy: Seq[String]): (Seq[String], DataFrame) = {
    val bothStranded = hasStrand && other.hasStrand
    behavior match {
      case StrandBehavior.Ignore => (groupCols(false, matchBy), other.df)
      case StrandBehavior.Same   => (groupCols(true, matchBy), other.df)
      case StrandBehavior.Opposite =>
        (groupCols(true, matchBy), other.flipStrand.df)
      case StrandBehavior.Auto =>
        if (bothStranded) (groupCols(true, matchBy), other.df)
        else (groupCols(false, matchBy), other.df)
    }
  }

  def mergeOverlaps(useStrand: Option[Boolean] = None, slack: Long = 0,
                    countCol: Option[String] = None,
                    matchBy: Seq[String] = Nil): GenomicFrame =
    GenomicFrame(UnaryOps.merge(df, k1(useStrand, matchBy), slack, countCol))

  def clusterOverlaps(useStrand: Option[Boolean] = None, slack: Long = 0,
                      clusterCol: String = "Cluster",
                      matchBy: Seq[String] = Nil): GenomicFrame =
    GenomicFrame(UnaryOps.cluster(df, k1(useStrand, matchBy), slack, clusterCol))

  def complementRanges(useStrand: Option[Boolean] = None,
                       chromSizes: Option[DataFrame] = None,
                       matchBy: Seq[String] = Nil): GenomicFrame =
    GenomicFrame(UnaryOps.complement(df, k1(useStrand, matchBy), chromSizes))

  def outerRanges(useStrand: Option[Boolean] = None,
                  countCol: Option[String] = None,
                  matchBy: Seq[String] = Nil): GenomicFrame =
    GenomicFrame(UnaryOps.boundaries(df, k1(useStrand, matchBy), countCol))

  def extendRanges(ext5: Long = 0, ext3: Long = 0,
                   useStrand: Option[Boolean] = None): GenomicFrame =
    GenomicFrame(UnaryOps.extend(df, ext5, ext3, resolveUseStrand(useStrand)))

  def clipRanges(chromSizes: Option[DataFrame] = None,
                 onlyRight: Boolean = false): GenomicFrame =
    GenomicFrame(chromSizes match {
      case Some(cs) => UnaryOps.clip(df, cs, onlyRight)
      case None     => UnaryOps.clipZero(df)
    })

  def splitOverlaps(useStrand: Option[Boolean] = None, between: Boolean = false,
                    matchBy: Seq[String] = Nil): GenomicFrame =
    GenomicFrame(UnaryOps.split(df, k1(useStrand, matchBy), between))

  def groupCumsum(matchBy: Seq[String] = Nil,
                  useStrand: Option[Boolean] = None,
                  cumStartCol: String = "cumStart",
                  cumEndCol: String = "cumEnd"): GenomicFrame =
    GenomicFrame(UnaryOps.groupCumsum(df, k1(useStrand, matchBy),
      resolveUseStrand(useStrand), cumStartCol, cumEndCol))

  def windowRanges(size: Long, useStrand: Option[Boolean] = None): GenomicFrame =
    GenomicFrame(UnaryOps.windowRanges(df, size, resolveUseStrand(useStrand)))

  def tileRanges(size: Long, overlapCol: Option[String] = None): GenomicFrame =
    GenomicFrame(UnaryOps.tile(df, size, overlapCol, fraction = true))

  def maxDisjointOverlaps(useStrand: Option[Boolean] = None, slack: Long = 0,
                          matchBy: Seq[String] = Nil): GenomicFrame =
    GenomicFrame(UnaryOps.maxDisjoint(df, k1(useStrand, matchBy), slack))

  def sortRanges(by: Seq[String] = Nil, useStrand: Option[Boolean] = None,
                 natsort: Boolean = true): GenomicFrame =
    GenomicFrame(UnaryOps.sortRanges(df, by, resolveUseStrand(useStrand), natsort))

  def overlap(other: GenomicFrame,
              strandBehavior: StrandBehavior = StrandBehavior.Auto,
              slack: Long = 0, contained: Boolean = false,
              invert: Boolean = false,
              matchBy: Seq[String] = Nil): GenomicFrame = {
    val (keys, o) = prepareBinary(other, strandBehavior, matchBy)
    GenomicFrame(BinaryOps.overlap(df, o, keys, slack, contained, invert))
  }

  def joinOverlaps(other: GenomicFrame,
                   strandBehavior: StrandBehavior = StrandBehavior.Auto,
                   joinType: String = "inner", multiple: String = "all",
                   slack: Long = 0, suffix: String = "_b",
                   reportOverlapCol: Option[String] = None,
                   contained: Boolean = false,
                   matchBy: Seq[String] = Nil): GenomicFrame = {
    val (keys, o) = prepareBinary(other, strandBehavior, matchBy)
    GenomicFrame(BinaryOps.joinOverlaps(df, o, keys, joinType,
      multiple, slack, suffix, reportOverlapCol, contained))
  }

  def intersectOverlaps(other: GenomicFrame,
                        strandBehavior: StrandBehavior = StrandBehavior.Auto,
                        matchBy: Seq[String] = Nil): GenomicFrame = {
    val (keys, o) = prepareBinary(other, strandBehavior, matchBy)
    GenomicFrame(BinaryOps.intersect(df, o, keys))
  }

  def setIntersectOverlaps(other: GenomicFrame,
                           strandBehavior: StrandBehavior = StrandBehavior.Auto): GenomicFrame = {
    val (keys, o) = prepareBinary(other, strandBehavior, Nil)
    GenomicFrame(BinaryOps.setIntersect(df, o, keys))
  }

  def setUnionOverlaps(other: GenomicFrame,
                       strandBehavior: StrandBehavior = StrandBehavior.Auto): GenomicFrame = {
    val (keys, o) = prepareBinary(other, strandBehavior, Nil)
    GenomicFrame(BinaryOps.setUnion(df, o, keys))
  }

  def subtractOverlaps(other: GenomicFrame,
                       strandBehavior: StrandBehavior = StrandBehavior.Auto,
                       matchBy: Seq[String] = Nil): GenomicFrame = {
    val (keys, o) = prepareBinary(other, strandBehavior, matchBy)
    GenomicFrame(BinaryOps.subtract(df, o, keys))
  }

  def countOverlaps(other: GenomicFrame,
                    strandBehavior: StrandBehavior = StrandBehavior.Auto,
                    slack: Long = 0, countCol: String = "NumberOverlaps",
                    matchBy: Seq[String] = Nil): GenomicFrame = {
    val (keys, o) = prepareBinary(other, strandBehavior, matchBy)
    GenomicFrame(BinaryOps.countOverlaps(df, o, keys, slack, countCol))
  }

  def nearestRanges(other: GenomicFrame,
                    strandBehavior: StrandBehavior = StrandBehavior.Auto,
                    suffix: String = "_b", distCol: String = "Distance",
                    excludeOverlaps: Boolean = false,
                    matchBy: Seq[String] = Nil): GenomicFrame = {
    val (keys, o) = prepareBinary(other, strandBehavior, matchBy)
    // neighbour id: the right's `row_id`, else a pinned engine id (read 3x)
    val r = if (o.columns.contains(RowId)) o else RangeJoin.identifiedPinned(o)
      .withColumnRenamed(RangeJoin.Rid, RowId)
    GenomicFrame(BinaryOps.nearest(df, r, keys, suffix, distCol, excludeOverlaps))
  }

  def sliceRanges(sliceStart: Long, sliceEnd: Option[Long],
                  matchBy: Seq[String] = Nil,
                  useStrand: Option[Boolean] = None): GenomicFrame =
    GenomicFrame(Composites.sliceRanges(df, k1(useStrand, matchBy), sliceStart,
      sliceEnd, resolveUseStrand(useStrand)))

  def fiveEnd(groupBy: Option[Seq[String]] = None,
              useStrand: Option[Boolean] = None): GenomicFrame =
    GenomicFrame(Composites.fiveEnd(df, resolveUseStrand(useStrand),
      groupBy.map(m => k1(useStrand, m))))

  def threeEnd(groupBy: Option[Seq[String]] = None,
               useStrand: Option[Boolean] = None): GenomicFrame =
    GenomicFrame(Composites.threeEnd(df, resolveUseStrand(useStrand),
      groupBy.map(m => k1(useStrand, m))))

  def upstream(length: Long, gap: Long = 0,
               useStrand: Option[Boolean] = None): GenomicFrame =
    GenomicFrame(Composites.upstream(df, length, gap, resolveUseStrand(useStrand)))

  def downstream(length: Long, gap: Long = 0,
                 useStrand: Option[Boolean] = None): GenomicFrame =
    GenomicFrame(Composites.downstream(df, length, gap, resolveUseStrand(useStrand)))

  def toRle(useStrand: Option[Boolean] = None,
            valueCol: Option[String] = None): DataFrame =
    Coverage.toRle(df, k1(useStrand, Nil), valueCol)

  def getSequence(chromSeqs: DataFrame, outCol: String = "sequence"): GenomicFrame =
    GenomicFrame(graft.ext.Seqs.getSequence(df, chromSeqs, outCol))

  /** make_strand_valid (reference core/pyranges_main.py:3452-3520):
    * anything not "+"/"-" becomes "+". */
  def makeStrandValid: GenomicFrame =
    if (!hasStrand) GenomicFrame(df.withColumn(Strand, lit(FwdStrand)))
    else GenomicFrame(df.withColumn(Strand,
      when(col(Strand).isin(FwdStrand, RevStrand), col(Strand)).otherwise(FwdStrand)))

  /** PyRanges-style repr (reference core/tostring.py:58-230); row and
    * width caps default from [[Options]] (max_rows_to_show,
    * console_width). */
  def repr(maxRows: Int = -1): String = ToStringRepr.tostring(df, maxRows)

  /** Jupyter-style HTML repr honoring the `html_max_cols` /
    * `html_max_rows` display options. */
  def reprHtml(maxRows: Int = -1, maxCols: Int = -1): String =
    ToStringRepr.tohtml(df, maxRows, maxCols)

  /** remove_nonloc_columns (reference core/pyranges_main.py:5098-5121). */
  def removeNonLocColumns: GenomicFrame =
    GenomicFrame(df.select((GenomeLoc ++
      (if (hasStrand) Seq(Strand) else Nil)).map(col): _*))

  /** get_with_loc_columns (reference core/pyranges_main.py:5123-5207). */
  def getWithLocColumns(cols: Seq[String]): GenomicFrame =
    GenomicFrame(df.select((GenomeLoc ++
      (if (hasStrand) Seq(Strand) else Nil) ++ cols).distinct.map(col): _*))

  /** extend_ranges with group_by: only the transcript-outermost edges
    * move (reference core/pyranges_main.py:879-1039 group_by arg). */
  def extendRangesGrouped(txCols: Seq[String], ext5: Long = 0, ext3: Long = 0,
                          useStrand: Option[Boolean] = None): GenomicFrame =
    GenomicFrame(graft.ops.UnaryOps.extendGrouped(df,
      k1(useStrand, txCols), ext5, ext3, resolveUseStrand(useStrand)))

  /** summary (reference core/pyranges_main.py:3645; methods/summary.py:
    * 17-57): describe() of interval lengths and of merged-coverage
    * lengths per key. */
  def summary(useStrand: Option[Boolean] = None): DataFrame = {
    val keys = k1(useStrand, Nil)
    def describe(d: DataFrame, label: String) =
      d.withColumn("_len", col(End) - col(Start))
        .groupBy(keys.map(col): _*)
        .agg(lit(label).as("what"), count(lit(1)).as("n"),
          min(col("_len")).as("min_len"), max(col("_len")).as("max_len"),
          sum(col("_len")).as("total_len"), avg(col("_len")).as("mean_len"))
    describe(df, "intervals")
      .unionByName(describe(graft.ops.UnaryOps.merge(df, keys), "coverage"))
  }
}

object GenomicFrame {
  import Cols._

  /** Wrap with schema validation, mirroring the reference constructor's
    * demotion contract (reference core/pyranges_main.py:167-185): missing
    * required columns -> Left(plain DataFrame). */
  def of(df: DataFrame): Either[DataFrame, GenomicFrame] = {
    val cols = df.columns.toSet
    if (GenomeLoc.forall(cols.contains)) Right(GenomicFrame(df))
    else Left(df)
  }

  /** concat (reference methods/concat.py:12-87): union preserving the
    * genomic contract, missing metadata columns null-filled. */
  def concat(frames: Seq[GenomicFrame]): GenomicFrame =
    GenomicFrame(frames.map(_.df).reduce(
      _.unionByName(_, allowMissingColumns = true)))
}
