package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sequence string functions (reference ext/seqs.py).
  * reverse_complement is pure built-ins (codegen'd); codon translation is
  * a Scala UDF over the standard NCBI genetic code (per-row, no state).
  */
object Seqs {

  /** DNA/RNA reverse complement, case-preserving (reference
    * ext/seqs.py:53-144). */
  def reverseComplement(seq: Column): Column =
    reverse(org.apache.spark.sql.functions.translate(seq, "ACGTUacgtu", "TGCAAtgcaa"))

  def complement(seq: Column): Column =
    org.apache.spark.sql.functions.translate(seq, "ACGTUacgtu", "TGCAAtgcaa")

  /** NCBI genetic-code tables as 64-char AA strings in TCAG-major codon
    * order (public NCBI constants; reference ext/seqs.py:14-40). A
    * "+U" suffix on the id swaps TGA (index 14) to selenocysteine 'U'
    * (reference ext/seqs.py:49-50). */
  val geneticCodeAas: Map[String, String] = Map(
    "1" -> "FFLLSSSSYY**CC*WLLLLPPPPHHQQRRRRIIIMTTTTNNKKSSRRVVVVAAAADDEEGGGG",
    "2" -> "FFLLSSSSYY**CCWWLLLLPPPPHHQQRRRRIIMMTTTTNNKKSS**VVVVAAAADDEEGGGG",
    "3" -> "FFLLSSSSYY**CCWWTTTTPPPPHHQQRRRRIIMMTTTTNNKKSSRRVVVVAAAADDEEGGGG",
    "4" -> "FFLLSSSSYY**CCWWLLLLPPPPHHQQRRRRIIIMTTTTNNKKSSRRVVVVAAAADDEEGGGG",
    "5" -> "FFLLSSSSYY**CCWWLLLLPPPPHHQQRRRRIIMMTTTTNNKKSSSSVVVVAAAADDEEGGGG",
    "6" -> "FFLLSSSSYYQQCC*WLLLLPPPPHHQQRRRRIIIMTTTTNNKKSSRRVVVVAAAADDEEGGGG",
    "9" -> "FFLLSSSSYY**CCWWLLLLPPPPHHQQRRRRIIIMTTTTNNNKSSSSVVVVAAAADDEEGGGG",
    "10" -> "FFLLSSSSYY**CCCWLLLLPPPPHHQQRRRRIIIMTTTTNNKKSSRRVVVVAAAADDEEGGGG",
    "11" -> "FFLLSSSSYY**CC*WLLLLPPPPHHQQRRRRIIIMTTTTNNKKSSRRVVVVAAAADDEEGGGG",
    "12" -> "FFLLSSSSYY**CC*WLLLSPPPPHHQQRRRRIIIMTTTTNNKKSSRRVVVVAAAADDEEGGGG",
    "13" -> "FFLLSSSSYY**CCWWLLLLPPPPHHQQRRRRIIMMTTTTNNKKSSGGVVVVAAAADDEEGGGG",
    "14" -> "FFLLSSSSYYY*CCWWLLLLPPPPHHQQRRRRIIIMTTTTNNNKSSSSVVVVAAAADDEEGGGG",
    "16" -> "FFLLSSSSYY*LCC*WLLLLPPPPHHQQRRRRIIIMTTTTNNKKSSRRVVVVAAAADDEEGGGG",
    "21" -> "FFLLSSSSYY**CCWWLLLLPPPPHHQQRRRRIIMMTTTTNNNKSSSSVVVVAAAADDEEGGGG",
    "22" -> "FFLLSS*SYY*LCC*WLLLLPPPPHHQQRRRRIIIMTTTTNNKKSSRRVVVVAAAADDEEGGGG",
    "23" -> "FF*LSSSSYY**CC*WLLLLPPPPHHQQRRRRIIIMTTTTNNKKSSRRVVVVAAAADDEEGGGG",
    "24" -> "FFLLSSSSYY**CCWWLLLLPPPPHHQQRRRRIIIMTTTTNNKKSSSKVVVVAAAADDEEGGGG",
    "25" -> "FFLLSSSSYY**CCGWLLLLPPPPHHQQRRRRIIIMTTTTNNKKSSRRVVVVAAAADDEEGGGG",
    "26" -> "FFLLSSSSYY**CC*WLLLAPPPPHHQQRRRRIIIMTTTTNNKKSSRRVVVVAAAADDEEGGGG",
    "27" -> "FFLLSSSSYYQQCCWWLLLAPPPPHHQQRRRRIIIMTTTTNNKKSSRRVVVVAAAADDEEGGGG",
    "28" -> "FFLLSSSSYYQQCCWWLLLAPPPPHHQQRRRRIIIMTTTTNNKKSSRRVVVVAAAADDEEGGGG",
    "29" -> "FFLLSSSSYYYYCC*WLLLAPPPPHHQQRRRRIIIMTTTTNNKKSSRRVVVVAAAADDEEGGGG",
    "30" -> "FFLLSSSSYYEECC*WLLLAPPPPHHQQRRRRIIIMTTTTNNKKSSRRVVVVAAAADDEEGGGG",
    "31" -> "FFLLSSSSYYEECCWWLLLLPPPPHHQQRRRRIIIMTTTTNNKKSSRRVVVVAAAADDEEGGGG",
    "33" -> "FFLLSSSSYYY*CCWWLLLLPPPPHHQQRRRRIIIMTTTTNNKKSSSKVVVVAAAADDEEGGGG")

  /** translate (reference ext/seqs.py:150-340): codon->AA against a
    * chosen NCBI table id, "+U" variants (UGA as selenocysteine),
    * unknown/partial codons -> 'X', '---' gaps -> '-'. Case- and
    * RNA-insensitive (the reference's sanitize=True). Codegen'd — the
    * table is a codegen reference object, not a per-row lookup. */
  def translate(seq: Column, geneticCode: String = "1"): Column = {
    val (base, sec) =
      if (geneticCode.endsWith("+U")) (geneticCode.dropRight(2), true)
      else (geneticCode, false)
    val aas = geneticCodeAas.getOrElse(base,
      throw new IllegalArgumentException(
        s"unknown genetic code '$geneticCode' (NCBI ids: ${geneticCodeAas.keys.toSeq.sortBy(_.toInt).mkString(",")}, optionally +U)"))
    val table = if (sec) aas.updated(14, 'U') else aas
    graft.expr.Exprs.translate_codons(seq, table)
  }

  /** translate with a custom codon->AA map (reference's dict form):
    * the map must cover all 64 codons; '---' gaps always map to '-'. */
  def translateCustom(seq: Column, code: Map[String, String]): Column = {
    val bases = "TCAG"
    val table = (for {
      b1 <- bases; b2 <- bases; b3 <- bases
    } yield code.getOrElse(s"$b1$b2$b3", "X")).mkString
    require(table.length == 64)
    graft.expr.Exprs.translate_codons(seq, table)
  }

  /** Standard genetic code (NCBI table 1; reference ext/seqs.py:40-50). */
  val standardCode: Map[String, String] = {
    val bases = "TCAG"
    val aas = "FFLLSSSSYY**CC*WLLLLPPPPHHQQRRRRIIIMTTTTNNKKSSRRVVVVAAAADDEEGGGG"
    (for {
      (b1, i) <- bases.zipWithIndex
      (b2, j) <- bases.zipWithIndex
      (b3, k) <- bases.zipWithIndex
    } yield s"$b1$b2$b3" -> aas(i * 16 + j * 4 + k).toString).toMap
  }

  /** Codon -> amino-acid translation (reference ext/seqs.py:150-340):
    * unknown/ambiguous codons and the trailing partial codon -> 'X'.
    * Backed by the codegen'd TranslateCds Catalyst expression (promoted
    * from a UDF per SURVEY.md §4.3.5; `standardCode` above documents the
    * table the kernel indexes directly). */
  def translateCds(c: Column): Column = graft.expr.Exprs.translate_cds(c)

  /** get_sequence (reference core/pyranges_main.py:5898-6073): extract
    * interval sequences from a per-chromosome sequence table
    * (Chromosome, seq) — broadcast equi-join + substring, strand-aware
    * reverse complement. 0-based half-open in, 1-based substring. */
  def getSequence(df: DataFrame, chromSeqs: DataFrame,
                  outCol: String = "sequence"): DataFrame = {
    import graft.core.Cols._
    val joined = df.join(broadcast(chromSeqs), Seq(Chrom))
    val sub = expr(s"substring(seq, $Start + 1, $End - $Start)")
    val stranded =
      if (df.columns.contains(Strand))
        when(col(Strand) === RevStrand, reverseComplement(sub)).otherwise(sub)
      else sub
    joined.withColumn(outCol, stranded).drop("seq")
  }

  /** Distributed get_sequence over a CHUNKED sequence table
    * (Chromosome, cstart, chunk — from io.Fasta.readChunked): intervals
    * range-join their overlapping chunks, each contributes a substring
    * piece, pieces reassemble per row by chunk order. No executor holds a
    * whole chromosome — the scale path for huge genomes. A row without
    * chunks gets a null sequence. */
  def getSequenceChunked(df: DataFrame, chunks: DataFrame,
                         outCol: String = "sequence"): DataFrame = {
    import graft.core.Cols._
    val ch = chunks.select(col(Chrom), col("cstart").as(Start),
      (col("cstart") + length(col("chunk")).cast("long")).as(End), col("chunk"))
    val p = graft.join.RangeJoin.leftOuterPairs(df, ch, Seq(Chrom))
    val cs = col(Start + "_b")
    val piece = expr(
      s"substring(chunk, CAST(greatest($Start - ${Start}_b, 0) AS INT) + 1, " +
      s"CAST(least($End, ${End}_b) - greatest($Start, ${Start}_b) AS INT))")
    val joined = p.groupBy(col(graft.join.RangeJoin.Rid)).agg(first(struct(df.columns.map(col): _*))
      .as("_l"), collect_list(when(cs.isNotNull, struct(cs.as("_o"), piece.as("_p")))).as("_ps"))
      .select(df.columns.map(c => col(s"_l.$c").as(c)) :+
        when(size(col("_ps")) > 0, array_join(transform(array_sort(col("_ps")),
          s => s.getField("_p")), "")).as("_raw"): _*)
    val stranded =
      if (df.columns.contains(Strand))
        when(col(Strand) === RevStrand, reverseComplement(col("_raw")))
          .otherwise(col("_raw"))
      else col("_raw")
    joined.withColumn(outCol, stranded).drop("_raw")
  }

  /** Per-transcript spliced sequence: concat exon sequences 5'->3'
    * (reference core/pyranges_main.py:6036-6073: sorts then concats). */
  def getSplicedSequence(df: DataFrame, chromSeqs: DataFrame, txCol: String,
                         outCol: String = "sequence"): DataFrame = {
    import graft.core.Cols._
    val withSeq = getSequence(df, chromSeqs, "_exonSeq")
    val ordered = graft.ops.UnaryOps.groupCumsum(withSeq, Seq(txCol),
      useStrand = true, "_cs", "_ce")
    // collect_list has no order guarantee: sort the (cumStart, seq) structs
    // then join — cumStart is the 5'->3' position within the transcript.
    ordered.groupBy(col(txCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("_cs"), col("_exonSeq")))),
        s => s.getField("_exonSeq")), "").as(outCol))
  }
}
