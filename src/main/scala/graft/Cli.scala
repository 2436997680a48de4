package graft

import graft.core.{Cols, GenomicFrame}
import graft.ops.{Coverage, UnaryOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pipeline CLI (reference cli.py:94-208 `pyranger`): a reader followed
  * by a chain of operator stages and an optional writer, piped with '|'.
  *
  *   runMain graft.Cli "read_bed /x.bed | merge_overlaps slack=5 | write_csv /out"
  *
  * Stages: read_bed / read_gtf / read_gff3 / read_parquet;
  * merge_overlaps [slack=N] ; cluster_overlaps ; complement_ranges ;
  * split_overlaps [between=true] ; boundaries ; extend_ranges [ext5= ext3=] ;
  * window_ranges size=N ; tile_ranges size=N ; to_rle ; sort_ranges ;
  * head [n=N] ; write_csv PATH / write_bed PATH / write_parquet PATH / show.
  */
object Cli {
  import Cols._

  private def kv(tokens: Seq[String]): Map[String, String] =
    tokens.flatMap { t =>
      t.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None }
    }.toMap

  def runStage(spark: SparkSession, df: Option[DataFrame], stage: String): Option[DataFrame] = {
    val parts = stage.trim.split("\\s+").toSeq
    val (op, args) = (parts.head, parts.tail)
    val opts = kv(args)
    def keys(d: DataFrame): Seq[String] =
      Seq(Chrom) ++ (if (d.columns.contains(Strand)) Seq(Strand) else Nil)
    op match {
      case "read_bed"     => Some(io.Bed.read(spark, args.head))
      case "read_gtf"     => Some(io.Gtf.readGtf(spark, args.head))
      case "read_gff3"    => Some(io.Gtf.readGff3(spark, args.head))
      case "read_parquet" => Some(spark.read.parquet(args.head))
      case _ =>
        val d = df.getOrElse(throw new IllegalArgumentException(
          s"stage '$op' needs an upstream reader"))
        op match {
          case "merge_overlaps" =>
            Some(UnaryOps.merge(d, keys(d), opts.getOrElse("slack", "0").toLong))
          case "cluster_overlaps" =>
            Some(UnaryOps.cluster(d, keys(d), opts.getOrElse("slack", "0").toLong))
          case "complement_ranges" => Some(UnaryOps.complement(d, keys(d)))
          case "split_overlaps" =>
            Some(UnaryOps.split(d, keys(d), opts.get("between").exists(_.toBoolean)))
          case "boundaries" => Some(UnaryOps.boundaries(d, keys(d), Some("Count")))
          case "extend_ranges" =>
            Some(UnaryOps.extend(d, opts.getOrElse("ext5", "0").toLong,
              opts.getOrElse("ext3", "0").toLong))
          case "window_ranges" => Some(UnaryOps.windowRanges(d, opts("size").toLong))
          case "tile_ranges"   => Some(UnaryOps.tile(d, opts("size").toLong))
          case "to_rle"        => Some(Coverage.toRle(d, keys(d)))
          case "sort_ranges"   => Some(UnaryOps.sortRanges(d))
          case "head"          => Some(d.limit(opts.getOrElse("n", "10").toInt))
          case "write_csv" =>
            d.write.mode("overwrite").option("header", "true").csv(args.head); None
          case "write_bed"     => io.Bed.write(d, args.head); None
          case "write_parquet" => d.write.mode("overwrite").parquet(args.head); None
          case "show"          => d.show(20, truncate = false); Some(d)
          case other => throw new IllegalArgumentException(s"unknown stage: $other")
        }
    }
  }

  def run(spark: SparkSession, pipeline: String): Option[DataFrame] =
    pipeline.split("\\|").foldLeft(Option.empty[DataFrame])(
      (acc, stage) => runStage(spark, acc, stage))

  def main(args: Array[String]): Unit = {
    val spark = Harness.session("cli",
      master = Some(sys.env.getOrElse("SPARK_MASTER", "local[4]")))
    run(spark, args.mkString(" "))
    spark.stop()
  }
}
