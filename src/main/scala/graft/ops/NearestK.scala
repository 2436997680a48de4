package graft.ops

import graft.core.Cols
import graft.join.RangeJoin
import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One directional-sweep candidate: self row -> a nearby right row.
  * side: 0 = right interval left of self, 1 = right of self, 2 = overlap. */
case class NearCand(row_id: Long, nb: Long, nb_start: Long, nb_end: Long,
                    dist: Long, side: Int)

/** k-nearest neighbors with direction semantics (reference
  * core/pyranges_main.py:2143-2391; ruranges nearest kernel,
  * range_frame/range_frame.py:451-537).
  *
  * The per-key ordered scan keeping the trailing k candidates is the one
  * interval op that is genuinely sequential per group, so it runs as a
  * co-partitioned sortWithinPartitions + mapPartitions sweep (SURVEY.md
  * §4.3.2): one shuffle per scan direction, state bounded by k. A global
  * top-k per row then merges the two directional scans with the overlap
  * candidates (distance 0, from the binned range join).
  *
  * direction is strand-relative to SELF (reference :2340-2391):
  * "upstream" = 5'-ward of self ("+" -> genomic left, "-" -> right);
  * "downstream" the converse. Touching intervals have distance 1
  * (reference README.md:51-53).
  */
object NearestK {
  import Cols.{Start, End, Strand, RowId}
  import RangeJoin.Rid

  private val KEY = "_k"

  /** Directional scan: for each self row the k nearest right intervals
    * strictly on one side (side 0: nb_end <= Start; side 1:
    * nb_start >= End). */
  private def scan(u: DataFrame, k: Int, rightSide: Boolean): DataFrame = {
    val sorted = u.repartition(col(KEY))
      .sortWithinPartitions(col(KEY), col("pos").asc, col("isSelf").asc,
        col("sortId").asc)
    val enc = Encoders.product[NearCand]
    sorted.mapPartitions { it =>
      var curKey: String = null
      // ring buffer of the trailing k other-rows in scan order
      val bufId = new Array[Long](k)
      val bufS = new Array[Long](k)
      val bufE = new Array[Long](k)
      var n = 0
      var head = 0
      it.flatMap { r =>
        val key = r.getString(0)
        if (key != curKey) { curKey = key; n = 0; head = 0 }
        if (r.getInt(2) == 0) { // other row: push
          val idx = (head + n) % k
          bufId(idx) = r.getLong(4); bufS(idx) = r.getLong(5); bufE(idx) = r.getLong(6)
          if (n < k) n += 1 else head = (head + 1) % k
          Iterator.empty
        } else { // self row: emit buffer
          val selfId = r.getLong(4)
          val sS = r.getLong(5)
          val sE = r.getLong(6)
          (0 until n).iterator.map { i =>
            val idx = (head + i) % k
            val d = if (rightSide) bufS(idx) - sE + 1 else sS - bufE(idx) + 1
            NearCand(selfId, bufId(idx), bufS(idx), bufE(idx), d,
              if (rightSide) 1 else 0)
          }
        }
      }
    }(enc).toDF()
  }

  /** Salted directional scan — the hot-key path. The plain scan
    * repartitions by group key alone, so one huge chromosome sweeps in a
    * single task. Split the sweep at `saltBin` position boundaries and
    * scan each (key, bin) independently; the only cross-bin state a bin
    * needs is the trailing k other-rows at its left edge, which is
    * derivable from per-bin suffix summaries:
    *  - per (key, bin), keep the LAST k other-rows (no older row in that
    *    bin can ever be among a later self row's trailing k);
    *  - carry each summary row into subsequent bins until k fresher
    *    summary rows exist (its expiry bin via lead(bin, k));
    *  - rekey by (key, bin) and run the ordinary local scan — carried
    *    rows sort before in-bin rows because they keep their original
    *    (smaller) positions.
    * Identical output to scan() (property-tested). */
  private def scanSalted(u: DataFrame, k: Int, rightSide: Boolean,
                         saltBin: Long): DataFrame = {
    val d = u.withColumn("_mb", floor(col("pos").cast("double") / saltBin).cast("long"))
    val wDesc = Window.partitionBy(col(KEY), col("_mb"))
      .orderBy(col("pos").desc, col("sortId").desc)
    val suffix = d.filter(col("isSelf") === 0)
      .withColumn("_rn", row_number().over(wDesc)).filter(col("_rn") <= k).drop("_rn")
    val wAsc = Window.partitionBy(col(KEY)).orderBy(col("pos").asc, col("sortId").asc)
    val maxBin = d.groupBy(col(KEY)).agg(max(col("_mb")).as("_maxMb"))
    val lo = col("_mb") + 1
    val hi = least(coalesce(col("_expiry"), col("_maxMb")), col("_maxMb"))
    val carried = suffix
      .withColumn("_expiry", lead(col("_mb"), k).over(wAsc))
      .join(maxBin, KEY)
      .withColumn("_mb2", explode(when(hi >= lo, sequence(lo, hi))
        .otherwise(array().cast("array<long>"))))
      .drop("_mb", "_expiry", "_maxMb")
      .withColumnRenamed("_mb2", "_mb")
    val rekeyed = d.unionByName(carried.select(d.columns.map(col): _*))
      .withColumn(KEY, concat_ws("", col(KEY), col("_mb")))
      .drop("_mb")
    scan(rekeyed, k, rightSide)
  }

  /** Dispatch: salted sweep over `saltBin`-wide bins, plain on None. */
  private def scanAuto(u: DataFrame, k: Int, rightSide: Boolean,
                       saltBin: Option[Long]): DataFrame =
    saltBin.fold(scan(u, k, rightSide))(scanSalted(u, k, rightSide, _))

  /** Build the tagged union for one scan direction. */
  private def union(left: DataFrame, right: DataFrame, keys: Seq[String],
                    rightSide: Boolean): DataFrame = {
    val keyCol = concat_ws("\u0001", keys.map(col): _*)
    // left-side scan: others keyed at pos=End (ascending, max End wins);
    // right-side scan: mirror by negating coordinates so the same
    // ascending sweep finds min Start.
    def posOther = if (rightSide) -col(Start) else col(End)
    def posSelf = if (rightSide) -col(End) else col(Start)
    val o = right.select(keyCol.as(KEY), posOther.as("pos"), lit(0).as("isSelf"),
      (-col(RowId)).as("sortId"), col(RowId).as("id"), col(Start).as("s"), col(End).as("e"))
    val l = left.select(keyCol.as(KEY), posSelf.as("pos"), lit(1).as("isSelf"),
      lit(0L).as("sortId"), col(Rid).as("id"), col(Start).as("s"), col(End).as("e"))
    o.unionByName(l)
  }

  /** Full k-nearest: returns left rows joined with up to k neighbors each,
    * ranked by (distance, neighbor row_id). Every left consumer reads one
    * [[RangeJoin.identifiedPinned]] frame, so all agree on the row ids. */
  def nearestK(left: DataFrame, right: DataFrame, keys: Seq[String], k: Int,
               direction: String = "any", excludeOverlaps: Boolean = false,
               suffix: String = "_b", distCol: String = "Distance",
               binSize: Long = RangeJoin.defaultBinSize): DataFrame = {
    val rId = RowId + suffix
    val rs = Start + suffix
    val re = End + suffix

    // span-sampled mega-bin for the salted sweep (same guard as merge:
    // a fixed bin over a narrow coordinate domain strands parallelism,
    // so a too-narrow span demotes the auto-dispatch back to plain)
    val plan = graft.core.Sizing.saltBin("nearestSweep", left, keys, left, right)
    val l = RangeJoin.identifiedPinned(left)
    val lScan = scanAuto(union(l, right, keys, rightSide = false), k,
      rightSide = false, plan)
    val rScan = scanAuto(union(l, right, keys, rightSide = true), k,
      rightSide = true, plan)
    // gated on the plain inputs, which `plan` above has already sampled
    val ov = Option.unless(excludeOverlaps)(RangeJoin.pairsGatedOn(left, right,
        l.select((keys :+ Rid :+ Start :+ End).map(col): _*),
        right.select((keys :+ Start :+ End).map(col) :+ col(RowId).as(rId): _*), keys, 0, binSize,
        suffix)
      .select(col(Rid).as("row_id"), col(rId).as("nb"), col(rs).as("nb_start"),
        col(re).as("nb_end"), lit(0L).as("dist"), lit(2).as("side")))

    val all = ov.fold(lScan.unionByName(rScan))(o => lScan.unionByName(rScan).unionByName(o))

    // direction filter is strand-relative to self
    val hasStrand = left.columns.contains(Strand)
    val withSelf = all.join(
      l.select(Seq(col(Rid).as("row_id")) ++
        (if (hasStrand) Seq(col(Strand).as("_sstr")) else Nil): _*), Seq("row_id"))
    val dirFiltered = direction match {
      case "upstream" if hasStrand =>
        withSelf.filter(col("side") === 2 ||
          (col("_sstr") === Cols.FwdStrand && col("side") === 0) ||
          (col("_sstr") === Cols.RevStrand && col("side") === 1))
      case "downstream" if hasStrand =>
        withSelf.filter(col("side") === 2 ||
          (col("_sstr") === Cols.FwdStrand && col("side") === 1) ||
          (col("_sstr") === Cols.RevStrand && col("side") === 0))
      case _ => withSelf
    }

    val w = Window.partitionBy(col("row_id")).orderBy(col("dist"), col("nb"))
    val ranked = dirFiltered
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
    val proj = ranked.select(col("row_id").as(Rid), col("nb").as(rId),
      col("nb_start").as(rs), col("nb_end").as(re), col("dist").as(distCol),
      col("_rn").as("nearest_rank"))
    l.join(proj, Seq(Rid), "inner").select((left.columns ++ proj.columns.tail).map(col): _*)
  }
}
