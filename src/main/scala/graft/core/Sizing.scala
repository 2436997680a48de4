package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow

/** Input-size heuristics shared by the operators that auto-switch
  * between a low-stage-count plan (small inputs) and a salted/two-phase
  * plan (large inputs).
  *
  * The signal is the sum of the LEAF relations' size estimates — for
  * parquet scans, the file bytes, available without running a job.
  * Round-2 gated on the derived plan's estimate instead, and projection
  * width re-estimation made the same physical input look 2-5x larger or
  * smaller depending on how many string columns the query touched — the
  * gate misfired both ways. Leaf bytes are stable under projections and
  * measure exactly "how much data feeds this operator".
  *
  * Every decision is logged (and recorded in `lastDecision` for plan-
  * contract tests), per the round-2 verdict: an auto-switch nobody can
  * observe is an auto-switch nobody can debug.
  */
object Sizing {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Above this leaf-bytes sum the per-key window sweeps (merge, cumsum,
    * RLE) switch to salted two-phase plans. MEASURED crossover
    * (graft.SaltBench, local[32], hot-key table with one chromosome
    * holding ~2/3 of rows over a ~240 MB-coordinate span — BASELINE.md
    * "salted crossover" table): salted wins 1.3-2.2x at 43 MB,
    * 2.0-2.9x at 158 MB, 3.6-4.9x at 627 MB; plain won 2-6x at the
    * natural sf0.1 shape (13-17 MB, round-2 rows). 32 MB sits in the
    * measured bracket (17, 43) and keeps every sf0.1 bench input
    * (<= 14 MB leaf bytes) on the plain path it measured fastest on.
    * The window-scan nearest sweep uses the same bar: the round-3 guess
    * of 1 GB ("per-row cost is a single comparison") measured WRONG —
    * salted nearest wins 1.97x already at 43 MB and 2.1x at 627 MB on
    * the hot-key table. */
  val saltedInputThreshold: Long = 32L << 20

  /** Last auto-switch decision: (operator, leafBytes, wentSalted). For
    * the per-key sweeps ([[saltBin]]) wentSalted is the final plan, after
    * [[saltPlan]]'s demotions. Test/debug observability only. */
  val lastDecision =
    new java.util.concurrent.atomic.AtomicReference[(String, Long, Boolean)]()

  /** Gate statistics of one input, from its first `sampleRows` rows:
    * rows sampled, mean interval length over the rows with both bounds
    * (1.0 when none), min Start / max End, distinct `keys` tuples (NULL
    * is a key, as in groupBy; 1 when `keys` is empty) and the rows of
    * the hottest key tuple. With `census` the three key counts (`rows`,
    * `distinctKeys`, `hottestKeyRows`) cover the whole input instead
    * ([[keyCensus]]); length and span stay the sample's. */
  final case class SideStats(rows: Long, meanLen: Double,
                             minStart: Option[Long], maxEnd: Option[Long],
                             distinctKeys: Long, hottestKeyRows: Long,
                             census: Boolean = false) {
    /** Coordinate span, at least 1. */
    def span: Long = (for (s <- minStart; e <- maxEnd) yield e - s)
      .fold(1L)(math.max(_, 1L))

    /** Share of `rows` in the hottest key tuple. */
    def hotShare: Double = hottestKeyRows.toDouble / math.max(rows, 1L)

    /** More keys than 4x the cores and no key over 1/(2 x cores) of the
      * rows: the plain per-key window already out-parallelizes the
      * cores, so salting only adds stages (measured 0.56-0.84x at 2000
      * balanced keys, BASELINE.md "--manykeys"). A sample that says yes
      * is believed; a full sample that says no may only be showing the
      * first keys of a key-clustered (coordinate-sorted) input, which
      * [[keyCensus]] settles. */
    def manyBalancedKeys(cores: Int): Boolean =
      distinctKeys >= 4L * cores && hotShare <= 1.0 / (2 * cores)
  }

  private val statsMemo =
    new java.util.concurrent.ConcurrentHashMap[AnyRef, SideStats]()

  private def memoKey(df: DataFrame, keys: Seq[String], sampleRows: Int): AnyRef = {
    val analyzed = df.queryExecution.analyzed
    (analyzed.canonicalized, keys, sampleRows, inputFingerprint(analyzed))
  }

  private def remember(key: AnyRef, stats: SideStats): SideStats = {
    if (statsMemo.size >= 512) statsMemo.clear()
    statsMemo.put(key, stats)
    stats
  }

  /** `body`'s jobs under their own description; the caller's job group
    * and description are left alone. */
  private def labelled[T](df: DataFrame, description: String)(body: => T): T = {
    val sc = df.sparkSession.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(description)
    try body finally sc.setLocalProperty("spark.job.description", caller)
  }

  /** The one gate sampler of the ops layer and of IntervalJoinRewrite.
    *
    * A bounded take, `select(keys, Start, End).limit(sampleRows)
    * .collect()`: it plans as CollectLimit, which reads partition 0 and
    * scans further partitions (4x more each round) only while the rows
    * fall short — usually one job with one task at any table size,
    * where a `limit().agg()` runs a LocalLimit task on every split plus
    * an exchange. Its jobs carry the description "graft gate sample".
    *
    * Memoized per plan: the key is the canonicalized analyzed plan, the
    * keys, `sampleRows` and the input files with their bytes, so a path
    * rewritten in place samples again. At most 512 entries, then the
    * memo starts over. Statistics that are stale anyway (data changed
    * under an unchanged plan and file list) can only change which
    * branch a gate takes, never the result: every branch is
    * result-identical (BASELINE.md "Forced-gate ORACLE run"). */
  def sideStats(df: DataFrame, keys: Seq[String] = Nil,
                sampleRows: Int = 100000): SideStats = {
    import org.apache.spark.sql.functions.col
    val key = memoKey(df, keys, sampleRows)
    val hit = statsMemo.get(key)
    if (hit ne null) return hit
    val sample = labelled(df, "graft gate sample")(
      df.select(keys.map(col) ++ Seq(col(Cols.Start).cast("long"),
        col(Cols.End).cast("long")): _*).limit(sampleRows).collect())
    val k = keys.length
    val bounds = sample.map(r => (Option.when(!r.isNullAt(k))(r.getLong(k)),
      Option.when(!r.isNullAt(k + 1))(r.getLong(k + 1))))
    val lens = bounds.collect { case (Some(s), Some(e)) => (e - s).toDouble }
    val perKey = sample.groupMapReduce(_.toSeq.take(k))(_ => 1L)(_ + _)
    remember(key, SideStats(sample.length,
      if (lens.isEmpty) 1.0 else math.max(lens.sum / lens.length, 1.0),
      bounds.flatMap(_._1).minOption, bounds.flatMap(_._2).maxOption,
      perKey.size, perKey.values.maxOption.getOrElse(0L)))
  }

  /** [[sideStats]] whose key counts cover the whole input when the take
    * cannot settle [[SideStats.manyBalancedKeys]]: it came back full and
    * does not already show many balanced keys. A coordinate-sorted
    * input's first 100k rows hold its first one or two keys, whatever
    * the key count of the input: 48 balanced (Chromosome, Strand) keys
    * read as 2 there and took the salted sweeps, which lose about 2x to
    * the plain window at that key count (BASELINE.md "Key census").
    *
    * The census is one job, labelled "graft gate census", that reads
    * only the key columns: per-split key counts, summed per key after
    * one shuffle and folded into (rows, distinct keys, hottest key) on
    * the executors, so the driver receives one tuple. It is memoized in
    * place of the sample's statistics: a repeat, or any later
    * [[sideStats]] of the same (plan, keys), runs no job. An RDD
    * aggregate rather than `groupBy(keys).count()`, because adaptive
    * execution runs each shuffle stage of a DataFrame as its own job. */
  def keyCensus(df: DataFrame, keys: Seq[String], sampleRows: Int = 100000): SideStats = {
    import org.apache.spark.sql.functions.col
    val st = sideStats(df, keys, sampleRows)
    val cores = math.max(df.sparkSession.sparkContext.defaultParallelism, 1)
    if (st.census || keys.isEmpty || st.rows < sampleRows || st.manyBalancedKeys(cores)) st
    else {
      val (rows, distinct, hottest) = labelled(df, "graft gate census") {
        df.select(keys.map(col): _*).queryExecution.toRdd.mapPartitions { rows =>
          // the iterator reuses its row: copy a key only when it is new
          val counts = new java.util.HashMap[InternalRow, Array[Long]]()
          rows.foreach { r =>
            val n = counts.get(r)
            if (n eq null) counts.put(r.copy(), Array(1L)) else n(0) += 1
          }
          counts.asScala.iterator.map { case (key, n) => key -> n(0) }
        }.reduceByKey(_ + _).values.aggregate((0L, 0L, 0L))(
          (a, n) => (a._1 + n, a._2 + 1, math.max(a._3, n)),
          (a, b) => (a._1 + b._1, a._2 + b._2, math.max(a._3, b._3)))
      }
      remember(memoKey(df, keys, sampleRows),
        st.copy(rows = rows, distinctKeys = distinct, hottestKeyRows = hottest, census = true))
    }
  }

  /** Hash of the file list under each file-source leaf, with its bytes. */
  private def inputFingerprint(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[(Int, Long)] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    plan.collectLeaves().collect {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
        (scala.util.hashing.MurmurHash3.arrayHash(r.location.inputFiles), r.sizeInBytes)
    }
  }

  /** Span- and key-aware dispatch decision: Some(binWidth) = salt with
    * that mega-bin, None = stay on the plain per-key window regardless
    * of input size, because the statistics show the split cannot pay:
    *
    *  - NARROW SPAN: fewer than ~4 floor-width bins of coordinates —
    *    a fixed 1M-wide bin over a ~1M-coordinate span handed the
    *    salted merge two bins of parallelism and it LOST 0.78x at
    *    609 MB (BASELINE.md "salted crossover" notes).
    *  - MANY BALANCED KEYS: [[SideStats.manyBalancedKeys]], on the
    *    sample when it settles the rule, else on the [[keyCensus]].
    *
    * The bin aims for ~8 bins per core over the sampled coordinate
    * span, rounded up in powers of two, clamped to [16384, 2^24].
    * Both signals come from [[sideStats]] of `df` with `keys`: one
    * bounded take, memoized per plan, so the length/span gates of the
    * same side and key set reuse it. A narrow span or a forced gate
    * decides without the census. */
  def saltPlan(df: DataFrame, keys: Seq[String] = Nil,
               sampleRows: Int = 100000): Option[Long] = {
    val cores = math.max(df.sparkSession.sparkContext.defaultParallelism, 1)
    val sampled = sideStats(df, keys, sampleRows)
    def binFor(span: Long): Long = {
      var b = 16384L
      while (b < span / (8L * cores) && b < (1L << 24)) b *= 2
      b
    }
    val narrow = sampled.span < 4L * 16384L
    val force = forced()
    val st = if (force.isEmpty && !narrow) keyCensus(df, keys, sampleRows) else sampled
    val manyBalancedKeys = st.manyBalancedKeys(cores)
    val plan = force match {
      // forced salted: the audit wants the salted plan SHAPE, so the
      // narrow-span / many-balanced-keys demotions are bypassed
      case Some(true) => Some(binFor(sampled.span))
      case Some(false) => None
      // an empty sample has span 1: narrow
      case None => Option.unless(manyBalancedKeys || narrow)(binFor(sampled.span))
    }
    log.info("[graft.sizing] saltPlan={} keys={} hotShare={} ({})",
      plan.map(_.toString).getOrElse(
        if (manyBalancedKeys) "plain (many balanced keys)"
        else "plain (narrow span, empty or forced)"),
      st.distinctKeys.asInstanceOf[AnyRef], f"${st.hotShare}%.4f",
      if (st.census) "census" else "sample")
    plan
  }

  /** Sum of leaf-relation size estimates across the given plans. */
  def leafScanBytes(dfs: DataFrame*): BigInt =
    dfs.map(_.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum).sum

  /** Conf key for the small-scan fan-out gate (shared by the range-join
    * probe side and the ML kernels; 0 disables). Historic name — the
    * gate now covers every expensive-compute-behind-a-tiny-scan site,
    * not just joins. */
  val FanoutKey = "spark.graft.join.fanoutScanBytes"

  /** Restore parallelism behind a tiny scan feeding expensive per-row
    * compute (shingle+hash kernels, quantized dot products, bin-explode
    * probes). A small parquet input is often ONE row group = one task,
    * serializing a 32-core pipeline behind one core; a bounded
    * round-robin repartition fixes that for the price of one narrow
    * exchange. Gated on leaf bytes <= [[FanoutKey]] (default 256 MB):
    * at cluster scale the scan has thousands of splits and this is a
    * no-op — it is exclusively a small-input fixup. Streaming frames
    * pass through untouched (micro-batch sizing is the trigger's job
    * and leaf stats are undefined mid-stream). */
  def fanOutSmallScan(df: DataFrame): DataFrame = {
    val thr = org.apache.spark.sql.internal.SQLConf.get
      .getConfString(FanoutKey, (256L << 20).toString).toLong
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (!df.isStreaming && thr > 0 && target > 1 && leafScanBytes(df) <= thr)
      df.repartition(target)
    else df
  }

  /** Conf key overriding every size gate: "salted" forces the big-input
    * branch, "plain" forces the small one, anything else defers to the
    * measured thresholds. The audit hook for PLANS.md's forced-gate
    * section and PlanContractSpec: the plans a 100x-the-bench run would
    * execute are the ABOVE-gate branches, which sf0.1 leaf bytes never
    * trigger — forcing the gate lets the contract tests pin those plan
    * shapes without terabyte fixtures. */
  val ForceKey = "spark.graft.sizing.force"

  private[graft] def forced(): Option[Boolean] =
    org.apache.spark.sql.internal.SQLConf.get
      .getConfString(ForceKey, "") match {
      case "salted" => Some(true)
      case "plain" => Some(false)
      case _ => None
    }

  /** Gate + log: true = take the salted path. */
  def decide(op: String, threshold: Long, dfs: DataFrame*): Boolean = {
    val bytes = leafScanBytes(dfs: _*)
    val big = forced().getOrElse(bytes > threshold)
    lastDecision.set((op, bytes.toLong, big))
    log.info("[graft.sizing] {}: leafScanBytes={} threshold={} -> {}{}",
      op, bytes, threshold.asInstanceOf[AnyRef],
      if (big) "salted" else "plain",
      if (forced().isDefined) " (FORCED)" else "")
    big
  }

  /** The salt decision of every size-gated per-key sweep (merge,
    * group_cumsum, RLE, the divide defrag, the nearest scan): the
    * leaf-bytes gate over `gate` at [[saltedInputThreshold]], and only
    * once it fires, the span/key refinement [[saltPlan]] of `sample`.
    * Some(bin) = the salted plan over `bin`-wide mega-bins, None = the
    * plain per-key window; [[lastDecision]] records which. */
  def saltBin(op: String, sample: DataFrame, keys: Seq[String],
              gate: DataFrame*): Option[Long] = {
    val plan =
      if (decide(op, saltedInputThreshold, gate: _*)) saltPlan(sample, keys) else None
    // the plan taken, not the bytes gate alone: a demoted plan is plain
    lastDecision.set(lastDecision.get().copy(_3 = plan.isDefined))
    plan
  }
}
