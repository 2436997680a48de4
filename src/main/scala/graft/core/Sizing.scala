package graft.core

import org.apache.spark.sql.DataFrame

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

  /** Last auto-switch decision: (operator, leafBytes, wentSalted).
    * Test/debug observability only. */
  val lastDecision =
    new java.util.concurrent.atomic.AtomicReference[(String, Long, Boolean)]()

  /** Gate statistics of one input, from its first `sampleRows` rows:
    * rows sampled, mean interval length over the rows with both bounds
    * (1.0 when none), min Start / max End, distinct `keys` tuples (NULL
    * is a key, as in groupBy; 1 when `keys` is empty) and the rows of
    * the hottest key tuple. */
  final case class SideStats(rows: Long, meanLen: Double,
                             minStart: Option[Long], maxEnd: Option[Long],
                             distinctKeys: Long, hottestKeyRows: Long) {
    /** Coordinate span, at least 1. */
    def span: Long = (for (s <- minStart; e <- maxEnd) yield e - s)
      .fold(1L)(math.max(_, 1L))

    /** More keys than 4x the cores and no key over 1/(2 x cores) of the
      * rows: the plain per-key window already out-parallelizes the
      * cores, so salting only adds stages (measured 0.56-0.84x at 2000
      * balanced keys, BASELINE.md "--manykeys"). One-sided against the
      * first-rows sample: key-clustered data (the common coordinate-
      * sorted layout) shows few keys there and keeps salting. */
    def manyBalancedKeys(cores: Int): Boolean =
      distinctKeys >= 4L * cores &&
        hottestKeyRows.toDouble / math.max(rows, 1L) <= 1.0 / (2 * cores)
  }

  private val statsMemo =
    new java.util.concurrent.ConcurrentHashMap[AnyRef, SideStats]()

  /** The one gate sampler of the ops layer and of IntervalJoinRewrite.
    *
    * A bounded take, `select(keys, Start, End).limit(sampleRows)
    * .collect()`: it plans as CollectLimit, which reads partition 0 and
    * scans further partitions (4x more each round) only while the rows
    * fall short — usually one job with one task at any table size,
    * where a `limit().agg()` runs a LocalLimit task on every split plus
    * an exchange. Its jobs carry the description "graft gate sample";
    * the caller's job group is left alone.
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
    val analyzed = df.queryExecution.analyzed
    val memoKey = (analyzed.canonicalized, keys, sampleRows, inputFingerprint(analyzed))
    val hit = statsMemo.get(memoKey)
    if (hit ne null) return hit
    val sc = df.sparkSession.sparkContext
    val description = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("graft gate sample")
    val sample =
      try df.select(keys.map(col) ++ Seq(col(Cols.Start).cast("long"),
          col(Cols.End).cast("long")): _*).limit(sampleRows).collect()
      finally sc.setLocalProperty("spark.job.description", description)
    val k = keys.length
    val bounds = sample.map(r => (Option.when(!r.isNullAt(k))(r.getLong(k)),
      Option.when(!r.isNullAt(k + 1))(r.getLong(k + 1))))
    val lens = bounds.collect { case (Some(s), Some(e)) => (e - s).toDouble }
    val perKey = sample.groupMapReduce(_.toSeq.take(k))(_ => 1L)(_ + _)
    val stats = SideStats(sample.length,
      if (lens.isEmpty) 1.0 else math.max(lens.sum / lens.length, 1.0),
      bounds.flatMap(_._1).minOption, bounds.flatMap(_._2).maxOption,
      perKey.size, perKey.values.maxOption.getOrElse(0L))
    if (statsMemo.size >= 512) statsMemo.clear()
    statsMemo.put(memoKey, stats)
    stats
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

  /** Sampled mega-bin width for the salted two-phase plans: aim for ~8
    * bins per core over the sampled coordinate span, rounded up in
    * powers of two, clamped to [16384, 2^24]. The statistics come from
    * [[sideStats]] (one bounded take, memoized per plan), and only once
    * a salted gate has already fired on a large input. Guards the
    * measured narrow-span failure mode: a fixed 1M-wide bin over a
    * ~1M-coordinate span handed the salted merge two bins of
    * parallelism and it LOST 0.78x at 609 MB (BASELINE.md "salted
    * crossover" notes). */
  def autoSaltBin(df: DataFrame, sampleRows: Int = 100000): Long =
    saltPlan(df, Nil, sampleRows).getOrElse(16384L)

  /** Span- and key-aware dispatch decision: Some(binWidth) = salt with
    * that mega-bin, None = stay on the plain per-key window regardless
    * of input size, because the sample shows the split cannot pay:
    *
    *  - NARROW SPAN: fewer than ~4 floor-width bins of coordinates —
    *    the measured 0.78x failure mode (BASELINE.md).
    *  - MANY BALANCED KEYS: [[SideStats.manyBalancedKeys]].
    *
    * Both signals come from [[sideStats]] of `df` with `keys`: one
    * bounded take, memoized per plan, so the length/span gates of the
    * same side and key set reuse it. */
  def saltPlan(df: DataFrame, keys: Seq[String] = Nil,
               sampleRows: Int = 100000): Option[Long] = {
    val cores = math.max(df.sparkSession.sparkContext.defaultParallelism, 1)
    val st = sideStats(df, keys, sampleRows)
    val manyBalancedKeys = st.manyBalancedKeys(cores)
    def binFor(span: Long): Long = {
      var b = 16384L
      while (b < span / (8L * cores) && b < (1L << 24)) b *= 2
      b
    }
    val plan = forced() match {
      // forced salted: the audit wants the salted plan SHAPE, so the
      // narrow-span / many-balanced-keys demotions are bypassed
      case Some(true) => Some(binFor(st.span))
      case Some(false) => None
      // an empty sample has span 1: narrow
      case None =>
        if (manyBalancedKeys || st.span < 4L * 16384L) None
        else Some(binFor(st.span))
    }
    Sizing.log.info("[graft.sizing] saltPlan={}",
      plan.map(_.toString).getOrElse(
        if (manyBalancedKeys) "plain (many balanced keys)"
        else "plain (narrow span or empty)"))
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
}
