package graft

import graft.core.Cols
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality contracts: the properties .explain should always show
  * (column pruning to the scan, broadcast of small sides, single Window
  * node for the merge sweep) — pinned as tests so a refactor that
  * silently degrades the plan fails CI, not the 100 TB run. */
class PlanContractSpec extends AnyFunSuite {
  import Cols._

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  test("boundaries query prunes unused lineitem columns at the parquet scan") {
    val plan = SparkEntry.queries("q02_boundaries")(spark, dir)
      .queryExecution.executedPlan.toString
    val readSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(readSchemas.nonEmpty)
    // the interval derivation needs 7 of lineitem's 11 columns; the scan
    // must not read the money/date columns the query never touches
    assert(readSchemas.forall(s => !s.contains("l_extendedprice") &&
      !s.contains("l_tax") && !s.contains("l_shipdate")))
  }

  test("merge sweep shuffles exactly once (windows pipeline on one sort)") {
    val plan = SparkEntry.queries("q03_merge")(spark, dir)
      .queryExecution.executedPlan.toString
    // Spark splits dependent window expressions into several Window
    // nodes, but they share the partitioning/ordering: one Exchange, one
    // Sort — the one-shuffle-per-operator contract (SURVEY.md §3).
    assert("Exchange".r.findAllIn(plan).size == 1, plan.take(2000))
    assert("Sort ".r.findAllIn(plan).size == 1, plan.take(2000))
  }

  test("binned range join equi-joins on (key, bin) — no nested loop") {
    val plan = SparkEntry.queries("q14_join")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("_bin"))
  }

  test("sweep join plan: one exchange + one sort per side, no nested loop") {
    val plan = SparkEntry.queries("q95_sweep_join")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("IntervalSweepJoin"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // cluster-by-key + sort-by-(key, start) on each side, nothing more:
    // the sweep itself adds no shuffle and no row amplification
    assert("Exchange".r.findAllIn(plan).size == 2, plan.take(2000))
    assert("Sort ".r.findAllIn(plan).size == 2, plan.take(2000))
    assert(!plan.contains("Generate"), "unsalted sweep must not explode")
  }

  test("sweep outer join plan: one operator, no anti-join composition, no explode") {
    val plan = SparkEntry.queries("q96_join_outer")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("IntervalSweepJoin"), plan.take(2000))
    // the whole point vs the binned outer composition: NO extra
    // anti-joins / unions for the unmatched sides — the operator
    // null-pads during eviction. Two exchanges + two sorts, like pairs.
    assert(!plan.contains("Union"), plan.take(2000))
    assert("Exchange".r.findAllIn(plan).size == 2, plan.take(2000))
    assert("Sort ".r.findAllIn(plan).size == 2, plan.take(2000))
    assert(!plan.contains("Generate"), "outer sweep must not explode")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("joinOverlaps outer dispatch: sweep above the gate, binned anti-union below") {
    import graft.ops.BinaryOps
    // 40M-row range leaves report 320 MB of leaf stats (> the 32 MB
    // gate) and 150 kb intervals clear the plain-sweep fan-out bar
    // (mean/bin = 150000/65536 > 2) at a sampled depth of ~150
    def side(n: Long) = spark.range(n).select(col("id").as(RowId),
      lit("A").as(Chrom), (col("id") * 1000L).as(Start),
      (col("id") * 1000L + 150000L).as(End))
    val plan = BinaryOps.joinOverlaps(side(40L << 20), side(40L << 20),
        Seq(Chrom), joinType = "outer")
      .queryExecution.executedPlan.toString
    assert(plan.contains("IntervalSweepJoin"),
      "big long-interval outer join must route through the sweep's native outer mode")
    assert(!plan.contains("Union"),
      "the sweep outer plan must not pay the binned anti-union composition")
    // below the gate the binned composition (pairs + anti unions) stays
    val small = BinaryOps.joinOverlaps(side(1000L), side(1000L),
        Seq(Chrom), joinType = "outer")
      .queryExecution.executedPlan.toString
    assert(!small.contains("IntervalSweepJoin"), small.take(1500))
    assert(small.contains("Union"), small.take(1500))
  }

  test("contained-overlap semi join: no left explode, no distinct, <=1 shuffle") {
    val q = SparkEntry.queries("q53_overlap_contained")(spark, dir)
    val plan = q.queryExecution.executedPlan.toString
    // the contained fast path semi-joins the UNEXPLODED left against the
    // binned right: one semi join, no dedup aggregation, and at most one
    // exchange (zero when the right side broadcasts, as it does here)
    assert(plan.contains("LeftSemi"), plan.take(2000))
    assert(!plan.contains("HashAggregate(keys=[row_id"), plan.take(2000))
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 1, s"contained semi should not reshuffle: $exchanges exchanges")
  }

  test("nearest sweep parallelism scales with salt bins, not chromosomes") {
    // forced-salted plan must repartition by the composite (key, bin)
    // sweep key — i.e. the sweep is NOT a per-chromosome serial scan
    val l = Tables.gr(spark, dir)
    val r = Tables.gr2(spark, dir)
    val salted = graft.ops.NearestK.nearestK(l, r, Seq(Chrom), 1,
      distCol = "dist", saltedHint = Some(true))
    val plan = salted.queryExecution.optimizedPlan.toString
    // the salted path's carried-suffix machinery is present
    assert(plan.contains("_mb"), plan.take(3000))
  }

  test("nearest auto-switch picks the plain sweep on small leaf scans and logs it") {
    val l = Tables.gr(spark, dir)
    val r = Tables.gr2(spark, dir)
    graft.ops.NearestK.nearestK(l, r, Seq(Chrom), 1, distCol = "dist")
      .queryExecution.executedPlan // force planning (decision happens at build)
    // nearestK consults two gates at build: the sweep salt gate, then
    // the overlap-candidate pairsDispatch gate — lastDecision holds the
    // final one; both must resolve to the plain path at sf0.001
    val (op, bytes, salted) = graft.core.Sizing.lastDecision.get()
    assert(op == "nearestSweep" || op == "rangejoin/auto", op)
    assert(bytes > 0 && bytes < graft.core.Sizing.saltedInputThreshold)
    assert(!salted, s"sf0.001 leaf scans ($bytes B) must take the plain sweep")
    assert(!graft.core.Sizing.decide("nearestSweep",
      graft.core.Sizing.saltedInputThreshold, l, r))
  }

  test("sizing gate reads LEAF scan bytes, stable under wide/narrow projections") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val narrow = graft.core.Sizing.leafScanBytes(li.select("l_orderkey"))
    val wide = graft.core.Sizing.leafScanBytes(li.select(li.columns.map(col): _*))
    // r2 bug: derived-plan estimates swung 2-5x with projection width and
    // misfired the salted auto-switch; leaf bytes must not move at all
    assert(narrow == wide, s"leaf bytes moved with projection: $narrow vs $wide")
  }

  test("salted auto-switch FIRES above Sizing.saltedInputThreshold leaf bytes") {
    // spark.range leaves report 8 bytes/row in plan stats without any
    // I/O, so a firing condition well above Sizing.saltedInputThreshold
    // (32 MB, measured — BASELINE.md "salted crossover" table, from
    // graft.SaltBench) is assertable instantly.
    import spark.implicits._
    val big = spark.range(40L << 20) // 40M rows * 8 B = 320 MB of leaf stats
      .select(col("id").as(RowId), lit("A").as(Chrom),
        col("id").as(Start), (col("id") + 10).as(End))
    assert(graft.core.Sizing.decide("spec/fire",
      graft.core.Sizing.saltedInputThreshold, big))
    val (op, bytes, salted) = graft.core.Sizing.lastDecision.get()
    assert(op == "spec/fire" && salted &&
      bytes > graft.core.Sizing.saltedInputThreshold)
    // and the real operator dispatches take the salted branch there:
    // groupCumsum's and merge's gates read the same leaf bytes
    graft.ops.UnaryOps.groupCumsum(big, Seq(Chrom),
      tieBreak = Seq(col(RowId)))
    assert(graft.core.Sizing.lastDecision.get()._3,
      "groupCumsum must dispatch salted at 320 MB leaf bytes")
    graft.ops.UnaryOps.merge(big, Seq(Chrom))
    val (mop, _, msalted) = graft.core.Sizing.lastDecision.get()
    assert(mop == "merge" && msalted,
      "merge must dispatch salted at 320 MB leaf bytes")
    // countCol pins plain (island counts can't ride the salted split):
    // the gate must not even be consulted
    val before = graft.core.Sizing.lastDecision.get()
    graft.ops.UnaryOps.merge(big, Seq(Chrom), countCol = Some("n"))
    assert(graft.core.Sizing.lastDecision.get() == before,
      "countCol merge must bypass the salted gate")
    // size fires but the coordinate span (<64k) is too narrow to fan
    // out: saltPlan demotes to the plain window (the measured 0.78x
    // narrow-span loss, BASELINE.md) — plain has no Generate/explode
    val narrowSpan = spark.range(40L << 20)
      .select(col("id").as(RowId), lit("A").as(Chrom),
        pmod(col("id"), lit(1000L)).as(Start),
        (pmod(col("id"), lit(1000L)) + 10).as(End))
    val nplan = graft.ops.UnaryOps.merge(narrowSpan, Seq(Chrom))
      .queryExecution.optimizedPlan.toString
    assert(!nplan.contains("Generate"),
      "narrow span must demote the salted merge to the plain window")
    // below the threshold the same shape stays plain
    val small = spark.range(1L << 20)
      .select(col("id").as(RowId), lit("A").as(Chrom),
        col("id").as(Start), (col("id") + 10).as(End))
    graft.ops.UnaryOps.groupCumsum(small, Seq(Chrom),
      tieBreak = Seq(col(RowId)))
    assert(!graft.core.Sizing.lastDecision.get()._3)
  }

  test("first-pick and count route through the sweep above the gate: pair-free plans") {
    // 320 MB of leaf stats, interval length 2^20 over a wide span:
    // fan-out at the 65536 bin clamp is 16 >> the sweep bar; 4096
    // balanced keys demote the salt (plain per-key sweep) so the plan
    // is exactly scan -> exchange -> sort -> sweep on each side
    def tbl = spark.range(40L << 20)
      .select(col("id").as(RowId), concat(lit("c"), pmod(col("id"), lit(4096L))).as(Chrom),
        // starts hashed across the span so the bounded limit() sample
        // sees the true coordinate spread (a range-ordered start would
        // bias the sampled span low and trip the depth demotion)
        pmod(col("id") * 2654435761L, lit(1L << 40)).as(Start),
        (pmod(col("id") * 2654435761L, lit(1L << 40)) + (1L << 20)).as(End))
    val pick = graft.ops.BinaryOps.joinOverlaps(tbl, tbl.drop(RowId), Seq(Chrom),
      multiple = "first")
    val pickPlan = pick.queryExecution.executedPlan.toString
    assert(pickPlan.contains("IntervalSweepJoin"), pickPlan.take(2000))
    assert(!pickPlan.contains("Generate"), "pick must not explode bins")
    assert(!pickPlan.contains("Aggregate"),
      "native pick must not aggregate a materialized pair set")
    assert(graft.join.RangeJoin.lastAutoPairs.get()._1.startsWith("sweep"),
      graft.join.RangeJoin.lastAutoPairs.get().toString)
    val cnt = graft.ops.BinaryOps.countOverlaps(tbl, tbl.drop(RowId), Seq(Chrom),
      countCol = "n")
    val cntPlan = cnt.queryExecution.executedPlan.toString
    assert(cntPlan.contains("IntervalSweepJoin"), cntPlan.take(2000))
    assert(!cntPlan.contains("Generate"), "count must not explode bins")
    assert(!cntPlan.contains("Aggregate") && !cntPlan.contains("HashJoin"),
      "native count needs no pair aggregation and no rejoin")
  }

  test("row identity: each attached id is evaluated once, under plain and salted gates") {
    import org.apache.spark.sql.catalyst.expressions.MonotonicallyIncreasingID
    import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import graft.core.GenomicFrame
    import graft.ops.BinaryOps
    import spark.implicits._
    object Walk extends AdaptiveSparkPlanHelper
    // identical rows and no row_id: only an evaluated-once id keeps them
    // apart; [100,400) spans several bins, and [1000,300000) more than two
    // of the widest auto bin. RDD-backed, since Catalyst folds a projection
    // over local rows into the rows at plan time
    val sc = spark.sparkContext
    val l = sc.parallelize(Seq(("c1", 0L, 10L, "x"), ("c1", 0L, 10L, "x"),
      ("c1", 20L, 40L, "y"), ("c1", 100L, 400L, "z"), ("c1", 1000L, 300000L, "v")), 2)
      .toDF(Chrom, Start, End, "name")
    val r = sc.parallelize(Seq(("c1", 5L, 8L, 10L), ("c1", 25L, 30L, 11L),
      ("c1", 300L, 310L, 12L), ("c1", 150000L, 150010L, 13L)), 2).toDF(Chrom, Start, End, RowId)
    val chunks = sc.parallelize(Seq(("c1", 0L, "ACGT" * 40)), 1).toDF(Chrom, "cstart", "chunk")
    val k = Seq(Chrom)
    // (op, ids it attaches): subtract's gap window and its untouched-row
    // anti join each number their own rows, and the two ids never meet;
    // the GenomicFrame nearest also numbers a right side without row_id
    val nearestOps = Seq[(String, Int, () => org.apache.spark.sql.DataFrame)](
      ("nearest", 1, () => BinaryOps.nearest(l, r, k)),
      ("GenomicFrame.nearestRanges", 2,
        () => GenomicFrame(l).nearestRanges(GenomicFrame(r.drop(RowId))).df))
    val ops = Seq[(String, Int, () => org.apache.spark.sql.DataFrame)](
      ("countOverlaps", 1, () => BinaryOps.countOverlaps(l, r, k)),
      ("joinOverlaps(first)", 1, () => BinaryOps.joinOverlaps(l, r, k, multiple = "first")),
      ("joinOverlaps(last)", 1, () => BinaryOps.joinOverlaps(l, r, k, multiple = "last")),
      ("overlap", 1, () => BinaryOps.overlap(l, r, k)),
      ("overlap(invert)", 1, () => BinaryOps.overlap(l, r, k, invert = true)),
      ("subtract", 2, () => BinaryOps.subtract(l, r, k)),
      ("getSequenceChunked", 1, () => graft.ext.Seqs.getSequenceChunked(l, chunks))) ++
      nearestOps
    def ids(p: SparkPlan): Int = Walk.collect(p) {
      case p: ProjectExec => p.projectList.count(_.exists(_.isInstanceOf[MonotonicallyIncreasingID]))
    }.sum
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def check(label: String, which: Seq[(String, Int, () => org.apache.spark.sql.DataFrame)]) = {
      // one small job per op, run side by side under the same conf
      val plans = Await.result(Future.traverse(which) { case (_, _, op) =>
        Future { val df = op(); df.collect(); df.queryExecution.executedPlan }
      }, scala.concurrent.duration.Duration(10, "min"))
      for (((name, n, _), plan) <- which.zip(plans)) {
        // the final adaptive plan; a ReusedExchange is a leaf, so an id
        // read through one is not counted again, and a pinned frame's id
        // is counted once in its cached plan, however many scans read it
        val pins = Walk.collect(plan) { case s: InMemoryTableScanExec => s.relation.cacheBuilder }
        val evaluated = ids(plan) + pins.distinct.map(c => ids(c.cachedPlan)).sum
        assert(evaluated == n, s"$name, $label: $evaluated id evaluations\n$plan")
      }
    }
    try {
      for (force <- Seq("plain", "salted")) {
        spark.conf.set(graft.core.Sizing.ForceKey, force)
        try check(s"force=$force", ops) finally spark.conf.unset(graft.core.Sizing.ForceKey)
      }
      // nearest's shared ids come from its pin, not from exchange reuse
      spark.conf.set("spark.sql.exchange.reuse", "false")
      try check("exchange reuse off", nearestOps)
      finally spark.conf.unset("spark.sql.exchange.reuse")
    } finally { pool.shutdown(); spark.catalog.clearCache() }
  }

  test("saltPlan demotes many-balanced-keys to plain, keeps hot-in-many salted") {
    // 2000 balanced keys: the plain window already out-parallelizes the
    // cores, and salting measured 0.56-0.84x there (BASELINE.md
    // --manykeys row) — saltPlan must return None
    val many = spark.range(200000)
      .select(col("id").as(RowId),
        concat(lit("k"), pmod(col("id"), lit(2000L))).as(Chrom),
        (col("id") * 7919L % 100000000L).as(Start),
        (col("id") * 7919L % 100000000L + 50).as(End))
    assert(graft.core.Sizing.saltPlan(many, Seq(Chrom)).isEmpty)
    // same cardinality but one key holding ~half the rows: the hottest
    // key still serializes, so the salted plan stays
    val hotInMany = spark.range(200000)
      .select(col("id").as(RowId),
        when(col("id") % 2 === 0, lit("HOT"))
          .otherwise(concat(lit("k"), pmod(col("id"), lit(2000L)))).as(Chrom),
        (col("id") * 7919L % 100000000L).as(Start),
        (col("id") * 7919L % 100000000L + 50).as(End))
    assert(graft.core.Sizing.saltPlan(hotInMany, Seq(Chrom)).isDefined)
  }

  test("autoSaltBin: span-scaled, clamped, and safe on empty input") {
    import spark.implicits._
    // 64M-coordinate span on local[4]: 64M / (8*4) = 2M -> bin 2^21
    val wide = Seq(("c", 0L, 10L), ("c", 64000000L, 64000005L))
      .toDF(Chrom, Start, End)
    assert(graft.core.Sizing.autoSaltBin(wide) == (1L << 21))
    // narrow span stays at the 16384 floor (never strands parallelism
    // by oversizing the bin relative to the domain)
    val narrow = Seq(("c", 0L, 10L), ("c", 5000L, 5010L)).toDF(Chrom, Start, End)
    assert(graft.core.Sizing.autoSaltBin(narrow) == 16384L)
    // huge span clamps at 2^24
    val huge = Seq(("c", 0L, 10L), ("c", 4000000000L, 4000000005L))
      .toDF(Chrom, Start, End)
    assert(graft.core.Sizing.autoSaltBin(huge) == (1L << 24))
    // empty input -> floor, no NPE
    assert(graft.core.Sizing.autoSaltBin(
      graft.io.TableIO.empty(spark)) == 16384L)
  }

  test("gate sample: one bounded take per input, labelled, then memoized") {
    // 64 splits of 100k rows each: a limit().agg() sample ran a task on
    // every split; the take reads the first split and stops
    val df = spark.range(0L, 64L * 100000L, 1L, 64)
      .select(concat(lit("c"), pmod(col("id"), lit(8L))).as(Chrom),
        (col("id") * 10L).as(Start), (col("id") * 10L + 50L).as(End))
    assert(df.rdd.getNumPartitions == 64)
    val sc = spark.sparkContext
    val tracker = sc.statusTracker
    val group = s"gate-sample-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add((e.properties.getProperty("spark.jobGroup.id"),
          e.properties.getProperty("spark.job.description")))
    }
    def jobs(): Seq[Int] = {
      org.apache.spark.GraftTestBridge.drainListenerBus(sc)
      tracker.getJobIdsForGroup(group).toSeq
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "gate sample contract")
    sc.setJobDescription("caller's description")
    try {
      graft.core.Sizing.saltPlan(df, Seq(Chrom))
      val first = jobs()
      val tasks = first.flatMap(tracker.getJobInfo(_)).flatMap(_.stageIds)
        .flatMap(tracker.getStageInfo(_)).map(_.numTasks).sum
      assert(first.nonEmpty && first.size <= 2, s"sample jobs: $first")
      assert(tasks <= 8, s"$tasks sample tasks over 64 splits")
      assert(seen.toArray.toSet == Set((group, "graft gate sample")),
        "sample jobs keep the caller's group and carry their own description")
      assert(sc.getLocalProperty("spark.job.description") == "caller's description")
      // a second gate on the same frame, same keys: the memo answers
      graft.core.Sizing.saltPlan(df, Seq(Chrom))
      graft.core.Sizing.sideStats(df, Seq(Chrom))
      assert(jobs() == first, "a memoized gate must launch no job")
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("gate memo: rewritten input resamples, empty floors, plans stay apart") {
    import graft.join.RangeJoin
    // the same path rewritten with 100x longer intervals: the plan is
    // unchanged, the input files are not
    val dir = java.nio.file.Files.createTempDirectory("graft_gate_memo_").toString
    def rewrite(len: Long): Long = {
      spark.range(20000)
        .select(lit("c").as(Chrom), (col("id") * 1000L).as(Start),
          (col("id") * 1000L + len).as(End))
        .write.mode("overwrite").parquet(dir)
      RangeJoin.autoBinSize(spark.read.parquet(dir), spark.read.parquet(dir))
    }
    try {
      assert(rewrite(10L) == 64L)
      assert(rewrite(1000L) == 4096L, "a rewritten input must be sampled again")
    } finally new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    // empty input: the floors, on a miss and on a memo hit alike
    val empty = graft.io.TableIO.empty(spark)
    assert(graft.core.Sizing.autoSaltBin(empty) == 16384L)
    assert(graft.core.Sizing.autoSaltBin(empty) == 16384L)
    assert(RangeJoin.autoBinSize(empty, empty) == 64L)
    // two frames of one shape but different spans (1M vs 100M
    // coordinates on local[4]): separate memo entries, separate bins
    def spaced(step: Long) = spark.range(100000)
      .select(lit("c").as(Chrom), (col("id") * step).as(Start),
        (col("id") * step + 10L).as(End))
    assert(graft.core.Sizing.autoSaltBin(spaced(10L)) == 32768L)
    assert(graft.core.Sizing.autoSaltBin(spaced(1000L)) == (1L << 22))
  }

  test("empty constructor carries the genomic schema contract") {
    val e = graft.io.TableIO.empty(spark)
    assert(e.count() == 0)
    assert(e.columns.toSeq == Seq(Chrom, Start, End, Strand))
    val ns = graft.io.TableIO.empty(spark, withStrand = false)
    assert(ns.columns.toSeq == Seq(Chrom, Start, End))
    // empties flow through the operator surface (PropagateEmptyRelation)
    assert(graft.ops.UnaryOps.merge(e, Seq(Chrom)).count() == 0)
  }

  test("plain nearest sweep plan: no cartesian, no nested loop join") {
    val plan = SparkEntry.queries("q42_nearest_k")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("EVERY query plans without CartesianProduct or BroadcastNestedLoopJoin") {
    // blanket contract over the whole suite (incl. future queries): no
    // plan may contain a |L|x|R| operator — the invariant PLANS.md's
    // notes column audits, enforced here so a regression fails CI
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val plan = fn(spark, dir).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct") ||
            plan.contains("BroadcastNestedLoopJoin")) Some(name) else None
      } catch { case _: Throwable => None } // execution-path issues belong to Verify
    }
    assert(bad.isEmpty, s"quadratic join operators in: $bad")
  }

  test("ann index probe: the bucketed index side elides its join exchange") {
    import graft.ml.{AnnIndex, Similarity}
    val db = TestDbs.perRun(spark, "graft_ann_")
    val cm = Similarity.ivfCentroids(8, 64)
    val emb = Tables.pq(spark, dir, "embeddings")
    AnnIndex.writeIvf(emb, s"$db.ivf", cm, buckets = 4)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // join-only plans, like for like: the bucketed scan's native
      // HashPartitioning(_cell) must be consumed in place, so the plain
      // (unbucketed) re-read of the SAME data needs exactly one more
      // exchange (its index side has to shuffle)
      spark.table(s"$db.ivf").write.mode("overwrite")
        .parquet(s"/tmp/${db}_plain")
      val probes = graft.core.Sizing.fanOutSmallScan(emb)
        .select(col("vec_id").cast("long").as("vec_id"),
          Similarity.quantize(col("embedding"), 1000).as("_q"))
        .withColumn("_cell",
          org.apache.spark.sql.functions.explode(
            Similarity.nearestCells(col("_q"), cm, 2)))
      def idxCols(d: org.apache.spark.sql.DataFrame) =
        d.select(col("vec_id").as("nb"), col("_q").as("_qb"), col("_cell"))
      val bucketedPlan = probes.join(idxCols(spark.table(s"$db.ivf")), Seq("_cell"))
        .queryExecution.executedPlan.toString
      val plainPlan = probes.join(idxCols(spark.read.parquet(s"/tmp/${db}_plain")), Seq("_cell"))
        .queryExecution.executedPlan.toString
      val bucketedEx = "Exchange".r.findAllIn(bucketedPlan).size
      val plainEx = "Exchange".r.findAllIn(plainPlan).size
      assert(bucketedPlan.contains("Bucketed: true"), bucketedPlan.take(2000))
      assert(bucketedEx == plainEx - 1,
        s"bucketed=$bucketedEx plain=$plainEx\n${bucketedPlan.take(2000)}")
      // and the serve path agrees with the in-memory operator
      val probed = AnnIndex.probeIvf(spark, s"$db.ivf", emb,
        k = 2, nProbe = 2, centroids = cm)
      val viaMem = Similarity.ivfTopK(emb, 2, nProbe = 2,
        centroids = Some(cm)).collect().map(_.toSeq).toSet
      assert(probed.collect().map(_.toSeq).toSet == viaMem)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("ann index append: incremental batches keep bucketing and probe exactness") {
    import graft.ml.{AnnIndex, Similarity}
    import org.apache.spark.sql.functions._
    // the maintenance path: index half the corpus, append the rest with
    // insertInto (which must route rows through the SAME bucket hash),
    // and the probe over the incremental table must equal both the
    // one-shot index AND stay on the exchange-free bucketed scan
    val db = TestDbs.perRun(spark, "graft_annx_")
    val cm = Similarity.ivfCentroids(8, 64)
    val emb = Tables.pq(spark, dir, "embeddings")
    val half1 = emb.where(col("vec_id") % 2 === 0)
    val half2 = emb.where(col("vec_id") % 2 === 1)
    AnnIndex.writeIvf(half1, s"$db.inc", cm, buckets = 4)
    // no centroids passed: the append resolves cell assignment from the
    // table's own stored matrix/scale — equality with the one-shot
    // index below proves the stored spec drove identical cells
    AnnIndex.appendIvf(half2, s"$db.inc")
    AnnIndex.writeIvf(emb, s"$db.full", cm, buckets = 4)
    val viaInc = AnnIndex.probeIvf(spark, s"$db.inc", emb,
      k = 2, nProbe = 2, centroids = cm).collect().map(_.toSeq).toSet
    val viaFull = AnnIndex.probeIvf(spark, s"$db.full", emb,
      k = 2, nProbe = 2, centroids = cm).collect().map(_.toSeq).toSet
    assert(viaInc == viaFull && viaInc.nonEmpty)
    // centroid/scale mismatch against the build-time fingerprint is an
    // error, not a silently wrong _cell join
    val cmOther = Similarity.ivfCentroids(4, 64)
    val mm = intercept[IllegalArgumentException] {
      AnnIndex.probeIvf(spark, s"$db.full", emb, k = 2, nProbe = 2,
        centroids = cmOther)
    }
    assert(mm.getMessage.contains("centroid"), mm.getMessage)
    intercept[IllegalArgumentException] {
      AnnIndex.appendIvf(half2, s"$db.full", cm, scale = 500)
    }
    // appended table still reports bucketed scans
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = AnnIndex.probeIvf(spark, s"$db.inc", emb,
        k = 2, nProbe = 2, centroids = cm).queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), plan.take(2000))
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("lsh dedup index: probe equals direct recompute, appends keep bucketing") {
    import graft.ml.DedupIndex
    // the near-dup analog of the ann-index contract: (1) probing a
    // persisted index equals recomputing candidates directly from both
    // halves, (2) incremental appends route through the table's bucket
    // spec so the probe answer AND the bucketed scan survive, (3) the
    // bucketed index side carries no Exchange ahead of the probe join
    val db = TestDbs.perRun(spark, "graft_lshx_")
    val docs = Tables.pq(spark, dir, "documents")
    val corpus = docs.where(col("doc_id") % 3 =!= 0)
    val batch = docs.where(col("doc_id") % 3 === 0)
    DedupIndex.writeLsh(corpus, s"$db.lsh", buckets = 4)
    val viaIdx = DedupIndex.probeLsh(spark, s"$db.lsh", batch)
      .collect().map(_.toSeq).toSet
    // direct recompute: band rows of both halves joined on (band, bh)
    val bc = DedupIndex.bandRows(corpus)
      .select(col("doc_id").as("b"), col("band"), col("bh"), col("ns").as("ns_b"))
    val direct = DedupIndex.bandRows(batch)
      .select(col("doc_id").as("a"), col("band"), col("bh"), col("ns").as("ns_a"))
      .join(bc, Seq("band", "bh"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_bands"),
        max(col("ns_a")).as("ns_a"), max(col("ns_b")).as("ns_b"))
      .collect().map(_.toSeq).toSet
    assert(viaIdx == direct && viaIdx.nonEmpty)
    // incremental: two appended halves == one-shot write
    val h1 = corpus.where(col("doc_id") % 2 === 0)
    val h2 = corpus.where(col("doc_id") % 2 === 1)
    DedupIndex.writeLsh(h1, s"$db.inc", buckets = 4)
    DedupIndex.appendLsh(h2, s"$db.inc")
    val viaInc = DedupIndex.probeLsh(spark, s"$db.inc", batch)
      .collect().map(_.toSeq).toSet
    assert(viaInc == viaIdx)
    // band-spec mismatch is an impossible state, not a silent empty
    // candidate set: the build params are table properties and every
    // probe/append validates against them
    val mh = intercept[IllegalArgumentException] {
      DedupIndex.probeLsh(spark, s"$db.inc", batch, numHashes = 8)
    }
    assert(mh.getMessage.contains("numHashes"), mh.getMessage)
    intercept[IllegalArgumentException] {
      DedupIndex.appendLsh(batch, s"$db.inc", shingleK = 5)
    }
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = DedupIndex.probeLsh(spark, s"$db.inc", batch)
        .queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), plan.take(2000))
      // exactly the probe-side exchanges remain: the index scan's
      // HashPartitioning(band, bh) is consumed in place, so the plan
      // has one fewer Exchange than the same join over a plain re-read
      spark.table(s"$db.inc").write.mode("overwrite")
        .parquet(s"/tmp/${db}_plain")
      val idxPlain = spark.read.parquet(s"/tmp/${db}_plain")
        .select(col("band"), col("bh"), col("doc_id").as("b"),
          col("ns").as("ns_b"))
      val probes = DedupIndex.bandRows(batch)
        .select(col("doc_id").as("a"), col("band"), col("bh"),
          col("ns").as("ns_a"))
      val plainPlan = probes.join(idxPlain, Seq("band", "bh"))
        .queryExecution.executedPlan.toString
      val bucketedPlan = probes.join(
          spark.table(s"$db.inc").select(col("band"), col("bh"),
            col("doc_id").as("b"), col("ns").as("ns_b")), Seq("band", "bh"))
        .queryExecution.executedPlan.toString
      val nB = "Exchange".r.findAllIn(bucketedPlan).size
      val nP = "Exchange".r.findAllIn(plainPlan).size
      assert(nB == nP - 1, s"bucketed=$nB plain=$nP\n${bucketedPlan.take(2000)}")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("substr hot-gram index: probe equals direct recompute over the net " +
      "corpus, negative-count retirement is exact, compaction folds " +
      "partials, hot-side aggregation plans ZERO exchange") {
    import graft.ml.{Dedup, SubstrIndex}
    val db = TestDbs.perRun(spark, "graft_subx_")
    val docs = Tables.pq(spark, dir, "documents")
    val a = docs.where(col("doc_id") % 4 === 1 || col("doc_id") % 4 === 2)
    val b = docs.where(col("doc_id") % 4 === 3)
    val ret = docs.where(col("doc_id") % 4 =!= 0 && col("doc_id") % 10 === 3)
    val probeDocs = docs.where(col("doc_id") % 4 === 0)
    assert(ret.count() > 0)
    SubstrIndex.write(a, s"$db.sub", minMatchTokens = 8, minOcc = 2,
      buckets = 4)
    SubstrIndex.append(b, s"$db.sub")
    SubstrIndex.removeDocs(ret, s"$db.sub")
    val viaIdx = SubstrIndex.probe(spark, s"$db.sub", probeDocs)
      .collect().map(_.toSeq).toSet
    // the counterfactual: hot set recomputed from the NET corpus as if
    // the retired docs were never ingested — negative counts must land
    // exactly there
    val live = docs.where(col("doc_id") % 4 =!= 0 && col("doc_id") % 10 =!= 3)
    val direct = Dedup.removeSubstrings(probeDocs,
        Dedup.hotSubstrings(live, minMatchTokens = 8), minMatchTokens = 8)
      .collect().map(_.toSeq).toSet
    assert(viaIdx == direct && viaIdx.nonEmpty)
    // compaction folds the three generations of partial counts to one
    // row per gram and one file per bucket; answers unchanged
    val preRows = spark.table(s"$db.sub").count()
    SubstrIndex.compact(spark, s"$db.sub")
    assert(spark.table(s"$db.sub").count() < preRows)
    assert(spark.table(s"$db.sub").groupBy(col("_g")).count()
      .where(col("count") > 1).count() == 0)
    assert(graft.ml.Indexes.dataFileCount(spark, s"$db.sub") == 4)
    assert(SubstrIndex.probe(spark, s"$db.sub", probeDocs)
      .collect().map(_.toSeq).toSet == viaIdx)
    // zero index-side exchange: the hot-set groupBy on _g consumes the
    // bucketed layout in place (VERDICT r14 item #3 — the raw q138
    // parquet hot set re-shuffles per trigger once above broadcast)
    val hotPlan = SubstrIndex.hotGrams(spark, s"$db.sub")
      .queryExecution.executedPlan.toString
    assert(!hotPlan.contains("Exchange"), hotPlan.take(2000))
    // a table nothing here wrote is rejected before any join
    probeDocs.limit(2).write.mode("overwrite").saveAsTable(s"$db.bare")
    intercept[IllegalArgumentException] {
      SubstrIndex.probe(spark, s"$db.bare", probeDocs)
    }
  }

  test("index rewrite recovers from a crash between the swap renames") {
    import graft.ml.{AnnIndex, Similarity}
    // the one crash window the rename dance leaves: live renamed to
    // _precompact, replacement not yet renamed in — the next rewrite
    // must RESTORE the retired table and complete, properties intact
    val db = TestDbs.perRun(spark, "graft_crash_")
    val cm = Similarity.ivfCentroids(8, 64)
    val emb = Tables.pq(spark, dir, "embeddings")
    AnnIndex.writeIvf(emb, s"$db.ivf", cm, buckets = 4)
    val before = AnnIndex.probeIvf(spark, s"$db.ivf", emb,
      k = 1, nProbe = 2, centroids = cm).collect().map(_.toSeq).toSet
    spark.sql(s"ALTER TABLE $db.ivf RENAME TO $db.ivf_precompact")
    AnnIndex.compact(spark, s"$db.ivf")
    assert(spark.catalog.tableExists(s"$db.ivf"))
    assert(!spark.catalog.tableExists(s"$db.ivf_precompact"))
    val after = AnnIndex.probeIvf(spark, s"$db.ivf", emb,
      k = 1, nProbe = 2, centroids = cm).collect().map(_.toSeq).toSet
    assert(after == before && after.nonEmpty)
    // the fingerprint traveled through the recovery + rewrite
    intercept[IllegalArgumentException] {
      AnnIndex.probeIvf(spark, s"$db.ivf", emb, k = 1, nProbe = 2,
        centroids = Similarity.ivfCentroids(4, 64))
    }
  }

  test("index compaction: files collapse to one per bucket, probe plan and answer unchanged") {
    import graft.ml.{AnnIndex, DedupIndex, Indexes, Similarity}
    val db = TestDbs.perRun(spark, "graft_cmp_")
    val cm = Similarity.ivfCentroids(8, 64)
    val emb = Tables.pq(spark, dir, "embeddings")
    // three appended batches -> multiple files per bucket
    val parts = (0 to 2).map(m => emb.where(col("vec_id") % 3 === m))
    AnnIndex.writeIvf(parts(0), s"$db.ivf", cm, buckets = 4)
    AnnIndex.appendIvf(parts(1), s"$db.ivf", cm)
    AnnIndex.appendIvf(parts(2), s"$db.ivf", cm)
    val before = AnnIndex.probeIvf(spark, s"$db.ivf", emb,
      k = 2, nProbe = 2, centroids = cm)
    val beforeRows = before.collect().map(_.toSeq).toSet
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val beforePlan = AnnIndex.probeIvf(spark, s"$db.ivf", emb,
        k = 2, nProbe = 2, centroids = cm).queryExecution.executedPlan.toString
      val filesBefore = Indexes.dataFileCount(spark, s"$db.ivf")
      assert(filesBefore > 4, s"expected multi-append file growth, got $filesBefore")
      AnnIndex.compact(spark, s"$db.ivf")
      assert(Indexes.dataFileCount(spark, s"$db.ivf") <= 4)
      val afterPlan = AnnIndex.probeIvf(spark, s"$db.ivf", emb,
        k = 2, nProbe = 2, centroids = cm).queryExecution.executedPlan.toString
      // same plan shape: still a bucketed scan consumed in place, same
      // exchange count as before compaction
      assert(afterPlan.contains("Bucketed: true"), afterPlan.take(2000))
      assert("Exchange".r.findAllIn(afterPlan).size ==
        "Exchange".r.findAllIn(beforePlan).size)
      val afterRows = AnnIndex.probeIvf(spark, s"$db.ivf", emb,
        k = 2, nProbe = 2, centroids = cm).collect().map(_.toSeq).toSet
      assert(afterRows == beforeRows && afterRows.nonEmpty)
      // fingerprint properties survived the swap: a mismatched probe
      // still fails fast post-compaction
      intercept[IllegalArgumentException] {
        AnnIndex.probeIvf(spark, s"$db.ivf", emb, k = 2, nProbe = 2,
          centroids = Similarity.ivfCentroids(4, 64))
      }
      // DELETE: retire vec_id % 5 == 0 from the index; the rewrite must
      // keep the bucketed probe shape (same exchange count, bucketed
      // scan), stay compacted, never surface a deleted id as a
      // neighbor, and keep serving deleted ids as QUERIES
      AnnIndex.deleteByIds(spark, s"$db.ivf",
        emb.where(col("vec_id") % 5 === 0).select(col("vec_id")))
      assert(Indexes.dataFileCount(spark, s"$db.ivf") <= 4)
      val delDf = AnnIndex.probeIvf(spark, s"$db.ivf", emb,
        k = 2, nProbe = 2, centroids = cm)
      val delPlan = delDf.queryExecution.executedPlan.toString
      assert(delPlan.contains("Bucketed: true"), delPlan.take(2000))
      assert("Exchange".r.findAllIn(delPlan).size ==
        "Exchange".r.findAllIn(beforePlan).size)
      val delRows = delDf.collect()
      assert(delRows.nonEmpty)
      assert(delRows.forall(_.getAs[Long]("nb") % 5 != 0))
      assert(delRows.exists(_.getAs[Long]("vec_id") % 5 == 0))
      // properties survived the delete rewrite too
      intercept[IllegalArgumentException] {
        AnnIndex.probeIvf(spark, s"$db.ivf", emb, k = 2, nProbe = 2,
          centroids = Similarity.ivfCentroids(4, 64))
      }
      // SELF-DESCRIBING: the table's stored (chunked) centroid matrix
      // round-trips exactly and drives an equal probe with no centroids
      // passed — even after the compact AND delete rewrites
      assert(AnnIndex.storedCentroids(spark, s"$db.ivf").map(_.toSeq).toSeq
        == cm.map(_.toSeq).toSeq)
      val selfRows = AnnIndex.probeIvf(spark, s"$db.ivf", emb,
        k = 2, nProbe = 2).collect().map(_.toSeq).toSet
      assert(selfRows == delRows.map(_.toSeq).toSet)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    // LSH analog: append then compact, probe equal, props preserved
    val docs = Tables.pq(spark, dir, "documents")
    val corpus = docs.where(col("doc_id") % 3 =!= 0)
    val batch = docs.where(col("doc_id") % 3 === 0)
    DedupIndex.writeLsh(corpus.where(col("doc_id") % 2 === 0), s"$db.lsh", buckets = 4)
    DedupIndex.appendLsh(corpus.where(col("doc_id") % 2 === 1), s"$db.lsh")
    val lshBefore = DedupIndex.probeLsh(spark, s"$db.lsh", batch)
      .collect().map(_.toSeq).toSet
    DedupIndex.compact(spark, s"$db.lsh")
    assert(Indexes.dataFileCount(spark, s"$db.lsh") <= 4)
    val lshAfter = DedupIndex.probeLsh(spark, s"$db.lsh", batch)
      .collect().map(_.toSeq).toSet
    assert(lshAfter == lshBefore && lshAfter.nonEmpty)
    intercept[IllegalArgumentException] {
      DedupIndex.probeLsh(spark, s"$db.lsh", batch, numHashes = 8)
    }
    // DELETE: retiring docs removes exactly their candidate pairs —
    // probe answer equals the pre-delete answer minus deleted b's
    DedupIndex.deleteByIds(spark, s"$db.lsh",
      corpus.where(col("doc_id") % 5 === 0).select(col("doc_id")))
    assert(Indexes.dataFileCount(spark, s"$db.lsh") <= 4)
    val lshDel = DedupIndex.probeLsh(spark, s"$db.lsh", batch)
      .collect().map(_.toSeq).toSet
    assert(lshDel == lshAfter.filter(r => r(1).asInstanceOf[Long] % 5 != 0))
    assert(lshDel.nonEmpty)
    intercept[IllegalArgumentException] {
      DedupIndex.probeLsh(spark, s"$db.lsh", batch, numHashes = 8)
    }
    // deleting ids absent from the index is a no-op rewrite — run it
    // with the broadcast gate forced to 0, so the takedown-list
    // fallback (shuffled left_anti instead of a driver broadcast, the
    // 100x-scale delete-list path) is what actually executes
    import spark.implicits._
    spark.conf.set("spark.graft.index.maxBroadcastDeleteIds", "0")
    try DedupIndex.deleteByIds(spark, s"$db.lsh",
      Seq(-1L, -2L).toDF("doc_id"))
    finally spark.conf.unset("spark.graft.index.maxBroadcastDeleteIds")
    val lshNoop = DedupIndex.probeLsh(spark, s"$db.lsh", batch)
      .collect().map(_.toSeq).toSet
    assert(lshNoop == lshDel)
    // and the opposite extreme: a gate >= Int.MaxValue means "always
    // broadcast" and must SATURATE the probe limit, not overflow it to
    // a negative limit() (regression: (gate+1).toInt went negative)
    spark.conf.set("spark.graft.index.maxBroadcastDeleteIds",
      Long.MaxValue.toString)
    try DedupIndex.deleteByIds(spark, s"$db.lsh",
      Seq(-3L).toDF("doc_id"))
    finally spark.conf.unset("spark.graft.index.maxBroadcastDeleteIds")
    val lshNoop2 = DedupIndex.probeLsh(spark, s"$db.lsh", batch)
      .collect().map(_.toSeq).toSet
    assert(lshNoop2 == lshDel)
  }

  test("forced-gate audit: every Sizing-gated query keeps the plan invariants above-gate") {
    // sf0.1 leaf bytes never trip the 32/64 MB gates, so the salted /
    // two-phase branches a 100x run would execute are invisible to the
    // normal plan audit. Force every gate HIGH and assert the contract
    // on the plans that would actually run at scale: no cartesian or
    // nested-loop join anywhere, exchange counts stay small constants.
    val gated = Seq(
      "q03_merge", "q09_cumsum", "q11_rle",                  // salted sweeps
      "q12_overlap", "q13_overlap_invert", "q14_join",       // range joins
      "q15_intersect", "q16_count", "q17_subtract",
      "q19_setint", "q20_setunion", "q52_join_first",
      "q53_overlap_contained", "q55_count_slack", "q96_join_outer",
      "q18_nearest", "q42_nearest_k", "q43_nearest_upstream", // nearest sweeps
      "q45_rle_divide", "q57_bigwig_divide",                  // rle arithmetic
      "q23_minhash", "q24_lsh_jaccard",                       // dedup shingles
      "q105_dedup_clusters", "q121_dedup_clusters_buckets",
      // the rest of the 26 queries whose PLANS.md row changes above-gate
      "q05_complement", "q27_slice", "q30_maptoglobal", "q31_maptolocal",
      "q35_multioverlap", "q40_jaccard_stat", "q46_mcc", "q50_window_grouped",
      "q62_frame", "q78_spliced_seq", "q80_summary", "q93_cli")
    spark.conf.set(graft.core.Sizing.ForceKey, "salted")
    try {
      for (q <- gated) {
        val plan = SparkEntry.queries(q)(spark, dir)
          .queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct"), s"$q: cartesian\n${plan.take(2000)}")
        assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q: BNLJ\n${plan.take(2000)}")
        val ex = "Exchange".r.findAllIn(plan).size
        assert(ex <= 30, s"$q: $ex exchanges above-gate\n${plan.take(2000)}")
      }
      // and the force really flips a gate: the merge dispatch must have
      // gone salted on an input far below the threshold
      val last = graft.core.Sizing.lastDecision.get()
      assert(last != null && last._3, s"expected a forced-salted decision, got $last")
    } finally spark.conf.unset(graft.core.Sizing.ForceKey)
  }

  test("index tables without their validation properties are rejected, not probed") {
    import graft.ml.{AnnIndex, DedupIndex, Similarity}
    val db = TestDbs.perRun(spark, "graft_bare_")
    val cm = Similarity.ivfCentroids(8, 64)
    val emb = Tables.pq(spark, dir, "embeddings")
    // simulate a build that crashed between saveAsTable and the
    // property stamp: same data layout, no graft.* properties
    emb.select(col("vec_id").cast("long").as("vec_id"),
        Similarity.quantize(col("embedding"), 1000).as("_q"))
      .withColumn("_cell", Similarity.nearestCells(col("_q"), cm, 1).getItem(0))
      .write.format("parquet").bucketBy(4, "_cell").sortBy("_cell", "vec_id")
      .mode("overwrite").saveAsTable(s"$db.bare")
    val e = intercept[IllegalStateException] {
      AnnIndex.probeIvf(spark, s"$db.bare", emb, k = 2, nProbe = 2, centroids = cm)
    }
    assert(e.getMessage.contains("fingerprint"), e.getMessage)
    intercept[IllegalStateException] {
      AnnIndex.appendIvf(emb, s"$db.bare", cm)
    }
    val docs = Tables.pq(spark, dir, "documents")
    graft.ml.DedupIndex.bandRows(docs)
      .write.format("parquet").bucketBy(4, "band", "bh")
      .mode("overwrite").saveAsTable(s"$db.barelsh")
    intercept[IllegalStateException] {
      DedupIndex.probeLsh(spark, s"$db.barelsh", docs)
    }
  }

  test("text round-trip writers are single-stage projections (no shuffle)") {
    // q74/q75/q76 write text then read back: neither side may introduce
    // an exchange (a coalesce(1) or repartition in a writer would
    // serialize the 100 TB export path)
    for (q <- Seq("q74_bed_roundtrip", "q75_gtf_roundtrip", "q76_gff3_roundtrip")) {
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      assert("Exchange".r.findAllIn(plan).size == 0, s"$q reshuffles: ${plan.take(1500)}")
    }
  }

  test("mixByEpochs expands with zero exchanges") {
    // the data-recipe fan-out is a map-literal lookup + sequence-explode:
    // any Exchange here would shuffle the full post-expansion corpus
    val plan = SparkEntry.queries("q119_mix_epochs")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 0, plan.take(1500))
  }

  test("fisher and image-decode stay single-aggregation / mapPartitions plans") {
    val fisher = SparkEntry.queries("q83_fisher")(spark, dir)
      .queryExecution.executedPlan.toString
    // one hash-aggregate pair over one exchange; p-value UDFs are
    // projections after the agg, not a second shuffle
    assert("Exchange".r.findAllIn(fisher).size == 1, fisher.take(1500))
    val img = SparkEntry.queries("q84_image_decode")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(img).size == 0, img.take(1500))
    val wav = SparkEntry.queries("q91_audio_decode")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(wav).size == 0, wav.take(1500))
  }

  test("constructor sugar plans: from_string/concat shuffle-free, random broadcasts the dim") {
    // q88: a literal local table — no exchange, no scan
    val fs = SparkEntry.queries("q88_fromstring")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(fs).size == 0, fs.take(1200))
    // q89: unionByName of two scans — a union is NOT a shuffle
    val cc = SparkEntry.queries("q89_concat")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(cc).size == 0, cc.take(1500))
    assert(cc.contains("Union"), cc.take(1500))
    // q90: chromSizes joins in as a broadcast (3-row dim table); the id
    // spine never shuffles into a sort-merge join
    val rnd = SparkEntry.queries("q90_random")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(rnd.contains("BroadcastHashJoin"), rnd.take(1500))
    assert(!rnd.contains("SortMergeJoin"), rnd.take(1500))
  }

  test("bucketed tables: binned and sweep interval joins plan ZERO shuffles") {
    import graft.io.TableIO
    // the 100 TB reuse pattern: bucket the table once at ingest, then
    // every interval join on those keys elides its exchanges — the
    // bucketed scan reports HashPartitioning(keys), which satisfies any
    // ClusteredDistribution containing them ((keys, bin) for the binned
    // join, keys for the sweep operator)
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_bkt " +
      "LOCATION '/tmp/graft_bkt_warehouse'")
    TableIO.writeBucketed(Tables.gr(spark, dir), "graft_bkt.b_l", Seq(Chrom), 4)
    TableIO.writeBucketed(Tables.gr2(spark, dir).drop(Strand),
      "graft_bkt.b_r", Seq(Chrom), 4)
    val bl = spark.table("graft_bkt.b_l")
    val br = spark.table("graft_bkt.b_r")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // the binned join's keys are (chrom, _bin) — a SUPERSET of the
    // bucket keys; since Spark 3.3 subset-key co-partitioning is gated
    // off by default, so unlock it (correct here: equal bucket counts
    // hash-cluster every (chrom, bin) pair already)
    val coPartKey = "spark.sql.requireAllClusterKeysForCoPartition"
    val prevCp = spark.conf.get(coPartKey)
    spark.conf.set(coPartKey, "false")
    try {
      val binned = graft.join.RangeJoin.pairs(bl, br, Seq(Chrom))
        .queryExecution.executedPlan.toString
      assert("Exchange".r.findAllIn(binned).size == 0, binned.take(2000))
      assert(binned.contains("SortMergeJoin"), binned.take(2000))
      // the sweep clusters on EXACTLY the bucket keys — no conf needed
      spark.conf.set(coPartKey, prevCp)
      val sweep = graft.join.IntervalSweepJoin.pairs(bl, br, Seq(Chrom))
        .queryExecution.executedPlan.toString
      assert("Exchange".r.findAllIn(sweep).size == 0, sweep.take(2000))
      assert(sweep.contains("IntervalSweepJoin"), sweep.take(2000))
      // with the scan-ordering opt-in (sound here: the writer
      // guarantees ONE file per bucket, so per-file order IS bucket
      // order) the sweep's Sorts vanish too: zero exchanges, zero sorts
      val ordKey = "spark.sql.legacy.bucketedTableScan.outputOrdering"
      spark.conf.set(ordKey, "true")
      val noSortBag = try {
        val j = graft.join.IntervalSweepJoin.pairs(bl, br, Seq(Chrom))
        val sweepOrd = j.queryExecution.executedPlan.toString
        assert("Exchange".r.findAllIn(sweepOrd).size == 0, sweepOrd.take(2000))
        assert("Sort ".r.findAllIn(sweepOrd).size == 0, sweepOrd.take(2000))
        // the sweep's exactness DEPENDS on the claimed (keys, Start)
        // order being real — execute the sort-free plan and compare
        j.collect().map(_.toSeq.toList).groupBy(identity).view.mapValues(_.size).toMap
      } finally spark.conf.unset(ordKey)
      // and the results still match the unbucketed plans — including
      // the sort-free plan above
      def bag(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(_.toSeq.toList).groupBy(identity).view.mapValues(_.size).toMap
      val reference = bag(graft.join.RangeJoin.pairs(Tables.gr(spark, dir),
        Tables.gr2(spark, dir).drop(Strand), Seq(Chrom)))
      assert(bag(graft.join.IntervalSweepJoin.pairs(bl, br, Seq(Chrom))) ==
        reference)
      assert(noSortBag == reference, "sort-free bucketed sweep diverged")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set(coPartKey, prevCp)
      spark.sql("DROP TABLE IF EXISTS graft_bkt.b_l")
      spark.sql("DROP TABLE IF EXISTS graft_bkt.b_r")
    }
  }

  test("stream-static interval join: broadcast dim, fact side never shuffles") {
    // the q97 shape on batch frames (the streaming plan builds the same
    // join): the range dim broadcasts, the fact pipeline reaches the
    // join with ZERO exchanges — at scale the event stream flows
    // map-side into the enrich, no pre-join shuffle, no join state
    import spark.implicits._
    val ev = graft.Tables.tsNanos(spark.read.parquet(s"$dir/events.parquet"))
    // a REAL multi-valued key column (a single-literal key would be
    // constant-folded out of the equi-join and degrade to a nested loop)
    val dim = Seq(("purchase", 0L, 0L, 1000000L), ("view", 1L, 0L, 1000000L))
      .toDF("event_type", "win_id", "ws", "we")
    val j = graft.streaming.StreamingOps.streamStaticIntervalJoin(
      ev, dim, Seq("event_type"), "ts", "ws", "we")
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
    // the only exchange allowed is the broadcast one (dim side)
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(1500))
  }

  test("pq index: ADC probe prunes the vector column at the scan, lifecycle preserves codebooks") {
    import graft.ml.{AnnIndex, Pq, Similarity}
    val db = TestDbs.perRun(spark, "graft_pqidx_")
    val cm = Similarity.ivfCentroids(8, 64)
    val cb = Pq.pqCodebooks(4, 8, 16)
    val emb = Tables.pq(spark, dir, "embeddings")
    AnnIndex.writeIvf(emb.where(col("vec_id") % 2 === 0), s"$db.pq", cm,
      buckets = 4, codebooks = cb)
    // append re-derives codes from the STORED codebooks (no caller
    // matrix); compact + delete must preserve the graft.pq.* props
    AnnIndex.appendIvf(emb.where(col("vec_id") % 2 === 1), s"$db.pq", cm)
    AnnIndex.compact(spark, s"$db.pq")
    AnnIndex.deleteByIds(spark, s"$db.pq",
      emb.where(col("vec_id") % 11 === 0).select(col("vec_id")))
    val stored = AnnIndex.storedCodebooks(spark, s"$db.pq")
    assert(stored != null &&
      stored.map(_.map(_.toSeq).toSeq).toSeq == cb.map(_.map(_.toSeq).toSeq).toSeq)
    // the ADC probe's index-side parquet scan reads (_cell, id, _codes)
    // and NOT the wide _q vector — the I/O contract PQ exists for
    val probe = AnnIndex.probeIvfAdc(spark, s"$db.pq", emb, k = 2, nProbe = 2)
    val plan = probe.queryExecution.executedPlan.toString
    val scanSchemas = "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toSeq
      .filter(_.contains("_codes"))
    assert(scanSchemas.nonEmpty && scanSchemas.forall(!_.contains("_q:")),
      plan.take(3000))
    // and the serve path agrees with the in-memory operator over the
    // surviving corpus, ADC and re-ranked alike
    val live = emb.where(col("vec_id") % 11 =!= 0)
    val viaMem = Pq.ivfPqTopK(live, k = 2, codebooks = cb, centroids = cm,
      nProbe = 2, queries = emb).collect().map(_.toSeq).toSet
    assert(probe.collect().map(_.toSeq).toSet == viaMem)
    val probeRr = AnnIndex.probeIvfAdc(spark, s"$db.pq", emb, k = 2,
      nProbe = 2, rerank = 5)
    val viaMemRr = Pq.ivfPqTopK(live, k = 2, codebooks = cb, centroids = cm,
      nProbe = 2, rerank = 5, queries = emb).collect().map(_.toSeq).toSet
    assert(probeRr.collect().map(_.toSeq).toSet == viaMemRr)
    // a codes-free index refuses the ADC probe instead of mis-joining
    AnnIndex.writeIvf(emb, s"$db.plain", cm, buckets = 4)
    intercept[IllegalArgumentException] {
      AnnIndex.probeIvfAdc(spark, s"$db.plain", emb, k = 2, nProbe = 2)
    }
  }

  test("dedupParagraphs plans are bounded: <=4 exchanges first, <=6 df; shards shuffle-free") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, s"alpha $i\nBOILER\ngamma ${i % 5}"))
      .toDF("doc_id", "text")
    // keep-first: winner agg (1 exchange on the paragraph), reassembly
    // agg (1 on the id), and the n_paras join (<=2 more) — no window
    // over the paragraph key, no cartesian anywhere
    val p1 = graft.ml.Dedup.dedupParagraphs(docs)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p1).size <= 4, p1.take(2500))
    assert(!p1.contains("CartesianProduct") &&
      !p1.contains("BroadcastNestedLoopJoin"), p1.take(2500))
    // df mode adds the frequency agg + anti join
    val p2 = graft.ml.Dedup.dedupParagraphs(docs, mode = "df", maxDocFreq = 2)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p2).size <= 6, p2.take(2500))
    assert(!p2.contains("CartesianProduct") &&
      !p2.contains("BroadcastNestedLoopJoin"), p2.take(2500))
    // shard assignment is a pure projection — ZERO exchanges
    val p3 = graft.ml.Sampling.assignShards(docs, "doc_id", 16)
      .queryExecution.executedPlan.toString
    assert(!p3.contains("Exchange"), p3.take(1500))
  }

  test("dedupSubstrings widened rank window: forced gate swaps the window " +
      "exchange's width, adds none, and changes no rows") {
    import spark.implicits._
    val docs = (1L to 40L).map(i =>
      (i, s"a b c d e f g h i tail$i")).toDF("doc_id", "text")
    def runRows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val plainDf = graft.ml.Dedup.dedupSubstrings(docs)
    val plain = plainDf.queryExecution.executedPlan.toString
    val plainRows = runRows(plainDf)
    spark.conf.set(graft.core.Sizing.ForceKey, "salted")
    try {
      val wideDf = graft.ml.Dedup.dedupSubstrings(docs)
      val wide = wideDf.queryExecution.executedPlan.toString
      // the explicit repartition on _g satisfies the window's clustered
      // distribution, so it REPLACES the window's own exchange — same
      // total count, only the width changes (BASELINE.md round14-substr
      // 40 g heap finding; VERDICT r14 item #5)
      assert("Exchange".r.findAllIn(wide).size ==
        "Exchange".r.findAllIn(plain).size, wide.take(2500))
      assert(wide.contains("hashpartitioning(_g"), wide.take(2500))
      assert(runRows(wideDf) == plainRows)
      val last = graft.core.Sizing.lastDecision.get()
      assert(last != null && last._1 == "dedupSubstrings.window" && last._3,
        s"expected a forced widen decision, got $last")
    } finally spark.conf.unset(graft.core.Sizing.ForceKey)
  }

  test("semanticDedup plans: single-pass (no Union), anchor killers broadcast, " +
    "banded kill join, bounded exchanges") {
    import spark.implicits._
    val vecs = (1L to 60L)
      .map(i => (i, Array.tabulate(8)(j => (i % 5 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val cm = graft.ml.Similarity.ivfCentroids(4, 8)
    // pairwise: the NULL/empty branch rides the main path — a Union in
    // the plan would mean the invalid-branch second scan is back — and
    // the kill join carries the rank-band explode (Generate), the
    // hot-cell guard that spreads a skewed cell over bounded key groups
    val pa = graft.ml.SemDedup.semanticDedup(vecs, cm, 50)
      .queryExecution.executedPlan.toString
    assert(!pa.contains("Union"), pa.take(2000))
    assert(pa.contains("Generate"), pa.take(2500))
    assert("Exchange".r.findAllIn(pa).size <= 12, pa.take(2500))
    assert(!pa.contains("CartesianProduct") &&
      !pa.contains("BroadcastNestedLoopJoin"), pa.take(2500))
    // anchor: the one-row-per-cell killer side must BROADCAST, and the
    // band machinery must be absent (no Generate — linear mode)
    val an = graft.ml.SemDedup.semanticDedup(vecs, cm, 50, mode = "anchor")
      .queryExecution.executedPlan.toString
    assert(!an.contains("Union"), an.take(2000))
    assert(an.contains("BroadcastExchange"), an.take(2500))
    assert(!an.contains("Generate"), an.take(2500))
    // streaming serve: the batch spelling of the same plan is one
    // anti join — no state, no cartesian, no union
    val fs = graft.ml.SemDedup.semanticFilterStream(vecs, vecs, cm, 50)
      .queryExecution.executedPlan.toString
    assert(!fs.contains("Union") && !fs.contains("CartesianProduct"), fs.take(2000))
  }

  test("sem survivor index: probe equals the raw stream-static recompute " +
    "through append/compact/delete, and the bucketed index side joins " +
    "with zero exchange") {
    import graft.ml.{AnnIndex, SemIndex, Similarity}
    val db = TestDbs.perRun(spark, "graft_semx_")
    val emb = Tables.pq(spark, dir, "embeddings")
    val cm = Similarity.ivfCentroids(8, 64)
    val a = emb.where(col("vec_id") % 3 === 0)
    val b = emb.where(col("vec_id") % 3 === 1)
    val probeQ = emb.where(col("vec_id") % 3 === 2)
    SemIndex.write(a, s"$db.sem", cm, thresholdPct = 15, buckets = 4)
    SemIndex.appendNew(b, s"$db.sem")
    SemIndex.compact(spark, s"$db.sem")
    // the index is a CACHE of the survivor refs: probing it must equal
    // the raw stream-static operator against the stored survivor rows
    def raw(): Set[Seq[Any]] = {
      val refs = spark.table(s"$db.sem").select(col("vec_id"))
        .join(emb, Seq("vec_id"))
      graft.ml.SemDedup.semanticFilterStream(probeQ, refs, cm, 15)
        .collect().map(_.toSeq).toSet
    }
    def viaIdx(): Set[Seq[Any]] =
      SemIndex.probe(spark, s"$db.sem", probeQ)
        .where(col("kept")).select(col("vec_id"), col("cell"))
        .collect().map(_.toSeq).toSet
    val before = viaIdx()
    assert(before == raw() && before.nonEmpty)
    // a takedown re-opens the retired survivors' neighborhoods: the
    // probe tracks the rewritten table exactly
    SemIndex.deleteByIds(spark, s"$db.sem",
      emb.where(col("vec_id") % 5 === 0).select(col("vec_id")))
    val after = viaIdx()
    assert(after == raw())
    assert(after.size >= before.size)
    // exchange contract: with broadcast off, the serve join's ONLY
    // exchange is the probe side's — the bucketed scan satisfies the
    // index side's distribution (the 100 TB serve property)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = SemIndex.filterStream(spark, s"$db.sem", probeQ)
        .queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), plan.take(2000))
      assert("Exchange".r.findAllIn(plan).size == 1, plan.take(2500))
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    // an AnnIndex table is not a survivor index: missing threshold
    // property fails fast instead of serving a meaningless gate
    AnnIndex.writeIvf(a, s"$db.ivf", cm, buckets = 4)
    val e = intercept[IllegalArgumentException] {
      SemIndex.probe(spark, s"$db.ivf", probeQ)
    }
    assert(e.getMessage.contains("thresholdPct"), e.getMessage)
  }
}
