package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.core.{Cols, Sizing}
import graft.io.Bed
import graft.join.RangeJoin
import graft.ops.{BinaryOps, Coverage, UnaryOps}
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions.col

/** Closed-loop benchmark harness: one caller issues the workload's calls
  * in order, pass after pass, into one local session. `run.py` makes the
  * inputs, computes the reference fingerprints, starts this program and
  * turns its result file into metrics.
  *
  *   --kind genome|curation   --data DIR   --calls a,b,c   --seconds S
  *   --trace 0|1   --cores N   --gate above|below|none
  *   --scratch DIR   --out result.json   --spans spans.jsonl
  *
  * Set-up is timed from `main` until the first call can be issued: the
  * session is built and the inputs are registered.
  *
  * Each call is timed from its first graft call to its last output row:
  * build (the graft calls that return the DataFrame, with any sampling
  * jobs the gates run), plan (forcing the executed plan) and exec (one
  * job that hashes every column of every row). After each call the
  * benchmark records what the call left persisted, then unpersists it,
  * so every call starts from the same session state.
  *
  * A traced run (--trace 1) alternates traced and untraced warm passes.
  * Traced passes tag every phase with its own job group, attach the
  * benchmark's listener, drain the listener bus between phases (outside
  * every timed phase), and keep the span tree
  * call > build|plan|exec > job > stage in memory until the run ends. */
object Main {
  final case class Opts(kind: String, data: String, calls: Seq[String],
                        seconds: Double, trace: Boolean, cores: Int, gate: String,
                        scratch: String, out: String, spans: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("kind"), m("data"), m("calls").split(',').toSeq, m("seconds").toDouble,
      m("trace") == "1", m("cores").toInt, m("gate"), m("scratch"), m("out"), m("spans"))
  }

  private val Keys = Seq(Cols.Chrom, Cols.Strand)

  /** A session with the workload's inputs registered. */
  final class Session(val spark: SparkSession, val tables: Map[String, DataFrame])

  private def open(o: Opts): Session = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(o.scratch, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(o.scratch, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = if (o.kind == "genome") Seq("reads", "genes") else Seq("documents", "embeddings")
    val tables = names.map { n =>
      val df = spark.read.parquet(s"${o.data}/$n.parquet")
      df.schema  // resolve the relation: file listing and footers
      df.createOrReplaceTempView(n)
      n -> df
    }.toMap
    new Session(spark, tables)
  }

  private def close(s: Session): Unit = {
    s.spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Holds the time a call spent writing, for the io layer. */
  final class IoClock { var writeNs = 0L; var writeBytes = 0L; var roundTrip = false }

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length() else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum

  /** The DataFrame of one call, built by the library's public functions. */
  private def build(o: Opts, s: Session, name: String, io: IoClock): DataFrame =
    if (o.kind == "curation") graft.SparkEntry.queries(name)(s.spark, o.data)
    else {
      val reads = s.tables("reads")
      val genes = s.tables("genes")
      name match {
        case "countOverlaps" => BinaryOps.countOverlaps(reads, genes, Keys, countCol = "n")
        case "joinOverlaps" => BinaryOps.joinOverlaps(reads, genes, Keys)
        case "overlap" => BinaryOps.overlap(reads, genes, Keys)
        case "nearest" => BinaryOps.nearest(reads, genes, Keys)
        case "subtract" => BinaryOps.subtract(reads, genes, Keys)
        case "merge" => UnaryOps.merge(reads, Keys)
        case "cluster" => UnaryOps.cluster(reads, Keys)
        case "toRle" =>
          Coverage.toRle(reads, Keys).withColumn("Score", col("Score").cast("long"))
        case "bedRoundTrip" =>
          val path = new File(o.scratch, "bed").getAbsolutePath
          val t = System.nanoTime()
          Bed.write(UnaryOps.merge(reads, Keys), path)
          io.writeNs += System.nanoTime() - t
          io.writeBytes += dirBytes(new File(path))
          io.roundTrip = true
          Bed.read(s.spark, path)
      }
    }

  final case class CallRecord(pass: Int, index: Int, name: String, latencyS: Double,
                              fingerprint: String, error: String, cacheLeftBytes: Long,
                              pins: Int, branch: String, sampleJobs: Long)

  final case class PassRecord(pass: Int, traced: Boolean, callsS: Double, wallS: Double)

  /** Per-layer sums of one traced pass, keyed by metric name. */
  type Layers = mutable.LinkedHashMap[String, Double]

  private object PlanStats extends AdaptiveSparkPlanHelper {
    /** (sweep nodes, exchanges, nested-loop joins, sweep output rows). */
    def of(plan: SparkPlan): (Int, Int, Int, Long) = {
      val nodes = collectWithSubqueries(plan) { case p => p }
      val sweeps = nodes.collect { case p: graft.plans.IntervalSweepJoinExec => p }
      (sweeps.size,
        nodes.count(_.isInstanceOf[Exchange]),
        nodes.count(p => p.isInstanceOf[BroadcastNestedLoopJoinExec] ||
          p.isInstanceOf[CartesianProductExec]),
        sweeps.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum)
    }
  }

  private object Jvm {
    private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    private val jit = ManagementFactory.getCompilationMXBean
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == MemoryType.HEAP)
    def gcMs: Long = gcs.map(_.getCollectionTime).sum
    def jitMs: Long = jit.getTotalCompilationTime
    /** (compiles, approximate total ms) from Spark's codegen histogram. */
    def codegen: (Long, Double) = {
      val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      (h.getCount, h.getSnapshot.getMean * h.getCount)
    }
    def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
    def heapPeakBytes: Long = heapPools.map(_.getPeakUsage.getUsed).sum
    def gcNames: String = gcs.map(_.getName).mkString("+")
  }

  final case class Span(id: Int, parent: Int, callId: String, name: String,
                        startMs: Long, endMs: Long, attrs: String = "")

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val o = parse(args)
    new File(o.scratch).mkdirs()
    val s = open(o)
    val setupS = (System.nanoTime() - t0) / 1e9
    val spark = s.spark
    val sc = spark.sparkContext

    val threshold = Sizing.saltedInputThreshold
    val leaf = s.tables.map { case (n, df) => n -> Sizing.leafScanBytes(df).toLong }
    val total = leaf.values.sum
    o.gate match {
      case "above" => require(leaf.values.max > threshold,
        s"inputs must sit above the $threshold-byte gate: $leaf")
      case "below" => require(total <= threshold,
        s"inputs must sit below the $threshold-byte gate together: $leaf")
      case _ =>
    }

    val listener = new Listener
    val records = mutable.ArrayBuffer[CallRecord]()
    val passes = mutable.ArrayBuffer[PassRecord]()
    val spans = mutable.ArrayBuffer[Span]()
    val tracedLayers = mutable.ArrayBuffer[Layers]()
    var coldLayers: Layers = null
    var nextSpan = 0
    def span(parent: Int, callId: String, name: String, a: Long, b: Long,
             attrs: String = ""): Int = {
      nextSpan += 1
      spans += Span(nextSpan, parent, callId, name, a, b, attrs)
      nextSpan
    }

    def runPass(p: Int, traced: Boolean): Unit = {
      val layers: Layers = mutable.LinkedHashMap[String, Double]()
      def add(k: String, v: Double): Unit = layers(k) = layers.getOrElse(k, 0.0) + v
      if (traced) {
        sc.addSparkListener(listener)
        Jvm.resetHeapPeak()
      }
      val gc0 = Jvm.gcMs
      val jit0 = Jvm.jitMs
      val (cg0, cgMs0) = Jvm.codegen
      val wall0 = System.nanoTime()
      var callsS = 0.0
      o.calls.zipWithIndex.foreach { case (name, i) =>
        val callId = s"p${p}c$i"
        Sizing.lastDecision.set(null)
        RangeJoin.lastAutoPairs.set(null)
        val io = new IoClock
        // phase bounds, epoch ms and nanos: build 0-1, plan 2-3, exec 3-4;
        // a traced call drains the listener bus between 1 and 2
        val ms = mutable.ArrayBuffer[Long]()
        val ns = mutable.ArrayBuffer[Long]()
        def mark(): Unit = { ms += System.currentTimeMillis(); ns += System.nanoTime() }
        val c0 = if (traced) listener.counters else Counters()
        var cAfterBuild = c0
        var fp = ""
        var err = ""
        var plan: SparkPlan = null
        mark()
        try {
          sc.setJobGroup(s"$callId:build", name)
          val df = build(o, s, name, io)
          mark()
          if (traced) { PerfbenchBridge.drainListenerBus(sc); cAfterBuild = listener.counters }
          mark()
          sc.setJobGroup(s"$callId:plan", name)
          plan = df.queryExecution.executedPlan
          mark()
          sc.setJobGroup(s"$callId:exec", name)
          fp = Fingerprint.format(Fingerprint.of(df))
          mark()
        } catch {
          case e: Throwable =>
            err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
            while (ns.length < 5) mark()
        } finally sc.clearJobGroup()
        val bounds = Seq((0, 1), (2, 3), (3, 4))
        val phaseMs = bounds.map { case (a, b) => (ns(b) - ns(a)) / 1e6 }
        val latency = phaseMs.sum / 1e3
        callsS += latency

        // what the call left persisted, then reset to the common state
        val left = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
        val pins = sc.getPersistentRDDs.size
        spark.catalog.clearCache()
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

        val decision = Option(Sizing.lastDecision.get())
        val pairs = Option(RangeJoin.lastAutoPairs.get())
        val branch = (decision.map { case (op, bytes, big) =>
            s"$op:${if (big) "salted" else "plain"}@$bytes" } ++
          pairs.map(_._1)).mkString(" ")

        var sampleJobs = 0L
        if (traced) {
          PerfbenchBridge.drainListenerBus(sc)
          val c3 = listener.counters
          val ex = c3 - cAfterBuild
          sampleJobs = (cAfterBuild - c0).jobs
          val curation = o.kind == "curation"
          add("core.build_ms", phaseMs(0))
          add("core.sample_jobs", sampleJobs.toDouble)
          decision.foreach { case (_, _, big) =>
            add(if (big) "join.path.salted" else "join.path.plain", 1) }
          pairs.foreach { p =>
            add(if (p._1.startsWith("sweep")) "join.path.sweep" else "join.path.binned", 1) }
          add("plans.plan_ms", phaseMs(1))
          if (plan != null) {
            val (sw, exch, nlj, rows) = PlanStats.of(plan)
            add("plans.sweep_nodes", sw); add("plans.exchanges", exch)
            add("plans.nlj_nodes", nlj); add("plans.sweep_rows_out", rows.toDouble)
          }
          add("exec.ms", phaseMs(2))
          add("exec.jobs", ex.jobs.toDouble); add("exec.stages", ex.stages.toDouble)
          add("exec.tasks", ex.tasks.toDouble)
          add("exec.task_ms", ex.taskMs.toDouble); add("exec.task_cpu_ms", ex.taskCpuNs / 1e6)
          add("exec.shuffle_write_mb", ex.shuffleWrite / 1048576.0)
          add("exec.shuffle_read_mb", ex.shuffleRead / 1048576.0)
          add("exec.spill_mb", ex.spill / 1048576.0)
          if (fp.nonEmpty) add("exec.rows_out", fp.takeWhile(_ != ':').toDouble)
          if (io.roundTrip) {
            add("io.write_ms", io.writeNs / 1e6)
            add("io.write_mb", io.writeBytes / 1048576.0)
            add("io.read_ms", phaseMs(1) + phaseMs(2))
          }
          val created = listener.takePersisted()
          if (curation) {
            add("ml.build_ms", phaseMs(0)); add("ml.exec_ms", phaseMs(2))
            add("ml.pins", created.size.toDouble); add("ml.pin_mb", left / 1048576.0)
          }
          add("cache_left_mb", left / 1048576.0)

          val callSpan = span(0, callId, "call", ms(0), ms(4),
            s""""op":"${Json.esc(name)}","branch":"${Json.esc(branch)}","sample_jobs":$sampleJobs""")
          val phaseSpans = Seq("build", "plan", "exec").zip(bounds).map { case (ph, (a, b)) =>
            s"$callId:$ph" -> span(callSpan, callId, ph, ms(a), ms(b))
          }.toMap
          val finished = listener.takeFinished()
          val jobSpans = finished.filter(_.kind == "job").map { j =>
            j.id -> span(phaseSpans.getOrElse(j.group, callSpan), callId, "job",
              j.startMs, j.endMs, s""""job_id":${j.id}""")
          }.toMap
          finished.filter(_.kind == "stage").foreach { st =>
            span(jobSpans.getOrElse(st.parentJob, callSpan), callId, "stage",
              st.startMs, st.endMs, s""""stage_id":${st.id}""")
          }
        }
        records += CallRecord(p, i, name, latency, fp, err, left, pins, branch, sampleJobs)
        if (traced) {
          // the check against the reference happens after the run
          val now = System.currentTimeMillis()
          span(0, callId, "verify", now, now)
        }
      }
      val wallS = (System.nanoTime() - wall0) / 1e9
      if (traced) {
        PerfbenchBridge.drainListenerBus(sc)
        sc.removeSparkListener(listener)
        val (cg1, cgMs1) = Jvm.codegen
        layers("exec.busy_share") =
          layers.getOrElse("exec.task_ms", 0.0) / (layers.getOrElse("exec.ms", 0.0) * o.cores).max(1e-9)
        layers("exec.skew") = listener.takeSkew()
        layers("exec.peak_task_mem_mb") = listener.takePeakTaskMem() / 1048576.0
        layers("jvm.gc_ms") = (Jvm.gcMs - gc0).toDouble
        layers("jvm.jit_ms") = (Jvm.jitMs - jit0).toDouble
        layers("jvm.codegen_compiles") = (cg1 - cg0).toDouble
        layers("jvm.codegen_ms") = cgMs1 - cgMs0
        layers("jvm.heap_peak_mb") = Jvm.heapPeakBytes / 1048576.0
        layers("trace.pass_wall_s") = wallS
        if (p == 0) coldLayers = layers else tracedLayers += layers
      }
      passes += PassRecord(p, traced, callsS, wallS)
    }

    // measure: the cold pass, then warm passes until the time is used;
    // a traced run alternates traced and untraced warm passes
    val tMeasure = System.nanoTime()
    val deadline = tMeasure + (o.seconds * 1e9).toLong
    var p = 0
    def minPasses = if (o.trace) 3 else 2
    while (p < minPasses || System.nanoTime() < deadline) {
      runPass(p, traced = o.trace && (p == 0 || p % 2 == 1))
      p += 1
    }

    writeResult(o, setupS, leaf, threshold, records.toSeq, passes.toSeq,
      coldLayers, tracedLayers.toSeq, sc.defaultParallelism, spark.version)
    if (o.trace) writeSpans(o.spans, spans.toSeq)
    close(s)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def writeResult(o: Opts, setupS: Double, leaf: Map[String, Long],
                          threshold: Long, records: Seq[CallRecord], passes: Seq[PassRecord],
                          cold: Layers, traced: Seq[Layers], parallelism: Int,
                          sparkVersion: String): Unit = {
    val rt = Runtime.getRuntime
    val env = Seq(
      "cores" -> parallelism.toString, "xmx_mb" -> (rt.maxMemory >> 20).toString,
      "gc" -> Json.str(Jvm.gcNames), "spark" -> Json.str(sparkVersion),
      "java" -> Json.str(System.getProperty("java.version")),
      "gate_bytes" -> threshold.toString,
      "leaf_bytes" -> Json.obj(leaf.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }))
    val calls = records.map { r =>
      Json.obj(Seq("pass" -> r.pass.toString, "index" -> r.index.toString,
        "name" -> Json.str(r.name), "latency_s" -> Json.num(r.latencyS),
        "fingerprint" -> Json.str(r.fingerprint), "error" -> Json.str(r.error),
        "cache_left_bytes" -> r.cacheLeftBytes.toString, "pins" -> r.pins.toString,
        "branch" -> Json.str(r.branch), "sample_jobs" -> r.sampleJobs.toString))
    }
    val ps = passes.map { q =>
      Json.obj(Seq("pass" -> q.pass.toString, "traced" -> q.traced.toString,
        "calls_s" -> Json.num(q.callsS), "wall_s" -> Json.num(q.wallS)))
    }
    val layers =
      if (!o.trace) "{}"
      else {
        val names = traced.flatMap(_.keys).distinct
        val warm = names.map(n => n -> median(traced.map(_.getOrElse(n, 0.0))))
        def c(k: String) = cold.getOrElse(k, 0.0)
        val coldOnly = Seq("jvm.cold_jit_ms" -> c("jvm.jit_ms"),
          "jvm.cold_codegen_ms" -> c("jvm.codegen_ms"),
          "jvm.cold_codegen_compiles" -> c("jvm.codegen_compiles"),
          "plans.cold_plan_ms" -> c("plans.plan_ms"))
        Json.obj((warm ++ coldOnly).map { case (k, v) => k -> Json.num(v) })
      }
    val out = Json.obj(Seq(
      "env" -> Json.obj(env), "setup_s" -> Json.num(setupS),
      "passes" -> ps.mkString("[", ",", "]"), "calls" -> calls.mkString("[", ",", "]"),
      "layers" -> layers))
    val w = new PrintWriter(o.out, "UTF-8")
    try w.println(out) finally w.close()
  }

  /** Spans as JSON lines, each with its self time: its duration minus
    * the time its children cover. */
  private def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val children = spans.groupBy(_.parent)
    def covered(id: Int): Long = {
      val iv = children.getOrElse(id, Nil).map(c => (c.startMs, c.endMs)).sortBy(_._1)
      var sum = 0L
      var (cs, ce) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > ce) { if (ce > cs) sum += ce - cs; cs = a; ce = b }
        else ce = math.max(ce, b)
      }
      if (ce > cs) sum += ce - cs
      sum
    }
    val w = new PrintWriter(path, "UTF-8")
    try spans.foreach { sp =>
      val self = math.max(0L, (sp.endMs - sp.startMs) - covered(sp.id))
      val extra = if (sp.attrs.isEmpty) "" else "," + sp.attrs
      w.println(s"""{"id":${sp.id},"parent":${sp.parent},"call_id":"${sp.callId}",""" +
        s""""name":"${sp.name}","start_ms":${sp.startMs},"end_ms":${sp.endMs},""" +
        s""""self_ms":$self$extra}""")
    } finally w.close()
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def str(s: String): String = "\"" + esc(s) + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
