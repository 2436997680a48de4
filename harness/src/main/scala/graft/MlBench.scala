package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** At-scale soak for the ml curation layer (the dedup/contamination/
  * index analog of SaltBench/SweepBench): generates a ~600 MB synthetic
  * corpus with a SKEWED near-duplicate distribution — a long tail of
  * unique docs, thousands of small near-dup clusters, hundreds of
  * medium ones, and a few thousand-member "template" clusters (the
  * shape that detonates naive quadratic candidate generation) — then
  * measures duplicateClusters, crossContamination, and the persisted
  * LSH index build/probe end-to-end, reporting the skew diagnostics
  * (band-bucket max population, CC round count, pair counts) alongside
  * the wall times. Results and conclusions live in BASELINE.md
  * ("Curation-layer soak").
  *
  * Corpus construction is fully distributed and deterministic: cluster
  * membership and token mutations derive from xxhash64 of the doc id,
  * so reruns are reproducible and nothing is collected to the driver.
  *
  * Usage:
  *   SPARK_GRAFT_CPUS=32 sbt -batch "harness/runMain graft.MlBench [nDocs] [mode...]"
  *     nDocs default 2000000 (~600 MB of text); modes: all | clusters |
  *     star | starab | recall | simhash | contamination | index | ann
  *     (star is the narrow interleave-A/B run; starab the digest-vs-
  *     string verify-key A/B with byte footprints and an output
  *     identity check; recall the banding-knob coverage/wall sweep;
  *     simhash the guard-exactness run; annrecall the IVF nProbe/cell
  *     recall-vs-wall sweep; serve the streaming index-serve throughput
  *     run; paradedup the paragraph-dedup + shard-export soak with a
  *     width-invariance identity check; pq the IVF-PQ recall/payload
  *     economics study; semdedup the SemDeDup cell-fidelity/linearity
  *     soak incl. full-scale banded pairwise; semthresh the
  *     thresholdPct economics curve; semtext the text-grounded
  *     semdedup soak over hashed-3-gram embeddings with a lexical
  *     simhash overlap; traincap the bounded-training-sample flat-wall
  *     check; substr the exact-substring-dedup soak with the
  *     serve==mode-all identity and a width-invariance check; embed
  *     the in-row hashedNgramEmbedding linearity soak with the
  *     explode-spelling identity A/B; assign the isolated two-level vs
  *     flat coarse-assignment wall A/B with an order-free identity
  *     check; substrserve the uncontended SubstrIndex serve-throughput
  *     + append/takedown/compact lifecycle soak; trainprof the
  *     centroid-trainer decomposition — sample wall vs fit wall —
  *     with the MLlib-vs-Lloyd A/B on wall AND cell fidelity). "all"
  *     covers the per-round soak set, not starab/recall/annrecall/
  *     serve/paradedup/pq/semdedup/semthresh/semtext/traincap/substr/
  *     embed/assign/substrserve/trainprof, which are targeted studies.
  *
  * SPARK_GRAFT_CONF="k=v;k=v" sets confs for A/B runs (Harness.session),
  * e.g. spark.graft.dedup.verifyKey=string.
  */
object MlBench {

  /** Two independent 32-bit md5 chunk sums over the named columns —
    * the order-free result-set fingerprint the text-side soak identity
    * checks share (a 60-bit chunk sum overflowed at 2M rows). ONE
    * definition for the paradedup and substr checks; fpSem keeps its
    * historical separator for bit-compat with recorded captures. */
  private def chunkFingerprint(d: DataFrame,
                               cols: Seq[String]): (Long, Long, Long) = {
    val h = md5(concat_ws("\u0001", cols.map(col): _*))
    val r = d.agg(count(lit(1)),
      sum(conv(substring(h, 1, 8), 16, 10).cast("long")),
      sum(conv(substring(h, 9, 8), 16, 10).cast("long"))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Deterministic skewed corpus: `frac` splits (unique / small(30) /
    * medium(300) / mega(3000-member)) over `n` docs; every member of a
    * cluster shares the seed token sequence with ~5% of positions
    * mutated to doc-unique tokens, so members are near- but not
    * exact-duplicates (3-gram jaccard ~0.75, above the 50% verify
    * gate). 40 tokens/doc over a 50k-token vocabulary ~ 300 B/doc. */
  def corpus(spark: SparkSession, n: Long): DataFrame = {
    val uniqueEnd = (n * 60) / 100
    val smallEnd = (n * 92) / 100
    val medEnd = (n * 99) / 100
    val nSmall = math.max(1L, (smallEnd - uniqueEnd) / 30)
    val nMed = math.max(1L, (medEnd - smallEnd) / 300)
    val nMega = math.max(1L, (n - medEnd) / 3000)
    val cluster = when(col("doc_id") < uniqueEnd, col("doc_id"))
      .when(col("doc_id") < smallEnd,
        lit(1000000000000L) + pmod(xxhash64(col("doc_id"), lit("c")), lit(nSmall)))
      .when(col("doc_id") < medEnd,
        lit(2000000000000L) + pmod(xxhash64(col("doc_id"), lit("c")), lit(nMed)))
      .otherwise(
        lit(3000000000000L) + pmod(xxhash64(col("doc_id"), lit("c")), lit(nMega)))
    // partitions scale with the corpus, not just cores: at 16M docs the
    // 1-per-core local default made 452 MiB localCheckpoint blocks that
    // starved the unified pool (BASELINE.md round11-star-16m-ceiling) —
    // cap blocks near 64 MiB (~300 B/doc => ~200k docs/partition)
    val parts = math.max(spark.sparkContext.defaultParallelism,
      (n / 200000L).toInt)
    spark.range(n).select(col("id").as("doc_id"))
      .repartition(parts)
      .withColumn("cluster", cluster)
      .withColumn("text", concat_ws(" ",
        transform(sequence(lit(0), lit(39)), i =>
          when(pmod(xxhash64(col("doc_id"), i, lit("mut")), lit(20)) === 0,
            concat(lit("m"), col("doc_id"), lit("_"), i))
            .otherwise(concat(lit("w"),
              pmod(xxhash64(col("cluster"), i, lit("tok")), lit(50000)))))))
      .select(col("doc_id"), col("cluster"), col("text"))
  }

  /** Coverage vs the corpus's GROUND TRUTH (the `cluster` column):
    * fraction of true >=2-member cluster members the labeling assigns
    * to any component, plus how many components the true members
    * spread over (fragmentation). */
  private def truthCoverage(src: DataFrame, labels: DataFrame,
                            what: String): Unit = {
    val t2 = src.groupBy(col("cluster")).agg(count(lit(1)).as("_n"))
      .where(col("_n") >= 2).select(col("cluster"))
    val members = src.join(t2, Seq("cluster"))
      .select(col("doc_id"), col("cluster"))
    val r = members
      .join(labels.select(col("doc_id"), col("comp")), Seq("doc_id"), "left")
      .agg(count(lit(1)), count(col("comp")), countDistinct(col("cluster")),
        countDistinct(col("comp"))).head()
    println(f"[mlbench] $what vs truth: members=${r.getLong(0)} " +
      f"clustered=${r.getLong(1)} (${r.getLong(1) * 100.0 / r.getLong(0)}%.2f%%), " +
      s"true clusters=${r.getLong(2)}, comps over true members=${r.getLong(3)}")
  }

  /** Cumulative per-stage IO counters for soak footprint deltas. Reads
    * briefly sleep first so the async listener bus drains. KNOWN
    * LIMIT: the 3 s drain is heuristic (the bus's waitUntilEmpty is
    * private[spark]); a straggler stage-completed event could land in
    * the next run's delta. Acceptable for the A/Bs this serves — the
    * measured gaps (8 vs 15 GB, 17 vs 31 GB) are orders above any
    * single tail stage — but do not reuse this for sub-GB deltas. */
  private class IoListener extends org.apache.spark.scheduler.SparkListener {
    private val sw = new java.util.concurrent.atomic.AtomicLong
    private val spill = new java.util.concurrent.atomic.AtomicLong
    override def onStageCompleted(
        s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val m = s.stageInfo.taskMetrics
      if (m != null) {
        sw.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled)
      }
    }
    def snap(): (Long, Long) = { Thread.sleep(3000); (sw.get, spill.get) }
  }

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(2000000L)
    val modes = { val m = args.drop(1).toSet; if (m.isEmpty) Set("all") else m }
    def on(m: String) = modes.contains(m) ||
      (modes.contains("all") &&
        !Set("starab", "recall", "annrecall", "serve", "paradedup", "pq",
          "semdedup", "semthresh", "semtext", "traincap",
          "substr", "embed", "assign", "substrserve", "trainprof")
        .contains(m))
    val spark = Harness.session("mlbench", Harness.cpus("32"))
    def t[T](what: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[mlbench] $what: ${(System.nanoTime() - t0) / 1e9}%.1fs")
      r
    }
    // Soaks train centroids with the graft Lloyd trainer: 2.5x the
    // MLlib fit at 8M/k=4000 with equivalent cell fidelity (BASELINE
    // round17-trainprof-8m). Kept/cluster statistics of rows recorded
    // under MLlib cells (before round 18) do not carry over numerically.
    // trainprof/traincap call their trainers explicitly.
    def trainCells(emb: DataFrame, k: Int): Array[Array[Long]] =
      graft.ml.Similarity.trainIvfCentroidsLloyd(emb, k)
    // the checkpointed synthetic corpus inherits range-leaf stats
    // (~22 B/doc vs ~300 B real), so the auto verify dispatch would
    // trip its 64 MB gate ~14x late — pin the scale path the soaks
    // exist to measure, unless a SPARK_GRAFT_CONF override already
    // chose (the starab A/B sets both spellings explicitly)
    if (spark.conf.getOption("spark.graft.dedup.verifyKey").isEmpty)
      spark.conf.set("spark.graft.dedup.verifyKey", "array")
    // LAZY doc-corpus build: the vector-only modes (ann/annrecall/pq/
    // semdedup) never touch the text corpus, and at 16M+ docs its
    // checkpoint pins gigabytes of heap they need for their own state
    lazy val docs = {
      val d = corpus(spark, nDocs).localCheckpoint()
      val stats = d.agg(count(lit(1)), sum(length(col("text"))),
        countDistinct(col("cluster"))).head()
      println(s"[mlbench] corpus: ${stats.getLong(0)} docs, " +
        f"${stats.getLong(1) / 1e6}%.0f MB text, ${stats.getLong(2)} true clusters")
      d
    }

    if (on("clusters")) {
      // LINEAR strategy at full scale, second-chance OFF vs ON
      for (sc <- Seq(false, true)) {
        val cb = t(s"duplicateClusters strategy=buckets secondChance=$sc @$nDocs") {
          graft.ml.Dedup.duplicateClusters(docs, strategy = "buckets",
            secondChance = sc).localCheckpoint()
        }
        val cnt = cb.agg(count(lit(1)), countDistinct(col("comp"))).head()
        println(s"[mlbench] buckets(sc=$sc) nodes: ${cnt.getLong(0)}, " +
          s"clusters: ${cnt.getLong(1)}")
        truthCoverage(docs, cb, s"buckets(sc=$sc) @$nDocs")
      }
      // ALL-PAIRS strategy on a shape-preserving smaller corpus: the
      // candidate set is quadratic in the largest template cluster —
      // at 2M docs (3000-member megas) the self-join shuffled > 67 GB
      // and was killed at 14 min (recorded in BASELINE.md), which is
      // exactly the detonation the buckets strategy exists to avoid.
      val nPairsDocs = math.min(nDocs, 500000L)
      val small = if (nPairsDocs == nDocs) docs
        else corpus(spark, nPairsDocs).localCheckpoint()
      val pairs = t(s"nearDuplicatePairs @$nPairsDocs (count)") {
        graft.ml.Dedup.nearDuplicatePairs(small).count()
      }
      println(s"[mlbench] near-dup pairs: $pairs")
      val cc = t(s"duplicateClusters strategy=pairs @$nPairsDocs") {
        graft.ml.Dedup.duplicateClusters(small).localCheckpoint()
      }
      val ccCnt = cc.agg(count(lit(1)), countDistinct(col("comp"))).head()
      println(s"[mlbench] pairs-mode nodes: ${ccCnt.getLong(0)}, clusters: ${ccCnt.getLong(1)}")
      truthCoverage(small, cc, s"pairs @$nPairsDocs")
      for (sc <- Seq(false, true)) {
        val cbs = t(s"duplicateClusters strategy=buckets secondChance=$sc @$nPairsDocs") {
          graft.ml.Dedup.duplicateClusters(small, strategy = "buckets",
            secondChance = sc).localCheckpoint()
        }
        val cnt = cbs.agg(count(lit(1)), countDistinct(col("comp"))).head()
        println(s"[mlbench] buckets(sc=$sc) nodes: ${cnt.getLong(0)}, " +
          s"clusters: ${cnt.getLong(1)}")
        truthCoverage(small, cbs, s"buckets(sc=$sc) @$nPairsDocs")
        // the judge metric: fraction of PAIRS-MODE members the linear
        // strategy also clusters (target >= 95%)
        val ov = cc.select(col("doc_id"))
          .join(cbs.select(col("doc_id"), lit(1).as("_in")), Seq("doc_id"), "left")
          .agg(count(lit(1)), count(col("_in"))).head()
        println(f"[mlbench] buckets(sc=$sc) covers ${ov.getLong(1)}/${ov.getLong(0)} " +
          f"= ${ov.getLong(1) * 100.0 / ov.getLong(0)}%.2f%% of pairs-mode members")
      }
    }

    // narrow A/B mode: ONLY the full-scale second-chance star run —
    // for interleaved perf comparisons without the 500k pairs block
    if (on("star")) {
      val io = new IoListener
      spark.sparkContext.addSparkListener(io)
      for (i <- 1 to 2) {
        val (sw0, sp0) = io.snap()
        val cb = t(s"star run $i: buckets secondChance=true @$nDocs") {
          graft.ml.Dedup.duplicateClusters(docs, strategy = "buckets",
            secondChance = true).localCheckpoint()
        }
        val (sw1, sp1) = io.snap()
        println(f"[mlbench] star run $i footprint: " +
          f"shuffleWrite=${(sw1 - sw0) / 1e9}%.2f GB spill=${(sp1 - sp0) / 1e9}%.2f GB " +
          s"codec=${spark.sparkContext.getConf.get("spark.io.compression.codec", "lz4")}")
        // record which verify representation the auto dispatch picked
        println(s"[mlbench] star sizing decision: " +
          s"${graft.core.Sizing.lastDecision.get()}")
        val t2 = docs.groupBy(col("cluster")).agg(count(lit(1)).as("_n"))
          .where(col("_n") >= 2).select(col("cluster"))
        val r = docs.join(t2, Seq("cluster"))
          .select(col("doc_id"))
          .join(cb.select(col("doc_id"), col("comp")), Seq("doc_id"), "left")
          .agg(count(lit(1)), count(col("comp"))).head()
        println(f"[mlbench] star sc=true vs truth: ${r.getLong(1)}/${r.getLong(0)} " +
          f"= ${r.getLong(1) * 100.0 / r.getLong(0)}%.2f%%")
      }
    }

    // verify-key A/B: the per-doc shingle-ARRAY verify join vs the
    // legacy row-explosion string join — interleaved walls, per-run
    // shuffle-write / spill deltas (the 8M ceiling was a DISK
    // footprint, so bytes are the primary metric), and an exact
    // output-identity check (the array path must be bit-identical,
    // not just same-coverage)
    if (on("starab")) {
      val io = new IoListener
      spark.sparkContext.addSparkListener(io)
      // restore the session's pin afterwards — unsetting would drop
      // later modes in the same invocation to "auto", which the
      // stat-starved checkpoint corpus resolves to the string path
      val priorKey = spark.conf.getOption("spark.graft.dedup.verifyKey")
      var first = Map.empty[String, DataFrame]
      for (i <- 1 to 2; key <- Seq("array", "string")) {
        spark.conf.set("spark.graft.dedup.verifyKey", key)
        val (sw0, sp0) = io.snap()
        val cb = t(s"starab run $i: verifyKey=$key @$nDocs") {
          graft.ml.Dedup.duplicateClusters(docs, strategy = "buckets",
            secondChance = true).localCheckpoint()
        }
        val (sw1, sp1) = io.snap()
        println(f"[mlbench] starab $key run $i: shuffleWrite=${(sw1 - sw0) / 1e9}%.2f GB " +
          f"spill=${(sp1 - sp0) / 1e9}%.2f GB")
        if (i == 1) first += key -> cb
      }
      priorKey match {
        case Some(k) => spark.conf.set("spark.graft.dedup.verifyKey", k)
        case None => spark.conf.unset("spark.graft.dedup.verifyKey")
      }
      val d = first("array"); val s = first("string")
      val extra = d.except(s).count(); val missing = s.except(d).count()
      println(s"[mlbench] starab identity: array-vs-string extra=$extra " +
        s"missing=$missing " +
        (if (extra == 0 && missing == 0) "[BIT-IDENTICAL]" else "[DIFFER!]"))
    }

    // recall-knob sweep (VERDICT r10 item #5): truth coverage is
    // bounded by banding recall, not the second-chance pass — measure
    // what more hashes / wider bands BUY (coverage) and COST (wall)
    // so a 100 TB user can price recall. bandSize=2 with 8 hashes
    // halves per-band collision probability (bands of 2 minhashes);
    // 8 bands of 1 doubles the chances a shared minhash co-buckets.
    if (on("recall")) {
      for ((nh, bs) <- Seq((4, 1), (8, 1), (8, 2))) {
        val cb = t(s"recall: buckets sc=true numHashes=$nh bandSize=$bs @$nDocs") {
          graft.ml.Dedup.duplicateClusters(docs, strategy = "buckets",
            numHashes = nh, bandSize = bs, secondChance = true)
            .localCheckpoint()
        }
        val cnt = cb.agg(count(lit(1)), countDistinct(col("comp"))).head()
        println(s"[mlbench] recall nh=$nh bs=$bs nodes: ${cnt.getLong(0)}, " +
          s"clusters: ${cnt.getLong(1)}")
        truthCoverage(docs, cb, s"recall nh=$nh bs=$bs @$nDocs")
      }
    }

    if (on("simhash")) {
      // simhash near-dup at corpus scale: template clusters collapse
      // members onto few DISTINCT fingerprints (the distinct-fp path's
      // reason to exist) while the 5% mutation noise spreads the rest a
      // few bits apart. Two runs, default gate vs a tiny maxBucket that
      // FORCES the recursive re-band guard over the naturally hot
      // buckets — the guard is exact, so both must emit the identical
      // pair count. This is the at-scale evidence for the rebuilt
      // compacted-remainder recursion (round-10).
      val counts = for (mb <- Seq(1 << 16, 64)) yield {
        val n = t(s"simhashNearDupPairs maxHamming=3 bands=4 maxBucket=$mb @$nDocs") {
          graft.ml.Dedup.simhashNearDupPairs(docs, maxBucket = mb).count()
        }
        println(s"[mlbench] simhash pairs (maxBucket=$mb): $n")
        n
      }
      println(s"[mlbench] guard exactness: " +
        (if (counts.distinct.size == 1) "identical pair counts [OK]"
         else s"PAIR COUNTS DIFFER $counts [BUG!]"))
    }

    if (on("contamination")) {
      // eval set: 10k docs, half re-using training cluster token
      // sequences (true contamination), half fresh
      val eval = corpus(spark, 20000L)
        .withColumn("doc_id", col("doc_id") + 900000000L)
        .localCheckpoint()
      val hits = t("crossContamination (minShared=3, cap 1000)") {
        graft.ml.Dedup.crossContamination(docs, eval, minShared = 3).count()
      }
      println(s"[mlbench] contamination pairs: $hits")
      val hitsB = t("crossContamination + bloom prefilter") {
        graft.ml.Dedup.crossContamination(docs, eval, minShared = 3,
          bloomPrefilter = true).count()
      }
      println(s"[mlbench] contamination pairs (bloom): $hitsB" +
        (if (hitsB == hits) " [== plain]" else " [MISMATCH!]"))
    }

    if (on("index")) {
      val db = s"graft_mlbench_${System.nanoTime}"
      spark.sql(s"CREATE DATABASE $db LOCATION '/tmp/${db}_warehouse'")
      val corpusSide = docs.where(pmod(col("doc_id"), lit(20)) =!= 0)
      val batchSide = docs.where(pmod(col("doc_id"), lit(20)) === 0)
      t("writeLsh (95% corpus, 32 buckets)") {
        graft.ml.DedupIndex.writeLsh(corpusSide, s"$db.lsh", buckets = 32)
      }
      val skew = spark.table(s"$db.lsh")
        .groupBy(col("band"), col("bh")).agg(count(lit(1)).as("n"))
        .agg(max(col("n")), expr("approx_percentile(n, 0.99)"), count(lit(1))).head()
      println(s"[mlbench] band-bucket skew: max=${skew.getLong(0)}, " +
        s"p99=${skew.get(1)}, buckets=${skew.getLong(2)}")
      val probed = t("probeLsh (5% batch)") {
        graft.ml.DedupIndex.probeLsh(spark, s"$db.lsh", batchSide).count()
      }
      println(s"[mlbench] probe candidate pairs: $probed")
    }

    if (on("ann")) {
      // the ANN half of the index layer at ~512 MB of vectors:
      // deterministic 64-dim embeddings clustered around 256 planted
      // directions; build/append/compact/probe the persisted IVF index
      // and measure top-1 recall vs brute force on a 500-query sample
      import graft.ml.{AnnIndex, Similarity}
      val dim = 64
      val nVec = math.min(nDocs, 2000000L)
      val emb = spark.range(nVec).select(col("id").as("vec_id"))
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("_c", pmod(xxhash64(col("vec_id"), lit("ctr")), lit(256)))
        .withColumn("embedding",
          transform(sequence(lit(0), lit(dim - 1)), i =>
            (pmod(xxhash64(col("_c"), i), lit(1000)).cast("float") - 500.0f) / 500.0f +
              (pmod(xxhash64(col("vec_id"), i, lit("n")), lit(200)).cast("float") - 100.0f) / 1000.0f))
        .select(col("vec_id"), col("embedding"))
        .localCheckpoint()
      println(s"[mlbench] ann corpus: $nVec vectors x $dim dims")
      val db = s"graft_mlann_${System.nanoTime}"
      spark.sql(s"CREATE DATABASE $db LOCATION '/tmp/${db}_warehouse'")
      val cm = Similarity.ivfCentroids(256, dim)
      t("writeIvf (half corpus, 32 buckets)") {
        AnnIndex.writeIvf(emb.where(col("vec_id") % 2 === 0), s"$db.ivf", cm,
          buckets = 32)
      }
      t("appendIvf (other half)") {
        AnnIndex.appendIvf(emb.where(col("vec_id") % 2 === 1), s"$db.ivf", cm)
      }
      println(s"[mlbench] index files before compact: " +
        graft.ml.Indexes.dataFileCount(spark, s"$db.ivf"))
      t("compact") { AnnIndex.compact(spark, s"$db.ivf") }
      println(s"[mlbench] index files after compact: " +
        graft.ml.Indexes.dataFileCount(spark, s"$db.ivf"))
      // retire 10% of the corpus (takedown shape) through the
      // spec-preserving rewrite; the index must stay one-file-per-bucket
      // and the retired ids must vanish from probe results
      t("deleteByIds (10% of corpus)") {
        AnnIndex.deleteByIds(spark, s"$db.ivf",
          emb.where(pmod(col("vec_id"), lit(10)) === 3).select(col("vec_id")))
      }
      println(s"[mlbench] index files after delete: " +
        graft.ml.Indexes.dataFileCount(spark, s"$db.ivf"))
      val queries = emb.where(pmod(col("vec_id"), lit(4000)) === 0)
        .localCheckpoint()
      val nq = queries.count()
      val top1 = t(s"probeIvf top-1, nProbe=4, $nq queries") {
        AnnIndex.probeIvf(spark, s"$db.ivf", queries, k = 1, nProbe = 4,
            centroids = cm)
          .select(col("vec_id").as("q"), col("nb")).localCheckpoint()
      }
      val leaked = top1.where(pmod(col("nb"), lit(10)) === 3).count()
      println(s"[mlbench] deleted ids surfacing as neighbors: $leaked" +
        (if (leaked == 0) " [OK]" else " [LEAK!]"))
      val brute = t(s"brute-force top-1 (recall truth, $nq queries)") {
        val qd = queries.select(col("vec_id").as("q"),
          Similarity.quantize(col("embedding"), 1000).as("_q"))
        // truth over the SURVIVING corpus (the delete removed 10%)
        val cd = emb.where(pmod(col("vec_id"), lit(10)) =!= 3)
          .select(col("vec_id").as("nb2"),
          Similarity.quantize(col("embedding"), 1000).as("_qb"))
        qd.join(cd, col("q") =!= col("nb2"))
          .withColumn("dot", Similarity.dotLong(col("_q"), col("_qb")))
          .groupBy(col("q"))
          .agg(max_by(col("nb2"), struct(col("dot"), -col("nb2"))).as("nb2"))
          .localCheckpoint()
      }
      val agree = top1.join(brute, Seq("q"))
        .where(col("nb") === col("nb2")).count()
      println(f"[mlbench] ann top-1 recall: $agree/$nq = ${agree * 100.0 / nq}%.1f%%")
    }
    if (on("serve")) {
      // streaming index-serve throughput: the q113/q120 shape at soak
      // scale. 95% of the corpus is indexed (writeLsh); the other 5%
      // arrives as a file stream in ~10 micro-batches (AvailableNow +
      // maxFilesPerTrigger) and probes the bucketed index per batch.
      // Run 1: band-hit generation only (noop sink) — the index-serve
      // hot path. Run 2: + per-batch exact-Jaccard verify against a
      // PREBUILT doc->distinct-shingle-array sidecar (the production
      // design: verify state is precomputed next to the index, not
      // re-shingled per batch), with a keeper verdict per candidate.
      import graft.ml.{Dedup, DedupIndex, TextOps}
      // modulo split so the 5% stream mirrors the corpus mix (a range
      // split would make the stream ALL template docs — doc_id ranges
      // encode cluster type)
      val idxDocs = docs.where(pmod(col("doc_id"), lit(20)) =!= 0)
      val streamDocs = docs.where(pmod(col("doc_id"), lit(20)) === 0)
      val nIdx = nDocs - nDocs / 20
      val nStream = streamDocs.count()
      val db = s"graft_mlserve_${System.nanoTime}"
      spark.sql(s"CREATE DATABASE $db LOCATION '/tmp/${db}_warehouse'")
      t(s"serve writeLsh (${nIdx} docs, 32 buckets)") {
        DedupIndex.writeLsh(idxDocs, s"$db.lsh", buckets = 32)
      }
      val arrs = t("serve shingle-array sidecar (full corpus)") {
        docs.select(col("doc_id"),
            array_distinct(TextOps.wordShingles(col("text"), 3)).as("_shs"))
          .where(size(col("_shs")) > 0)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      arrs.count()
      val dirS = s"/tmp/graft_mlserve_stream_${System.nanoTime}"
      streamDocs.repartition(20).write.parquet(dirS)
      val schema = spark.read.parquet(dirS).schema
      def source() = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2").parquet(dirS)
      val hitRows = new java.util.concurrent.atomic.AtomicLong
      val t0 = System.nanoTime()
      val q1 = DedupIndex.probeStream(spark, s"$db.lsh", source())
        .writeStream.outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) => hitRows.addAndGet(b.count()); () }
        .start()
      q1.awaitTermination()
      val w1 = (System.nanoTime() - t0) / 1e9
      println(f"[mlbench] serve probe-only: $nStream docs in $w1%.1fs = " +
        f"${nStream / w1}%.0f docs/s, band-hit rows=${hitRows.get}")
      val cands = new java.util.concurrent.atomic.AtomicLong
      val keeps = new java.util.concurrent.atomic.AtomicLong
      val t1 = System.nanoTime()
      val q2 = DedupIndex.probeStream(spark, s"$db.lsh", source())
        .writeStream.outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          val cand = b.select(col("a"), col("b")).distinct()
          val v = cand
            .join(arrs.select(col("doc_id").as("a"), col("_shs").as("_sa")), Seq("a"))
            .join(arrs.select(col("doc_id").as("b"), col("_shs").as("_sb")), Seq("b"))
            .select(size(array_intersect(col("_sa"), col("_sb"))).cast("long").as("ni"),
              (size(col("_sa")) + size(col("_sb"))).cast("long").as("nn"))
            .agg(count(lit(1)),
              // coalesce: sum() is NULL on an empty micro-batch and
              // getLong would crash the stream
              coalesce(sum(when(col("ni") * 100 >= (col("nn") - col("ni")) * 50, 1L)
                .otherwise(0L)), lit(0L))).head()
          cands.addAndGet(v.getLong(0)); keeps.addAndGet(v.getLong(1)); ()
        }
        .start()
      q2.awaitTermination()
      val w2 = (System.nanoTime() - t1) / 1e9
      println(f"[mlbench] serve probe+verify: $nStream docs in $w2%.1fs = " +
        f"${nStream / w2}%.0f docs/s, candidates=${cands.get}, " +
        s"verified-dup=${keeps.get}")
      arrs.unpersist()
    }
    // clustered embedding corpus (256 planted centers + per-vector
    // noise), its 1-in-4000 query slice, and brute-force top-1 truth —
    // shared by the annrecall and pq recall studies
    def embTruth(dim: Int, spread: Boolean = false): (DataFrame, DataFrame, DataFrame, Long) = {
      import graft.ml.Similarity
      val nVec = math.min(nDocs, 2000000L)
      // spread = every vector gets its OWN center (no planted clusters):
      // exact-top-1 becomes a real discrimination task instead of an
      // intra-cluster tie — the regime where PQ recall is measurable
      val emb = spark.range(nVec).select(col("id").as("vec_id"))
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("_c",
          if (spread) col("vec_id")
          else pmod(xxhash64(col("vec_id"), lit("ctr")), lit(256)))
        .withColumn("embedding",
          transform(sequence(lit(0), lit(dim - 1)), i =>
            (pmod(xxhash64(col("_c"), i), lit(1000)).cast("float") - 500.0f) / 500.0f +
              (pmod(xxhash64(col("vec_id"), i, lit("n")), lit(200)).cast("float") - 100.0f) / 1000.0f))
        .select(col("vec_id"), col("embedding"))
        .localCheckpoint()
      val queries = emb.where(pmod(col("vec_id"), lit(4000)) === 0)
        .localCheckpoint()
      val nq = queries.count()
      println(s"[mlbench] embedding corpus: $nVec vectors x $dim dims, $nq queries")
      val brute = t(s"brute-force truth ($nq queries)") {
        val qd = queries.select(col("vec_id").as("q"),
          Similarity.quantize(col("embedding"), 1000).as("_q"))
        val cd = emb.select(col("vec_id").as("nb2"),
          Similarity.quantize(col("embedding"), 1000).as("_qb"))
        qd.join(cd, col("q") =!= col("nb2"))
          .withColumn("dot", Similarity.dotLong(col("_q"), col("_qb")))
          .groupBy(col("q"))
          .agg(max_by(col("nb2"), struct(col("dot"), -col("nb2"))).as("nb2"))
          .localCheckpoint()
      }
      (emb, queries, brute, nq)
    }

    if (on("annrecall")) {
      // the ANN twin of the `recall` banding sweep: recall-vs-wall
      // economics for the two IVF knobs a 100 TB user can turn —
      // nProbe (query-side coverage) at the matched cell count, and
      // cell count itself (build-side granularity) at fixed nProbe.
      // Truth = brute-force top-1 over the full corpus, computed once.
      import graft.ml.{AnnIndex, Similarity}
      val dim = 64
      val (emb, queries, brute, nq) = embTruth(dim)
      def measure(table: String, cm: Array[Array[Long]], nProbe: Int,
                  label: String): Unit = {
        val top1 = t(s"annrecall probe $label") {
          AnnIndex.probeIvf(spark, table, queries, k = 1, nProbe = nProbe,
              centroids = cm)
            .select(col("vec_id").as("q"), col("nb")).localCheckpoint()
        }
        val agree = top1.join(brute, Seq("q"))
          .where(col("nb") === col("nb2")).count()
        println(f"[mlbench] annrecall $label: top-1 recall $agree/$nq " +
          f"= ${agree * 100.0 / nq}%.1f%%")
      }
      for (cells <- Seq(64, 256, 1024)) {
        val cm = Similarity.ivfCentroids(cells, dim)
        val db = s"graft_mlannr_${cells}_${System.nanoTime}"
        spark.sql(s"CREATE DATABASE $db LOCATION '/tmp/${db}_warehouse'")
        t(s"annrecall writeIvf cells=$cells") {
          AnnIndex.writeIvf(emb, s"$db.ivf", cm, buckets = 32)
        }
        val probes = if (cells == 256) Seq(1, 2, 4, 8, 16) else Seq(4)
        for (np <- probes) measure(s"$db.ivf", cm, np, s"cells=$cells nProbe=$np")
      }
    }

    if (on("pq")) {
      // PQ ECONOMICS at soak scale: what the m-codes-per-vector
      // representation costs in recall and buys in payload, and what
      // the exact-dot re-rank repairs. Same corpus/truth as annrecall
      // (256 planted clusters, brute-force top-1 ground truth).
      import graft.ml.{Pq, Similarity}
      val dim = 64
      val (emb, queries, brute, nq) = embTruth(dim)
      val nVec = emb.count()
      val cm = Similarity.ivfCentroids(256, dim)
      // md5-literal codebooks first as the UNTRAINED control (the
      // oracle scheme), then trained codebooks across the k axis —
      // PQ accuracy is the codebook fit, so this is the measurement
      // that matters
      for ((m, kc, trained) <- Seq((8, 16, false), (8, 16, true),
          (8, 64, true), (8, 256, true))) {
        val cb =
          if (!trained) Pq.pqCodebooks(m, kc, dim / m)
          else t(s"pq train m=$m k=$kc") {
            Pq.trainCodebooks(emb, "embedding", m, kc, dim)
          }
        val tag = if (trained) "trained" else "md5"
        // encode pass = the index-build payload: wall + logical width
        val q = Similarity.quantize(col("embedding"), 1000)
        val enc = t(s"pq encode m=$m k=$kc $tag @$nVec") {
          emb.select(col("vec_id"),
            element_at(Similarity.nearestCells(q, cm, 1), 1).as("cell"),
            Pq.pqEncode(q, cb).as("codes")).localCheckpoint()
        }
        enc.head()
        println(f"[mlbench] pq payload m=$m k=$kc $tag: ~${m} B codes/vec vs " +
          f"${dim * 8} B quantized vec (${dim * 8.0 / m}%.0fx narrower candidate side)")
        // release per-config state before the next iteration: leaked
        // checkpoint blocks from earlier configs would distort the
        // walls the later configs report (review finding, round 12)
        enc.unpersist()
        for ((rr, label) <- Seq((0, "adc"), (32, "adc+rerank32"))) {
          val top1 = t(s"pq probe m=$m k=$kc $tag $label (incl. encode)") {
            Pq.ivfPqTopK(emb, k = 1, codebooks = cb, centroids = cm,
                nProbe = 4, rerank = rr, queries = queries)
              .where(col("rank") === 1)
              .select(col("vec_id").as("q"), col("nb")).localCheckpoint()
          }
          val agree = top1.join(brute, Seq("q"))
            .where(col("nb") === col("nb2")).count()
          // TWO metrics, because this corpus has ~7,800-member
          // near-identical clusters: exact-top-1 recall is an
          // INTRA-cluster discrimination task (all members share a
          // code word, so ADC ties across the cluster and top-R is
          // the R smallest ids — no code-based method can resolve
          // it), while cluster-hit@1 is the retrieval/near-dup
          // question the representation actually answers
          val clusterHit = top1.where(
            pmod(xxhash64(col("q"), lit("ctr")), lit(256)) ===
              pmod(xxhash64(col("nb"), lit("ctr")), lit(256))).count()
          println(f"[mlbench] pq m=$m k=$kc $tag $label: exact-top1 $agree/$nq " +
            f"= ${agree * 100.0 / nq}%.1f%%, cluster-hit@1 $clusterHit/$nq " +
            f"= ${clusterHit * 100.0 / nq}%.1f%%")
          top1.unpersist()
        }
      }
      // SPREAD regime: every vector its own center — no ties, so
      // exact-top-1 recall measures what the codes actually resolve,
      // and the rerank sweep prices the recall/budget curve a 100 TB
      // user buys (ADC shortlist R, then R exact dots per query)
      val (emb2, queries2, brute2, nq2) = embTruth(dim, spread = true)
      val cb2 = t("pq train m=8 k=256 spread") {
        Pq.trainCodebooks(emb2, "embedding", 8, 256, dim)
      }
      // two denominators: global brute truth (end-to-end = IVF recall
      // x PQ recall) and best-in-probed-cells (rerank=100000 ranks the
      // ENTIRE candidate set by exact dot — the IVF-only ceiling, so
      // the PQ contribution reads separately from cell coverage)
      val ceil = t("pq spread IVF-ceiling (exact best in probed cells)") {
        Pq.ivfPqTopK(emb2, k = 1, codebooks = cb2, centroids = cm,
            nProbe = 4, rerank = 100000, queries = queries2)
          .where(col("rank") === 1)
          .select(col("vec_id").as("q"), col("nb").as("nbc")).localCheckpoint()
      }
      val ivfOk = ceil.join(brute2, Seq("q"))
        .where(col("nbc") === col("nb2")).count()
      println(f"[mlbench] pq spread IVF-only ceiling (nProbe=4): $ivfOk/$nq2 " +
        f"= ${ivfOk * 100.0 / nq2}%.1f%% of global truth reachable")
      for (rr <- Seq(0, 8, 32, 128)) {
        val label = if (rr == 0) "adc" else s"adc+rerank$rr"
        val top1 = t(s"pq spread probe $label") {
          Pq.ivfPqTopK(emb2, k = 1, codebooks = cb2, centroids = cm,
              nProbe = 4, rerank = rr, queries = queries2)
            .where(col("rank") === 1)
            .select(col("vec_id").as("q"), col("nb")).localCheckpoint()
        }
        val agree = top1.join(brute2, Seq("q"))
          .where(col("nb") === col("nb2")).count()
        val agreeC = top1.join(ceil, Seq("q"))
          .where(col("nb") === col("nbc")).count()
        println(f"[mlbench] pq spread k=256 $label: end-to-end $agree/$nq2 " +
          f"= ${agree * 100.0 / nq2}%.1f%%, vs-reachable $agreeC/$nq2 " +
          f"= ${agreeC * 100.0 / nq2}%.1f%%")
        top1.unpersist()
      }
      ceil.unpersist()
    }

    if (on("paradedup")) {
      // paragraph-structured twin of the corpus: 8 paragraphs of 5
      // tokens per doc — cluster members share most paragraphs VERBATIM
      // (the ~5% token mutation leaves ~3/4 of 5-token paragraphs
      // untouched), so the winner fold sees real duplication AND real
      // skew: a mega-cluster paragraph recurs ~3000 times, a medium one
      // ~300, the unique tail almost never. That is exactly the
      // distribution the map-side-partial min(struct) fold exists for.
      val pdocs = docs.select(col("doc_id"),
          graft.ml.TextOps.paragraphChunks(col("text"), 5).as("text"))
        .localCheckpoint()
      val io = new IoListener; spark.sparkContext.addSparkListener(io)
      def fingerprint(d: DataFrame): (Long, Long, Long) =
        chunkFingerprint(d, Seq("doc_id", "text", "n_paras", "n_kept"))
      val (sw0, sp0) = io.snap()
      val first = t(s"paradedup first @$nDocs") {
        graft.ml.Dedup.dedupParagraphs(pdocs).localCheckpoint()
      }
      val (sw1, sp1) = io.snap()
      val s1 = first.agg(sum("n_paras"), sum("n_kept"),
        sum(when(col("n_kept") === 0, 1L).otherwise(0L))).head()
      println(f"[mlbench] paradedup first: paras=${s1.getLong(0)} kept=${s1.getLong(1)} " +
        f"(${s1.getLong(1) * 100.0 / s1.getLong(0)}%.2f%%), emptied docs=${s1.getLong(2)}, " +
        f"shuffle ${(sw1 - sw0) / 1e9}%.2f GB, spill ${(sp1 - sp0) / 1e9}%.2f GB")
      // partitioning invariance AT SOAK SCALE: the same corpus through
      // a cloned session at a non-divisor shuffle width must produce a
      // bit-identical result set (fingerprint = count + md5 sum)
      val fp1 = fingerprint(first)
      val sess2 = spark.newSession()
      sess2.conf.set("spark.sql.shuffle.partitions", "23")
      val first23 = t(s"paradedup first @$nDocs width=23") {
        graft.ml.Dedup.dedupParagraphs(
          sess2.createDataFrame(pdocs.rdd, pdocs.schema)).localCheckpoint()
      }
      val fp2 = fingerprint(first23)
      println(s"[mlbench] paradedup invariance: width-32 $fp1 vs width-23 $fp2 " +
        (if (fp1 == fp2) "[BIT-IDENTICAL]" else "[MISMATCH]"))
      val (sw2, sp2) = io.snap()
      val dfm = t(s"paradedup df<=100 @$nDocs") {
        graft.ml.Dedup.dedupParagraphs(pdocs, mode = "df", maxDocFreq = 100)
          .localCheckpoint()
      }
      val (sw3, sp3) = io.snap()
      val s2 = dfm.agg(sum("n_paras"), sum("n_kept"),
        sum(when(col("n_kept") === 0, 1L).otherwise(0L))).head()
      println(f"[mlbench] paradedup df<=100: paras=${s2.getLong(0)} kept=${s2.getLong(1)} " +
        f"(${s2.getLong(1) * 100.0 / s2.getLong(0)}%.2f%%), emptied docs=${s2.getLong(2)}, " +
        f"shuffle ${(sw3 - sw2) / 1e9}%.2f GB, spill ${(sp3 - sp2) / 1e9}%.2f GB")
      // deterministic shard export at the same scale: wall, hash
      // balance, and the one-file-per-shard layout contract
      val shardDir = s"/tmp/graft_shards_${System.nanoTime}"
      try {
        val man = t(s"exportShards 256 @$nDocs") {
          graft.ml.Sampling.exportShards(pdocs, shardDir, "doc_id",
            nShards = 256)
        }
        val b = man.agg(count(lit(1)), min("n_docs"), max("n_docs")).head()
        val files = new java.io.File(shardDir).listFiles()
          .filter(d => d.isDirectory && d.getName.startsWith("shard="))
          .map(_.listFiles().count(f => f.getName.endsWith(".parquet")))
        println(s"[mlbench] shards: ${b.getLong(0)} shards, docs min=${b.getLong(1)} " +
          s"max=${b.getLong(2)}, files/shard max=${files.max}")
      } finally {
        new scala.reflect.io.Directory(new java.io.File(shardDir))
          .deleteRecursively()
      }
    }

    if (on("substr")) {
      // EXACT SUBSTRING dedup at soak scale: the template corpus's
      // 40-token docs share long mutation-free runs within a cluster
      // (per-token mutation rate 1/20 => an 8-token window survives
      // unmutated with p ~= 0.66), so cluster members carry real
      // duplicated spans at every skew tier (30/300/3000-member) while
      // the 60% unique tail contributes only its own windows. Measures:
      // wall + shuffle + removal split (unique vs clustered), the
      // serve==mode-all identity (removeSubstrings against the >=2
      // hot set must equal dedupSubstrings(mode="all") bit-for-bit),
      // and width invariance for the keep-first rank.
      import graft.ml.Dedup
      val io = new IoListener; spark.sparkContext.addSparkListener(io)
      def fpSub(d: DataFrame): (Long, Long, Long) =
        chunkFingerprint(d, Seq("doc_id", "text", "n_tokens", "n_removed"))
      // REAL leaf stats for the round-15 rank-window widen gate: the
      // localCheckpoint corpus inherits range-leaf estimates
      // (~22 B/doc, the known ~14x understatement documented on the
      // verifyKey pin above), which would hold the 256 MB gate low at
      // 8M — route the corpus through parquet and read it back, as any
      // real pipeline would (the rows are identical; only the leaf
      // stats the Sizing gate reads become honest)
      val docsPath = s"/tmp/mlbench_substr_$nDocs"
      t(s"substr corpus->parquet @$nDocs") {
        docs.write.mode("overwrite").parquet(docsPath)
      }
      val pdocs = spark.read.parquet(docsPath)
      val (sw0, sp0) = io.snap()
      val first = t(s"substr keep-first k=8 @$nDocs") {
        Dedup.dedupSubstrings(pdocs).localCheckpoint()
      }
      val (sw1, sp1) = io.snap()
      val s1 = first.agg(sum("n_tokens"), sum("n_removed"),
        sum(when(col("n_removed") > 0, 1L).otherwise(0L))).head()
      println(f"[mlbench] substr first: tokens=${s1.getLong(0)} removed=${s1.getLong(1)} " +
        f"(${s1.getLong(1) * 100.0 / s1.getLong(0)}%.2f%%), touched docs=${s1.getLong(2)}, " +
        f"shuffle ${(sw1 - sw0) / 1e9}%.2f GB, spill ${(sp1 - sp0) / 1e9}%.2f GB")
      // removal split across the skew tiers: the unique tail should be
      // nearly untouched, clustered docs should lose their shared runs
      first.join(docs.select(col("doc_id"), col("cluster")), Seq("doc_id"))
        .groupBy((col("cluster") >= 1000000000000L).as("_cl"))
        .agg(sum("n_tokens").as("_t"), sum("n_removed").as("_r"))
        .orderBy(col("_cl"))
        .collect().foreach { r =>
          val tier = if (r.getBoolean(0)) "clustered" else "unique"
          println(f"[mlbench] substr first $tier: removed ${r.getLong(2)}/${r.getLong(1)} " +
            f"= ${r.getLong(2) * 100.0 / r.getLong(1)}%.2f%%")
        }
      // width invariance AT SOAK SCALE (the keep-first rank must not
      // depend on the shuffle width)
      val fp1 = fpSub(first)
      val sess2 = spark.newSession()
      sess2.conf.set("spark.sql.shuffle.partitions", "23")
      val first23 = t(s"substr keep-first @$nDocs width=23") {
        Dedup.dedupSubstrings(sess2.read.parquet(docsPath)).localCheckpoint()
      }
      val fp23 = fpSub(first23)
      println(s"[mlbench] substr invariance: width-32 $fp1 vs width-23 $fp23 " +
        (if (fp1 == fp23) "[BIT-IDENTICAL]" else "[MISMATCH]"))
      first23.unpersist()
      // the SERVE path at scale, and its exactness teeth: hot-set
      // membership removal over the same corpus IS mode="all". The
      // identity is plan-independent logic proven at 2M — above 4M
      // skip these legs loudly (the semdedup banded-leg precedent)
      // and keep the 8M budget on the linearity + invariance axes.
      if (nDocs > 4000000L) {
        println(s"[mlbench] substr serve/all legs SKIPPED at $nDocs docs " +
          "(identity proven at 2M; rerun at <= 4M to reproduce)")
      } else {
        val (sw2, sp2) = io.snap()
        val hot = t(s"substr hotSubstrings @$nDocs") {
          Dedup.hotSubstrings(pdocs).localCheckpoint()
        }
        println(s"[mlbench] substr hot grams: ${hot.count()}")
        val served = t(s"substr removeSubstrings vs hot @$nDocs") {
          Dedup.removeSubstrings(pdocs, hot).localCheckpoint()
        }
        val (sw3, sp3) = io.snap()
        println(f"[mlbench] substr serve: shuffle ${(sw3 - sw2) / 1e9}%.2f GB, " +
          f"spill ${(sp3 - sp2) / 1e9}%.2f GB (hot build + removal)")
        val all = t(s"substr mode=all @$nDocs") {
          Dedup.dedupSubstrings(pdocs, mode = "all").localCheckpoint()
        }
        val fpServe = fpSub(served)
        val fpAll = fpSub(all)
        println(s"[mlbench] substr serve==all: $fpServe vs $fpAll " +
          (if (fpServe == fpAll) "[BIT-IDENTICAL]" else "[MISMATCH]"))
        // the PERSISTED hot-gram index (round 15): the bucketed gram
        // count table's probe must reproduce the raw hot-set serve
        // bit-for-bit, with the hot side now derived exchange-free
        spark.sql("CREATE DATABASE IF NOT EXISTS mlbench_subidx")
        val (sw4, sp4) = io.snap()
        t(s"substr index write @$nDocs") {
          graft.ml.SubstrIndex.write(pdocs, "mlbench_subidx.sub",
            buckets = 32)
        }
        val probed = t(s"substr index probe @$nDocs") {
          graft.ml.SubstrIndex.probe(spark, "mlbench_subidx.sub", pdocs)
            .localCheckpoint()
        }
        val (sw5, sp5) = io.snap()
        val fpProbe = fpSub(probed)
        println(f"[mlbench] substr index probe==serve: $fpProbe vs $fpServe " +
          (if (fpProbe == fpServe) "[BIT-IDENTICAL]" else "[MISMATCH]") +
          f" (index legs shuffle ${(sw5 - sw4) / 1e9}%.2f GB, " +
          f"spill ${(sp5 - sp4) / 1e9}%.2f GB)")
        probed.unpersist()
        // release the corpus-scale checkpoints before any later mode
        // builds its own state (the round-11 pool-starvation lesson)
        hot.unpersist(); served.unpersist(); all.unpersist()
      }
      first.unpersist()
    }

    if (on("substrserve")) {
      // UNCONTENDED SERVE WALL + LIFECYCLE CADENCE (VERDICT r15 item
      // #4): the round-15 serve/index identity legs ran contended by a
      // concurrent oracle pass and were loudly skipped above 4M. With
      // the persisted index (q140) and the pinned-hot-set handle in
      // place, measure the steady-state serve at full nDocs — index
      // over the 3/4 reference split, the held-out 1/4 served through
      // SubstrServe.probe (the foreachBatch body shape) — then the
      // round-10 ann-lifecycle cadence: 3 append batches, a takedown,
      // compact, with probe identity and file-count checks.
      import graft.ml.SubstrIndex
      val io = new IoListener; spark.sparkContext.addSparkListener(io)
      def fpSrv(d: DataFrame): (Long, Long, Long) =
        chunkFingerprint(d, Seq("doc_id", "text", "n_tokens", "n_removed"))
      // reap stale per-run state FIRST (round-16 ADVICE: repeated soak
      // rounds accumulated multi-GB /tmp warehouses with no reaper) —
      // the SparkEntry.perRunDb protocol: only dirs untouched >= 10
      // minutes, so a concurrent live run's state is never deleted
      locally {
        val staleBefore = System.currentTimeMillis() - 10 * 60 * 1000
        for (old <- Option(new java.io.File("/tmp").listFiles())
               .getOrElse(Array.empty)
             if old.getName.startsWith("graft_subsrv_") && old.isDirectory &&
               old.lastModified() < staleBefore) {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
            f.delete()
          }
          rm(old)
        }
      }
      // per-run DB (the serve-mode pattern): a reused name would hit
      // LOCATION_ALREADY_EXISTS on the next JVM's fresh catalog. The
      // corpus parquet is keyed by the SAME per-run name (round-16
      // ADVICE: keying it by nDocs alone raced two concurrent runs at
      // the same size onto one path), and the reaper above sweeps both.
      val db = s"graft_subsrv_${System.nanoTime}"
      spark.sql(s"CREATE DATABASE $db LOCATION '/tmp/${db}_warehouse'")
      val docsPath = s"/tmp/${db}_corpus"
      t(s"substrserve corpus->parquet @$nDocs") {
        docs.write.mode("overwrite").parquet(docsPath)
      }
      val pdocs = spark.read.parquet(docsPath)
      val refD = pdocs.where(col("doc_id") % 4 =!= 0)
      val inD = pdocs.where(col("doc_id") % 4 === 0).localCheckpoint()
      val nIn = inD.count()
      val tbl = s"$db.sub"
      val (swW0, spW0) = io.snap()
      t(s"substrserve index write (3/4 of $nDocs docs, 32 buckets)") {
        SubstrIndex.write(refD, tbl, buckets = 32)
      }
      val (swW1, spW1) = io.snap()
      println(f"[mlbench] substrserve index write: shuffle " +
        f"${(swW1 - swW0) / 1e9}%.2f GB, spill ${(spW1 - spW0) / 1e9}%.2f GB, " +
        s"files ${graft.ml.Indexes.dataFileCount(spark, tbl)}")
      val handle = t("substrserve hot-set derive+pin") {
        val h = SubstrIndex.serve(spark, tbl)
        h.hotSet.count()
        h
      }
      println(s"[mlbench] substrserve hot grams pinned: ${handle.hotSet.count()}")
      val (sw0, sp0) = io.snap()
      val t0s = System.nanoTime()
      val served = handle.probe(inD).localCheckpoint()
      val w = (System.nanoTime() - t0s) / 1e9
      val (sw1, sp1) = io.snap()
      val s1 = served.agg(sum("n_tokens"), sum("n_removed")).head()
      println(f"[mlbench] substrserve probe: $nIn docs in $w%.1fs = " +
        f"${nIn / w}%.0f docs/s, removed ${s1.getLong(1)}/${s1.getLong(0)} tokens, " +
        f"shuffle ${(sw1 - sw0) / 1e9}%.2f GB, spill ${(sp1 - sp0) / 1e9}%.2f GB")
      // identity vs the per-call probe (re-derives the hot set per call
      // — the cost the handle exists to avoid; also times that cost)
      val perCall = t(s"substrserve PER-CALL probe (re-derives hot) @$nDocs") {
        SubstrIndex.probe(spark, tbl, inD).localCheckpoint()
      }
      val fpS = fpSrv(served)
      val fpP = fpSrv(perCall)
      println(s"[mlbench] substrserve handle==per-call: $fpS vs $fpP " +
        (if (fpS == fpP) "[BIT-IDENTICAL]" else "[MISMATCH]"))
      perCall.unpersist(); served.unpersist()
      // LIFECYCLE CADENCE: append the held-out split in thirds
      // (doc_id % 12 in {0,4,8}), retire the middle batch, compact.
      // Every mutation refreshes the handle; after compaction the file
      // count must fold to one per bucket and the handle's probe must
      // equal a FRESH per-call probe (negative-count exactness at
      // scale rides on this identity)
      for (res <- Seq(0L, 4L, 8L)) {
        t(s"substrserve append batch %12==$res") {
          handle.append(inD.where(col("doc_id") % 12 === res))
        }
      }
      t("substrserve takedown (retire %12==4 batch)") {
        handle.removeDocs(inD.where(col("doc_id") % 12 === 4))
      }
      val preFiles = graft.ml.Indexes.dataFileCount(spark, tbl)
      t("substrserve compact") { handle.compact() }
      val postFiles = graft.ml.Indexes.dataFileCount(spark, tbl)
      println(s"[mlbench] substrserve compact: files $preFiles -> $postFiles " +
        (if (postFiles == 32) "[== buckets]" else "[UNEXPECTED]"))
      val probeSample = pdocs.where(col("doc_id") % 4 === 1)
      val afterH = t("substrserve post-cadence probe (handle)") {
        handle.probe(probeSample).localCheckpoint()
      }
      val afterP = SubstrIndex.probe(spark, tbl, probeSample)
      val fpH = fpSrv(afterH)
      val fpF = fpSrv(afterP)
      println(s"[mlbench] substrserve post-cadence handle==fresh: $fpH vs $fpF " +
        (if (fpH == fpF) "[BIT-IDENTICAL]" else "[MISMATCH]"))
      afterH.unpersist(); inD.unpersist()
    }

    // the planted-cluster vector corpus (256 directions, ~10% relative
    // noise), its label-mean (converged k-means) centroids, and the
    // semdedup audit-frame fingerprint — ONE definition each, shared
    // by the semdedup, semthresh, and traincap soaks so the cross-mode
    // comparisons stay apples-to-apples by construction
    def plantedEmb(nVec: Long, dim: Int): DataFrame =
      spark.range(nVec).select(col("id").as("vec_id"))
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("cluster", pmod(xxhash64(col("vec_id"), lit("ctr")), lit(256)))
        .withColumn("embedding",
          transform(sequence(lit(0), lit(dim - 1)), i =>
            (pmod(xxhash64(col("cluster"), i), lit(1000)).cast("float") - 500.0f) / 500.0f +
              (pmod(xxhash64(col("vec_id"), i, lit("n")), lit(200)).cast("float") - 100.0f) / 1000.0f))
        .localCheckpoint()
    def clusterMeans(emb: DataFrame): Array[Array[Long]] =
      emb.select(col("cluster"),
          posexplode(graft.ml.Similarity.quantize(col("embedding"), 1000))
            .as(Seq("_p", "_x")))
        .groupBy(col("cluster"), col("_p")).agg(avg(col("_x")).as("_m"))
        .groupBy(col("cluster"))
        .agg(transform(array_sort(collect_list(struct(col("_p"), col("_m")))),
          s => s.getField("_m")).as("_c"))
        .orderBy(col("cluster"))
        .collect().map(_.getSeq[Double](1).map(math.round).toArray)
    def fpSem(d: DataFrame): (Long, Long, Long) = {
      val h = md5(concat_ws("", col("vec_id"), col("cell"),
        col("centroid_dot"), col("kept")))
      val r = d.agg(count(lit(1)),
        sum(conv(substring(h, 1, 8), 16, 10).cast("long")),
        sum(conv(substring(h, 9, 8), 16, 10).cast("long"))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    if (on("semdedup")) {
      // SemDeDup at soak scale, on the ann corpus shape (64-dim vectors
      // clustered around 256 planted directions, ~10% relative noise —
      // same-cluster cosine ~99%, cross-cluster |cosine| well under
      // 40%, so t=90 separates cleanly and TRUTH is the planted cluster
      // id). The planted corpus is the adversarial shape for the
      // published pairwise rule: every planted cluster lands in one
      // cell, so within-cell pairs are quadratic in the CLUSTER size
      // (the all-pairs-minhash detonation, semantic edition) — anchor
      // mode is the linear path at full scale, pairwise runs on a
      // mix-preserving slice as the recall truth.
      import graft.ml.SemDedup
      import graft.ml.Similarity
      val dim = 64
      val nVec = nDocs
      val emb = plantedEmb(nVec, dim)
      println(s"[mlbench] semdedup corpus: $nVec vectors x $dim dims, 256 planted clusters")
      val io = new IoListener; spark.sparkContext.addSparkListener(io)
      def fp(d: DataFrame): (Long, Long, Long) = fpSem(d)
      def survStats(out: DataFrame, what: String): Unit = {
        val s = out.where(col("kept"))
          .join(emb.select(col("vec_id"), col("cluster")), "vec_id")
          .groupBy(col("cluster")).agg(count(lit(1)).as("s"))
          .agg(count(lit(1)), sum(col("s")), max(col("s")),
            sum(when(col("s") === 1, 1L).otherwise(0L))).head()
        println(f"[mlbench] $what survivors: ${s.getLong(1)} over ${s.getLong(0)} " +
          f"clusters (ideal 256), max/cluster ${s.getLong(2)}, " +
          f"exactly-1 clusters ${s.getLong(3)}")
      }
      // CELL-SIZING AXIS: anchor mode's kill reach is ONE semantic
      // group per cell (the anchor's own), so its recall is governed
      // by how closely cells track the duplicate structure — measured
      // here by running the same corpus at 256 cells (cells ~ unions
      // of several planted clusters) and 1024 cells (cells ~ single
      // clusters). Pairwise is the per-granularity truth on a
      // mix-preserving slice; it cannot run at full scale on this
      // corpus (within-cell pairs are quadratic in the planted-cluster
      // population — the all-pairs detonation, semantic edition).
      val nSmall = math.min(nVec, 200000L)
      val small = emb.where(col("vec_id") < nSmall).localCheckpoint()
      for (nc <- Seq(256, 1024)) {
        val cm = Similarity.ivfCentroids(nc, dim)
        // ANCHOR at full scale, x2 reps (warm read after cold)
        var anchor: DataFrame = null
        for (i <- 1 to 2) {
          val (sw0, sp0) = io.snap()
          anchor = t(s"semanticDedup anchor t=90 cells=$nc @$nVec rep$i") {
            SemDedup.semanticDedup(emb, cm, 90, mode = "anchor").localCheckpoint()
          }
          val (sw1, sp1) = io.snap()
          val k = anchor.agg(count(lit(1)),
            sum(when(col("kept"), 1L).otherwise(0L))).head()
          println(f"[mlbench] anchor cells=$nc @$nVec rep$i: " +
            f"kept ${k.getLong(1)}/${k.getLong(0)} " +
            f"= ${k.getLong(1) * 100.0 / k.getLong(0)}%.3f%%, " +
            f"shuffle ${(sw1 - sw0) / 1e9}%.2f GB, spill ${(sp1 - sp0) / 1e9}%.2f GB")
        }
        survStats(anchor, s"anchor cells=$nc @$nVec")
        // partitioning invariance at soak scale (cloned session, width 23)
        val fp1 = fp(anchor)
        val sess2 = spark.newSession()
        sess2.conf.set("spark.sql.shuffle.partitions", "23")
        val a23 = t(s"semanticDedup anchor cells=$nc @$nVec width=23") {
          SemDedup.semanticDedup(
            sess2.createDataFrame(emb.rdd, emb.schema), cm, 90,
            mode = "anchor").localCheckpoint()
        }
        val fp2 = fp(a23)
        println(s"[mlbench] semdedup invariance cells=$nc: width-32 $fp1 " +
          s"vs width-23 $fp2 " +
          (if (fp1 == fp2) "[BIT-IDENTICAL]" else "[MISMATCH]"))
        // PAIRWISE (the published rule) on the slice: the recall truth
        // for the anchor shortcut at this granularity
        val pw = t(s"semanticDedup pairwise t=90 cells=$nc @$nSmall") {
          SemDedup.semanticDedup(small, cm, 90).localCheckpoint()
        }
        survStats(pw, s"pairwise cells=$nc @$nSmall")
        val aS = t(s"semanticDedup anchor t=90 cells=$nc @$nSmall") {
          SemDedup.semanticDedup(small, cm, 90, mode = "anchor").localCheckpoint()
        }
        survStats(aS, s"anchor cells=$nc @$nSmall")
        // anchor drops must be a subset of pairwise drops (rank-1 is a
        // better-ranked member for everything it kills)
        val aDrop = aS.where(!col("kept")).select(col("vec_id"))
        val pwDrop = pw.where(!col("kept")).select(col("vec_id"), lit(1).as("_in"))
        val ov = aDrop.join(pwDrop, Seq("vec_id"), "left")
          .agg(count(lit(1)), count(col("_in"))).head()
        val pwN = pw.where(!col("kept")).count()
        println(s"[mlbench] drops cells=$nc: pairwise $pwN, anchor ${ov.getLong(0)} " +
          s"(${ov.getLong(1)} inside pairwise" +
          (if (ov.getLong(0) == ov.getLong(1)) " [SUBSET-OK])" else " [VIOLATION!])"))
      }
      // TRAINED CELLS: production SemDeDup clusters with k-means ON THE
      // DATA; random md5 centroids mis-place ~10%-noise members (a
      // cluster smears across whichever random cells tie near its
      // direction — the recall collapse measured above), while trained
      // cells place every member consistently, so the linear anchor
      // mode reaches pairwise-grade dedup. The generator's cluster ids
      // give k-means its converged assignment for free: the trained
      // centroid is each planted cluster's integer-mean vector.
      val trained: Array[Array[Long]] = {
        val t0 = System.nanoTime()
        val m = clusterMeans(emb)
        println(f"[mlbench] trained 256 cluster-mean centroids: " +
          f"${(System.nanoTime() - t0) / 1e9}%.1fs")
        m
      }
      for (i <- 1 to 2) {
        val at = t(s"semanticDedup anchor t=90 cells=trained @$nVec rep$i") {
          SemDedup.semanticDedup(emb, trained, 90, mode = "anchor")
            .localCheckpoint()
        }
        val k = at.agg(count(lit(1)),
          sum(when(col("kept"), 1L).otherwise(0L))).head()
        println(f"[mlbench] anchor cells=trained @$nVec rep$i: " +
          f"kept ${k.getLong(1)}/${k.getLong(0)} " +
          f"= ${k.getLong(1) * 100.0 / k.getLong(0)}%.3f%%")
        if (i == 2) survStats(at, s"anchor cells=trained @$nVec")
      }
      val pwT = t(s"semanticDedup pairwise t=90 cells=trained @$nSmall") {
        SemDedup.semanticDedup(small, trained, 90).localCheckpoint()
      }
      survStats(pwT, s"pairwise cells=trained @$nSmall")
      // FULL-SCALE banded pairwise — the run round-13's unbanded join
      // could not finish (it detonated one task per planted cluster;
      // BASELINE.md round13-semdedup ran pairwise only on a 200k
      // slice). The rank-band chunking spreads each ~n/256-member
      // cell's quadratic over pop/bandRows parallel key groups — but
      // the COMPUTE is inherently quadratic in the fixed-256-cell
      // population, so past 2M this leg is loudly skipped (the 16M/32M
      // curve runs stay anchor-only, as recorded in round 13)
      if (nVec <= 2000000L) {
        val (swp0, spp0) = io.snap()
        val pwFull = t(s"semanticDedup pairwise BANDED t=90 cells=trained @$nVec") {
          SemDedup.semanticDedup(emb, trained, 90).localCheckpoint()
        }
        val (swp1, spp1) = io.snap()
        val kpw = pwFull.agg(count(lit(1)),
          sum(when(col("kept"), 1L).otherwise(0L))).head()
        println(f"[mlbench] pairwise banded @$nVec: kept ${kpw.getLong(1)}/${kpw.getLong(0)} " +
          f"= ${kpw.getLong(1) * 100.0 / kpw.getLong(0)}%.3f%%, " +
          f"shuffle ${(swp1 - swp0) / 1e9}%.2f GB, spill ${(spp1 - spp0) / 1e9}%.2f GB")
        survStats(pwFull, s"pairwise banded cells=trained @$nVec")
      } else
        println(s"[mlbench] full-scale banded pairwise SKIPPED at $nVec docs " +
          "(quadratic in the fixed-256-cell population; run this leg at <= 2M)")
      // UNSUPERVISED training — the in-library path a real deployment
      // has (no cluster labels): k-means over a 10% hash sample
      // (Similarity.trainIvfCentroids). The label-informed means above
      // are the ceiling; this measures how close k-means gets to it.
      val km = t(s"trainIvfCentroids k=256 @$nVec (10% sample)") {
        trainCells(emb, 256)
      }
      for (i <- 1 to 2) {
        val ak = t(s"semanticDedup anchor t=90 cells=kmeans @$nVec rep$i") {
          SemDedup.semanticDedup(emb, km, 90, mode = "anchor")
            .localCheckpoint()
        }
        val k = ak.agg(count(lit(1)),
          sum(when(col("kept"), 1L).otherwise(0L))).head()
        println(f"[mlbench] anchor cells=kmeans @$nVec rep$i: " +
          f"kept ${k.getLong(1)}/${k.getLong(0)} " +
          f"= ${k.getLong(1) * 100.0 / k.getLong(0)}%.3f%%")
        if (i == 2) survStats(ak, s"anchor cells=kmeans @$nVec")
      }
    }

    if (on("semthresh")) {
      // THRESHOLD ECONOMICS (VERDICT r13 item #4): what the
      // thresholdPct knob buys (survivor volume) and costs (wall) —
      // the semdedup twin of the LSH banding and IVF nProbe curves.
      // Trained cells (the production configuration: cluster means =
      // converged k-means), anchor at full scale x thresholds, plus
      // BANDED pairwise (the published rule, full scale — the r13
      // detonation case, now chunked) at the operating threshold.
      import graft.ml.SemDedup
      val dim = 64
      val emb = plantedEmb(nDocs, dim)
      println(s"[mlbench] semthresh corpus: $nDocs vectors x $dim dims, 256 planted clusters")
      val trained = clusterMeans(emb)
      def kstats(out: DataFrame, what: String): Unit = {
        val k = out.agg(count(lit(1)),
          sum(when(col("kept"), 1L).otherwise(0L))).head()
        val s = out.where(col("kept"))
          .join(emb.select(col("vec_id"), col("cluster")), "vec_id")
          .groupBy(col("cluster")).agg(count(lit(1)).as("s"))
          .agg(count(lit(1)), max(col("s")),
            sum(when(col("s") === 1, 1L).otherwise(0L))).head()
        println(f"[mlbench] semthresh $what: kept ${k.getLong(1)}/${k.getLong(0)} " +
          f"= ${k.getLong(1) * 100.0 / k.getLong(0)}%.4f%%, clusters ${s.getLong(0)} " +
          f"(ideal 256), max/cluster ${s.getLong(1)}, exactly-1 ${s.getLong(2)}")
      }
      // persist (not localCheckpoint): unpersist() actually releases
      // persist's cache entries between iterations, while a
      // localCheckpoint's blocks are pinned until the RDD is GC'd —
      // at the 8M point four pinned 8M-row audit frames would squeeze
      // the unified pool mid-soak (round-14 review finding)
      for (tp <- Seq(85, 90, 95, 99)) {
        val a = SemDedup.semanticDedup(emb, trained, tp, mode = "anchor")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        t(s"semthresh anchor t=$tp @$nDocs") { a.count() }
        kstats(a, s"anchor t=$tp @$nDocs")
        a.unpersist()
      }
      // the banded pairwise leg is quadratic-in-the-cell by the
      // published rule (256 fixed cells -> per-cell population grows
      // linearly with nDocs, pair count quadratically) — loudly skip
      // past 2M rather than camp on one corpus for hours; the curve's
      // pairwise anchor-truth comparison lives at the 2M point
      if (nDocs <= 2000000L)
        for (tp <- Seq(90, 99)) {
          val p = SemDedup.semanticDedup(emb, trained, tp)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          t(s"semthresh pairwise banded t=$tp @$nDocs") { p.count() }
          kstats(p, s"pairwise t=$tp @$nDocs")
          p.unpersist()
        }
      else
        println(s"[mlbench] semthresh pairwise SKIPPED at $nDocs docs " +
          "(quadratic in the fixed-256-cell population; run the pairwise " +
          "legs at <= 2M)")
    }

    if (on("traincap")) {
      // the maxSampleRows cap (VERDICT r13 item #3 / round-13 ADVICE):
      // training wall must go FLAT once the corpus outgrows
      // cap/fraction, because the trained set is bounded — run this at
      // 2M/8M/32M and compare walls
      import graft.ml.Similarity
      val dim = 64
      val emb = plantedEmb(nDocs, dim)
      val km = t(s"traincap trainIvfCentroids k=256 @$nDocs (10% draw, 256k cap)") {
        Similarity.trainIvfCentroids(emb, 256)
      }
      println(s"[mlbench] traincap: ${km.length} centers x ${km(0).length} dims trained")
      val sample = Similarity.boundedTrainingSample(emb, "embedding", 0.1,
        1 << 18, 1000)
      println(s"[mlbench] traincap bounded sample rows: ${sample.count()} " +
        s"(cap ${1 << 18})")
      // ITERATION A/B (the r14 'known follow-on': the bounded draw
      // moved the k-means local optimum — anchor kept 1.578% vs the
      // r13 unbounded draw's 1.201%): does buying more Lloyd
      // iterations recover cell fidelity? Measured as anchor-mode
      // semanticDedup kept fraction + exactly-1 cluster count under
      // cells trained at maxIter 10 (default) vs 25 vs 50.
      for (iters <- Seq(10, 25, 50)) {
        val kmI = t(s"traincap train k=256 maxIter=$iters @$nDocs") {
          Similarity.trainIvfCentroids(emb, 256, maxIter = iters)
        }
        // t=90, the semdedup soak's recorded setting (1.578% r14 /
        // 1.201% r13) so the A/B reads against those rows directly
        val out = graft.ml.SemDedup.semanticDedup(emb, kmI, 90,
          mode = "anchor").localCheckpoint()
        val k = out.agg(count(lit(1)),
          sum(when(col("kept"), 1L).otherwise(0L))).head()
        val t2 = emb.groupBy(col("cluster")).agg(count(lit(1)).as("_n"))
          .where(col("_n") >= 2).select(col("cluster"))
        val s1 = emb.join(t2, Seq("cluster"))
          .join(out.where(col("kept")).select(col("vec_id")), Seq("vec_id"))
          .groupBy(col("cluster")).agg(count(lit(1)).as("s"))
          .agg(sum(when(col("s") === 1, 1L).otherwise(0L)),
            count(lit(1))).head()
        println(f"[mlbench] traincap maxIter=$iters: anchor kept " +
          f"${k.getLong(1)}/${k.getLong(0)} = ${k.getLong(1) * 100.0 / k.getLong(0)}%.3f%%, " +
          s"clusters exactly-1 ${s1.getLong(0)}/${s1.getLong(1)}")
        out.unpersist()
      }
    }

    if (on("assign")) {
      // TWO-LEVEL vs FLAT coarse assignment, isolated (VERDICT r14
      // item #2's deliverable is the ASSIGNMENT wall — the semtext
      // pairwise legs conflate it with the banded kill join): same
      // corpus embeddings, same trained centroids, full-corpus argmin
      // scan under each kernel, walls + an order-free equality proof
      // (sum over the probed cell lists must match exactly).
      import graft.ml.{Similarity, TextOps}
      val dim = 64
      val emb = t(s"assign embeddings @$nDocs") {
        TextOps.hashedNgramEmbedding(docs, "text", "embedding",
            n = 3, dim = dim)
          .select(col("doc_id").as("vec_id"), col("embedding"))
          .localCheckpoint()
      }
      val kCells = math.max(1024, math.min(8192, (nDocs / 2000).toInt))
      val km = t(s"assign trainCells k=$kCells @$nDocs") {
        trainCells(emb, kCells)
      }
      val q = Similarity.quantize(col("embedding"), 1000)
      // order-free but COLLISION-RESISTANT reduction of the probed cell
      // lists (round-16 ADVICE: the old sum(x^2+x) is lossy — two
      // different lists can collide): xxhash64 per (position, cell)
      // pair summed, so [EQUAL] is bit-equality-grade evidence like the
      // neighboring soaks' chunk fingerprints
      def scan(c: org.apache.spark.sql.Column): Long =
        emb.select(col("vec_id"), posexplode(c).as(Seq("_p", "_c")))
          .agg(sum(xxhash64(col("vec_id"), col("_p"), col("_c"))))
          .head().getLong(0)
      for (probe <- Seq(1, 4)) {
        val f = t(s"assign FLAT k=$kCells nProbe=$probe @$nDocs") {
          scan(graft.expr.Exprs.nearest_cells(q, km, probe))
        }
        val tl = t(s"assign TWO-LEVEL k=$kCells nProbe=$probe @$nDocs") {
          scan(graft.expr.Exprs.nearest_cells_two_level(q, km, probe))
        }
        println(s"[mlbench] assign nProbe=$probe: flat=$f two-level=$tl " +
          (if (f == tl) "[EQUAL]" else "[MISMATCH]"))
      }
    }

    if (on("embed")) {
      // PRODUCT EMBEDDER LINEARITY (VERDICT r14 item #1): the in-row
      // TextOps.hashedNgramEmbedding build wall at nDocs with its
      // order-free fingerprint and shuffle footprint (should be ~0 —
      // the operator is a pure projection), plus, at <= 2M, a
      // bit-equality A/B against the retired explode+two-agg soak
      // spelling (the one that went superlinear at 8M: 1475.5 s vs
      // 94.9 s at 2M — BASELINE.md round14-semtext-8m).
      import graft.ml.TextOps
      val io = new IoListener; spark.sparkContext.addSparkListener(io)
      val dim = 64
      def fpEmb(d: DataFrame): (Long, Long, Long) = chunkFingerprint(
        d.select(col("doc_id"), col("embedding").cast("string").as("_e")),
        Seq("doc_id", "_e"))
      val (sw0, sp0) = io.snap()
      val emb = t(s"embed in-row hashed-3gram dim=$dim @$nDocs") {
        TextOps.hashedNgramEmbedding(docs, "text", "embedding",
            n = 3, dim = dim)
          .select(col("doc_id"), col("embedding")).localCheckpoint()
      }
      val (sw1, sp1) = io.snap()
      val fp = fpEmb(emb)
      println(f"[mlbench] embed in-row: fp=$fp, " +
        f"shuffle ${(sw1 - sw0) / 1e9}%.2f GB, spill ${(sp1 - sp0) / 1e9}%.2f GB")
      if (nDocs <= 2000000L) {
        val sparse = docs.select(col("doc_id"),
            explode(array_distinct(TextOps.wordShingles(col("text"), 3))).as("_sh"))
          .select(col("doc_id"),
            pmod(xxhash64(col("_sh")), lit(dim.toLong)).cast("int").as("_b"),
            (pmod(xxhash64(col("_sh"), lit("sgn")), lit(2)) * 2 - 1)
              .cast("double").as("_v"))
          .groupBy(col("doc_id"), col("_b")).agg(sum(col("_v")).as("_s"))
        val old = t(s"embed explode+agg (retired spelling) @$nDocs") {
          sparse.groupBy(col("doc_id"))
            .agg(map_from_entries(collect_list(struct(col("_b"), col("_s")))).as("_m"))
            .select(col("doc_id"),
              transform(sequence(lit(0), lit(dim - 1)), i =>
                coalesce(element_at(col("_m"), i.cast("int")), lit(0.0))
                  .cast("float")).as("embedding"))
            .localCheckpoint()
        }
        val fpOld = fpEmb(old)
        println(s"[mlbench] embed identity: in-row $fp vs explode $fpOld " +
          (if (fp == fpOld) "[BIT-IDENTICAL]" else "[MISMATCH]"))
        old.unpersist()
      } else println(s"[mlbench] embed explode A/B SKIPPED at $nDocs docs " +
        "(identity proven at <= 2M; the retired spelling is the superlinear one)")
      emb.unpersist()
    }

    if (on("semtext")) {
      // TEXT-GROUNDED semantic dedup (VERDICT r13 item #5): the skewed
      // near-dup DOC corpus (template clusters, 5% token mutation) with
      // deterministic signed hashed-3-gram embeddings — members share
      // ~86% of shingles, so same-cluster cosine sits near 0.86 and
      // cross-cluster near 0. Trained coarse cells (k-means over the
      // hashed embeddings), BANDED pairwise at full scale (the
      // published rule on text-derived vectors), anchor comparison,
      // overlap vs the lexical simhash pass, and a width-invariance
      // identity check.
      import graft.ml.{Dedup, SemDedup, Similarity, TextOps}
      val dim = 64
      // the PRODUCT in-row embedder (VERDICT r14 item #1) — bit-equal
      // to the retired explode+two-agg scaffolding (OpsSpec pins it)
      // but linear: zero shuffle, zero explode, per-row projection only
      val emb = t(s"semtext hashed-3gram embeddings @$nDocs") {
        TextOps.hashedNgramEmbedding(docs, "text", "embedding",
            n = 3, dim = dim)
          .select(col("doc_id").as("vec_id"), col("cluster"),
            col("embedding"))
          .localCheckpoint()
      }
      // cells scale with the corpus so per-cell population stays ~2000
      // (the banded pairwise guard's operating point): 1024 at <= 2M —
      // preserving the recorded 2M contract — 4000 at 8M
      val kCells = math.max(1024, math.min(8192, (nDocs / 2000).toInt))
      val km = t(s"semtext trainCells k=$kCells @$nDocs") {
        trainCells(emb, kCells)
      }
      def truth(out: DataFrame, what: String): Unit = {
        // true >=2-member cluster members: how many did semdedup drop,
        // and do survivors collapse to ~1 per true cluster
        val t2 = emb.groupBy(col("cluster")).agg(count(lit(1)).as("_n"))
          .where(col("_n") >= 2).select(col("cluster"))
        val m = emb.join(t2, Seq("cluster")).select(col("vec_id"), col("cluster"))
          .join(out.select(col("vec_id"), col("kept")), Seq("vec_id"))
        val r = m.agg(count(lit(1)),
          sum(when(!col("kept"), 1L).otherwise(0L))).head()
        val s = m.where(col("kept")).groupBy(col("cluster"))
          .agg(count(lit(1)).as("s"))
          .agg(count(lit(1)), max(col("s")),
            sum(when(col("s") === 1, 1L).otherwise(0L))).head()
        println(f"[mlbench] semtext $what vs truth: dropped ${r.getLong(1)}/${r.getLong(0)} " +
          f"true-cluster members (${r.getLong(1) * 100.0 / r.getLong(0)}%.2f%%), " +
          f"clusters-with-survivors ${s.getLong(0)}, max/cluster ${s.getLong(1)}, " +
          f"exactly-1 ${s.getLong(2)}")
      }
      var pw70: DataFrame = null
      for (tp <- Seq(60, 70, 80)) {
        val pw = t(s"semtext pairwise banded t=$tp @$nDocs") {
          SemDedup.semanticDedup(emb, km, tp).localCheckpoint()
        }
        val k = pw.agg(count(lit(1)),
          sum(when(col("kept"), 1L).otherwise(0L))).head()
        println(f"[mlbench] semtext pairwise t=$tp: kept ${k.getLong(1)}/${k.getLong(0)} " +
          f"= ${k.getLong(1) * 100.0 / k.getLong(0)}%.2f%%")
        truth(pw, s"pairwise t=$tp")
        if (tp == 70) pw70 = pw else pw.unpersist()
      }
      // ONE-CALL product entry point at soak scale (VERDICT r15 item
      // #5): the same chain through SemDedup.semanticDedupText itself —
      // the embed projection rides INSIDE the operator's plan, so this
      // leg proves the product surface (tokenize -> embed -> cell ->
      // rank -> gate in one call), not just its ingredients. Output
      // must be bit-identical to the piecewise path (same embedder,
      // same centroids, same gate) — fingerprint-pinned every run.
      val oc = t(s"semtext ONE-CALL semanticDedupText t=70 @$nDocs") {
        SemDedup.semanticDedupText(docs, km, 70).localCheckpoint()
      }
      val fpOc = fpSem(oc.withColumnRenamed("doc_id", "vec_id"))
      val fpPw = fpSem(pw70)
      println(s"[mlbench] semtext one-call==piecewise: $fpOc vs $fpPw " +
        (if (fpOc == fpPw) "[BIT-IDENTICAL]" else "[MISMATCH]"))
      oc.unpersist()
      // TWO reps, interleaved in the same session (VERDICT r16 item
      // #5): the r16 8M anchor leg read 712.9 s vs r15's 574.4 with a
      // gate-neutral 2M leg — rep1-vs-rep2 swing IS the run's ambient
      // yardstick for this exact shape, so a one-off reading can be
      // attributed (host vs code) without a cross-round guess
      var an: DataFrame = null
      for (rep <- 1 to 2) {
        if (an != null) an.unpersist()
        an = t(s"semtext anchor t=70 @$nDocs rep$rep") {
          SemDedup.semanticDedup(emb, km, 70, mode = "anchor")
            .localCheckpoint()
        }
      }
      truth(an, "anchor t=70")
      // overlap with the LEXICAL axis: docs the simhash near-dup pass
      // pairs up vs docs the semantic pass drops — the case lexical
      // dedup already catches, and what semdedup adds beyond it
      val pairs = t(s"semtext simhashNearDupPairs @$nDocs") {
        Dedup.simhashNearDupPairs(docs).localCheckpoint()
      }
      val lexDocs = pairs.select(col("a").as("vec_id"))
        .union(pairs.select(col("b").as("vec_id"))).distinct()
      val ov = pw70.where(!col("kept")).select(col("vec_id"))
        .join(lexDocs.withColumn("_lex", lit(1)), Seq("vec_id"), "left")
        .agg(count(lit(1)), count(col("_lex"))).head()
      val lexN = lexDocs.count()
      println(f"[mlbench] semtext lexical overlap: semantic drops ${ov.getLong(0)}, " +
        f"of which ${ov.getLong(1)} (${ov.getLong(1) * 100.0 / math.max(ov.getLong(0), 1)}%.1f%%) " +
        s"also lexically paired (simhash-paired docs total: $lexN)")
      // width invariance at soak scale (cloned session, width 23) —
      // the shared fpSem fingerprint
      val fp1 = fpSem(pw70)
      val sess2 = spark.newSession()
      sess2.conf.set("spark.sql.shuffle.partitions", "23")
      val pw23 = t(s"semtext pairwise t=70 @$nDocs width=23") {
        SemDedup.semanticDedup(
          sess2.createDataFrame(emb.rdd, emb.schema), km, 70)
          .localCheckpoint()
      }
      val fp2 = fpSem(pw23)
      println(s"[mlbench] semtext invariance: width-32 $fp1 vs width-23 $fp2 " +
        (if (fp1 == fp2) "[BIT-IDENTICAL]" else "[MISMATCH]"))
    }

    if (on("trainprof")) {
      // CENTROID-TRAINER DECOMPOSITION (VERDICT r16 item #6): the 8M
      // trainIvfCentroids wall read 250.9 s although the training set
      // is sample-bounded at 2^18 rows — so where does it go? Time the
      // bounded-sample pass in isolation (the only corpus-scale stage),
      // then A/B the MLlib KMeans trainer against the graft Lloyd
      // trainer, whose assignment step runs the early-exit nearestCells
      // kernel (the lever the verdict named). Matrices from different
      // init families are NOT comparable bit-wise — judge on wall AND
      // cell fidelity (anchor-mode kept %, clusters-at-exactly-1: the
      // round-13 metric that separated random from trained cells).
      import graft.ml.{SemDedup, Similarity, TextOps}
      val dim = 64
      val emb = t(s"trainprof embeddings @$nDocs") {
        TextOps.hashedNgramEmbedding(docs, "text", "embedding",
            n = 3, dim = dim)
          .select(col("doc_id").as("vec_id"), col("cluster"),
            col("embedding"))
          .localCheckpoint()
      }
      val kCells = math.max(1024, math.min(8192, (nDocs / 2000).toInt))
      val sample = t(s"trainprof bounded sample (cap 2^18) @$nDocs") {
        val s = Similarity.boundedTrainingSample(emb, "embedding", 0.1,
          1 << 18, 1000).localCheckpoint()
        s.count(); s
      }
      println(s"[mlbench] trainprof sample rows: ${sample.count()} " +
        s"(fit wall = trainer wall minus this pass, both trainers " +
        "re-run it internally)")
      sample.unpersist()
      val km = t(s"trainprof MLlib trainIvfCentroids k=$kCells") {
        Similarity.trainIvfCentroids(emb, kCells)
      }
      val ll = t(s"trainprof Lloyd trainIvfCentroidsLloyd k=$kCells") {
        Similarity.trainIvfCentroidsLloyd(emb, kCells)
      }
      def fid(cm: Array[Array[Long]], what: String): Unit = {
        val a = t(s"trainprof anchor t=70 under $what") {
          SemDedup.semanticDedup(emb, cm, 70, mode = "anchor")
            .localCheckpoint()
        }
        val k = a.agg(count(lit(1)),
          sum(when(col("kept"), 1L).otherwise(0L))).head()
        val t2 = emb.groupBy(col("cluster")).agg(count(lit(1)).as("_n"))
          .where(col("_n") >= 2).select(col("cluster"))
        val m = emb.join(t2, Seq("cluster"))
          .select(col("vec_id"), col("cluster"))
          .join(a.select(col("vec_id"), col("kept")), Seq("vec_id"))
        val s = m.where(col("kept")).groupBy(col("cluster"))
          .agg(count(lit(1)).as("s"))
          .agg(count(lit(1)), max(col("s")),
            sum(when(col("s") === 1, 1L).otherwise(0L))).head()
        println(f"[mlbench] trainprof $what fidelity: kept " +
          f"${k.getLong(1)}/${k.getLong(0)} = " +
          f"${k.getLong(1) * 100.0 / k.getLong(0)}%.3f%%, " +
          s"clusters-with-survivors ${s.getLong(0)}, " +
          s"max/cluster ${s.getLong(1)}, exactly-1 ${s.getLong(2)}")
        a.unpersist()
      }
      fid(km, "mllib")
      fid(ll, "lloyd")
      emb.unpersist()
    }

    spark.stop()
  }
}
