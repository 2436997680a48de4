package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]).
  *
  * Baseline: brute-force top-k via a key-partitioned block nested-loop
  * (exact). Scale path: LSH bucketing by random-hyperplane sign bits —
  * candidates only compare within a bucket, turning the O(n^2) scan into
  * a per-bucket quadratic with bucket sizes ~ n / 2^planes, distributed
  * by bucket hash.
  */
/** One KNN result row (rank is 1-based, ordered by dot desc, nb asc). */
case class KnnHit(vec_id: Long, nb: Long, dot: Long, rank: Int)

object Similarity {

  /** Element-wise quantization to integers (exact cross-engine math:
    * float -> double is exact, floor(double*scale) is IEEE-deterministic,
    * integer dot products are associative). */
  def quantize(vec: Column, scale: Int = 1000): Column =
    transform(vec, x => floor(x.cast("double") * scale).cast("long"))

  /** The array<int> spelling of [[quantize]] (round-18 narrowing, guide
    * §2.3 narrower types): identical values for any input satisfying the
    * kill-gate magnitude contract (sum x_i^2 must not wrap a long, which
    * already caps every |floor(x*scale)| well inside int32 for dim >= 4
    * — the [[graft.expr.ExprKernels.cosineKillGate]] scaladoc), at half
    * the bytes per component through every shuffle and quadratic join
    * that carries the vector. The dot/gate/argmin expressions dispatch
    * on the array's element type, so the two spellings are drop-in
    * interchangeable and bit-equal in every verdict (OpsSpec pins it);
    * out-of-contract magnitudes were undefined under the long spelling
    * too (wrapped norms break the one-sided abandon). */
  def quantizeInt(vec: Column, scale: Int = 1000): Column =
    transform(vec, x => floor(x.cast("double") * scale).cast("int"))

  /** Width-dispatching quantize: int32 components when `int32` (what
    * every fresh semdedup write stores), the historical array<long>
    * otherwise (persisted indexes written by older builds). */
  private[ml] def quantizeW(vec: Column, scale: Int, int32: Boolean): Column =
    if (int32) quantizeInt(vec, scale) else quantize(vec, scale)

  /** Integer dot product of two equally-sized long arrays — a codegen'd
    * Catalyst expression (graft.expr.DotLong); the previous
    * aggregate(zip_with(...)) higher-order-function chain paid per-element
    * interpreted lambda dispatch on every ANN candidate pair. */
  def dotLong(a: Column, b: Column): Column = graft.expr.Exprs.dot_long(a, b)

  /** Double-precision cosine similarity (library API; not used in the
    * oracle queries because float-sum order is engine-dependent). */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))
    val nb = sqrt(aggregate(transform(b, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))
    dot / (na * nb)
  }

  /** Exact brute-force top-k by quantized dot product (descending), ties
    * broken by neighbor id. Output: (idCol, nb, dot, rank).
    *
    * Physical shape: broadcast block nested loop — the reference side is
    * collected (n*d longs; 5k x 64 = 2.5 MB) and broadcast, each
    * partition streams its probe rows through a primitive-array top-k
    * scan. This keeps the O(n^2 d) inner loop in tight JVM code instead
    * of 25M interpreted higher-order-function calls, and distributes
    * linearly over probe partitions. For reference sets beyond executor
    * memory use lshTopK (bucketed candidates). */
  def bruteForceTopK(df: DataFrame, k: Int, idCol: String = "vec_id",
                     vecCol: String = "embedding", scale: Int = 1000,
                     maxBroadcastBytes: Long = 256L << 20): DataFrame = {
    // the collect is CONDITIONAL: this exact kernel is only valid while
    // the reference set fits the broadcast budget — beyond it, fail fast
    // toward the bucketed paths instead of silently OOMing the driver
    val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    require(estBytes <= BigInt(maxBroadcastBytes),
      s"bruteForceTopK: reference set estimate ($estBytes bytes) exceeds " +
        s"the broadcast budget ($maxBroadcastBytes); use lshTopK or ivfTopK " +
        "(bucketed candidate joins) for corpus-scale ANN")
    val spark = df.sparkSession
    val q = df.select(col(idCol).cast("long").as("id"),
      quantize(col(vecCol), scale).as("v"))
    val ref: Array[(Long, Array[Long])] = q.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
    val bc = spark.sparkContext.broadcast(ref)
    // the O(n*d) per-row reference scan runs wherever the probe's scan
    // splits land — fan a one-row-group input out first (no-op at scale)
    val out = graft.core.Sizing.fanOutSmallScan(q).mapPartitions { it =>
      val refs = bc.value
      it.flatMap { row =>
        val id = row.getLong(0)
        val v = row.getSeq[Long](1).toArray
        val dots = new Array[Long](k)
        val nbs = new Array[Long](k)
        var filled = 0
        var i = 0
        while (i < refs.length) {
          val (nb, w) = refs(i)
          if (nb != id) {
            var d = 0L
            var j = 0
            val n = math.min(v.length, w.length)
            while (j < n) { d += v(j) * w(j); j += 1 }
            // insertion position: ordered by (dot desc, nb asc); refs are
            // nb-ascending so equal dots never displace an earlier nb.
            var pos = filled
            while (pos > 0 && d > dots(pos - 1)) pos -= 1
            if (pos < k) {
              val upto = math.min(filled, k - 1)
              var m = upto
              while (m > pos) { dots(m) = dots(m - 1); nbs(m) = nbs(m - 1); m -= 1 }
              dots(pos) = d
              nbs(pos) = nb
              if (filled < k) filled += 1
            }
          }
          i += 1
        }
        (0 until filled).iterator.map(r2 => KnnHit(id, nbs(r2), dots(r2), r2 + 1))
      }
    }(org.apache.spark.sql.Encoders.product[KnnHit])
    out.toDF(idCol, "nb", "dot", "rank")
  }

  /** IVF (inverted-file) approximate top-k — the other classic ANN scale
    * path next to LSH: KMeans centroids partition the vectors into
    * coarse cells; each query probes its `nProbe` nearest cells and
    * brute-forces only within them. Deterministic (fixed seed).
    * Distributed shape: the candidate join is an equi-join on the cell
    * id, so work scales with cell population, not n^2. */
  def ivfTopK(df: DataFrame, k: Int, idCol: String = "vec_id",
              vecCol: String = "embedding", nCentroids: Int = 16,
              nProbe: Int = 3, scale: Int = 1000,
              centroids: Option[Array[Array[Long]]] = None): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // centroid-distance + per-pair dot compute runs in the scan stage
    // under a broadcast build; don't serialize it behind one row group
    val base = graft.core.Sizing.fanOutSmallScan(df)
      .select(col(idCol).cast("long").as(idCol),
        quantize(col(vecCol), scale).as("_q"))
    // centroids: pass a fixed matrix (e.g. ivfCentroids) to skip the
    // KMeans fit — cross-engine-reproducible cells for oracle testing,
    // or externally trained centers at production scale
    val centers = centroids.getOrElse {
      val feats = df.select(
        array_to_vector(transform(col(vecCol), x => x.cast("double"))).as("features"))
      val model = new KMeans().setK(nCentroids).setSeed(42L).setMaxIter(10)
        .fit(feats)
      model.clusterCenters.map(_.toArray.map(v => math.floor(v * scale).toLong))
    }
    val withCells = base.withColumn("_cells",
      nearestCells(col("_q"), centers, nProbe))
    // ONE posexplode instead of nProbe unioned element_at branches: the
    // union re-planned (and re-codegen'd) the whole 16-centroid distance
    // block per branch — 3x the generated source for identical rows.
    // Position 0 of the exploded probe list IS the membership cell.
    val exploded = withCells.select(col(idCol), col("_q"),
      posexplode(col("_cells")).as(Seq("_p", "_cell")))
    val memberCell = exploded.filter(col("_p") === 0)
      .select(col(idCol).as("nb"), col("_q").as("_qb"), col("_cell"))
    val pairs = exploded.alias("l")
      .join(memberCell.alias("r"), Seq("_cell"))
      .filter(col(idCol) =!= col("nb"))
      .withColumn("dot", dotLong(col("l._q"), col("_qb")))
      .select(col(idCol), col("nb"), col("dot")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("dot").desc, col("nb"))
    pairs.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** The `nProbe` nearest centroid cell ids for a quantized vector, as
    * ONE compact codegen'd expression (graft.expr.NearestCellsLong):
    * |v-c|^2 orders identically to |c|^2 - 2*v.c (the |v|^2 term shifts
    * every centroid's distance equally); the centroid matrix rides as a
    * codegen REFERENCE OBJECT and a primitive insertion loop keeps the
    * nProbe best by (distance, cell id). Euclidean is the metric KMeans
    * optimized, so probe cells line up with membership cells (raw dot
    * would bias toward long centroids). Element 0 is the MEMBERSHIP
    * cell; distance ties go to the smaller cell id.
    *
    * History of this expression (both cliffs measured and recorded in
    * BASELINE.md): the first spelling was array_sort over per-cell
    * (d, c) struct literals — ArraySort's comparator is interpreted per
    * element, and TimSort's ~2k interpreted compares per row made
    * writeIvf ~1,000 s at 2M x 256 cells (round-10 row; a least() argmin
    * fixed the nProbe == 1 path). The unrolled struct spelling then hit
    * the OTHER ceiling: one comparator per cell crosses Janino's 64 KB
    * method limit at ~1024 cells and drops the whole stage to
    * interpreted (round-13 semdedup soak). The reference-matrix kernel
    * has neither failure mode: O(1) generated code, O(cells * dim)
    * tight-loop work per row.
    *
    * ROUND-15 MEASURED OUTCOME (BASELINE.md round15-assign): the flat
    * kernel gained a PARTIAL-DISTANCE EARLY EXIT (true-squared-distance
    * accumulation is monotone, so a cell is abandoned mid-row once its
    * partial sum strictly exceeds the running nProbe-th best) — 8M x
    * k=4000 x 64-dim full-corpus assignment 150.8 -> 115.2 s,
    * bit-equal by construction. A TWO-LEVEL branch-and-bound variant
    * (graft.expr.NearestCellsTwoLevel: ~sqrt(k) super-cells scanned
    * nearest-first + triangle-inequality pruning) was built, proven
    * bit-equal (OpsSpec), and REJECTED as the default: on the
    * high-dimensional hashed-text embeddings that motivated it, the
    * triangle bound barely prunes (radii ~ query distances — distance
    * concentration) and the distance-ordered member scan gives up the
    * flat scan's sequential prefetch locality, measuring 210.1 s
    * un-exited / 172.4 s exited vs the flat kernel's 150.8 / 115.2 s
    * at 8M x 4000 x 64. It remains available as an explicit opt-in
    * for genuinely clustered low-dimensional cell geometries, where
    * the bound does fire. */
  def nearestCells(q: Column, centers: Array[Array[Long]], nProbe: Int): Column =
    graft.expr.Exprs.nearest_cells(q, centers, nProbe)

  /** Supervised nearest-centroid assignment (a Rocchio-style classifier
    * and label-purity probe): per-label integer centroid SUMS over the
    * quantized vectors, then every vector joins the label whose MEAN
    * centroid has the highest dot product with it. The score is
    * dot(v, S_L) / n_L — exact integers (|dot| < 2^53) through one
    * correctly-rounded double division, so equal rationals collapse to
    * identical doubles and the argmax is engine-exact; ties break
    * toward the smaller label. Output: the confusion matrix
    * (label, assigned, n).
    *
    * Distributed shape: posexplode + two-level aggregation reduces the
    * corpus to an nLabels x dim sum table (tiny — collected like the
    * KMeans/ivfCentroids matrices), which folds back into the probe
    * scan as literal arrays — one codegen'd DotLong per label, no
    * shuffle on the assignment side beyond the final <= nLabels^2-row
    * count. */
  def nearestCentroid(df: DataFrame, labelCol: String = "label",
                      vecCol: String = "embedding",
                      scale: Int = 1000): DataFrame = {
    // Filter AFTER the cast: a label that casts to NULL (non-ANSI
    // deployments) would otherwise be dropped from the centroid table by
    // the inner join yet still scored, emitting NULL-label matrix rows.
    // Empty vectors are excluded too — they score 0 against every
    // centroid, which is assignment noise, not signal.
    val q0 = df
      .select(col(labelCol).cast("long").as("label"),
        quantize(col(vecCol), scale).as("_q"))
      .where(col("label").isNotNull && col("_q").isNotNull &&
        size(col("_q")) > 0)
    val sums = q0.select(col("label"), posexplode(col("_q")).as(Seq("_p", "_x")))
      .groupBy(col("label"), col("_p")).agg(sum(col("_x")).as("_s"))
      .groupBy(col("label")).agg(
        transform(array_sort(collect_list(struct(col("_p"), col("_s")))),
          s => s.getField("_s")).as("_sums"))
    val counts = q0.groupBy(col("label")).agg(count(lit(1)).as("_n"))
    val cents: Array[(Long, Long, Array[Long])] = sums.join(counts, "label")
      .collect().map(r => (r.getLong(r.fieldIndex("label")),
        r.getLong(r.fieldIndex("_n")),
        r.getSeq[Long](r.fieldIndex("_sums")).toArray)).sortBy(_._1)
    require(cents.nonEmpty,
      "nearestCentroid: no labeled vectors (empty input after null filter)")
    // argmin over struct(-score, label): equal scores pick the smaller
    // label; the centroid literals keep the scoring pass in whole-stage
    // codegen (same shape as nearestCells) — least(), not array_sort,
    // because ArraySort's comparator is interpreted per element and
    // this runs once per corpus row (the nearestCells lesson)
    val scored = cents.map { case (lab, n, sv) =>
      struct((lit(0.0) - dotLong(col("_q"), typedLit(sv.toSeq)).cast("double")
        / lit(n.toDouble)).as("d"), lit(lab).as("c"))
    }
    val best = if (scored.length == 1) scored.head else least(scored: _*)
    graft.core.Sizing.fanOutSmallScan(q0)
      .withColumn("assigned", best.getField("c"))
      .groupBy(col("label"), col("assigned"))
      .agg(count(lit(1)).as("n"))
  }

  /** Embedding-cosine near-duplicate pairs: (a, b, dot) where the
    * quantized dot product clears `minDot` (derive minDot from a cosine
    * threshold x scale^2 for unit-norm vectors). exact=true compares all
    * pairs (one global bucket); otherwise candidates share an LSH bucket
    * — the same plan shape either way, an equi-join on the bucket id. */
  def cosineNearDupPairs(df: DataFrame, minDot: Long, idCol: String = "vec_id",
                         vecCol: String = "embedding", exact: Boolean = false,
                         planes: Int = 8, scale: Int = 1000,
                         dim: Int = 0): DataFrame = {
    val bucket =
      if (exact) lit(0L)
      else if (dim > 0) lshBucketFixed(col(vecCol), planes, dim)
      else lshBucket(col(vecCol), planes)
    // NOT fanned out: bucket hashing is light and the bucket equi-join
    // shuffles anyway — measured net loss (0.33 -> 0.45 s interleaved)
    val q = df.select(col(idCol).cast("long").as("a"),
      quantize(col(vecCol), scale).as("_qa"),
      bucket.as("_bkt"))
    val r = q.select(col("a").as("b"), col("_qa").as("_qb"), col("_bkt"))
    q.join(r, Seq("_bkt")).filter(col("a") < col("b"))
      .withColumn("dot", dotLong(col("_qa"), col("_qb")))
      .filter(col("dot") >= minDot)
      .select(col("a"), col("b"), col("dot"))
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * md5-derived value in [-500, 500). Portable to SQL if ever needed. */
  private def planeComponent(plane: Int, dim: Column): Column =
    (conv(substring(md5(concat(lit(s"p$plane-"), dim.cast("string"))), 1, 8), 16, 10)
      .cast("long") % 1000) - 500

  /** The hyperplane coefficient matrix as JVM-computed literals — the
    * exact same md5-derived values `planeComponent` produces row-side,
    * but materialized once at plan-build time. Public so an external
    * oracle (e.g. DuckDB SQL) can inline the identical coefficients. */
  def planeMatrix(planes: Int, dim: Int): Array[Array[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(planes, dim) { (p, d) =>
      md.reset()
      val hex = md.digest(s"p$p-$d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % 1000 - 500
    }
  }

  /** Deterministic pseudo-random IVF centroid matrix in quantized space
    * (md5-derived like `planeMatrix`, components in [-scale, scale)) —
    * for `ivfTopK(centroids = ...)` where cross-engine reproducibility
    * matters more than cell quality; an external oracle inlines the
    * identical literals. */
  def ivfCentroids(nCells: Int, dim: Int, scale: Int = 1000): Array[Array[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val raw = Array.tabulate(nCells, dim) { (c, d) =>
      md.reset()
      val hex = md.digest(s"c$c-$d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % (2L * scale) - scale
    }
    // normalize every row to a COMMON norm (~scale): with mixed norms the
    // |c|^2 term dominates the euclidean argmin and most vectors collapse
    // into whichever centroid happens to be shortest — one quadratic
    // cell. Equal norms make assignment direction-only, so cells stay
    // balanced. Integer rounding, literal-portable to SQL oracles.
    raw.map { row =>
      val norm = math.sqrt(row.map(v => v.toDouble * v).sum)
      row.map(v => math.round(v * scale / norm))
    }
  }

  /** Train IVF coarse centroids with k-means over the corpus's OWN
    * quantized vectors — the production path for `ivfTopK` /
    * `AnnIndex.writeIvf` cells and [[SemDedup.semanticDedup]] clusters.
    * The md5 [[ivfCentroids]] matrix exists for cross-engine oracle
    * replay; on real data cells must TRACK the distribution — measured
    * with teeth in BASELINE.md round13-semdedup: anchor-mode semantic
    * dedup keeps 76% of a corpus under random cells and exactly the
    * ideal 0.013% under trained ones. Same contract as
    * [[Pq.trainCodebooks]]: a fixed hash-acceptance sample (ONE pass, no
    * count() pre-pass), constant partition width and a fixed seed
    * (reproducible per environment — persist trained matrices rather
    * than re-deriving), and padding by cycling when k-means converges
    * short of `nCells` (a padded copy never wins the argmin — ties go
    * to the smaller cell id). Returns nCells x dim longs in quantized
    * space, literal-portable like every centroid matrix here.
    *
    * The training set is BOUNDED: at most `maxSampleRows` rows survive
    * regardless of corpus size (see [[boundedTrainingSample]]), so the
    * default call cannot pin terabytes through `localCheckpoint` at
    * 100 TB — the trainer's wall flattens once the corpus grows past
    * cap/fraction (BASELINE.md round14-banded-pairwise, `traincap`
    * rows: 9.1/10.8/20.8 s at 2M/8M/32M, sample capped at 262,144).
    *
    * `maxIter` guidance (MEASURED, BASELINE.md round15-traincap-iters):
    * raising Lloyd iterations does NOT recover the bounded draw's
    * cell-fidelity wobble — maxIter 10/25/50 on the capped 2M sample
    * produced IDENTICAL anchor-semdedup results (kept 1.578%, 248/256
    * clusters at exactly-1; k-means has already converged by the
    * default 10). The wobble vs an unbounded draw (r13's 1.201%) is
    * sample COMPOSITION, a different local optimum — if cell fidelity
    * matters more than trainer wall, raise `maxSampleRows`, not
    * `maxIter`. */
  def trainIvfCentroids(df: DataFrame, nCells: Int,
                        vecCol: String = "embedding", scale: Int = 1000,
                        sampleFraction: Double = 0.1,
                        maxSampleRows: Int = 1 << 18,
                        maxIter: Int = 10): Array[Array[Long]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(nCells >= 1, s"nCells must be >= 1, got $nCells")
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    val sample = boundedTrainingSample(df, vecCol, sampleFraction,
        maxSampleRows, scale)
      .select(array_to_vector(transform(col("_q"),
        x => x.cast("double"))).as("features"))
      .localCheckpoint()
    padToK(new KMeans().setK(nCells).setSeed(42L).setMaxIter(maxIter)
      .fit(sample).clusterCenters.map(_.toArray.map(math.round)), nCells)
  }

  /** The graft-native Lloyd trainer — the [[trainIvfCentroids]]
    * alternative whose assignment step runs through the early-exit
    * [[nearestCells]] kernel (VERDICT r16 item #6: the partial-distance
    * exit that cut the 8M full-corpus assignment 150.8 -> 115.2 s,
    * applied to training). Same BOUNDED sample contract
    * ([[boundedTrainingSample]]), but — unlike the MLlib fit, whose
    * float aggregation order makes it "reproducible per environment" —
    * every stage here is ORDER-FREE and content-determined, so the
    * trained matrix is identical on any cluster, any partitioning:
    *
    *  - init: the `nCells` DISTINCT sample vectors with the smallest
    *    (xxhash64(vector), vector) — a deterministic spread-by-hash
    *    draw (k-means|| exists to beat adversarial inits; a content
    *    hash is already uniform over the sample);
    *  - assignment: exact integer argmin via the codegen'd
    *    [[nearestCells]] expression, ties to the smaller cell
    *    (distributed — the sample never collects);
    *  - update: per-cell component MEANS from exact integer sums
    *    (posexplode + sum — associative longs, order-free), rounded to
    *    the quantized grid; an emptied cell keeps its previous center.
    *
    * The driver holds only the nCells x dim matrix between iterations
    * (the same object every trainer ships to executors). Centroids
    * differ from the MLlib fit's (different init family), so A/B on
    * CELL FIDELITY — anchor-mode kept fraction, clusters-at-exactly-1
    * (the round-13 metric) — not on matrix equality; MlBench
    * `trainprof` records both walls and both quality rows. */
  def trainIvfCentroidsLloyd(df: DataFrame, nCells: Int,
                             vecCol: String = "embedding",
                             scale: Int = 1000,
                             sampleFraction: Double = 0.1,
                             maxSampleRows: Int = 1 << 18,
                             maxIter: Int = 10): Array[Array[Long]] = {
    require(nCells >= 1, s"nCells must be >= 1, got $nCells")
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    val sample = boundedTrainingSample(df, vecCol, sampleFraction,
      maxSampleRows, scale).localCheckpoint()
    val init = sample.select(col("_q")).distinct()
      .withColumn("_h", xxhash64(col("_q")))
      .orderBy(col("_h"), col("_q"))
      .limit(nCells)
      .collect().map(_.getSeq[Long](0).toArray)
    require(init.nonEmpty,
      "trainIvfCentroidsLloyd: empty training sample (no valid vectors)")
    var centers = padToK(init, nCells)
    var it = 0
    while (it < maxIter) {
      // TWO-STEP select, deliberately: `select(assign, posexplode(q))`
      // would put the argmin in the Project ABOVE the Generate
      // (ExtractGenerator keeps non-generator expressions with the
      // generator's project list), evaluating the k x dim scan once per
      // EXPLODED ELEMENT — measured 752 s vs 28 s for the whole MLlib
      // trainer at 2M/k=1024. Assigning in a lower select makes `_c` a
      // pass-through attribute of the Generate: once per row.
      val sums = sample.select(col("_q"),
          element_at(nearestCells(col("_q"), centers, 1), 1).as("_c"))
        .select(col("_c"), posexplode(col("_q")).as(Seq("_p", "_x")))
        .groupBy(col("_c"), col("_p"))
        .agg(sum(col("_x")).as("_s"), count(lit(1)).as("_n"))
        .collect()
      val next = centers.map(_.clone())
      for (r <- sums) {
        val c = r.getLong(0).toInt
        val p = r.getInt(1)
        if (p < next(c).length)
          next(c)(p) = math.round(r.getLong(2).toDouble / r.getLong(3))
      }
      centers = next
      it += 1
    }
    centers
  }

  /** The shared k-means training-sample draw (ONE pass, no count()
    * pre-pass): a fixed 20-bit xxhash acceptance threshold on the
    * vector bytes, with NULL and EMPTY vectors excluded — an empty
    * array survives a bare hash filter all-or-nothing (its hash is a
    * constant) and then crashes KMeans on dimension mismatch. One
    * definition for [[trainIvfCentroids]] and [[Pq.trainCodebooks]];
    * fixes to either's sampling land in both. */
  private[ml] def sampleByHash(df: DataFrame, vecCol: String,
                               fraction: Double): DataFrame = {
    require(fraction > 0 && fraction <= 1,
      s"sampleFraction must be in (0, 1], got $fraction")
    val bits = 1L << 20
    val accept = math.max(1L, math.round(fraction * bits))
    df.where(col(vecCol).isNotNull && size(col(vecCol)) > 0 &&
      pmod(xxhash64(col(vecCol)), lit(bits)) < accept)
  }

  /** The shared BOUNDED k-means training sample for
    * [[trainIvfCentroids]] and [[Pq.trainCodebooks]]: the
    * [[sampleByHash]] acceptance draw, then at most
    * `maxRows / 64` rows per 64-way hash residue — smallest content
    * hashes first — re-hashed into a CONSTANT 64-partition width with
    * a pinned within-partition order. Every stage is a pure function
    * of row CONTENT (xxhash of the quantized vector), so the trained
    * set — membership, partition layout, and row order, hence the
    * k-means float-aggregation order — is identical on any input
    * partitioning, and the memory the fit pins is capped at
    * ~maxRows x vector width no matter how large the corpus grows
    * (round-13 ADVICE: the unbounded 10% draw made the trainer itself
    * the 100 TB bottleneck). One shuffle over the accepted fraction;
    * shrink `fraction` as the corpus grows to cut that pass too.
    * Returns the quantized vectors as `_q`. */
  private[graft] def boundedTrainingSample(df: DataFrame, vecCol: String,
                                           fraction: Double, maxRows: Int,
                                           scale: Int): DataFrame = {
    require(maxRows >= 64, s"maxSampleRows must be >= 64, got $maxRows")
    val parts = 64
    val capPer = math.max(1L, maxRows.toLong / parts)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_pp")).orderBy(col("_h"), col("_q"))
    sampleByHash(df, vecCol, fraction)
      .select(quantize(col(vecCol), scale).as("_q"))
      .withColumn("_h", xxhash64(col("_q")))
      .withColumn("_pp", pmod(col("_h"), lit(parts.toLong)))
      .repartition(parts, col("_pp"))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= capPer)
      .select(col("_q"))
  }

  /** Pad a trained center matrix short of `k` by cycling (k-means can
    * converge to fewer distinct centers than k); a padded copy never
    * wins an argmin — ties go to the smaller id. */
  private[ml] def padToK(trained: Array[Array[Long]], k: Int): Array[Array[Long]] =
    if (trained.length >= k) trained
    else Array.tabulate(k)(i => trained(i % trained.length))

  /** lshBucket for a KNOWN embedding dimension: the plane matrix folds to
    * array literals (no per-row md5), so the bucket computation is a pure
    * codegen'd arithmetic pass. Produces bit-identical buckets to
    * `lshBucket` (same md5-derived coefficients). */
  def lshBucketFixed(vec: Column, planes: Int, dim: Int,
                     scale: Int = 1000): Column = {
    val m = planeMatrix(planes, dim)
    // codegen'd primitive dot (expr.DotLong) — the aggregate(zip_with)
    // HOF form runs interpreted per element and defeats subexpression
    // elimination of the shared quantize()
    val q = quantize(vec, scale)
    val bits = (0 until planes).map { p =>
      val dot = dotLong(q, typedLit(m(p).toSeq))
      when(dot >= 0, lit(1L << p)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** LSH bucket id: sign bits of dot(vec, plane_p) for p in [0, planes).
    * Vectors in the same bucket are near-ish; join within buckets for
    * candidate pairs, then verify exactly. */
  def lshBucket(vec: Column, planes: Int = 8): Column = {
    val bits = (0 until planes).map { p =>
      val dot = aggregate(
        zip_with(quantize(vec), transform(sequence(lit(0), size(vec) - 1),
          d => planeComponent(p, d)), (x, y) => x * y),
        lit(0L), (acc, v) => acc + v)
      when(dot >= 0, lit(1L << p)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** Approximate top-k: LSH-bucketed brute force (candidates share a
    * bucket). Recall < 1 by construction; raise `planes` for smaller
    * buckets / lower recall, lower for the reverse. */
  def lshTopK(df: DataFrame, k: Int, idCol: String = "vec_id",
              vecCol: String = "embedding", planes: Int = 8,
              scale: Int = 1000, dim: Int = 0): DataFrame = {
    val bucket = if (dim > 0) lshBucketFixed(col(vecCol), planes, dim, scale)
                 else lshBucket(col(vecCol), planes)
    // NOT fanned out: same shape as cosineNearDupPairs — measured net
    // loss (0.42 -> 0.77 s interleaved A/B)
    val q = df.select(col(idCol), quantize(col(vecCol), scale).as("_q"),
      bucket.as("_bkt"))
    val l = q.select(col(idCol), col("_q"), col("_bkt"))
    val r = q.select(col(idCol).as("nb"), col("_q").as("_qb"), col("_bkt"))
    val pairs = l.join(r, Seq("_bkt")).filter(col(idCol) =!= col("nb"))
      .withColumn("dot", dotLong(col("_q"), col("_qb")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("dot").desc, col("nb"))
    pairs.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col(idCol), col("nb"), col("dot"), col("rank"))
  }
}
