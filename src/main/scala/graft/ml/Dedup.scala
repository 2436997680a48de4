package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact (hash
  * groupBy), MinHash + LSH banding, SimHash, and exact n-gram Jaccard
  * verification of candidate pairs.
  *
  * Scale design: every step is a hash-partitioned groupBy/join on a
  * well-distributed key (content hash, (band, bandHash) bucket), so the
  * plan scales linearly with corpus size; the quadratic step (candidate
  * pair verification) only runs within LSH buckets, which stay small for
  * any reasonable band width.
  */
object Dedup {

  /** The seeded-MinHash scheme shared by every LSH consumer (signature,
    * pair generation, the persisted [[DedupIndex]], and its streaming
    * probe): hash i of a shingle is `md5(i.toString || shingle)`, the
    * signature is the per-document minimum of each hash. These three
    * helpers are the single definition of that scheme — the DuckDB
    * oracles replay the same strings, so any change here must be
    * mirrored there (and only there). */
  /** Per-row signature columns h1..hN over a shingle-array column —
    * the streaming/stateless form (array_min, no groupBy). */
  private[ml] def perRowSignature(sh: Column, numHashes: Int): Seq[Column] =
    (1 to numHashes).map(i =>
      array_min(transform(sh, x => md5(concat(lit(i.toString), x)))).as(s"h$i"))

  /** groupBy-side signature aggregates over the distinct (id, "sh")
    * table: seeded-md5 mins h1..hN plus the distinct-shingle count
    * `ns` — one aggregation yields signature AND set size. */
  private[ml] def signatureAggs(numHashes: Int): Seq[Column] =
    (1 to numHashes).map(i =>
      min(md5(concat(lit(i.toString), col("sh")))).as(s"h$i")) :+
      count(lit(1)).as("ns")

  /** One struct per LSH band over signature columns h1..hN:
    * (band = first hash index, bh = "|"-joined member hashes). */
  private[ml] def bandStructs(numHashes: Int, bandSize: Int): Seq[Column] =
    (1 to numHashes by bandSize).map { start =>
      val cols = (start until math.min(start + bandSize, numHashes + 1))
        .map(i => col(s"h$i"))
      struct(lit(start).as("band"), concat_ws("|", cols: _*).as("bh"))
    }

  /** Exact dedup on an arbitrary normalization key (e.g. md5 of the raw
    * text, or of a normalized prefix): one row per group with the
    * smallest id as the keeper and the duplicate count. */
  def exactGroups(df: DataFrame, key: Column, idCol: String = "doc_id",
                  keyName: String = "h"): DataFrame =
    df.groupBy(key.as(keyName))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))

  /** Drop exact duplicates, keeping the smallest id per key.
    *
    * Shape: ONE shuffle (hash on the content key) via a window min —
    * the previous groupBy + left_semi spelling shuffled twice more AND
    * evaluated the upstream plan in both join branches (expensive when
    * the caller feeds a scored/gated projection, q66). Content-hash
    * keys are near-unique, so the per-key window sort is tiny and
    * cannot skew. */
  def dropExactDuplicates(df: DataFrame, key: Column,
                          idCol: String = "doc_id"): DataFrame =
    df.withColumn("_min_id", min(col(idCol)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(key)))
      .where(col(idCol) === col("_min_id"))
      .drop("_min_id")

  /** MinHash signature as `numHashes` string-min md5 values over k-word
    * shingles. Using the lexicographic min of seeded md5 hex digests
    * makes the signature portable across engines (identical in DuckDB)
    * while preserving the MinHash property (md5 ~ random permutation of
    * the shingle universe per seed). Docs with < k words get an empty
    * signature and are excluded. */
  def minhashSignature(df: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id", numHashes: Int = 4,
                       shingleK: Int = 3): DataFrame = {
    val sh = TextOps.wordShingles(col(textCol), shingleK)
    // numHashes md5 calls per shingle is the dominant cost of every
    // minhash consumer; don't let a one-row-group scan serialize it
    graft.core.Sizing.fanOutSmallScan(df)
      .filter(size(TextOps.tokens(col(textCol))) >= shingleK)
      .select(col(idCol) +: perRowSignature(sh, numHashes)
        :+ size(sh).as("n_shingles"): _*)
  }

  /** LSH candidate pairs: documents sharing at least one signature band.
    * bandSize=1 => a band per hash (highest recall). Output: (a, b)
    * id pairs with a < b, distinct. */
  def lshCandidatePairs(sig: DataFrame, idCol: String = "doc_id",
                        numHashes: Int = 4, bandSize: Int = 1): DataFrame = {
    val bands = bandStructs(numHashes, bandSize)
    val exploded = sig.select(col(idCol), explode(array(bands: _*)).as("_b"))
      .select(col(idCol), col("_b.band"), col("_b.bh"))
    val l = exploded.alias("l")
    val r = exploded.alias("r")
    l.join(r, col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("a"), col(s"r.$idCol").as("b"))
      .distinct()
  }

  /** Verify-join representation dispatch (spark.graft.dedup.verifyKey).
    * "auto" (default) follows the caller's leaf-bytes gate — the same
    * Sizing.decide that governs the shingle persist: ARRAYS above it
    * (one distinct-shingle array per pair side, scalar intersect — the
    * scale path: -46% shuffle / -85% spill at 2M-8M docs with walls at
    * parity, BASELINE.md round11-star-array-ab), row-explosion STRINGS
    * below it (measured ~2x faster steady at suite scale, where
    * per-row array handling dominates and footprint is irrelevant —
    * interleaved q24 Profile A/B, round11). "array"/"string" force a
    * spelling; outputs are bit-identical in every mode (OpsSpec A/Bs +
    * the 2M/4M starab identity check), so the dispatch can never
    * change results. Caveat for non-file frames: a checkpointed frame
    * inherits its ORIGINAL leaves' stats (a range-built synthetic
    * corpus reads ~22 B/row, underestimating real text ~14x), so the
    * gate trips late there — force "array" for in-memory corpora you
    * know are big (the soak harness does); parquet-backed corpora, the
    * production case, report true scan bytes. */
  private[ml] def verifyArrays(big: Boolean): Boolean =
    org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.dedup.verifyKey", "auto") match {
      case "array" => true
      case "string" => false
      case "auto" => big
      case other =>
        // reject typos loudly: a forced A/B silently falling back to
        // the auto gate would measure the WRONG path
        throw new IllegalArgumentException(
          s"spark.graft.dedup.verifyKey must be auto|array|string, got '$other'")
    }

  /** Exact shingle-set Jaccard for candidate pairs: returns (a, b,
    * n_intersect, n_union) — integer-valued so the similarity is exact.
    * `docs` must carry (idCol, textCol). */
  def pairJaccard(docs: DataFrame, candidates: DataFrame,
                  textCol: String = "text", idCol: String = "doc_id",
                  shingleK: Int = 3): DataFrame = {
    // representation via [[verifyArrays]] (auto = this leaf-bytes gate).
    // Zero-intersection candidates surface with n_intersect=0 in both
    // spellings; candidates whose doc has no shingles drop in both.
    //
    // SEMI-PREFILTER the corpus to the candidates' own doc ids before
    // any shingling (round-17, guide §3.2 / §8): this is the serve-time
    // exact-verify primitive (probeStream hits -> foreachBatch verify),
    // where one micro-batch's candidate set touches a sliver of the
    // corpus — without the prefilter every batch re-tokenizes and
    // re-shingles ALL of `docs` (twice, once per join side). The semi
    // join ships only ids (broadcast at serve scale), so per-batch cost
    // becomes proportional to the batch's documents, not the corpus;
    // result-identical by construction (both downstream joins are inner
    // on those same ids). A full-coverage batch pays one extra id
    // semi-join — noise next to the shingling it cannot avoid. No
    // forced broadcast: the planner broadcasts the distinct-id frame
    // when it is small (the serve shape) and falls back to a shuffled
    // semi when a batch-mode caller verifies corpus-scale pair lists.
    val candIds = candidates.select(col("a").as(idCol))
      .union(candidates.select(col("b").as(idCol))).distinct()
    val docsPre = docs.join(candIds, Seq(idCol), "left_semi")
    // The representation gate sizes the frame that is actually SHINGLED
    // — the PREFILTERED corpus (round-18, VERDICT r17 item #7). Leaf
    // stats cannot see through the semi join (docsPre's leaves are docs'
    // plus candidates'), so the bound is spelled min-wise: docsPre is
    // large only when BOTH the corpus is large AND the candidate list is
    // (each pair touches <= 2 docs, so a serve micro-batch caps the
    // trimmed corpus at batch size no matter how many terabytes the
    // full corpus scans). The candidate bar is the shingle bar scaled
    // by representation (~20 B/pair vs ~1 KB/doc text, 2 docs/pair):
    // 1 MB of pairs ~ 50k pairs ~ <= 100k docs ~ the 64 MB text bar.
    // Forcing via spark.graft.dedup.verifyKey overrides both reads.
    val useArrays = verifyArrays(
      graft.core.Sizing.decide("pairJaccardShingles", 64L << 20, docs) &&
        graft.core.Sizing.decide("pairJaccardCandidates", 1L << 20,
          candidates))
    if (useArrays) {
      val arr = graft.core.Sizing.fanOutSmallScan(docsPre)
        .select(col(idCol),
          array_distinct(TextOps.wordShingles(col(textCol), shingleK)).as("_shs"))
        .where(size(col("_shs")) > 0)
      candidates
        .join(arr.select(col(idCol).as("a"), col("_shs").as("_sa")), Seq("a"))
        .join(arr.select(col(idCol).as("b"), col("_shs").as("_sb")), Seq("b"))
        .select(col("a"), col("b"),
          size(array_intersect(col("_sa"), col("_sb"))).cast("long").as("ni"),
          size(col("_sa")).cast("long").as("nsa"),
          size(col("_sb")).cast("long").as("nsb"))
        .select(col("a"), col("b"), col("ni").as("n_intersect"),
          (col("nsa") + col("nsb") - col("ni")).as("n_union"))
    } else {
      val sh = graft.core.Sizing.fanOutSmallScan(docsPre)
        .select(col(idCol), explode(TextOps.wordShingles(col(textCol), shingleK)).as("sh"))
        .distinct()
      val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("ns"))
      val inter = candidates
        .join(sh.select(col(idCol).as("a"), col("sh")), Seq("a"))
        .join(sh.select(col(idCol).as("b"), col("sh")), Seq("b", "sh"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("ni"))
      candidates.join(inter, Seq("a", "b"), "left").na.fill(0L, Seq("ni"))
        .join(sizes.select(col(idCol).as("a"), col("ns").as("nsa")), Seq("a"))
        .join(sizes.select(col(idCol).as("b"), col("ns").as("nsb")), Seq("b"))
        .select(col("a"), col("b"), col("ni").as("n_intersect"),
          (col("nsa") + col("nsb") - col("ni")).as("n_union"))
    }
  }

  /** MinHash near-dup pipeline: signature -> LSH buckets -> exact Jaccard
    * >= threshold (numerator/denominator compare, no floats).
    *
    * The distinct (doc, shingle) table is the single shared input of
    * signature, set-size, and intersection stages — persisted so the
    * expensive tokenize+shingle scan runs once instead of three times. */
  def nearDuplicatePairs(docs: DataFrame, textCol: String = "text",
                         idCol: String = "doc_id", numHashes: Int = 4,
                         bandSize: Int = 1, shingleK: Int = 3,
                         minJaccardPct: Int = 50): DataFrame = {
    // Persist the shared shingle table only when the corpus is big
    // enough that recomputing the tokenize+shingle scan 3x costs more
    // than the memory round-trip: below the threshold the persist just
    // pins partition layouts (defeating AQE coalescing) and adds stage
    // boundaries — a 5x slowdown on small inputs at high core counts.
    // Gated on LEAF scan bytes (Sizing), not the derived-plan estimate,
    // which swings 2-5x with projection width (round-2 reconciliation).
    val big = graft.core.Sizing.decide("nearDupShingles", 64L << 20, docs)
    // verify-join representation via [[verifyArrays]]: auto follows the
    // same leaf-bytes gate as the persist above.
    val useArrays = verifyArrays(big)
    def pin(d: DataFrame): DataFrame =
      if (big) d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else d
    val docArr =
      if (useArrays)
        pin(docs.select(col(idCol),
            array_distinct(TextOps.wordShingles(col(textCol), shingleK)).as("_shs"))
          .where(size(col("_shs")) > 0))
      else null
    val dsh =
      if (useArrays) null
      else pin(docs.select(col(idCol),
          explode(TextOps.wordShingles(col(textCol), shingleK)).as("sh"))
        .distinct())
    // one groupBy yields signature AND set size; the band self-join then
    // carries both sides' sizes through, so only the intersection count
    // needs another join against the shingle table. Array mode explodes
    // the per-doc DISTINCT array, so the partial aggregation collapses
    // to one row per doc before the exchange.
    val sigAggs = signatureAggs(numHashes)
    val sig =
      if (useArrays)
        docArr.select(col(idCol), explode(col("_shs")).as("sh"))
          .groupBy(col(idCol)).agg(sigAggs.head, sigAggs.tail: _*)
      else dsh.groupBy(col(idCol)).agg(sigAggs.head, sigAggs.tail: _*)
    val bands = bandStructs(numHashes, bandSize)
    val exploded = sig.select(col(idCol), col("ns"), explode(array(bands: _*)).as("_b"))
      .select(col(idCol), col("ns"), col("_b.band"), col("_b.bh"))
    val l = exploded.alias("l")
    val r = exploded.alias("r")
    val cand = l.join(r, col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("a"), col(s"r.$idCol").as("b"),
        col("l.ns").as("nsa"), col("r.ns").as("nsb"))
      .distinct()
    // Single aggregated intersect join: nsa/nsb RIDE THROUGH the shingle
    // joins and the final groupBy recovers them with min() — no persist
    // of cand, no re-join of cand against the intersection counts (the
    // r3 plan scanned the band self-join output twice and left-joined it
    // back). The inner join loses no pairs: an LSH candidate always
    // shares >= 1 shingle, because an equal band hash means an equal
    // seeded-md5 minimum, which is the hash of the SAME shingle string
    // on both sides barring an md5 collision.
    //
    // CAVEAT (bandSize > 1): the shared-shingle argument is per HASH;
    // with multi-hash bands a band-level collision of the CONCATENATED
    // hashes could in principle pair two documents with zero common
    // shingles, and such a pair would be dropped here rather than
    // surfaced with n_intersect=0. At minJaccardPct >= 1 the filter
    // removes zero-intersection pairs anyway, so the only observable
    // difference is minJaccardPct=0 with bandSize>1 — callers wanting
    // the raw LSH candidate set there should read `cand` semantics,
    // not this verified-Jaccard output.
    val result =
      if (useArrays)
        // the n_intersect > 0 filter mirrors the string path's inner
        // join, which silently drops zero-intersection candidates — the
        // two spellings stay bit-identical, caveat included
        cand
          .join(docArr.select(col(idCol).as("a"), col("_shs").as("_sa")), Seq("a"))
          .join(docArr.select(col(idCol).as("b"), col("_shs").as("_sb")), Seq("b"))
          .select(col("a"), col("b"),
            size(array_intersect(col("_sa"), col("_sb"))).cast("long").as("n_intersect"),
            col("nsa"), col("nsb"))
          .filter(col("n_intersect") > 0)
          .select(col("a"), col("b"), col("n_intersect"),
            (col("nsa") + col("nsb") - col("n_intersect")).as("n_union"))
          .filter(col("n_intersect") * 100 >= col("n_union") * minJaccardPct)
      else cand
        .join(dsh.select(col(idCol).as("a"), col("sh")), Seq("a"))
        .join(dsh.select(col(idCol).as("b"), col("sh")), Seq("b", "sh"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("n_intersect"),
          min(col("nsa")).as("nsa"), min(col("nsb")).as("nsb"))
        .select(col("a"), col("b"), col("n_intersect"),
          (col("nsa") + col("nsb") - col("n_intersect")).as("n_union"))
        .filter(col("n_intersect") * 100 >= col("n_union") * minJaccardPct)
    if (!big) result
    else {
      // same leaked-persist hygiene as nearDuplicateBucketEdges: pin
      // the (filtered, far smaller) output, then free the shingle
      // cache — a leaked persist both accumulates block-manager state
      // across calls AND silently substitutes into any later query
      // sharing the docs->shingles subtree (the q24 audit-corruption
      // lesson, PLANS.md audit-hygiene note)
      val out = result.localCheckpoint()
      (if (useArrays) docArr else dsh).unpersist()
      out
    }
  }

  /** 60-bit SimHash over whitespace tokens: per token take the first 15
    * hex chars of md5 (60 bits), vote each bit +1/-1, sign of the vote
    * is the fingerprint bit. Near-dups differ in few bits (use
    * `bit_count(a ^ b) <= t` on the result to pair). */
  def simhash60(df: DataFrame, textCol: String = "text",
                idCol: String = "doc_id",
                outCol: String = "simhash"): DataFrame = {
    // NOT fanned out: the per-row compute here is one md5 per token and
    // the explode feeds a groupBy that shuffles anyway — measured, the
    // extra exchange is a net loss (0.35 -> 0.71 s interleaved A/B)
    val tok = df.select(col(idCol),
      explode(TextOps.tokens(col(textCol))).as("_t"))
    val md5c = md5(col("_t"))
    // one ±1 vote column per bit; b is compile-time so every substring
    // position and shift amount is a literal (codegen-friendly, single
    // shuffle: one groupBy with 60 sums).
    def vote(b: Int): Column = {
      val hexChar = substring(md5c, b / 4 + 1, 1)
      val v = conv(hexChar, 16, 10).cast("int")
      val bit = shiftright(v, 3 - b % 4).bitwiseAND(lit(1))
      when(bit === 1, 1).otherwise(-1)
    }
    val aggs = (0 until 60).map(b => sum(vote(b)).as(s"_v$b"))
    val fp = (0 until 60).map(b =>
      when(col(s"_v$b") > 0, lit(1L << b)).otherwise(0L)).reduce(_ + _)
    tok.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol), fp.as(outCol))
  }

  /** SimHash near-duplicate pairs under a Hamming-distance bound —
    * EXACT, not approximate: by pigeonhole, any two fingerprints within
    * `maxHamming` agree exactly on at least one of `bands` disjoint bit
    * chunks (requires maxHamming < bands), so an equi-join on
    * (chunk index, chunk bits) generates a candidate superset and the
    * bit_count(xor) verify trims it to precisely the brute-force
    * all-pairs answer. Output: (a, b, hamming) with a < b.
    *
    * Scale design — the per-bucket quadratic is BOUNDED, with NO
    * completeness tradeoff and no silent bottom-out:
    *
    *  1. The banded self-join runs over DISTINCT fingerprints, not
    *     documents. A templated/empty-doc corpus — thousands of
    *     documents whose simhash collapses to one value (cv=0 is the
    *     classic) — contributes ONE row per distinct fingerprint to
    *     every bucket; the expansion back to document pairs is a pair
    *     of hash joins on the full fingerprint plus an intra-class
    *     self-join whose quadratic size equals the true output size
    *     (identical fingerprints really are pairwise near-dups).
    *  2. Buckets hotter than `maxBucket` distinct fingerprints are
    *     re-banded RECURSIVELY until they fit: rows in one bucket
    *     agree on every key chunk so far, so a near-dup pair's
    *     differing bits (<= maxHamming of them) all lie in the
    *     remaining bits, and pigeonhole applies again — split the
    *     remainder into maxHamming+1 sub-chunks and the pair must
    *     agree on at least one. Crucially the consumed chunk's bits
    *     are COMPACTED OUT of the remainder, not merely zeroed: a
    *     zeroed span is identically zero on every row, so any
    *     sub-chunk covering it would re-collect the entire bucket and
    *     the split would never make progress (the round-9
    *     implementation had exactly that blind spot when a sub-chunk
    *     aligned with the zeroed chunk, i.e. in the default
    *     bands == maxHamming+1 configuration).
    *
    * The recursion is driver-paced (the CC-loop pattern): each level
    * localCheckpoints its surviving stream, takes a tiny hot-key
    * census, and stops when no bucket exceeds `maxBucket` — or when
    * the remainder has shrunk to <= maxHamming bits, at which point
    * every pair still sharing a bucket differs in at most maxHamming
    * bits, i.e. the per-bucket join's output IS the true answer and
    * "quadratic" is output size, not waste. Termination is
    * structural: each level removes >= 1 remainder bit. Bucket keys
    * accumulate as xxhash64 chains; a hash collision can only MERGE
    * buckets (a candidate superset the bit_count verify trims), never
    * split one, so exactness is preserved.
    *
    * Everything else is one fingerprint aggregation and hash joins;
    * never an all-pairs compare, and no single join key carries more
    * than `maxBucket` rows except where quadratic equals output size
    * (identical fingerprints; residual <= maxHamming-bit buckets). */
  def simhashNearDupPairs(df: DataFrame, maxHamming: Int = 3,
                          bands: Int = 4, textCol: String = "text",
                          idCol: String = "doc_id",
                          maxBucket: Int = 1 << 16): DataFrame = {
    require(maxHamming < bands,
      s"pigeonhole completeness needs maxHamming ($maxHamming) < bands ($bands)")
    require(bands >= 1 && bands <= 60,
      s"bands ($bands) must be in [1, 60] so every chunk is >= 1 bit wide")
    require(maxBucket >= 2, s"maxBucket ($maxBucket) must be >= 2")
    // (id, simhash); checkpointed because four consumers read it
    // (distinct fingerprints, the two expansion joins, the intra-class
    // join) and the tokenize+md5-vote aggregation is the expensive part.
    val fp = simhash60(df, textCol, idCol, "simhash").localCheckpoint()
    simhashPairsFromFp(fp, maxHamming, bands, idCol, maxBucket)
  }

  /** Banding core of [[simhashNearDupPairs]] over a precomputed
    * (idCol, simhash) frame — split out so tests can drive the
    * recursive re-band with crafted fingerprints. `fp` should already
    * be checkpointed/cached: it is read by four consumers. */
  private[graft] def simhashPairsFromFp(fp: DataFrame, maxHamming: Int,
      bands: Int, idCol: String, maxBucket: Int): DataFrame = {
    val bits = 60
    // Split a `bitsIn`-wide value into n chunks. Each struct carries
    // the chunk index, the chunk's value, and the remainder with that
    // chunk's bits compacted out (low bits kept, high bits shifted
    // down over the consumed span).
    def splitStructs(rem: Column, bitsIn: Int, n: Int): Seq[Column] = {
      val w0 = bitsIn / n
      (0 until n).map { s =>
        val lo = s * w0
        val w = if (s == n - 1) bitsIn - lo else w0
        struct(lit(s).as("c"),
          shiftright(rem, lo).bitwiseAND(lit((1L << w) - 1)).as("v"),
          rem.bitwiseAND(lit((1L << lo) - 1))
            .bitwiseOR(shiftleft(shiftright(rem, lo + w), lo)).as("rem"))
      }
    }
    def fpPairs(e: DataFrame): DataFrame = {
      val l = e.alias("l")
      val r = e.alias("r")
      l.join(r, col("l.key") === col("r.key") &&
          col("l.simhash") < col("r.simhash"))
        .select(col("l.simhash").as("fa"), col("r.simhash").as("fb"))
    }
    val fpd = fp.select(col("simhash")).distinct()
    val subBands = maxHamming + 1
    // Per-level pending storage: DISK_ONLY, not the default
    // MEMORY_AND_DISK — the per-level stream is the recursion's bulk
    // state (tens of millions of (fp, key, rem) rows at 8M docs) and
    // is read back exactly twice (census + split/cold sort), so pinning
    // it in the heap buys little and competes with execution memory at
    // soak scale (the 4M→8M wall grew ~3x on a 2x doubling with the
    // heap-resident default; BASELINE.md round11-simhash-diskonly). The
    // lineage truncation localCheckpoint provides is kept.
    val pendingLevel = org.apache.spark.storage.StorageLevel.DISK_ONLY
    // level-1 stream: one row per (distinct fingerprint, band chunk);
    // checkpointed per level — each stream feeds the census, the cold
    // pair join, and the next level's hot join.
    var pending = fpd.select(col("simhash"),
        explode(array(splitStructs(col("simhash"), bits, bands): _*)).as("_s"))
      .select(col("simhash"), xxhash64(col("_s.c"), col("_s.v")).as("key"),
        col("_s.rem").as("rem"))
      .localCheckpoint(true, pendingLevel)
    var remBits = bits - bits / bands
    val coldParts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var done = false
    while (!done) {
      if (remBits <= maxHamming) {
        // nothing splittable remains: agreement on every key chunk
        // leaves <= maxHamming differing bits, so every pair still
        // sharing a bucket is a true near-dup — pair them all
        coldParts += pending
        done = true
      } else {
        val hotKeys = pending.groupBy(col("key")).agg(count(lit(1)).as("_n"))
          .where(col("_n") > maxBucket).select(col("key")).localCheckpoint()
        if (hotKeys.isEmpty) {
          coldParts += pending
          done = true
        } else {
          coldParts += pending.join(broadcast(hotKeys), Seq("key"), "left_anti")
          pending = pending.join(broadcast(hotKeys), Seq("key"))
            .select(col("simhash"), col("key"),
              explode(array(splitStructs(col("rem"), remBits, subBands): _*)).as("_s"))
            .select(col("simhash"),
              xxhash64(col("key"), col("_s.c"), col("_s.v")).as("key"),
              col("_s.rem").as("rem"))
            .localCheckpoint(true, pendingLevel)
          remBits -= remBits / subBands
        }
      }
    }
    val candFp = coldParts.map(fpPairs).reduce(_ union _)
      .distinct()
      .select(col("fa"), col("fb"),
        bit_count(col("fa").bitwiseXOR(col("fb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
    // Expand fingerprint pairs to document pairs; fingerprint classes
    // are disjoint, so cross-class pairs need least/greatest to restore
    // the a < b contract and can never duplicate an intra-class pair.
    val cross = candFp
      .join(fp.select(col(idCol).as("_ia"), col("simhash").as("fa")), Seq("fa"))
      .join(fp.select(col(idCol).as("_ib"), col("simhash").as("fb")), Seq("fb"))
      .select(least(col("_ia"), col("_ib")).as("a"),
        greatest(col("_ia"), col("_ib")).as("b"), col("hamming"))
    val intra = fp.alias("l").join(fp.alias("r"),
        col("l.simhash") === col("r.simhash") &&
          col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("a"), col(s"r.$idCol").as("b"),
        lit(0L).as("hamming"))
    cross.union(intra)
  }

  /** Connected components over an undirected pair graph (e.g. the
    * near-duplicate pairs): returns one row per node that has at least
    * one REAL edge — pairs that are self-loops or have a null endpoint
    * are discarded first, so a node appearing only in such pairs gets
    * no row. Each node is labeled with the smallest node id reachable
    * from it — the canonical "keeper" of its duplicate cluster.
    *
    * Algorithm: iterative min-label propagation with pointer jumping.
    * Each round every node takes the min of its own label, its
    * neighbors' labels (one hash join + groupBy on the symmetrized edge
    * table), and its label's label (one self-join — path halving). With
    * the jumping step label distance to the component minimum at least
    * halves per round, so convergence is O(log(longest path)) rounds,
    * not O(diameter) — ~3 rounds for the near-clique clusters LSH
    * produces, bounded for adversarial chains. Each round is two
    * shuffles over data proportional to |V|+|E| (never materializes
    * anything quadratic), the edge table is computed once and persisted,
    * and each round's labels are localCheckpoint'ed so lineage stays
    * constant-depth no matter how many rounds run — the standard
    * map-reduce CC recipe (cf. Kiveris et al., "Connected Components in
    * MapReduce and Beyond").
    *
    * Stops when a round changes no label (the previous label rides
    * along in the checkpointed rows, so the probe is a limit-1 scan —
    * driver-side iteration CONTROL, the labels themselves never leave
    * the executors) or after `maxIter` rounds, whichever is first. */
  def connectedComponents(pairs: DataFrame, aCol: String = "a",
                          bCol: String = "b", maxIter: Int = 30): DataFrame = {
    val sess = pairs.sparkSession
    // pin the pair list before symmetrizing: the union references
    // `pairs` twice, and for a derived input (e.g. the LSH pipeline)
    // inlining the plan twice doubles the most expensive stage of the
    // whole operator. Checkpoint blocks (p0, edges, the per-round label
    // snapshots) are released by the ContextCleaner when their RDD
    // references are GC'd, not eagerly — bounded by the graph size
    // times the round count, tiny relative to the corpus.
    // localCheckpoint, NOT persist: a persisted plan pins its exchange
    // layout (AQE may not re-coalesce cached plans), which ran the whole
    // upstream pair pipeline at full shuffle width — measured 8-9 s vs
    // 2-3 s for the same plan under AQE at sf0.1. The checkpoint
    // materializes eagerly through normal AQE execution, truncates the
    // lineage, and the self-union below reads the materialized RDD twice
    // instead of inlining the expensive input plan twice.
    val p0 = pairs.select(col(aCol).as("s"), col(bCol).as("d"))
      .localCheckpoint()
    val nPairs = p0.count()
    if (nPairs == 0) {
      return p0.select(col("s").as("id"), col("s").as("comp"))
    }
    // The loop body runs eagerly (localCheckpoint + the convergence
    // probe are actions), so scope the shuffle width to the graph for
    // its whole duration — INCLUDING the edge build, so the cached edge
    // partitioning matches the loop's and rounds don't re-exchange it:
    // ~1M symmetrized edges per partition, floor 1. A dedup pair graph
    // is orders of magnitude smaller than its corpus, and 32-partition
    // shuffles over a few thousand labels make each round pure
    // scheduling tax. At cluster scale nPairs drives the width back up.
    // The width is scoped via a CLONED session (fresh SQLConf sharing
    // the context, catalog, and p0's materialized blocks) — the
    // caller's session conf is never touched, so a concurrent
    // multi-tenant session cannot observe the narrowed width; the
    // checkpointed rows cross sessions through createDataFrame and the
    // result is rebound to the caller's session the same way.
    val loopParts = math.max(1L, math.min(
      sess.conf.get("spark.sql.shuffle.partitions").toLong,
      (2 * nPairs + (1L << 20) - 1) / (1L << 20))).toString
    val loopSess = sess.newSession()
    loopSess.conf.set("spark.sql.shuffle.partitions", loopParts)
    val labelsOut = {
      val p0l = loopSess.createDataFrame(p0.rdd, p0.schema)
      val edges = p0l
        .union(p0l.select(col("d").as("s"), col("s").as("d")))
        .where(col("s").isNotNull && col("d").isNotNull && col("s") =!= col("d"))
        .distinct()
        .localCheckpoint()
      var labels = edges.groupBy(col("s").as("id"))
        .agg(min(col("d")).as("_m"))
        .select(col("id"), least(col("id"), col("_m")).as("comp"))
        .localCheckpoint()
      var iter = 0
      var converged = false
      while (!converged && iter < maxIter) {
        val viaNbr = edges.join(labels.withColumnRenamed("id", "s"), "s")
          .groupBy(col("d").as("id")).agg(min(col("comp")).as("_nc"))
        // carry the previous label (_oc) through, so convergence is a
        // limit-1 scan of the freshly checkpointed rows instead of a
        // join-shuffle job per round
        val half = labels.join(viaNbr, Seq("id"), "left")
          .select(col("id"),
            least(col("comp"), coalesce(col("_nc"), col("comp"))).as("_c0"),
            col("comp").as("_oc"))
        val ptr = labels.select(col("id").as("_pid"), col("comp").as("_pc"))
        val next = half
          .join(ptr, half("_c0") === ptr("_pid"), "left")
          .select(col("id"),
            least(col("_c0"), coalesce(col("_pc"), col("_c0"))).as("comp"),
            col("_oc"))
          .localCheckpoint()
        converged = next.where(col("comp") =!= col("_oc")).isEmpty
        labels = next.select(col("id"), col("comp"))
        iter += 1
      }
      if (!converged)
        // surface truncation loudly: a maxIter-capped run can hand the
        // keeper selection WRONG cluster labels, and nothing downstream
        // can tell a converged labeling from a truncated one
        System.err.println(s"[graft] WARNING: connectedComponents stopped " +
          s"at maxIter=$maxIter WITHOUT converging — labels may be " +
          "truncated (nodes labeled with a non-minimal component id); " +
          "rerun with a larger maxIter")
      labels
    }
    // rebind to the caller's session so downstream plans run under the
    // caller's own conf at full width
    sess.createDataFrame(labelsOut.rdd, labelsOut.schema)
  }

  /** Train/eval DECONTAMINATION: find (left, right) document pairs that
    * share at least `minShared` distinct word `shingleK`-grams — the
    * standard check that an evaluation set has not leaked into the
    * training corpus. Returns (a, b, n_shared) with `a` from `left` and
    * `b` from `right`.
    *
    * Scale design: an inverted-index join on the shingle, never an
    * all-pairs compare. Shingles whose document frequency (across BOTH
    * corpora) exceeds `maxShingleDf` are dropped before the join —
    * stop-phrase n-grams pair everything with everything and carry no
    * contamination signal, and capping df bounds the join's per-key
    * fan-out at `maxShingleDf²` regardless of corpus size (the same
    * frequency-capping every production decontamination pipeline
    * applies). Raise the cap (or lengthen the shingle) for stricter
    * recall. */
  def crossContamination(left: DataFrame, right: DataFrame,
                         textCol: String = "text", idCol: String = "doc_id",
                         shingleK: Int = 3, minShared: Int = 1,
                         maxShingleDf: Int = 1000,
                         bloomPrefilter: Boolean = false,
                         bloomFpp: Double = 0.01): DataFrame = {
    // ONE tokenize+shingle+distinct pass over both corpora, then
    // localCheckpoint: the df filter and both join inputs read it, and
    // re-deriving the explode+distinct per reference was the dominant
    // cost (measured 7-12 s -> ~2 s at sf0.1). The checkpoint (rather
    // than a persist) keeps AQE free to coalesce the pipeline and
    // truncates the lineage; the materialized set is (side, id,
    // shingle) — proportional to the token stream.
    //
    // `bloomPrefilter` is the asymmetric-scale path (huge train corpus
    // vs small eval set — the standard decontamination shape): build a
    // Bloom filter over the RIGHT side's distinct shingles (driver
    // aggregate, ~1.2 MB per million shingles at fpp 0.01, broadcast),
    // and drop left-side shingle rows the filter rejects BEFORE the
    // distinct/checkpoint/join. Results are IDENTICAL by construction:
    // a rejected shingle is definitely absent from the right side, so
    // it could never produce a pair, and a false positive merely rides
    // through to the exact join; surviving shingles keep their exact
    // df (the filter is a pure function of the shingle value, so a
    // shingle's left rows pass or drop atomically). What changes is
    // the SHUFFLED VOLUME: the train-side token stream shrinks to
    // ~the eval-matched fraction before any exchange (MlBench-measured
    // in BASELINE.md). A membership probe has no built-in column
    // function, so this is the one deliberate scala-UDF in ml/ — a
    // broadcast sketch probe on a filter, outside any join or agg.
    def side(df: DataFrame, isLeft: Boolean) = df
      .select(lit(isLeft).as("_l"), col(idCol).as("_id"),
        explode(TextOps.wordShingles(col(textCol), shingleK)).as("sh"))
    val leftRows =
      if (!bloomPrefilter) side(left, isLeft = true)
      else {
        // size the filter by COUNTING the eval side's distinct shingles
        // (one cheap job — the right side is small by this operator's
        // contract). Sizing must be tight, not estimated: the probe is
        // a random-access bit test per train-side shingle, so the
        // filter has to stay cache-resident — an exact-sized ~1 MB
        // filter measured 15 s on the 2M-doc soak, while a leaf-bytes
        // estimate (garbage for checkpointed inputs) built a 19 MB
        // filter whose cache misses ballooned the same job to 108 s,
        // and an unclamped one to 147 s.
        val rs = side(right, isLeft = false).select(col("sh")).distinct()
          .localCheckpoint()
        val n = math.max(rs.count(), 1L)
        val bf = rs.stat.bloomFilter("sh", n, bloomFpp)
        val bc = left.sparkSession.sparkContext.broadcast(bf)
        val probe = udf((s: String) => s != null && bc.value.mightContainString(s))
        side(left, isLeft = true).where(probe(col("sh")))
      }
    val sdf = leftRows.union(side(right, isLeft = false))
      .distinct()
      .localCheckpoint()
    val cold = sdf.groupBy("sh").agg(count(lit(1)).as("_df"))
      .where(col("_df") <= maxShingleDf)
      .select("sh")
    val pruned = sdf.join(cold, Seq("sh"))
    pruned.where(col("_l")).select(col("_id").as("a"), col("sh"))
      .join(pruned.where(!col("_l")).select(col("_id").as("b"), col("sh")), "sh")
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Linear-size VERIFIED near-dup edges via bucket STARS — the scale
    * path for corpora with huge near-dup clusters, where the all-pairs
    * candidate set ([[nearDuplicatePairs]]) is genuinely quadratic in
    * the largest cluster (a b-member LSH bucket yields b(b-1)/2
    * candidates; a few thousand-member template clusters dominate the
    * whole job — measured in MlBench). Instead of pairing every
    * co-bucketed doc with every other, each doc pairs only with its
    * bucket's MINIMUM doc id: at most one edge per (doc, band) — edge
    * count is bounded by the band-row count, LINEAR in the corpus.
    * Each star edge is then exact-verified ([[pairJaccard]] >=
    * `minJaccardPct`), so no false merge survives.
    *
    * Semantics vs the all-pairs graph under connected components:
    * identical closure when every bucket member verifies against its
    * bucket minimum (the near-clique shape LSH buckets have by
    * construction); a cluster can FRAGMENT when members verify among
    * themselves but not with the bucket minimum (possible at low
    * thresholds with chained similarity) — the round-9 2M soak
    * measured ~86% member coverage / ~6% fragmentation from exactly
    * this. `secondChance` (default on) recovers most of that gap with
    * ONE more linear round: each member whose every star edge failed
    * re-pairs against a better per-bucket anchor — the minimum
    * VERIFIED member (already linked to the bucket minimum, so a
    * verified second edge joins the main cluster, not a fragment), or
    * the bucket's second minimum when nothing verified. Second-round
    * edges are bounded by (failed members x bands): still linear,
    * still exact-verified, never quadratic. Use for clustering at
    * scale; use the all-pairs operator when the exact pairwise
    * relation is the product. */
  def nearDuplicateBucketEdges(docs: DataFrame, textCol: String = "text",
                               idCol: String = "doc_id", numHashes: Int = 4,
                               bandSize: Int = 1, shingleK: Int = 3,
                               minJaccardPct: Int = 50,
                               secondChance: Boolean = true): DataFrame = {
    // Shingle representation for the verify joins: [[verifyArrays]]
    // (auto follows the leaf-bytes gate below). ARRAY mode is the scale
    // path here — the row-explosion verify was the operator's widest
    // shuffle (~38 rows per edge side + an equally wide groupBy
    // re-shuffle; the 8M star soak died on /tmp disk inside it,
    // BASELINE.md round10-star-8m-ceiling, removed by arrays in
    // round11-star-8m). A third variant — row explosion keyed by a
    // 128-bit xxhash64 digest pair — was built and MEASURED WORSE than
    // the strings it replaced (18.73 vs 15.27 GB shuffle written at 2M
    // docs: lz4 compresses repetitive shingle text ~3x while random
    // digests are incompressible), so it was dropped; the soak row
    // records it.
    // one tokenize+shingle pass shared by signature AND verification —
    // the nearDuplicatePairs structure (persist gate, ns riding the
    // banded rows, inner-join verify; see the comments there)
    val big = graft.core.Sizing.decide("bucketEdgeShingles", 64L << 20, docs)
    val useArrays = verifyArrays(big)
    val shsPersisted = big || secondChance
    def pin(d: DataFrame): DataFrame =
      if (shsPersisted)
        d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else d
    // the second-chance round raises the shingle frame's consumer
    // count from 3 to 5 (two more verify joins), which moves the
    // persist break-even below the size gate (A/B'd in BASELINE.md)
    val docArr =
      if (useArrays)
        pin(docs.select(col(idCol),
            array_distinct(TextOps.wordShingles(col(textCol), shingleK)).as("_shs"))
          .where(size(col("_shs")) > 0))
      else null
    val dsh =
      if (useArrays) null
      else pin(docs.select(col(idCol),
          explode(TextOps.wordShingles(col(textCol), shingleK)).as("sh"))
        .distinct())
    val sigAggs = signatureAggs(numHashes)
    // array mode: exploding the per-doc DISTINCT array keeps every
    // shingle row of a doc inside its input partition, so the groupBy's
    // partial aggregation collapses to one row per doc BEFORE the
    // exchange — the signature shuffle is (docs x numHashes) hex mins,
    // not the (id, shingle) stream the global-distinct spelling ships
    val sig =
      if (useArrays)
        docArr.select(col(idCol), explode(col("_shs")).as("sh"))
          .groupBy(col(idCol)).agg(sigAggs.head, sigAggs.tail: _*)
      else dsh.groupBy(col(idCol)).agg(sigAggs.head, sigAggs.tail: _*)
    val bands = bandStructs(numHashes, bandSize)
    val ex0 = sig.select(col(idCol), col("ns"), explode(array(bands: _*)).as("_b"))
      .select(col(idCol), col("ns"), col("_b.band").as("band"), col("_b.bh").as("bh"))
    // the second-chance pass reads the band rows and the candidate set
    // three more times — pin them instead of recomputing the signature
    // aggregation per consumer
    val ex = if (secondChance) ex0.localCheckpoint() else ex0
    val ctr = ex.groupBy(col("band"), col("bh"))
      .agg(min(col(idCol)).as("_ctr"), min_by(col("ns"), col(idCol)).as("_ctrns"))
    val edges0 = ex.join(ctr, Seq("band", "bh"))
      .where(col(idCol) =!= col("_ctr"))
      .select(col("_ctr").as("a"), col(idCol).as("b"),
        col("_ctrns").as("nsa"), col("ns").as("nsb"))
      .distinct()
    val edges = if (secondChance) edges0.localCheckpoint() else edges0
    // exact-jaccard verify of candidate edges carrying (nsa, nsb); the
    // input must be distinct on (a, b) or the intersection counts
    // double. Array mode: one (already-distinct) shingle array per
    // edge side, intersection as a scalar — the arrays ship once per
    // edge instead of once per (edge, shingle), and the count needs no
    // re-shuffle. String mode: the round-10 row-explosion + groupBy.
    def verify(e: DataFrame): DataFrame =
      (if (useArrays)
        e.join(docArr.select(col(idCol).as("a"), col("_shs").as("_sa")), Seq("a"))
          .join(docArr.select(col(idCol).as("b"), col("_shs").as("_sb")), Seq("b"))
          .select(col("a"), col("b"), col("nsa"), col("nsb"),
            size(array_intersect(col("_sa"), col("_sb"))).cast("long").as("_ni"))
          // mirror the string path's inner join, which drops
          // zero-intersection edges — keeps the two spellings
          // bit-identical even at minJaccardPct=0
          .filter(col("_ni") > 0)
      else
        e.join(dsh.select(col(idCol).as("a"), col("sh")), Seq("a"))
          .join(dsh.select(col(idCol).as("b"), col("sh")), Seq("b", "sh"))
          .groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("_ni"),
            min(col("nsa")).as("nsa"), min(col("nsb")).as("nsb")))
      .filter(col("_ni") * 100 >= (col("nsa") + col("nsb") - col("_ni")) * minJaccardPct)
      .select(col("a"), col("b"))
    val v1 = verify(edges)
    val result = if (!secondChance) v1
    else {
      val vp = v1.localCheckpoint()
      // members every one of whose star edges failed the verify: not
      // linked to anything, the coverage gap this pass closes
      val recovered = vp.select(col("a").as("_id"))
        .union(vp.select(col("b").as("_id"))).distinct()
      val needy = edges.join(vp, Seq("a", "b"), "left_anti")
        .select(col("b").as("_nb")).distinct()
        .join(recovered, col("_nb") === col("_id"), "left_anti")
        .select(col("_nb"))
      // per-bucket replacement anchor: the minimum VERIFIED member
      // (its edge to the bucket minimum held, so linking to it joins
      // the main cluster), else the bucket's second minimum
      val vflag = ex.join(ctr.select(col("band"), col("bh"), col("_ctr")),
          Seq("band", "bh"))
        .where(col(idCol) =!= col("_ctr"))
        .join(vp.select(col("a").as("_ctr"), col("b").as(idCol),
          lit(1).as("_ok")), Seq("_ctr", idCol), "left")
      val anchor2 = vflag.groupBy(col("band"), col("bh"))
        .agg(
          min(when(col("_ok").isNotNull, col(idCol))).as("_va"),
          min_by(col("ns"), when(col("_ok").isNotNull, col(idCol))).as("_vans"),
          min(col(idCol)).as("_m2"),
          min_by(col("ns"), col(idCol)).as("_m2ns"))
        .select(col("band"), col("bh"),
          coalesce(col("_va"), col("_m2")).as("_a2"),
          coalesce(col("_vans"), col("_m2ns")).as("_a2ns"))
      val e2 = ex.join(needy, ex(idCol) === needy("_nb"))
        .join(anchor2, Seq("band", "bh"))
        .where(col("_a2") =!= col(idCol))
        .select(least(col("_a2"), col(idCol)).as("a"),
          greatest(col("_a2"), col(idCol)).as("b"),
          when(col("_a2") < col(idCol), col("_a2ns")).otherwise(col("ns")).as("nsa"),
          when(col("_a2") < col(idCol), col("ns")).otherwise(col("_a2ns")).as("nsb"))
        .distinct()
        // pairs already tried in round 1 (verified or failed) are known
        .join(edges.select(col("a"), col("b")), Seq("a", "b"), "left_anti")
      // round-2 pairs are disjoint from round 1 by the anti-join, so
      // the union needs no distinct
      vp.union(verify(e2))
    }
    if (!shsPersisted) result
    else {
      // pin the (linear, verified-edges-only) output so releasing the
      // shingle cache can't force a recompute through it, then free
      // it — repeated calls in a long-lived session no longer
      // accumulate block-manager storage. The intermediate
      // localCheckpoints (ex/edges/vp) lose their last reference here
      // and are reclaimed by the ContextCleaner on GC. The downstream
      // consumer (connectedComponents) iterates over these edges, so
      // the checkpoint also saves it per-iteration recompute.
      val out = result.localCheckpoint()
      (if (useArrays) docArr else dsh).unpersist()
      out
    }
  }

  /** Near-duplicate CLUSTERS: LSH pair generation followed by
    * [[connectedComponents]], so transitively-linked near-dups collapse
    * into one group even when the endpoints themselves are below the
    * pairwise threshold. Returns (idCol, comp) for every document that
    * has at least one near-dup; `comp` is the smallest doc id in the
    * cluster — the conventional keeper, so
    * `docs.join(result.where(idCol =!= comp), idCol, "left_anti")` is
    * the deduplicated corpus.
    *
    * `strategy`: "pairs" (default) builds the exact all-pairs verified
    * graph ([[nearDuplicatePairs]]) — quadratic in the largest cluster,
    * right up to medium skew; "buckets" builds the linear bucket-star
    * graph ([[nearDuplicateBucketEdges]]) — the 100 TB/template-corpus
    * path (MlBench-measured crossover in BASELINE.md).
    *
    * Recall knob, measured (BASELINE.md round11-star-recall-knob): in
    * buckets mode, `numHashes` 4 -> 8 at `bandSize` 1 buys ~+1.3pp
    * truth coverage (93.2 -> 94.5% at 2M docs) for ~+40% warm wall —
    * 8 OR-bands double band rows, the linear cost driver. Do NOT raise
    * `bandSize` to compensate: bandSize=2 at numHashes=8 costs the
    * same and DROPS coverage below the 4-hash baseline (91.7%), since
    * the within-band AND suppresses recall faster than the extra
    * hashes restore it.
    *
    * Disk-bound deployments: `spark.io.compression.codec=zstd` (a
    * STATIC conf — set at launch) halves this pipeline's shuffle/spill
    * footprint for ~16% wall (BASELINE.md round11-shuffle-codec); it
    * is what took the 16M-doc single-host soak from detonation to
    * completion. Coverage is measured scale-stable 500k -> 16M (32x)
    * at 93.24-93.34%. */
  def duplicateClusters(docs: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id", numHashes: Int = 4,
                        bandSize: Int = 1, shingleK: Int = 3,
                        minJaccardPct: Int = 50,
                        maxIter: Int = 30,
                        strategy: String = "pairs",
                        secondChance: Boolean = true): DataFrame = {
    require(strategy == "pairs" || strategy == "buckets",
      s"strategy must be 'pairs' or 'buckets', got '$strategy'")
    val pairs =
      if (strategy == "pairs")
        nearDuplicatePairs(docs, textCol, idCol, numHashes,
          bandSize, shingleK, minJaccardPct).select(col("a"), col("b"))
      else
        nearDuplicateBucketEdges(docs, textCol, idCol, numHashes,
          bandSize, shingleK, minJaccardPct, secondChance)
    connectedComponents(pairs, "a", "b", maxIter)
      .withColumnRenamed("id", idCol)
  }

  /** Corpus-wide PARAGRAPH-level exact dedup — the CCNet-style
    * pre-processing step that document-level dedup cannot express:
    * boilerplate (headers, footers, cookie banners, license blocks)
    * repeats across millions of otherwise-distinct pages, and the
    * right unit of removal is the paragraph, not the document. Splits
    * every document into paragraphs on the literal separator `sep`,
    * drops duplicated paragraphs across the WHOLE corpus, and
    * reassembles each document from its surviving paragraphs in their
    * original order (re-joined with `sep`). Empty paragraphs
    * (consecutive separators) are dropped everywhere. Two modes:
    *
    *   - `"first"`: keep only the globally FIRST occurrence of each
    *     distinct paragraph — "first" = smallest (`idCol`, position) —
    *     so repeated text survives exactly once, in its earliest
    *     document (the CCNet dedup rule).
    *   - `"df"`: drop EVERY occurrence of a paragraph appearing in
    *     more than `maxDocFreq` DISTINCT documents (pure boilerplate
    *     removal — a paragraph on three thousand pages carries no
    *     information in any of them), keeping rare paragraphs
    *     wherever they occur.
    *
    * Returns one row per input document: (`idCol`, `textCol` cleaned,
    * `n_paras`, `n_kept`) — documents whose paragraphs all drop come
    * back with text = "" and n_kept = 0, so the caller can filter or
    * keep empty shells explicitly.
    *
    * Scale design: paragraphs are grouped by their RAW TEXT, not a
    * digest — exact by construction, and the shuffle is narrower
    * (the digest spelling still has to carry the text for
    * reassembly, and shuffle compression likes repetitive text ~3x
    * better than random digests — measured in BASELINE.md
    * round11-star-array-ab). "first" mode is join-free: the winner
    * of each paragraph group is a `min(struct(id, pos))` fold —
    * map-side partial aggregation collapses each input partition's
    * occurrences before the exchange, so a paragraph occurring a
    * billion times ships one row per upstream partition, never a
    * skewed reduce. The whole plan is two linear shuffles (winner
    * agg on the paragraph, reassembly agg on the id) plus the
    * n_paras join, which shares the reassembly's `idCol`
    * partitioning. "df" mode adds one distinct-doc-frequency agg
    * (same map-side-partial shape) and drops hot paragraphs with a
    * `left_anti` join against the OVER-frequency set — the small
    * side by construction (distinct boilerplate paragraphs, not
    * their occurrences), so AQE broadcasts it in practice. */
  /** Paragraph rows of a document frame: (idCol, _i, _p) — 0-based
    * position, non-empty paragraphs, split on the LITERAL `sep`. Pure
    * per-row expressions (streaming-legal); the shared front half of
    * [[dedupParagraphs]] and [[paragraphFilterStream]]. */
  def splitParagraphs(docs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id",
                      sep: String = "\n"): DataFrame =
    docs.select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("_i", "_p")))
      .where(length(col("_p")) > 0)

  /** Rebuild documents from surviving (idCol, _i, _p) paragraph rows:
    * (idCol, textCol, n_kept). Per-doc ordering happens INSIDE the row
    * (sort_array over the collected (position, paragraph) structs —
    * position leads the struct, so it drives the sort), not as a
    * shuffle sort. Documents with no surviving rows are absent — left
    * join the original frame to restore empty shells (see
    * [[dedupParagraphs]]'s tail). */
  def reassembleParagraphs(paras: DataFrame, textCol: String = "text",
                           idCol: String = "doc_id",
                           sep: String = "\n"): DataFrame =
    paras.groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("_i"), col("_p")))).as("_ps"))
      .select(col(idCol),
        concat_ws(sep, transform(col("_ps"), x => x.getField("_p"))).as(textCol),
        size(col("_ps")).cast("long").as("n_kept"))

  /** STREAMING boilerplate filter — the serve path of
    * [[dedupParagraphs]]'s df mode: split an unbounded document stream
    * into paragraphs (stateless per-row) and drop every paragraph that
    * appears in the static `hot` frame (one `_p` column — the
    * over-frequency set a batch pass derives; persist it as a table
    * and re-derive on a cadence). The join is stream-static left_anti:
    * no state store, no watermark, append-legal. Returns surviving
    * (idCol, _i, _p) rows; reassemble per micro-batch with
    * [[reassembleParagraphs]] in `foreachBatch`, or downstream. */
  def paragraphFilterStream(stream: DataFrame, hot: DataFrame,
                            textCol: String = "text",
                            idCol: String = "doc_id",
                            sep: String = "\n"): DataFrame =
    splitParagraphs(stream, textCol, idCol, sep)
      .join(hot.select(col("_p")), Seq("_p"), "left_anti")
      .select(col(idCol), col("_i"), col("_p"))

  def dedupParagraphs(docs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id", sep: String = "\n",
                      mode: String = "first",
                      maxDocFreq: Int = 1): DataFrame = {
    require(mode == "first" || mode == "df",
      s"mode must be 'first' or 'df', got '$mode'")
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val qsep = java.util.regex.Pattern.quote(sep)
    val paras = splitParagraphs(docs, textCol, idCol, sep)
    val kept = mode match {
      case "first" =>
        paras.groupBy(col("_p"))
          .agg(min(struct(col(idCol), col("_i"))).as("_w"))
          .select(col("_w").getField(idCol).as(idCol),
            col("_w").getField("_i").as("_i"), col("_p"))
      case "df" =>
        val hot = paras.groupBy(col("_p"))
          .agg(countDistinct(col(idCol)).as("_df"))
          .where(col("_df") > maxDocFreq)
          .select(col("_p"))
        paras.join(hot, Seq("_p"), "left_anti")
          .select(col(idCol), col("_i"), col("_p"))
    }
    val reasm = reassembleParagraphs(kept, textCol, idCol, sep)
    // n_paras comes from a pure column expression on the input (no
    // third shuffle); the left join restores all-dropped documents
    docs.select(col(idCol),
        // coalesce: a NULL text splits to NULL (not an empty array), and
        // the document must still come back as (0 paragraphs, 0 kept)
        coalesce(size(filter(split(col(textCol), qsep), p => length(p) > 0))
          .cast("long"), lit(0L)).as("n_paras"))
      .join(reasm, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col(textCol), lit("")).as(textCol),
        col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** EXACT SUBSTRING dedup — the token-span axis of the dedup family
    * (semantics after Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", arXiv:2107.06499: any token window of
    * length >= `minMatchTokens` that occurs more than once corpus-wide
    * is a duplicated span and survives only once). Re-expressed for
    * Spark: instead of a monolithic suffix array, every document emits
    * one row per k-token window (k = `minMatchTokens`), keyed by the
    * md5 of the space-joined window — a FIXED-WIDTH 32-char key, so
    * shuffle bytes stay O(total tokens), not O(tokens x k). A window
    * `row_number` over the gram key ranks occurrences by (id, pos);
    * under `mode="first"` every occurrence after the globally-first is
    * a duplicated span, under `mode="all"` every occurrence of a gram
    * seen >= 2 times is (the published tool's default — no copy kept).
    * A token is removed iff it is covered by any duplicated window, so
    * overlapping matches union into maximal spans exactly like the
    * suffix-array formulation's span extension: two duplicated windows
    * at pos p and p+1 remove the contiguous [p, p+1+k) slab. Per-doc
    * coverage is computed INSIDE the row (sort + interval-merge over
    * the collected positions — no token-level explode or join), and
    * the rebuilt text is the surviving tokens joined by single spaces
    * (whitespace-canonical, like every text operator here).
    *
    * Output: (idCol, textCol = cleaned text, n_tokens, n_removed).
    * Documents shorter than k tokens pass through untouched (their
    * text still whitespace-canonicalized); NULL text => ("", 0, 0).
    *
    * Shape: THREE exchanges, all on well-distributed keys — (1) hash
    * on the 32-char gram md5 for the rank window (group sizes = gram
    * multiplicities; a pathological corpus-wide boilerplate gram makes
    * one large group, but the window computes only row_number over it),
    * (2) hash on idCol to fold each document's duplicated positions —
    * a SMALL side (duplicated occurrences only), and (3) the tokenized
    * corpus re-hashed on idCol as the left side of the rebuild join.
    * Rows = one per token position — the same O(N) a suffix array
    * costs, with no driver-side structure; the interval merge is
    * linear in per-doc duplicated windows.
    *
    * MEASURED REJECTION (MLBENCH substr A/B at 2M x 40 tokens,
    * BASELINE.md round14-substr): a Sizing-gated agg+join spelling
    * (hash-agg winners, join back onto re-derived occurrences — the
    * sort-free plan) tied the window on wall (371.6 vs 376.4 s) while
    * shuffling 1.7x more (6.23 vs 3.61 GB), spilling 2.66 GB where the
    * window spilled ZERO, and degrading 1.9x at width 23 — because the
    * winners side (719k grams, ~43 MB) exceeds the broadcast threshold
    * at any realistic duplication rate, so the join back is a
    * sort-merge that re-sorts the stream the window sorts once. Both
    * spellings were fingerprint-identical; the window stays as the
    * ONLY spelling. */
  /** Above this docs-side leaf-bytes sum the substring rank window
    * widens its shuffle (see the gate in [[dedupSubstrings]]). 256 MB:
    * the 2M soak corpus (~600 MB) ran the default width comfortably,
    * the 8M one (~2.4 GB) died at the default heap — the gate fires
    * from the lower edge of the comfortable band so the widened branch
    * carries margin rather than cutting it close. */
  val substrWindowWidenThreshold: Long = 256L << 20

  def dedupSubstrings(docs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id",
                      minMatchTokens: Int = 8,
                      mode: String = "first"): DataFrame = {
    require(minMatchTokens >= 2,
      s"minMatchTokens must be >= 2, got $minMatchTokens")
    require(mode == "first" || mode == "all",
      s"mode must be 'first' or 'all', got '$mode'")
    val k = minMatchTokens
    val base = docs.select(col(idCol), TextOps.tokens(col(textCol)).as("_toks"))
    val occ0 = gramOccurrences(base, idCol, k)
    // AUTO-WIDTH for the gram rank window (VERDICT r14 item #5): the
    // window's per-partition sort working set is ~gram-row bytes /
    // shuffle width, and gram rows are ~8x the text bytes (one 32-char
    // md5 + id + pos per token) — at 8M x 40-token docs the default
    // 32-way width handed each task a ~500 MB sort that silently died
    // at the default 24 g heap (BASELINE.md round14-substr). Above the
    // gate, widen the window's OWN exchange (repartition on _g satisfies
    // the window's clustered distribution, so this swaps the exchange's
    // width rather than adding one) to hold per-task sorts near 64 MB.
    val occ = if (graft.core.Sizing.decide("dedupSubstrings.window",
        substrWindowWidenThreshold, docs)) {
      val leaf = graft.core.Sizing.leafScanBytes(docs)
      val width = math.max(
        docs.sparkSession.sparkContext.defaultParallelism,
        (leaf * 8L / (64L << 20)).min(1 << 20).toInt)
      occ0.repartition(width, col("_g"))
    } else occ0
    val byGram = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_g")).orderBy(col(idCol), col("_p"))
    val dups = (mode match {
      case "first" =>
        occ.withColumn("_rn", row_number().over(byGram)).where(col("_rn") > 1)
      case "all" =>
        occ.withColumn("_n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("_g"))))
          .where(col("_n") >= 2)
    }).select(col(idCol), col("_p"))
    removeCoveredTokens(base, dups, textCol, idCol, k)
  }

  /** One row per k-token window over a (idCol, _toks) frame: (idCol,
    * _p = 0-based start, _g = md5 of the space-joined window). Docs
    * shorter than k tokens emit nothing (the `when` guards sequence()
    * from descending into negative stops). */
  private[ml] def gramOccurrences(base: DataFrame, idCol: String,
                                  k: Int): DataFrame =
    base.select(col(idCol),
      posexplode(when(size(col("_toks")) >= k,
          transform(sequence(lit(0), size(col("_toks")) - k),
            p => md5(array_join(slice(col("_toks"), p + lit(1), lit(k)), " "))))
        .otherwise(array().cast("array<string>"))).as(Seq("_p", "_g")))

  /** Shared tail of the substring family: given the (idCol, _toks)
    * frame and the (idCol, _p) duplicated-window starts, drop every
    * covered token and rebuild. The sorted starts merge into disjoint
    * [s, e) intervals with a single in-row left fold (ascending starts
    * make the new end p+k always >= the running end), so coverage costs
    * no token-level explode or join. The rebuild then SLICES the gaps
    * between consecutive intervals (prev.e .. v.s) plus the tail after
    * the last interval — O(tokens + intervals) per document, where the
    * earlier filter+exists spelling re-scanned the whole interval list
    * per token (O(tokens x intervals): quadratic on long, heavily
    * duplicated documents — r14 ADVICE). Intervals are disjoint with
    * s strictly above the previous e (touching starts merged by the
    * fold), so every gap length is non-negative by construction. */
  private[ml] def removeCoveredTokens(base: DataFrame, dups: DataFrame,
                                      textCol: String, idCol: String,
                                      k: Int): DataFrame = {
    val rem = dups.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("_p"))).as("_dups"))
    base.join(rem, Seq(idCol), "left")
      .withColumn("_iv", expr(
        s"""aggregate(coalesce(_dups, cast(array() as array<int>)),
              cast(array() as array<struct<s: int, e: int>>),
              (acc, p) -> if(size(acc) > 0 and p <= element_at(acc, -1).e,
                concat(slice(acc, 1, size(acc) - 1),
                  array(named_struct('s', element_at(acc, -1).s, 'e', p + $k))),
                concat(acc, array(named_struct('s', p, 'e', p + $k)))))"""))
      .withColumn("_kept", expr(
        """if(size(_iv) = 0, _toks,
             concat(
               flatten(transform(_iv, (v, i) ->
                 slice(_toks, if(i = 0, 0, element_at(_iv, i).e) + 1,
                   v.s - if(i = 0, 0, element_at(_iv, i).e)))),
               slice(_toks, element_at(_iv, -1).e + 1,
                 size(_toks) - element_at(_iv, -1).e)))"""))
      .select(col(idCol),
        coalesce(array_join(col("_kept"), " "), lit("")).as(textCol),
        coalesce(size(col("_toks")).cast("long"), lit(0L)).as("n_tokens"),
        (coalesce(size(col("_toks")).cast("long"), lit(0L)) -
          coalesce(size(col("_kept")).cast("long"), lit(0L))).as("n_removed"))
  }

  /** The HOT gram set of a reference corpus: every k-token window md5
    * occurring at least `minOcc` times (within-doc repeats count, like
    * [[dedupSubstrings]] mode="all"). Persist this as the static side
    * of the substring serve path — the [[dedupParagraphs]] df-mode
    * `hot` analog at token-span granularity. One shuffle (groupBy on
    * the 32-char gram key). */
  def hotSubstrings(docs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id", minMatchTokens: Int = 8,
                    minOcc: Int = 2): DataFrame = {
    require(minMatchTokens >= 2,
      s"minMatchTokens must be >= 2, got $minMatchTokens")
    require(minOcc >= 1, s"minOcc must be >= 1, got $minOcc")
    val base = docs.select(col(idCol), TextOps.tokens(col(textCol)).as("_toks"))
    gramOccurrences(base, idCol, minMatchTokens)
      .groupBy(col("_g")).agg(count(lit(1)).as("_n"))
      .where(col("_n") >= minOcc).select(col("_g"))
  }

  /** SERVE path of substring dedup: remove every token covered by a
    * window whose gram md5 appears in the static `hot` frame (one `_g`
    * column — [[hotSubstrings]] output, persisted). Use inside
    * `foreachBatch` for streaming ingest: the per-document regroup
    * makes the rebuild a batch aggregation, exactly like
    * [[reassembleParagraphs]] in the paragraph serve (q131). Shape: a
    * left_semi on the gram key (broadcast when hot is small) + the
    * shared one-shuffle rebuild; no rank window — membership alone
    * decides, so a streamed document cannot change the hot set. */
  def removeSubstrings(docs: DataFrame, hot: DataFrame,
                       textCol: String = "text", idCol: String = "doc_id",
                       minMatchTokens: Int = 8): DataFrame = {
    require(minMatchTokens >= 2,
      s"minMatchTokens must be >= 2, got $minMatchTokens")
    val k = minMatchTokens
    val base = docs.select(col(idCol), TextOps.tokens(col(textCol)).as("_toks"))
    val dups = gramOccurrences(base, idCol, k)
      .join(hot.select(col("_g")), Seq("_g"), "left_semi")
      .select(col(idCol), col("_p"))
    removeCoveredTokens(base, dups, textCol, idCol, k)
  }
}
