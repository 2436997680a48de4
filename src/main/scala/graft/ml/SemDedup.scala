package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataTypes

/** Semantic deduplication over an embedding column — the SemDeDup
  * recipe (Abbas et al. 2023, arXiv:2303.09540): partition the corpus
  * into coarse cells by nearest centroid, rank the members of each
  * cell, and drop every member whose cosine similarity with a
  * BETTER-RANKED member of the same cell clears a threshold. Near-dup
  * text dedup (MinHash/SimHash in [[Dedup]]) catches lexical copies;
  * this catches paraphrases, translations, and template re-renders
  * that share no n-grams but embed to the same neighborhood — the
  * complementary dedup axis a training-data pipeline runs AFTER
  * lexical dedup.
  *
  * Semantics (deterministic, engine-portable):
  *   - cell = argmin over `centroids` of quantized euclidean distance
  *     ([[Similarity.nearestCells]] — ties to the smaller cell id).
  *   - rank within cell = row_number ordered by (centroid dot, id):
  *     ascending dot for `keep = "edge"` (the paper's rule — among
  *     duplicates, KEEP the example least similar to the centroid, so
  *     the survivor set hugs the distribution's boundary and stays
  *     diverse), descending for `keep = "central"` (keep the
  *     prototype; prefer when survivors seed retrieval/labeling).
  *   - drop x iff some same-cell y with rank(y) < rank(x) has
  *     cos(x, y) >= thresholdPct / 100 — evaluated on the QUANTIZED
  *     integers as the exact cross-multiplication
  *     `dot >= 0 AND 10^4 * dot^2 >= t^2 * |x|^2 * |y|^2` in
  *     DecimalType(38,0) (dot^2 can exceed a long at scale 1000; the
  *     decimal compare is still codegen'd and bit-exact, and a DuckDB
  *     oracle replays it in HUGEINT — q132/q133).
  *
  * `mode = "pairwise"` is the published algorithm: every better-ranked
  * same-cell member is a potential killer — quadratic IN THE CELL,
  * linear across cells, so size `centroids` to the corpus (the paper
  * runs ~n/50 cells at 1.3 B docs; the knob is cluster count, exactly
  * like the IVF cell-sizing rule in BASELINE.md round11-ann-recall).
  * The kill join is RANK-BAND CHUNKED (see [[audit]]) so one skewed
  * cell degrades to bounded parallel blocks instead of detonating a
  * single task — the structural guard minhash (pairs/buckets dispatch)
  * and simhash (hot-bucket recursion) already carry.
  * `mode = "anchor"` compares members only against the cell's anchor —
  * the best-ranked member with a non-zero norm (a degenerate zero
  * vector sorting first must not freeze its cell) — strictly linear,
  * the bounded fallback when even chunked-pairwise compute (inherently
  * quadratic in the cell) costs too much.
  *
  * Threshold economics, measured (BASELINE.md round14-banded-pairwise
  * curve, MlBench `semthresh`): sweep `thresholdPct` x mode to price
  * the knob before a 100 TB run — on the planted corpus the kept
  * fraction is flat-ideal through t=85-95 and dissolves at t=99
  * (above the same-cluster cosine), while the anchor wall stays FLAT
  * across thresholds (the threshold changes only the gate constant,
  * not the plan; 7.7-11.3 s at 2M, 37-43 s at 8M). On text-derived
  * embeddings (round14-semtext) the knob is smooth: kept 71/75/80%
  * at t=60/70/80 over hashed-3-gram vectors.
  *
  * Anchor-mode recall is governed by CELL FIDELITY, not cell count
  * (measured, BASELINE.md round13-semdedup): with random md5 centroids
  * a noisy duplicate group smears across near-tied cells and the
  * one-anchor-per-cell reach collapses (76% kept at 256 cells, 46% at
  * 1024, on a corpus whose ideal keep rate is 0.013%), while centroids
  * TRAINED on the data (k-means cluster means) place every member
  * consistently and the linear anchor mode reaches ideal,
  * pairwise-grade dedup (exactly 1 survivor per duplicate cluster at
  * 2M, 10 s). At 100 TB: train `centroids` (the [[Pq.trainCodebooks]]
  * philosophy — md5 literals exist for the cross-engine oracle
  * contract, trained matrices for production) and size the cluster
  * count to the duplicate structure.
  *
  * Distributed shape: one narrow projection (id, quantized vector) +
  * cell/centroid-dot as codegen'd literal-matrix expressions (no
  * centroid join), ONE shuffle on cell for the rank window (which also
  * carries the per-cell population census for free), and a LEFT SEMI
  * equi-join on (cell, rank band) for the kill verdicts (anchor mode
  * probes a <=nCells-row broadcast side): existence is all the rule
  * asks, so a dropped candidate's probe stops at its FIRST kill, no
  * matched-pair rows are ever materialized, and no distinct exchange
  * follows. Nothing driver-side, nothing quadratic outside a cell,
  * and inside a hot cell the quadratic spreads over rank-band blocks.
  *
  * Rows whose vector is NULL or empty carry no similarity evidence:
  * they pass through kept, with cell = -1 and a NULL centroid dot.
  *
  * Output: (idCol, cell, centroid_dot, kept) — the audit frame; filter
  * `kept` for the survivor corpus, or persist it as a cell-bucketed
  * [[SemIndex]] for repeated serve workloads.
  */
object SemDedup {

  /** The exact integer cosine gate: cos(a, b) >= tPct/100 on quantized
    * vectors, with |a|^2, |b|^2 passed in as columns. Zero-norm vectors
    * (encoder failures, padding rows, empties) NEVER pass: cosine is
    * undefined for them, and without the n2 > 0 guards the
    * cross-multiplication degenerates to 0 >= 0 — a single all-zero
    * embedding would read as a duplicate of every same-cell member and
    * silently kill its whole cell (review find; the DuckDB oracles
    * carry the same guards, so the contract is hash-pinned). */
  private[ml] def cosineGate(dot: Column, n2a: Column, n2b: Column,
                             tPct: Int): Column = {
    val dec = DataTypes.createDecimalType(38, 0)
    val d = dot.cast(dec)
    (n2a > 0) && (n2b > 0) && (dot >= 0) && (lit(10000L).cast(dec) * d * d >=
      lit(tPct.toLong * tPct).cast(dec) * n2a.cast(dec) * n2b.cast(dec))
  }

  /** The FUSED spelling of [[cosineGate]] over the raw quantized
    * vectors (graft.expr.CosineKillGate): same verdict bit-for-bit
    * (OpsSpec pins it incl. constructed boundary ties), but the dot
    * product carries a monotone Cauchy–Schwarz partial bound so a
    * below-threshold pair is abandoned after a few components instead
    * of paying the full dim — the round-15 partial-distance trick
    * applied to the kill join that dominated the 8M text legs
    * (VERDICT r15 item #1; assignment was only ~125 s of 790–1100 s).
    * One-sided by construction: a skip can never change the verdict,
    * and in-band verdicts re-run exactly (BigInteger == the oracle's
    * HUGEINT). The Column [[cosineGate]] stays as the relational
    * contract the DuckDB oracles replay. */
  private[ml] def killGate(q: Column, qk: Column, n2a: Column,
                           n2b: Column, tPct: Int): Column =
    graft.expr.Exprs.cosine_kill_gate(q, qk, n2a, n2b, tPct)

  /** The v2 spelling of [[killGate]] for the BATCH kill join
    * (graft.expr.CosineKillGatePre): same verdict bit-for-bit, but the
    * prefix norms the one-sided abandon needs ride as per-ROW stride-16
    * prefix-sum arrays (`_pn`, computed once in [[audit]]'s base
    * projection) instead of being re-accumulated per PAIR — the hot
    * loop drops from 3 multiplies per component to 1 on the join whose
    * pair count is quadratic in the cell (VERDICT r16 item #1; the
    * serve paths keep the 4-ary [[killGate]]: their index tables store
    * (_q, _n2) and their pair volume is linear in the batch). */
  private[ml] def killGatePre(q: Column, qk: Column, pn: Column,
                              pnk: Column, tPct: Int): Column =
    graft.expr.Exprs.cosine_kill_gate_pre(q, qk, pn, pnk, tPct)

  /** 0-based rank band of a 1-based rank for band width `bandL`:
    * floor((rn - 1) / bandRows) — integer-exact at any rank (the
    * numerator is reduced to an exact multiple before the double
    * division, so the floor can never be off by an ulp). */
  private def bandOf(rn: Column, bandL: Column): Column = {
    val z = rn - 1
    ((z - pmod(z, bandL)) / bandL).cast("long")
  }

  def semanticDedup(df: DataFrame, centroids: Array[Array[Long]],
                    thresholdPct: Int, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    mode: String = "pairwise", keep: String = "edge",
                    scale: Int = 1000, bandRows: Int = 8192): DataFrame =
    audit(df, centroids, thresholdPct, idCol, vecCol, mode, keep, scale,
        bandRows)
      .select(col(idCol), col("_cell").as("cell"),
        col("_cd").as("centroid_dot"), col("kept"))

  /** Semantic dedup straight from TEXT — the end-to-end composition a
    * curation pipeline runs: [[TextOps.hashedNgramEmbedding]] (the
    * fused in-row embedder, zero shuffle) feeding [[semanticDedup]] on
    * the derived column. One operator call takes a raw document table
    * to the (id, cell, centroid_dot, kept) audit frame; train
    * `centroids` with [[Similarity.trainIvfCentroids]] over the same
    * embedder's output (or pass literal matrices for oracle replay —
    * q141 pins THIS WHOLE CHAIN, tokenization to cosine gate, against
    * a relational replay). Embedding components are integer-valued, so
    * the quantize inside semanticDedup is exact at any `scale`. */
  def semanticDedupText(docs: DataFrame, centroids: Array[Array[Long]],
                        thresholdPct: Int, textCol: String = "text",
                        idCol: String = "doc_id", n: Int = 3,
                        dim: Int = 64, hash: String = "xxhash64",
                        mode: String = "pairwise", keep: String = "edge",
                        scale: Int = 1000, bandRows: Int = 8192): DataFrame =
    semanticDedup(
      TextOps.hashedNgramEmbedding(docs.select(col(idCol), col(textCol)),
        textCol, "_emb", n, dim, hash = hash),
      centroids, thresholdPct, idCol, "_emb", mode, keep, scale, bandRows)

  /** The full audit frame behind [[semanticDedup]], keeping the
    * internal columns a persisted survivor index needs: (idCol, _cell,
    * _cd, _q quantized vector, _n2 squared norm, kept). `_q` is
    * array<int>; `int32 = false` only matches an index an older build
    * stored as array<bigint> ([[SemIndex.appendNew]]). */
  private[ml] def audit(df: DataFrame, centroids: Array[Array[Long]],
                        thresholdPct: Int, idCol: String, vecCol: String,
                        mode: String, keep: String, scale: Int,
                        bandRows: Int,
                        int32: Boolean = true): DataFrame = {
    require(thresholdPct >= 1 && thresholdPct <= 100,
      s"thresholdPct must be in [1, 100], got $thresholdPct")
    require(mode == "pairwise" || mode == "anchor",
      s"mode must be 'pairwise' or 'anchor', got '$mode'")
    require(keep == "edge" || keep == "central",
      s"keep must be 'edge' or 'central', got '$keep'")
    require(bandRows >= 1, s"bandRows must be >= 1, got $bandRows")
    val cmLit = typedLit(centroids.map(_.toSeq).toSeq)
    // ONE pass over the input: NULL/empty vectors ride the main path
    // with cell = -1 and a NULL centroid dot (when() evaluates the
    // kernel only on valid rows); they can neither kill nor be killed
    // (the gate's n2 > 0 guards), so they come out kept — a second
    // scan + union for the invalid branch would re-read the corpus at
    // exactly the scale where fanOutSmallScan is a no-op (review find)
    val validV = col("_q").isNotNull && size(col("_q")) > 0
    val base = graft.core.Sizing.fanOutSmallScan(df).select(
        col(idCol).cast("long").as(idCol),
        Similarity.quantizeW(col(vecCol), scale, int32).as("_q"))
      .withColumn("_cell", when(validV,
        element_at(Similarity.nearestCells(col("_q"), centroids, 1), 1))
        .otherwise(lit(-1L)))
      .withColumn("_cd", when(validV, Similarity.dotLong(col("_q"),
        element_at(cmLit, col("_cell").cast("int") + 1)))
        .otherwise(lit(null).cast("long")))
      .withColumn("_n2", Similarity.dotLong(col("_q"), col("_q")))
      // the stride-16 prefix-norm rider for the v2 kill gate: ~40 bytes
      // per row through the rank shuffle buys the kill join's quadratic
      // inner loop down from 3 multiplies per component to 1
      .withColumn("_pn", graft.expr.Exprs.prefix_norms(col("_q")))
    val ord =
      if (keep == "edge") Seq(col("_cd").asc, col(idCol).asc)
      else Seq(col("_cd").desc, col(idCol).asc)
    val wCell = Window.partitionBy(col("_cell"))
    val ranked = base.withColumn("_rn",
      row_number().over(wCell.orderBy(ord: _*)))
    // zero-norm rows are inert killers (the gate's n2 > 0 guard), so
    // they are pruned from the killer side: a no-op for pairwise
    // semantics, and in anchor mode it means a degenerate rank-1 row
    // (an encoder-failure zero vector that happens to sort first)
    // can never FREEZE its cell — the anchor is the best-ranked
    // member that can actually kill.
    // The kill join is a LEFT SEMI (round-17): only EXISTENCE of a
    // better-ranked killer matters, so the semi (a) short-circuits a
    // dropped candidate's probe at its FIRST kill instead of paying the
    // gate against every remaining killer, (b) never materializes the
    // matched-pair rows the old inner-join spelling produced (a
    // mega-cluster member was matched by THOUSANDS of killers before
    // the distinct), and (c) retires the distinct's exchange — the semi
    // output is at most one row per candidate by construction.
    val dropped = (if (mode == "anchor") {
      // anchor mode's killer side is one row per cell — broadcastable
      val k = ranked.where(col("_n2") > 0)
        .groupBy(col("_cell"))
        .agg(min_by(struct(col("_q").as("_qk"), col("_pn").as("_pnk"),
          col("_rn").as("_rk")), col("_rn")).as("_w"))
        .select(col("_cell").as("_cellk"), col("_w").getField("_qk").as("_qk"),
          col("_w").getField("_pnk").as("_pnk"),
          col("_w").getField("_rk").as("_rk"))
      ranked.join(broadcast(k),
        col("_cell") === col("_cellk") && col("_rk") < col("_rn") &&
          killGatePre(col("_q"), col("_qk"), col("_pn"), col("_pnk"),
            thresholdPct),
        "left_semi")
    } else {
      // RANK-BAND CHUNKED pairwise — the hot-cell guard. The rank
      // window's free census (count over the same partition key; zero
      // extra exchange) sizes each cell's band count; each killer row
      // replicates to every band at-or-above its own, so the join is a
      // plain equi-join on (cell, band) whose key groups hold at most
      // `bandRows` targets. A cell within one band (the common case —
      // size `centroids` so cells sit well under `bandRows`) joins
      // exactly as the unbanded spelling did; a skewed cell's
      // quadratic — inherent to the published all-better-ranked rule —
      // spreads across ceil(pop/bandRows) parallel key groups instead
      // of detonating one task (the builder's 2M soak could only run
      // unbanded pairwise on a 200k slice; the band trade is killer
      // replication, O(pop^2/bandRows) rows for a hot cell, bounded
      // and linear in the work the rule itself demands). The price on
      // clean corpora is one extra hash exchange pair (the join key
      // gains the band, so the rank window's cell partitioning no
      // longer satisfies it) — linear, and the insurance the sibling
      // dedup operators all carry.
      val bandL = lit(bandRows.toLong)
      val withCnt = ranked.withColumn("_cnt", count(lit(1)).over(wCell))
      val killers = withCnt.where(col("_n2") > 0)
        .select(col("_cell").as("_cellk"), col("_q").as("_qk"),
          col("_pn").as("_pnk"), col("_rn").as("_rk"),
          explode(sequence(bandOf(col("_rn"), bandL),
            bandOf(col("_cnt"), bandL))).as("_jb"))
      val cand = withCnt.withColumn("_band", bandOf(col("_rn"), bandL))
      cand.join(killers,
        col("_cell") === col("_cellk") && col("_band") === col("_jb") &&
          col("_rk") < col("_rn") &&
          killGatePre(col("_q"), col("_qk"), col("_pn"), col("_pnk"),
            thresholdPct),
        "left_semi")
    })
      .select(col(idCol))
      .withColumn("_dup", lit(true))
    ranked.join(dropped, Seq(idCol), "left")
      .select(col(idCol), col("_cell"), col("_cd"), col("_q"), col("_n2"),
        (coalesce(col("_dup"), lit(false)) === false).as("kept"))
  }

  /** The STREAMING serve path of semantic dedup (the q113/q131 pattern:
    * batch curation builds the reference state, the stream filters
    * against it with no state store): drop every incoming vector whose
    * cosine with ANY member of the static `refs` set SHARING ITS CELL
    * clears the threshold; emit survivors as (idCol, cell).
    *
    * Stateless stream-static left_anti on (cell equality AND the exact
    * integer cosine gate) — per micro-batch the candidate set is
    * bounded by the reference rows of matching cells, exactly the
    * bucketed-equi-join property the LSH/IVF serve paths rely on, and
    * the reference is typically the `kept` output of a batch
    * [[semanticDedup]] pass (the survivor corpus), sized to broadcast
    * or to a bucketed scan. Rows with NULL or empty vectors carry no
    * similarity evidence and pass through with cell = -1 (the batch
    * operator's audit convention — an empty vector must not argmin
    * its way into a real cell); reference-side zero-norm rows are
    * pruned (they can never kill — the gate's n2 > 0 guard). Use
    * the same `centroids` the batch pass used — trained matrices for
    * production, per the cell-fidelity measurements.
    *
    * NOTE: a stream-static join re-evaluates the static side per
    * micro-batch, so `refs` pays quantize + nearestCells every
    * trigger. For a large, long-lived survivor corpus persist it as a
    * [[SemIndex]] (cell-bucketed, vectors pre-quantized) and serve
    * with [[SemIndex.filterStream]] — zero static-side recompute and
    * zero index-side exchange. */
  /** The TEXT spelling of [[semanticFilterStream]] — the serve-side
    * twin of [[semanticDedupText]]: embed each incoming document
    * per-row with the fused [[TextOps.hashedNgramEmbedding]] kernel (a
    * pure projection — streaming-safe, zero state), embed the
    * reference documents the same way, then the existing stateless
    * stream-static anti-join gate. One call takes a raw text stream
    * and the survivor DOCUMENT table to the filtered (idCol, cell)
    * stream, with the embedder parameters pinned between the two sides
    * by construction (a drift between serve-side and build-side
    * embeddings would silently empty the gate). Use the same
    * `centroids` and embedder settings the batch
    * [[semanticDedupText]] pass used.
    *
    * Anchor-mode guarantee worth knowing at serve time: a document the
    * batch pass DROPPED is always re-dropped by this filter against
    * the batch survivors (its killer — the cell anchor — is kept by
    * construction), so replaying the dropped set admits nothing
    * (StreamingSpec pins this). Pairwise-mode kills can chain through
    * dropped intermediates, so the same replay may legitimately admit
    * a row whose killer was itself killed. */
  def semanticFilterTextStream(stream: DataFrame, refDocs: DataFrame,
                               centroids: Array[Array[Long]],
                               thresholdPct: Int, textCol: String = "text",
                               idCol: String = "doc_id", n: Int = 3,
                               dim: Int = 64, hash: String = "xxhash64",
                               scale: Int = 1000): DataFrame = {
    require(thresholdPct >= 1 && thresholdPct <= 100,
      s"thresholdPct must be in [1, 100], got $thresholdPct")
    // PIN the reference side (VERDICT r16 item #2 — the SubstrServe
    // lesson at the operator level): a stream-static join re-evaluates
    // the static plan EVERY trigger, so without the pin the whole
    // survivor corpus re-pays tokenize + embed + quantize + argmin per
    // micro-batch. localCheckpoint materializes the PREPARED ref frame
    // (quantized, norm'd, cell-assigned) once at plan-build; every
    // trigger then joins in-memory rows — only the incoming batch's
    // embed projection remains on the stream side. For a long-lived
    // survivor corpus persist a [[SemIndex]] (writeText) and serve with
    // [[SemIndex.filterTextStream]] instead — same plan property plus
    // catalog durability and append/takedown lifecycle.
    val refPinned = prepRefs(
      TextOps.hashedNgramEmbedding(refDocs.select(col(textCol)),
        textCol, "_emb", n, dim, hash = hash),
      centroids, "_emb", scale).localCheckpoint()
    filterAgainst(
      prepProbe(
        TextOps.hashedNgramEmbedding(stream.select(col(idCol), col(textCol)),
          textCol, "_emb", n, dim, hash = hash),
        centroids, idCol, "_emb", scale),
      refPinned, thresholdPct, idCol)
  }

  /** The probe-side preparation shared by the stream/batch serve paths
    * and [[SemIndex]]'s probes: (idCol, _q quantized, _cell with the
    * audit convention's -1 for NULL/empty vectors, _n2). `int32 = false`
    * matches an index an older build stored as array<bigint>. */
  private[ml] def prepProbe(df: DataFrame, centroids: Array[Array[Long]],
                            idCol: String, vecCol: String, scale: Int,
                            int32: Boolean = true): DataFrame = {
    val validV = col("_q").isNotNull && size(col("_q")) > 0
    df.select(col(idCol).cast("long").as(idCol),
        Similarity.quantizeW(col(vecCol), scale, int32).as("_q"))
      .withColumn("_cell", when(validV,
        element_at(Similarity.nearestCells(col("_q"), centroids, 1), 1))
        .otherwise(lit(-1L)))
      .withColumn("_n2", Similarity.dotLong(col("_q"), col("_q")))
  }

  /** The reference-side preparation: quantize, prune zero-norm rows
    * (inert killers), assign cells. */
  private[ml] def prepRefs(refs: DataFrame, centroids: Array[Array[Long]],
                           vecCol: String, scale: Int): DataFrame =
    refs.select(Similarity.quantizeInt(col(vecCol), scale).as("_qr"))
      .withColumn("_n2r", Similarity.dotLong(col("_qr"), col("_qr")))
      .where(col("_n2r") > 0)
      .withColumn("_cellr",
        element_at(Similarity.nearestCells(col("_qr"), centroids, 1), 1))

  /** The stateless anti-join gate over prepared sides. */
  private[ml] def filterAgainst(prep: DataFrame, refPrep: DataFrame,
                                thresholdPct: Int, idCol: String): DataFrame =
    prep.join(refPrep,
        col("_cell") === col("_cellr") &&
          killGate(col("_q"), col("_qr"), col("_n2"), col("_n2r"),
            thresholdPct),
        "left_anti")
      .select(col(idCol), col("_cell").as("cell"))

  def semanticFilterStream(stream: DataFrame, refs: DataFrame,
                           centroids: Array[Array[Long]],
                           thresholdPct: Int, idCol: String = "vec_id",
                           vecCol: String = "embedding",
                           scale: Int = 1000): DataFrame = {
    require(thresholdPct >= 1 && thresholdPct <= 100,
      s"thresholdPct must be in [1, 100], got $thresholdPct")
    filterAgainst(prepProbe(stream, centroids, idCol, vecCol, scale),
      prepRefs(refs, centroids, vecCol, scale), thresholdPct, idCol)
  }
}
