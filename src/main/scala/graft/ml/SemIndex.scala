package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A PERSISTED semantic-dedup survivor index: the `kept` output of a
  * batch [[SemDedup.semanticDedup]] pass, written into the catalog as
  * a parquet table bucketed by `_cell` with the vectors pre-quantized
  * and the norms pre-computed — the [[DedupIndex]]/[[AnnIndex]] shape
  * for the serve workload a curation pipeline actually runs: every
  * new batch of documents is filtered against the SAME survivor
  * corpus, and the raw [[SemDedup.semanticFilterStream]] pays
  * quantize + nearestCells over the whole survivor set on EVERY
  * micro-batch (stream-static joins re-evaluate the static plan per
  * trigger) while this table pays it once at build.
  *
  * Scale design: the table is bucketed on `_cell`, so the probe
  * join's index side is a bucketed scan that already satisfies the
  * join distribution — ZERO exchange and zero recompute on the
  * (large) survivor side; only the (small) incoming batch shuffles.
  * Only rows that can actually kill are stored (kept AND non-zero
  * norm — a zero-norm survivor carries no similarity evidence), so
  * the probe side never re-applies the validity guards.
  *
  * The table describes itself (the [[AnnIndex]] property scheme):
  * centroid fingerprint + chunked matrix + scale for fail-fast spec
  * validation, plus the build's `thresholdPct`/`mode`/`keep` so serve
  * and append paths replay the exact build semantics without the
  * caller re-supplying them.
  */
object SemIndex {

  private def semProps(spark: SparkSession,
                       table: String): Map[String, String] = {
    val props = AnnIndex.readProps(spark, table)
    require(props.contains("graft.sem.thresholdPct"),
      s"SemIndex: table $table carries no graft.sem.thresholdPct — " +
        "not a semantic-dedup survivor index (built by SemIndex.write?)")
    props
  }

  /** The build threshold the index stores about itself. */
  def storedThresholdPct(spark: SparkSession, table: String): Int =
    semProps(spark, table)("graft.sem.thresholdPct").toInt

  /** The embedder spec a TEXT-built index stores about itself
    * ((n, dim, hash, distinct) — [[TextOps.hashedNgramEmbedding]]'s
    * knobs). Fail-fast on a vector-built index: probing text through
    * an index whose survivors were embedded under ANY other spec would
    * silently join a disjoint embedding space (the [[SubstrIndex]]
    * stored-k lesson, embedder edition). */
  def storedEmbedder(spark: SparkSession,
                     table: String): (Int, Int, String, Boolean) = {
    val p = semProps(spark, table)
    require(p.contains("graft.sem.text.n"),
      s"SemIndex: table $table carries no graft.sem.text.* embedder " +
        "spec — it was built from vectors (write), not text " +
        "(writeText); serve it with filterStream/probe on the " +
        "embedding column instead")
    (p("graft.sem.text.n").toInt, p("graft.sem.text.dim").toInt,
      p("graft.sem.text.hash"), p("graft.sem.text.distinct").toBoolean)
  }

  /** Build the survivor index: run the batch dedup at `thresholdPct`
    * and persist the killers-capable survivor set (id, quantized
    * vector, cell, squared norm) bucketed + sorted by `_cell`. */
  def write(df: DataFrame, table: String, centroids: Array[Array[Long]],
            thresholdPct: Int, idCol: String = "vec_id",
            vecCol: String = "embedding", mode: String = "pairwise",
            keep: String = "edge", scale: Int = 1000, buckets: Int = 8,
            bandRows: Int = 8192): Unit = {
    SemDedup.audit(df, centroids, thresholdPct, idCol, vecCol, mode,
        keep, scale, bandRows)
      .where(col("kept") && col("_n2") > 0)
      .select(col(idCol), col("_q"), col("_n2"), col("_cell"))
      .repartition(buckets, col("_cell"))
      .write.format("parquet")
      .bucketBy(buckets, "_cell")
      .sortBy("_cell", idCol)
      .mode("overwrite")
      .saveAsTable(table)
    df.sparkSession.sql(
      s"ALTER TABLE $table SET TBLPROPERTIES(" +
        AnnIndex.ivfPropsSql(centroids, scale) + "," +
        s"'graft.sem.thresholdPct'='$thresholdPct'," +
        s"'graft.sem.mode'='$mode','graft.sem.keep'='$keep')")
  }

  /** Build the survivor index straight from TEXT — the persisted twin
    * of [[SemDedup.semanticDedupText]]: embed with the fused
    * hashed-n-gram kernel, run the batch dedup, store the survivors
    * cell-bucketed and PRE-QUANTIZED, and stamp the embedder spec
    * (n/dim/hash/distinct) as table properties so the text serve paths
    * replay the exact build embedding by construction — a caller
    * cannot drift the serve-side embedder from the build side (a
    * drift would silently empty the gate). This is the durable form
    * of the [[SemDedup.semanticFilterTextStream]] reference pin
    * (VERDICT r16 item #2): the stream side of
    * [[filterTextStream]] carries ONLY the embed projection of the
    * incoming batch; the survivor side is a bucketed scan with zero
    * exchange and zero per-trigger recompute. */
  def writeText(docs: DataFrame, table: String,
                centroids: Array[Array[Long]], thresholdPct: Int,
                textCol: String = "text", idCol: String = "doc_id",
                n: Int = 3, dim: Int = 64, hash: String = "xxhash64",
                mode: String = "pairwise", keep: String = "edge",
                scale: Int = 1000, buckets: Int = 8,
                bandRows: Int = 8192): Unit = {
    write(TextOps.hashedNgramEmbedding(
        docs.select(col(idCol), col(textCol)), textCol, "_emb", n, dim,
        hash = hash),
      table, centroids, thresholdPct, idCol, "_emb", mode, keep, scale,
      buckets, bandRows)
    docs.sparkSession.sql(
      s"ALTER TABLE $table SET TBLPROPERTIES(" +
        s"'graft.sem.text.n'='$n','graft.sem.text.dim'='$dim'," +
        s"'graft.sem.text.hash'='$hash'," +
        "'graft.sem.text.distinct'='true')")
  }

  /** Batch probe of raw DOCUMENTS against a text-built index: embed
    * under the STORED spec, then [[probe]]. Output (idCol, cell,
    * kept). */
  def probeText(spark: SparkSession, table: String, docs: DataFrame,
                textCol: String = "text",
                idCol: String = "doc_id"): DataFrame = {
    val (n, dim, hash, distinct) = storedEmbedder(spark, table)
    probe(spark, table,
      TextOps.hashedNgramEmbedding(docs.select(col(idCol), col(textCol)),
        textCol, "_emb", n, dim, distinct, hash),
      idCol, "_emb")
  }

  /** STREAMING text serve against the persisted index — the durable
    * twin of [[SemDedup.semanticFilterTextStream]]: the stream side
    * embeds each incoming document under the STORED spec (a pure
    * projection); the survivor side is the bucketed pre-quantized
    * scan. Emits survivors as (idCol, cell). */
  def filterTextStream(spark: SparkSession, table: String,
                       stream: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    val (n, dim, hash, distinct) = storedEmbedder(spark, table)
    filterStream(spark, table,
      TextOps.hashedNgramEmbedding(stream.select(col(idCol), col(textCol)),
        textCol, "_emb", n, dim, distinct, hash),
      idCol, "_emb")
  }

  /** The static probe side: (cell, quantized vector, norm) read
    * straight off the bucketed table — no quantize, no nearestCells,
    * no exchange. */
  private def idxSide(spark: SparkSession, table: String): DataFrame =
    spark.table(table)
      .select(col("_cell").as("_cellr"), col("_q").as("_qr"),
        col("_n2").as("_n2r"))

  /** Whether the stored `_q` column is the int32 spelling (round-18
    * narrowing). The STORED schema is the source of truth for every
    * serve/append path: the probe side quantizes to the SAME width, so
    * the kill gate always compares same-width vectors (the fast
    * kernels), and an index an older build wrote as array<bigint>
    * serves and appends correctly. */
  private def storedIntWidth(spark: SparkSession, table: String): Boolean =
    spark.table(table).schema("_q").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, _) => true
      case _ => false
    }

  /** Incremental curation: admit a new batch against the index. A
    * batch row is dropped iff it clears the gate against an EXISTING
    * survivor; the remainder then self-dedups under the build's own
    * params (rank + kill within the batch), and its survivors are
    * appended through the table's bucket spec — so the invariant the
    * probe relies on (every stored row of cell c lives in bucket
    * hash(c), and no two stored rows are within the threshold across
    * a batch boundary... the batch-vs-index anti-join) survives
    * arbitrarily many appends. Order matters and is pinned:
    * index-filter FIRST, self-dedup the remainder — replayed by the
    * q136 oracle. */
  def appendNew(df: DataFrame, table: String, idCol: String = "vec_id",
                vecCol: String = "embedding",
                bandRows: Int = 8192): Unit = {
    val spark = df.sparkSession
    val cm = AnnIndex.storedCentroids(spark, table)
    val sc = AnnIndex.storedScale(spark, table)
    AnnIndex.validateSpec(spark, table, cm, sc)
    val props = semProps(spark, table)
    val tPct = props("graft.sem.thresholdPct").toInt
    val mode = props.getOrElse("graft.sem.mode", "pairwise")
    val keep = props.getOrElse("graft.sem.keep", "edge")
    val i32 = storedIntWidth(spark, table)
    val freshIds = SemDedup.filterAgainst(
        SemDedup.prepProbe(df, cm, idCol, vecCol, sc, i32),
        idxSide(spark, table), tPct, idCol)
      .select(col(idCol))
    val fresh = df.select(col(idCol).cast("long").as(idCol), col(vecCol))
      .join(freshIds, Seq(idCol))
    // the appended rows must match the table's stored width (insertInto
    // is positional)
    SemDedup.audit(fresh, cm, tPct, idCol, vecCol, mode, keep, sc,
        bandRows, int32 = i32)
      .where(col("kept") && col("_n2") > 0)
      .select(col(idCol), col("_q"), col("_n2"), col("_cell"))
      .write.mode("append")
      .insertInto(table)
  }

  /** Rewrite a multi-append index back to one file per bucket — the
    * spec-preserving crash-safe swap of
    * [[Indexes.compactBucketedTable]]; the `graft.*` properties
    * (centroid fingerprint, threshold) travel. */
  def compact(spark: SparkSession, table: String): Unit =
    Indexes.compactBucketedTable(spark, table)

  /** Retire survivors (deleted documents, takedowns) through the same
    * spec-preserving rewrite; the table comes out compacted. Note the
    * semantic consequence: removing a survivor re-opens its
    * neighborhood (future probes/appends in its cell no longer hit
    * it) — the correct behavior for a takedown. */
  def deleteByIds(spark: SparkSession, table: String, ids: DataFrame,
                  idCol: String = "vec_id"): Unit =
    Indexes.deleteFromBucketedTable(spark, table, ids, idCol)

  /** Batch probe: the audit frame (idCol, cell, kept) of `queries`
    * against the survivor index — kept = no stored survivor in the
    * query's cell clears the gate. NULL/empty query vectors carry no
    * evidence: cell = -1, kept. Zero index-side exchange (the
    * bucketed scan satisfies the join's distribution; pinned in
    * PlanContractSpec). */
  def probe(spark: SparkSession, table: String, queries: DataFrame,
            idCol: String = "vec_id",
            vecCol: String = "embedding"): DataFrame = {
    val cm = AnnIndex.storedCentroids(spark, table)
    val sc = AnnIndex.storedScale(spark, table)
    AnnIndex.validateSpec(spark, table, cm, sc)
    val tPct = storedThresholdPct(spark, table)
    val prep = SemDedup.prepProbe(graft.core.Sizing.fanOutSmallScan(queries),
      cm, idCol, vecCol, sc, storedIntWidth(spark, table))
    val hits = prep.join(idxSide(spark, table), SemDedup.killCond(tPct), "left_semi")
      .select(col(idCol)).withColumn("_h", lit(true))
    prep.select(col(idCol), col("_cell"))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("_cell").as("cell"),
        (coalesce(col("_h"), lit(false)) === false).as("kept"))
  }

  /** STREAMING serve: [[SemDedup.semanticFilterStream]] against the
    * persisted index — stateless stream-static left_anti on (cell,
    * exact cosine gate), with the static side a bucketed scan of
    * pre-quantized survivors: zero exchange AND zero per-trigger
    * recompute on the index side, the property the LSH/IVF stream
    * serves already have. Emits survivors as (idCol, cell). */
  def filterStream(spark: SparkSession, table: String,
                   stream: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val cm = AnnIndex.storedCentroids(spark, table)
    val sc = AnnIndex.storedScale(spark, table)
    AnnIndex.validateSpec(spark, table, cm, sc)
    val tPct = storedThresholdPct(spark, table)
    SemDedup.filterAgainst(
      SemDedup.prepProbe(stream, cm, idCol, vecCol, sc,
        storedIntWidth(spark, table)),
      idxSide(spark, table), tPct, idCol)
  }
}
