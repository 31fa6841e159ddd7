package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Snapshots

/** STORED exact-substring (grid-span) index — the incremental member
  * of the #73/#91 span-dedup family, completing the daily-ingest
  * matrix (LSH near-dup text, IVF buckets, PQ codes, bloom exact —
  * and now spans): the corpus's non-overlapping 16-token span hashes
  * are computed ONCE and persisted in `smod=` hash-partition dirs; a
  * daily batch then enumerates only ITS OWN spans row-locally, probes
  * the stored artifact with PartitionFilters pruning to the ≤
  * [[Smods]] partitions its span hashes land in, and reports per-doc
  * duplicated-span statistics (#73's numbers, vs corpus ∪ batch)
  * before being delta-absorbed so tomorrow's batch sees today's.
  *
  * Scale shape: batch span enumeration is row-local (only hashed
  * (doc_id, idx, h) triples explode — span TEXT never leaves its
  * row); the stored side is semi-restricted to the batch's hash set
  * BEFORE aggregation (batch-sized build side, AQE-broadcastable), so
  * per-day cost is O(batch + matching stored spans), never
  * corpus-sized. Replay-stable: stored copies of the batch's own docs
  * are excluded from the corpus side, and the append is idempotent
  * per batchId.
  *
  * Reference: grid-span statistics follow Lee et al. 2022
  * ("Deduplicating Training Data Makes Language Models Better") at
  * the #73 grid granularity; the stored-index shape is this library's
  * 100 TB posture (the reference recomputes daily).
  */
object SpanIndex {

  /** Span width in tokens (the #73/#91 grid). */
  val W = 16

  /** Hash-partition fanout of the span artifact (`smod=` dirs);
    * probe pruning sets are bounded here, never by data size. */
  val Smods = 32

  def spansRoot(root: String): String = s"$root/spans"

  /** Every artifact root of an index — what nightly maintenance
    * compacts and vacuums. */
  def roots(root: String): Seq[String] = Seq(spansRoot(root))

  /** Deterministic index root (content fingerprint + layout; `v2`:
    * manifests record the `smod=` layout — an older root reads as
    * unpartitioned and its next compaction would drop the dirs). */
  def defaultRoot(docs: DataFrame): String = {
    val fp = docs.agg(
      bit_xor(xxhash64(col("doc_id"), col("text"))).as("h"),
      count(lit(1)).as("n")).head()
    s"/tmp/graft-spanindex/v2/${fp.getLong(0)}-${fp.getLong(1)}"
  }

  /** Row-local grid-span hashes of a text, in span order: the md5 of
    * each non-overlapping [[W]]-token window. */
  private[graft] def spanHashes(text: Column): Column = {
    val toks = split(text, " ")
    val nSpans = ceil(size(toks).cast("double") / W).cast("int")
    transform(sequence(lit(0), nSpans - 1),
      i => md5(array_join(slice(toks, i * W + 1, lit(W)), " ")))
  }

  /** Row-local grid spans of a (doc_id, text) frame:
    * (doc_id, idx, h, smod). No shuffle. */
  private[graft] def spansOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(spanHashes(col("text"))).as(Seq("idx", "h")))
      .withColumn("smod", pmod(xxhash64(col("h")), lit(Smods)).cast("int"))

  /** Hash the corpus's grid spans once and persist them. */
  def build(docs: DataFrame, root: String): Long =
    Snapshots.commitPartitioned(spansOf(docs), spansRoot(root), Seq("smod"))

  /** Idempotent build — the nightly-job contract. */
  def buildIfAbsent(docs: DataFrame, root: String): Unit =
    if (Snapshots.latestVersion(spansRoot(root)).isEmpty) { build(docs, root); () }

  /** TARGETED DELETE through the span artifact — the
    * right-to-be-forgotten propagation ([[graft.dedup.LshIndex.delete]]
    * for spans): tombstone `docIds`' span rows out of the stored
    * artifact, so a deleted document's spans stop inflating any
    * future batch's duplicated-span counts; compact + vacuum complete
    * the physical erasure. O(keys); idempotent per `batchId` on the
    * absorb watermark. */
  def delete(spark: SparkSession, root: String, docIds: DataFrame,
      batchId: Option[Long] = None): Unit = {
    Snapshots.commitDelete(docIds, spansRoot(root), "doc_id", batchId)
    ()
  }

  /** NIGHTLY MAINTENANCE for the span chain — the operational close of
    * [[absorbBatch]]'s daily loop ([[graft.similarity.VectorIndex.nightly]]
    * for spans): every absorbed batch leaves one more `smod=` delta dir,
    * so after a week every probe resolves a 7-dir chain read; this
    * compacts the chain back to ONE full snapshot when the latest is a
    * delta (re-running is free) and vacuums history beyond `keep`. The
    * replay watermark survives ([[Snapshots.compact]] carries the
    * chain's maxBatchId — a re-delivered pre-compaction batch still
    * no-ops; `q_span_compacted` gates it end-to-end, SpanIndexSpec pins
    * the watermark). A curation deployment reaches this through
    * [[graft.pipelines.CurationJob.nightly]]'s `spanRoot`. */
  def nightly(spark: SparkSession, root: String,
      keep: Int = 7): Snapshots.Maintenance =
    Snapshots.maintain(spark, roots(root), keep)

  /** Absorb a NEW document batch: per-doc grid-span dup statistics of
    * the batch against corpus ∪ batch (#73's semantics — a span is
    * duplicated iff its hash occurs anywhere else, including twice
    * inside one doc), then the batch's spans delta-appended so the
    * NEXT batch sees this one. Returns
    * (doc_id, n_spans, n_dup_spans, dup_frac) for every batch doc.
    *
    * Cost shape: the stored scan is pruned to the `smod=` partitions
    * the batch's hashes land in AND semi-restricted to the batch's
    * (distinct, batch-sized) hash set before its per-hash count — at
    * daily-batch size AQE broadcasts that build side, so the stored
    * artifact never shuffles. Idempotent per `batchId`; replay-stable
    * (already-absorbed copies of the batch's own docs are excluded
    * from the corpus side). */
  def absorbBatch(spark: SparkSession, root: String, batch: DataFrame,
      batchId: Long): DataFrame = {
    val bsp = spansOf(batch).localCheckpoint()
    val mods = bsp.select(col("smod")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val batchIds = batch.select(col("doc_id"))
    val stored = Snapshots.read(spark, spansRoot(root))
      .filter(col("smod").isin(mods: _*))
      // replay guard: once absorbed, the batch's own stored copies
      // must not inflate its df on a re-run
      .join(broadcast(batchIds), Seq("doc_id"), "left_anti")
    val bHashes = bsp.select(col("h")).distinct()
    val corpusDf = stored.join(bHashes.hint("shuffle_hash"), Seq("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("cdf"))
    val batchDf = bsp.groupBy(col("h")).agg(count(lit(1)).as("bdf"))
    val out = bsp
      .join(batchDf.hint("shuffle_hash"), Seq("h"))
      .join(corpusDf, Seq("h"), "left")
      .withColumn("df", col("bdf") + coalesce(col("cdf"), lit(0L)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_frac",
        round(col("n_dup_spans").cast("double") / col("n_spans"), 6))
    // the stats plan above reads the artifact version resolved at
    // Snapshots.read time, so appending afterwards cannot perturb it
    Snapshots.commitAppend(bsp, spansRoot(root), Some(batchId))
    out
  }
}
