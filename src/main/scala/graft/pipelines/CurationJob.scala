package graft.pipelines

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.dedup.BloomIndex
import graft.functions.{TextAnalysis, TokenizerStore}
import graft.operators.Curate
import graft.sources.Snapshots

/** The corpus-curation chain as an OPERATIONAL job: quality gate →
  * exact dedup → mixture resample → sequence packing, materializing
  * the three artifacts a training-data pipeline actually consumes:
  *
  *  - `<out>/curated`       the kept documents (parquet, partitioned
  *                          by source — downstream readers prune)
  *  - `<out>/bins`          the packing table (which docs fill which
  *                          2048-token training bins)
  *  - `<out>/corpus.bloom`  the content-hash membership index the
  *                          NEXT incremental batch loads to skip
  *                          re-deduping against this corpus
  *                          ([[BloomIndex]])
  *
  * The query-surface twin is `q_curation_pipeline` (oracle-gated);
  * this is the same logic via the same [[Curate]] operators, plus the
  * writes. Overwrite mode end-to-end: re-running the job on the same
  * input produces the same artifacts (idempotent).
  */
object CurationJob {

  final case class Report(
      input: Long, afterQuality: Long, afterDedup: Long, afterMix: Long, bins: Long)

  def run(docs: DataFrame, outPrefix: String, budget: Int = 2048): Report = {
    val input = docs.count()
    // kept is persisted too: afterQuality and the dedup derivation
    // would otherwise each re-scan and re-filter the full input
    val kept = docs.filter(TextAnalysis.qualityPass(col("text"))).persist()
    try {
      val afterQuality = kept.count()
      val deduped = Curate.dedupKeepOne(kept, "doc_id", "text").persist()
      try {
        val afterDedup = deduped.count()
        deduped.write.mode(SaveMode.Overwrite)
          .partitionBy("source").parquet(s"$outPrefix/curated")
        // sized from the known cardinality — a fixed-size sketch would
        // saturate on a large corpus and prune nothing
        val index = BloomIndex.build(
          deduped.select(md5(col("text")).as("content_hash")), "content_hash",
          math.max(afterDedup, 1L))
        BloomIndex.save(index, s"$outPrefix/corpus.bloom")
        val sized = deduped.select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("ntok"))
        val mixed = Curate.mixtureResample(sized, Curate.defaultWeight, "doc_id")
          .withColumn("shard", pmod(col("doc_id"), lit(8)).cast("long"))
          .persist()
        try {
          val bins = Curate.packBins(mixed, "doc_id", budget)
          bins.write.mode(SaveMode.Overwrite).parquet(s"$outPrefix/bins")
          Report(input, afterQuality, afterDedup, mixed.count(),
            docs.sparkSession.read.parquet(s"$outPrefix/bins").count())
        } finally mixed.unpersist()
      } finally deduped.unpersist()
    } finally kept.unpersist()
  }

  /** What a [[release]] run produced: per-artifact committed Snapshots
    * versions (the pinnable provenance of a data release), the stage
    * names this invocation actually computed (empty on a clean
    * retry), and the content-fingerprint run key. `bloomPath` always
    * names a bloom file that EXISTS: on a superseded stale replay
    * (this runId's bloom was pruned by a newer release — `superseded`
    * is true) it names the CURRENT release's artifact, so a consumer
    * wiring it into the incremental prefilter never dereferences a
    * pruned file. */
  final case class Release(
      versions: Map[String, Long], recomputed: Seq[String], runId: Long,
      bloomPath: String, superseded: Boolean = false)

  /** The FULL data-release pipeline as an idempotent multi-stage job —
    * the r5 verdict's Next #3: the curation chain extended with
    * decontamination, stored-BPE token accounting, shard layout and
    * the dataset card, every stage committed as a
    * [[Snapshots]]-versioned artifact under `outRoot`:
    *
    *  - `curated` quality gate → decontamination (the held-out eval
    *    slice's 8-gram set, #74's rule) → exact keep-one dedup;
    *    partitioned by source
    *  - `labels`  the MinHash→LSH→verify→resolve near-dup labeling of
    *    the curated corpus (#36c) — STORED, so the report stages (and
    *    any ops query) read it instead of re-executing the pipeline
    *  - `tokens`  per-doc token counts under the stored BPE tokenizer
    *    (#184's artifact; training idempotent via content-fingerprint
    *    root) — the accounting the bins pack against
    *  - `bins`    mixture resample + token-budget packing on the BPE
    *    counts (#68) over near-dup survivors
    *  - `shards`  the 64-shard balanced write layout (#166)
    *  - `card`    the per-source dataset card (#175)
    *  - `report`  #36d's cluster-size histogram OVER THE STORED
    *    `labels` artifact (the production report shape)
    *  - `savings` #36f's token-savings summary, same stored labeling
    *
    * Idempotency is two-layer: every stage commits through
    * [[Snapshots.commitKeyed]] with ONE content-fingerprint run key
    * (same input + params → same key), so a retried run re-commits
    * nothing and — because the stage frames are passed by name —
    * re-COMPUTES nothing for completed stages; and each stage reads
    * its upstream from the committed artifact, never from a live
    * recomputation. CurationSpec proves the clean-retry and
    * version-pinning contracts. */
  def release(docs: DataFrame, outRoot: String, budget: Int = 2048): Release = {
    val spark = docs.sparkSession
    val fp = docs.agg(
      bit_xor(xxhash64(col("doc_id"), col("text"))).as("h"),
      count(lit(1)).as("n")).head()
    val runId = fp.getLong(0) ^ (fp.getLong(1) * 1000003L) ^ budget.toLong
    val recomputed = Seq.newBuilder[String]
    val versions = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def stage(name: String, partitionCols: Seq[String] = Seq.empty)(
        df: => DataFrame): Long = {
      val (v, ran) = Snapshots.commitKeyed(df, s"$outRoot/$name", runId, partitionCols)
      if (ran) recomputed += name
      versions += name -> v
      v
    }
    def artifact(name: String): DataFrame =
      Snapshots.readVersion(spark, s"$outRoot/$name", versions(name))

    stage("curated", Seq("source")) {
      val kept = docs.filter(TextAnalysis.qualityPass(col("text")))
      val clean = graft.queries.Curation.decontaminateDocs(kept)
        .filter(col("contaminated") === 0).select(col("doc_id"))
      Curate.dedupKeepOne(kept.join(clean, "doc_id"), "doc_id", "text")
    }
    stage("labels") {
      graft.queries.LlmData.dedupLabelsOf(
        artifact("curated").select(col("doc_id"), col("text")))
    }
    stage("tokens") {
      val curated = artifact("curated")
      val words = graft.queries.TrainingB.bpeWordFreqOf(curated)
      val troot = TokenizerStore.defaultRoot(words, rounds = 3)
      TokenizerStore.buildIfAbsent(words, troot, rounds = 3)
      // per-doc accounting: BPE symbol count for tokenizer-eligible
      // words, 1 token for everything else — row-local (the stored
      // merges unroll into the scan; no training agg in this plan)
      val nSym = (w: org.apache.spark.sql.Column) =>
        size(split(trim(TokenizerStore.encodeSym(spark, troot, w), "<>"), "><"))
          .cast("long")
      curated.select(col("doc_id"), col("source"),
        aggregate(split(col("text"), " "), lit(0L), (acc, w) =>
          acc + when(w.rlike("^[a-z]+$") && length(w).between(2, 20), nSym(w))
            .otherwise(lit(1L))).as("n_tok"))
    }
    stage("bins") {
      // pack near-dup SURVIVORS (the stored labeling's keepers) by
      // their stored BPE token counts
      val keepers = artifact("labels").filter(col("keep") === 1)
        .select(col("doc_id"))
      val sized = artifact("tokens").join(keepers, "doc_id")
        .select(col("doc_id"), col("source"), col("n_tok").as("ntok"))
      val mixed = Curate.mixtureResample(sized, Curate.defaultWeight, "doc_id")
        .withColumn("shard", pmod(col("doc_id"), lit(8)).cast("long"))
      Curate.packBins(mixed, "doc_id", budget)
    }
    stage("shards") {
      graft.queries.ScaleOpsB.shardLayoutOf(artifact("curated"))
    }
    stage("card") {
      graft.queries.Training.datasetCardOf(artifact("curated"))
    }
    stage("report") {
      graft.queries.LlmData.dedupReportOf(artifact("labels"))
    }
    stage("savings") {
      graft.queries.LlmData.dedupSavingsOf(artifact("labels"),
        artifact("tokens").select(col("doc_id"), col("n_tok")))
    }
    // the bloom membership index for the NEXT incremental batch —
    // file-format artifact (BloomIndex), keyed by the SAME
    // content-fingerprint runId as every Snapshots stage: a bare
    // existence guard at a fixed path would silently reuse a stale
    // bloom built from a PREVIOUS corpus when the input changes, so
    // the membership prefilter would no longer match the curated
    // artifact it claims to index
    val bloomPath = s"$outRoot/corpus.$runId.bloom"
    // Replay guard for the bloom artifact: a RETRIED release of an OLD
    // runId (all Snapshots stages no-op via commitKeyed, so
    // `recomputed` is empty) must not rebuild a bloom a NEWER release
    // already pruned, delete the current release's bloom, or roll the
    // `latest` marker backwards — the marker's last writer is by
    // construction the most recent successful release, so when it
    // names a DIFFERENT runId whose artifact is still present, this
    // run is a superseded replay and the whole bloom step is skipped.
    // A genuinely NEW release always recomputes its stages, so it is
    // never mistaken for a replay.
    def marker(): Option[String] = {
      val p = Paths.get(s"$outRoot/corpus.bloom.latest")
      if (Files.exists(p))
        Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim)
      else None
    }
    val superseded = !new java.io.File(bloomPath).exists() &&
      recomputed.result().isEmpty &&
      marker().exists(m => m != s"corpus.$runId.bloom" &&
        new java.io.File(s"$outRoot/$m").exists())
    if (!superseded) {
      if (!new java.io.File(bloomPath).exists()) {
        val curated = artifact("curated")
        val n = curated.count()
        BloomIndex.save(
          BloomIndex.build(curated.select(md5(col("text")).as("content_hash")),
            "content_hash", math.max(n, 1L)),
          bloomPath)
        recomputed += s"corpus.$runId.bloom"
      }
      // retention: superseded runs' blooms are dead weight (one file per
      // distinct input/budget, never read again once this release wins);
      // prune them on successful release, and repoint a small `latest`
      // marker so fixed-path consumers discover the current artifact
      // instead of silently reading a stale one
      val outDir = new java.io.File(outRoot)
      Option(outDir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("corpus.") && f.getName.endsWith(".bloom")
          && f.getName != s"corpus.$runId.bloom")
        .foreach(_.delete())
      val latestTmp = Paths.get(s"$outRoot/corpus.bloom.latest.tmp")
      Files.write(latestTmp, s"corpus.$runId.bloom".getBytes(StandardCharsets.UTF_8))
      Files.move(latestTmp, Paths.get(s"$outRoot/corpus.bloom.latest"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
    // on the superseded path this run's own bloom was pruned by the
    // newer release and never rebuilt — hand the caller the marker's
    // EXISTING artifact instead of a path to a file that is not there
    val servedBloom =
      if (superseded) s"$outRoot/${marker().get}" else bloomPath
    Release(versions.toMap, recomputed.result(), runId, servedBloom,
      superseded = superseded)
  }

  /** The DAILY INGEST job — the operational close of the incremental
    * family: absorb one day's document batch into an existing curated
    * corpus at O(batch), never re-reading or re-signing the corpus.
    *
    *  1. quality gate — row-local, rides the batch scan;
    *  2. near-dup check + absorption via
    *    [[graft.dedup.LshIndex.absorbBatch]] — the batch probes the
    *    stored band index (partition-pruned) and is delta-appended so
    *    TOMORROW's batch sees today's; an exact duplicate is a
    *    verified match at Jaccard 1.0, so it is caught here (up to
    *    LSH recall — a pipeline needing exactness composes the
    *    stored [[BloomIndex]] as a row-local prefilter);
    *  3. survivors (quality-passed, no verified match) delta-appended
    *    to the curated corpus snapshot ([[Snapshots.commitAppend]]).
    *
    * A deployment that also keeps the STORED grid-span index passes
    * `spanRoot` and the same quality-passed candidate set is
    * delta-absorbed into it ([[graft.dedup.SpanIndex.absorbBatch]], the
    * same batchId clock — all candidates enter, survivors and dropped
    * near-dups alike, mirroring the LSH side), so tomorrow's substring
    * statistics see today's ingest without a separate job.
    *
    * Returns the per-doc disposition frame (doc_id, quality_pass,
    * n_matches, kept) — the audit record an ingest pipeline logs.
    * Idempotent per `batchId`: every append replays as a no-op and the
    * disposition is replay-stable. */
  def absorbDaily(batch: DataFrame, curatedRoot: String, lshRoot: String,
      batchId: Long, spanRoot: Option[String] = None): DataFrame = {
    val spark = batch.sparkSession
    val gated = batch
      .withColumn("quality_pass", TextAnalysis.qualityPass(col("text")).cast("int"))
    val candidates = gated.filter(col("quality_pass") === 1)
      .select(col("doc_id"), col("text")).localCheckpoint()
    spanRoot.foreach { r =>
      graft.dedup.SpanIndex.absorbBatch(spark, r, candidates, batchId); ()
    }
    // near-dup verdicts vs the stored index (and within the batch);
    // absorbBatch also delta-appends the batch's signatures
    val matches = graft.dedup.LshIndex
      .absorbBatch(spark, lshRoot, candidates, batchId)
      .groupBy(col("new_id").as("doc_id"))
      .agg(count(lit(1)).as("n_matches"))
    val disposition = gated.select(col("doc_id"), col("quality_pass"))
      .join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"), col("quality_pass"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"))
      .withColumn("kept",
        (col("quality_pass") === 1 && col("n_matches") === 0L).cast("int"))
      .localCheckpoint()
    val kept = disposition.filter(col("kept") === 1).select(col("doc_id"))
    // the curated append records the sidecars the base commit
    // declared (commit the base with `doc_id` stats): daily batches
    // carry disjoint id ranges, so the sidecars make a point/range
    // lookup on the curated corpus touch O(matching files) instead of
    // the whole chain ([[Snapshots.readPruned]]; [[nightly]]'s
    // compaction keeps them). Footer reads are O(batch files) — noise
    // next to the batch write itself.
    Snapshots.commitAppend(
      batch.join(kept, Seq("doc_id")).select(col("doc_id"), col("text")),
      curatedRoot, batchId = Some(batchId))
    disposition
  }

  /** RANGE/POINT LOOKUP on the curated corpus through the stats
    * sidecars: a plain filtered read on the doc_id interval — the
    * planner pushes the bounds to each chain member's scan and the
    * stats-backed file index prunes its file list, so a
    * single-document fetch on a 100 TB corpus touches one file of
    * one delta (or a slice of the compacted base) instead of the
    * whole chain. Exact regardless of which members carry stats
    * (members without sidecars scan whole; Spark's row-level filter
    * completes). */
  def lookupDocs(spark: org.apache.spark.sql.SparkSession,
      curatedRoot: String, loId: Long, hiId: Long): DataFrame = {
    // a PLAIN filtered read: the per-member stats sidecars are
    // consulted by the planner itself ([[graft.sources.StatsFileIndex]]
    // — Catalyst pushes the BETWEEN to the scan, the index prunes the
    // file list), so this needs no readPruned side door and any ad-hoc
    // consumer filtering the same way skips identically
    import org.apache.spark.sql.functions.col
    Snapshots.read(spark, curatedRoot)
      .filter(col("doc_id") >= loId && col("doc_id") <= hiId)
  }

  /** RIGHT-TO-BE-FORGOTTEN — targeted delete through the whole
    * ingest deployment: tombstone `docIds` out of the curated corpus
    * snapshot AND the stored LSH index's band/shingle artifacts
    * ([[Snapshots.commitDelete]] / [[graft.dedup.LshIndex.delete]]),
    * so readers of the corpus no longer see the documents and the
    * NEXT [[absorbDaily]] batch's probe cannot match them. Pre-delete
    * versions stay time-travelable (the audit trail) until
    * [[nightly]]'s compact + vacuum physically drop the bytes — run
    * it after a forget to complete the erasure. O(keys) at delete
    * time; idempotent per `batchId` on the same monotone clock as the
    * daily absorbs. A deployment that also keeps the stored grid-span
    * index passes `spanRoot` and the documents' span rows are
    * tombstoned in the same call ([[graft.dedup.SpanIndex.delete]]) —
    * without it a forgotten doc's spans would keep inflating future
    * batches' duplicated-span counts. One with stored embeddings
    * composes [[graft.similarity.VectorIndex.delete]] with the same
    * ids. */
  def forget(spark: org.apache.spark.sql.SparkSession, curatedRoot: String,
      lshRoot: String, docIds: DataFrame,
      batchId: Option[Long] = None,
      spanRoot: Option[String] = None): Unit = {
    Snapshots.commitDelete(docIds, curatedRoot, "doc_id", batchId)
    graft.dedup.LshIndex.delete(spark, lshRoot, docIds, batchId)
    spanRoot.foreach(r =>
      graft.dedup.SpanIndex.delete(spark, r, docIds, batchId))
  }

  /** What [[nightly]] touched — see [[Snapshots.Maintenance]]. */
  type Maintenance = Snapshots.Maintenance

  /** NIGHTLY MAINTENANCE — the operational close of the
    * [[absorbDaily]] loop: every daily batch leaves one more delta
    * dir on the curated corpus and on BOTH stored-LSH artifact
    * chains, so after a week every probe resolves a 7-dir chain read.
    * This job compacts each chain back to ONE full snapshot (a no-op
    * when the latest is already full — re-running is free) and then
    * vacuums history beyond `keep` versions (vacuum never drops an
    * ancestor a retained version's chain still resolves through).
    * The replay watermark survives compaction
    * ([[Snapshots.compact]] carries the chain's maxBatchId), so a
    * re-delivered pre-compaction batch still no-ops afterwards — the
    * invariant `q_dedup_lsh_compacted` gates end-to-end against the
    * oracle. Cost: one distributed rewrite per chain that actually
    * has deltas, metadata otherwise.
    *
    * A deployment that also runs the STREAMING absorb loop
    * ([[graft.streaming.DocsStream.absorbNearDups]]) passes its
    * `matchesRoot` — the landed-matches chain grows one delta per
    * micro-batch and is compacted here; one that ingests EMBEDDINGS
    * ([[graft.similarity.VectorIndex.assignBatch]]/`encodeBatchPq`)
    * passes its index root via `vectorRoot` and the vector families'
    * chains (IVF assignments, PQ codes) are maintained in the same
    * pass ([[graft.similarity.VectorIndex.nightly]] standalone covers
    * the index-only deployment); one that keeps the stored grid-span
    * index ([[graft.dedup.SpanIndex]]) passes `spanRoot` and its
    * `smod=` chain is compacted + vacuumed here too — without it a
    * week of span absorbs becomes a 7-dir chain read with no
    * maintenance entry point. Every chain is rewritten in its own
    * declared layout (the curated corpus keeps the `doc_id` sidecars
    * its base commit declared). */
  def nightly(spark: org.apache.spark.sql.SparkSession,
      curatedRoot: String, lshRoot: String, keep: Int = 7,
      matchesRoot: Option[String] = None,
      vectorRoot: Option[String] = None,
      spanRoot: Option[String] = None): Maintenance = {
    import graft.dedup.{LshIndex, SpanIndex}
    import graft.similarity.VectorIndex
    Snapshots.maintain(spark,
      (curatedRoot +: LshIndex.roots(lshRoot)) ++ matchesRoot ++
        vectorRoot.toSeq.flatMap(VectorIndex.roots) ++
        spanRoot.toSeq.flatMap(SpanIndex.roots),
      keep)
  }
}
