package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming LLM-data ingestion: near-duplicate suppression on a
  * document stream.
  *
  * The batch dedup pipeline (signatures → LSH bands → verify →
  * resolve) needs the whole corpus; a STREAM can still cheaply
  * suppress near-dups at ingest: MinHash signatures are ROW-LOCAL
  * (streaming-safe — no shuffle, no state), so each arriving document
  * gets an LSH band key, and `dropDuplicatesWithinWatermark` keeps the
  * first arrival per band key. Docs whose band collides with an
  * earlier arrival within the watermark horizon are dropped —
  * exactly the documents the batch pipeline would pair up.
  *
  * State is BOUNDED by the watermark (keys older than the horizon are
  * evicted), so this runs forever on an unbounded crawl — the
  * streaming complement of the batch `q_dedup_pipeline`, trading
  * cross-batch recall for O(watermark) state.
  */
object DocsStream {

  /** @param rowsPerKey how many signature slots form the suppression
    *                    key (the LSH `r`): collision probability for a
    *                    pair with Jaccard J is J^r — r=1 suppresses
    *                    aggressively (any fairly similar doc), higher r
    *                    trades recall for precision. */
  def dedupNearWithinWatermark(
      docs: DataFrame, textCol: String, tsCol: String,
      watermark: String = "1 hour", rowsPerKey: Int = 1): DataFrame = {
    val sigs = graft.plans.MinHashSigs(col(textCol), 8)
    val key = concat_ws("|",
      (0 until rowsPerKey).map(i => element_at(sigs, i + 1)): _*)
    docs
      .withColumn("__band", key)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__band")
      .drop("__band")
  }

  /** Streaming DECONTAMINATION at ingest: drop stream documents
    * sharing any 8-token n-gram with a held-out eval set — the edge
    * complement of the batch `q_decontaminate`.
    *
    * STATELESS by construction: the eval n-gram set (small by
    * definition — it is a benchmark) is collected ONCE at plan time
    * and shipped in the closure like a broadcast variable; the
    * membership test is then a row-local `exists` over each arriving
    * document's gram array. No streaming state, no shuffle, so it
    * composes freely before the stateful dedup (a stream-derived anti
    * join here would be an unsupported stream-stream join — the
    * row-local filter is the streaming-legal shape). For an eval set
    * too large to test linearly, the same plan swaps in a bloom-
    * filter literal built exactly as in `q_dedup_bloom`. */
  def decontaminatedIngest(
      docs: DataFrame, evalGrams: DataFrame, textCol: String): DataFrame = {
    val evalSet = evalGrams.distinct().collect().map(_.getString(0)).toSeq
    val grams = graft.plans.WordShingles(col(textCol), 8)
    // arrays_overlap, not exists+array_contains: one hash-set probe of
    // the smaller side per row instead of |grams| x |eval| comparisons
    docs.filter(!arrays_overlap(grams, typedLit(evalSet)))
  }

  /** Streaming VECTOR INGEST — the streaming front door of the stored
    * IVF index ([[graft.similarity.VectorIndex]]): each arriving
    * embedding is assigned to its nearest PERSISTED centroid with the
    * exact build/assignBatch rule (cosine rounded 6dp, tie-break
    * lowest cid). STATELESS by construction: the KB-scale centroid
    * table is folded into one row-local codegen'd argmax expression
    * at plan time ([[graft.similarity.VectorIndex.assignRowLocal]]),
    * so there is no join, no shuffle, and zero streaming state — a
    * downstream foreachBatch sink lands each micro-batch into the
    * index's `bucket=` partitions via
    * [[graft.similarity.VectorIndex.assignBatch]]'s idempotent delta
    * commit (batchId = the micro-batch id), closing the
    * stream → stored-index loop with exactly-once semantics.
    * StreamingSpec pins stream ≡ batch assignment on the same rows.
    *
    * @param vectors streaming frame with (vec_id, v: array<double>)
    * @param cents   the STORED centroid frame (static side) */
  def assignVectors(vectors: DataFrame, cents: DataFrame): DataFrame =
    graft.similarity.VectorIndex.assignRowLocal(vectors, cents)

  /** Streaming NEAR-DUP PROBE against the STORED LSH index
    * ([[graft.dedup.LshIndex]]) — the text-side streaming front door
    * next to [[assignVectors]]: each arriving document is MinHash-
    * signed row-locally, its band keys joined against the persisted
    * band artifact and the survivors Jaccard-verified against the
    * persisted shingle sets — BOTH stream-static joins (stateless,
    * streaming-legal; the stream side carries its own shingle set
    * through the band explode, so no stream-stream join ever forms).
    * Emits verified (new_id, match_id, jaccard ≥ threshold) matches
    * of the stream against the indexed corpus.
    *
    * A pair colliding in multiple bands would emit once per band; the
    * trailing `dropDuplicatesWithinWatermark` on (new_id, match_id)
    * collapses them with watermark-BOUNDED state (the only state in
    * the plan). Within-stream duplicates are out of scope by design —
    * that is [[dedupNearWithinWatermark]]'s job, and cross-batch
    * they surface here once the [[absorbNearDups]] sink (foreachBatch
    * [[graft.dedup.LshIndex.absorbBatch]], batchId = micro-batch id)
    * absorbs each micro-batch into the static index.
    *
    * The static artifact frames re-read per micro-batch are the
    * standard stream-static contract; a production job pins them
    * hot with `.persist()` on the [[graft.sources.Snapshots.read]]
    * frames and refreshes on index version bumps.
    *
    * @param docs streaming (doc_id, text, `tsCol`) frame */
  def probeNearDups(spark: org.apache.spark.sql.SparkSession, docs: DataFrame,
      root: String, tsCol: String, watermark: String = "1 hour"): DataFrame = {
    import graft.dedup.LshIndex
    // banded like the stored index (LshIndex.bandsFor reads the root's
    // rowsPerBand — a stream banded differently would match nothing)
    val bb = LshIndex.bandsFor(root,
      docs.withWatermark(tsCol, watermark)
        .withColumn("sa", LshIndex.shingleSet(col("text"))),
      carry = Seq("sa", tsCol))
    val storedBands = graft.sources.Snapshots
      .read(spark, LshIndex.bandsRoot(root))
      .select(col("doc_id").as("match_id"), col("band"), col("bucket"))
    val storedSh = graft.sources.Snapshots
      .read(spark, LshIndex.shinglesRoot(root))
      .select(col("doc_id").as("match_id"), col("shs").as("sb"))
    bb.join(storedBands,
        Seq("band", "bucket"))
      .filter(col("doc_id") =!= col("match_id"))
      .select(col("doc_id").as("new_id"), col(tsCol), col("sa"), col("match_id"))
      .join(storedSh, Seq("match_id"))
      .withColumn("__inter", size(array_intersect(col("sa"), col("sb"))))
      .select(col("new_id"), col("match_id"), col(tsCol),
        round(col("__inter") /
          (size(col("sa")) + size(col("sb")) - col("__inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= LshIndex.JaccardMin)
      .dropDuplicatesWithinWatermark("new_id", "match_id")
      .select(col("new_id"), col("match_id"), col("jaccard"))
  }

  /** Streaming EXACT-SUBSTRING PROBE against the STORED span index
    * ([[graft.dedup.SpanIndex]]) — the fourth stored family's
    * streaming front door, completing the set ([[assignVectors]] IVF,
    * [[probeNearDups]] LSH, the bloom prefilter in
    * `q_dedup_incremental`'s shape): each arriving document's 16-token
    * grid spans are enumerated ROW-LOCALLY (hash triples only — span
    * text never leaves its row) and flagged against the persisted span
    * artifact with ONE stream-static left join (stateless,
    * streaming-legal, append-mode-safe — no aggregation, no watermark
    * state). Within-doc multiplicity is computed row-locally over the
    * doc's own span array BEFORE the explode, so a span repeated
    * inside one document flags without any cross-row state.
    *
    * Emits one row per arriving span: (doc_id, idx, h, dup) with
    * dup = 1 iff the span hash occurs in the indexed corpus OR ≥ 2
    * times within the document — #73's "duplicated span" rule against
    * corpus ∪ self. A consumer derives the per-doc batch statistics
    * with `sum(dup) GROUP BY doc_id` downstream (or lands micro-batches
    * through [[graft.dedup.SpanIndex.absorbBatch]] in foreachBatch for
    * the exact batch semantics + absorb — the [[absorbNearDups]]
    * pattern). Cross-arrival duplicates WITHIN the stream are out of
    * scope by design, same as [[probeNearDups]]: they surface once a
    * foreachBatch sink absorbs each micro-batch.
    *
    * The static artifact re-read per micro-batch is the standard
    * stream-static contract; the distinct-hash build is deletion-aware
    * (it reads through tombstones), so a forgotten document stops
    * flagging new arrivals immediately.
    *
    * @param docs streaming (doc_id, text) frame */
  def probeSpans(spark: org.apache.spark.sql.SparkSession, docs: DataFrame,
      root: String): DataFrame = {
    import graft.dedup.SpanIndex
    val storedH = graft.sources.Snapshots
      .read(spark, SpanIndex.spansRoot(root))
      .select(col("h")).distinct()
      .withColumn("__stored", lit(1))
    docs
      .withColumn("__spans", SpanIndex.spanHashes(col("text")))
      .select(col("doc_id"), col("__spans"),
        posexplode(col("__spans")).as(Seq("idx", "h")))
      .withColumn("__within",
        (size(filter(col("__spans"), x => x === col("h"))) > 1).cast("int"))
      .drop("__spans")
      .join(storedH, Seq("h"), "left")
      .select(col("doc_id"), col("idx"), col("h"),
        greatest(col("__within"), coalesce(col("__stored"), lit(0))).as("dup"))
  }


  /** Streaming TEXT-INDEX ABSORB LOOP — the foreachBatch sink that
    * closes the stream → stored-LSH-index cycle (the text twin of the
    * vector side's assignBatch sink, ending [[probeNearDups]]'s
    * probe-only asymmetry): each micro-batch of (doc_id, text) rows is
    * absorbed via [[graft.dedup.LshIndex.absorbBatch]] with batchId =
    * the MICRO-BATCH id, so the band/shingle delta appends are
    * exactly-once under runtime replay, and TOMORROW's arrivals match
    * against TODAY's through the stored index. The verified matches of
    * each micro-batch are landed under `matchesRoot` with the same
    * micro-batch id (first batch = full snapshot, later ones idempotent
    * delta appends), so a crash between the index append and the
    * matches commit retries into a no-op on the index side and a
    * replay-stable match set on the matches side — end-to-end
    * exactly-once without a transaction.
    *
    * Per-micro-batch cost is [[graft.dedup.LshIndex.absorbBatch]]'s
    * O(batch + candidates) with partition-pruned stored reads — the
    * corpus is never re-signed, so the loop runs forever on an
    * unbounded crawl.
    *
    * `checkpoint` is REQUIRED, not optional: the exactly-once story
    * rests on micro-batch ids replaying monotonically, and a query
    * restarted WITHOUT its checkpoint restarts ids at 0 — every
    * genuinely new batch would then sit below the stored replay
    * watermark and silently no-op on both roots (data loss that looks
    * healthy). Forcing the caller to name a checkpoint location makes
    * the unsafe restart impossible to reach by default. */
  def absorbNearDups(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, root: String, matchesRoot: String,
      checkpoint: String):
      org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.dedup.LshIndex
    require(checkpoint.nonEmpty, "absorbNearDups needs a checkpoint location")
    docs.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, id: Long) =>
        graft.sources.Snapshots.landBatch(LshIndex.absorbBatch(spark, root,
          df.select(col("doc_id"), col("text")), id), matchesRoot, id)
      }
      .start()
  }

  /** Streaming SPAN-INDEX ABSORB LOOP — [[absorbNearDups]]'s shape for
    * the grid-span family, ending [[probeSpans]]' probe-only
    * asymmetry: each micro-batch of (doc_id, text) rows is absorbed
    * via [[graft.dedup.SpanIndex.absorbBatch]] with batchId = the
    * MICRO-BATCH id (exactly-once span delta appends under runtime
    * replay — tomorrow's arrivals count today's spans as duplicated),
    * and the batch's #73 per-doc statistics are landed under
    * `statsRoot` on the same clock (first batch = full snapshot, later
    * ones idempotent delta appends), so a crash between the index
    * append and the stats commit retries into a no-op on the index
    * side and a replay-stable report on the stats side.
    *
    * Per-micro-batch cost is absorbBatch's O(batch + matching stored
    * spans) with `smod=`-pruned reads — the corpus is never
    * re-spanned. `checkpoint` is REQUIRED for the same reason as
    * [[absorbNearDups]]: a restart without it replays micro-batch ids
    * from 0 below the stored watermark and silently drops data. */
  def absorbSpans(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, root: String, statsRoot: String,
      checkpoint: String):
      org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.dedup.SpanIndex
    require(checkpoint.nonEmpty, "absorbSpans needs a checkpoint location")
    docs.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, id: Long) =>
        graft.sources.Snapshots.landBatch(SpanIndex.absorbBatch(spark, root,
          df.select(col("doc_id"), col("text")), id), statsRoot, id)
      }
      .start()
  }

  /** Streaming SEMANTIC NEAR-DUP PROBE against the STORED vector index
    * ([[graft.similarity.VectorIndex]]) — the embedding-side member of
    * the streaming probe family ([[probeNearDups]] LSH text,
    * [[probeSpans]] grid spans; [[assignVectors]] is the assignment
    * half of this front door): each arriving vector is assigned to its
    * persisted nearest centroid ROW-LOCALLY (the KB-scale centroid
    * matrix folds into one codegen'd argmax at plan time — no join, no
    * shuffle on the stream side), then ONE stream-static equi-join on
    * `bucket` pairs it with the stored assignments of ITS OWN cluster
    * only, and a row-local cosine ≥ `tau` filter emits the matches.
    * Emits (new_id, match_id, cos) of the stream against the indexed
    * corpus — [[graft.similarity.VectorIndex.semProbeBatch]]'s
    * vs-corpus semantics in streaming form.
    *
    * FULLY STATELESS: a vector lives in exactly one bucket, so a
    * (new, match) pair can only form once — unlike the multi-band LSH
    * probe there is nothing to deduplicate and no watermark state at
    * all. Within-stream pairs are out of scope by design (the
    * [[absorbSemantic]] foreachBatch sink computes them with the exact
    * batch semantics and absorbs each micro-batch so tomorrow's
    * arrivals match today's). The static artifact frames re-read per
    * micro-batch are the standard stream-static contract; the stored
    * side's `bucket=` partition dirs mean each micro-batch's join
    * builds from pruned reads once the optimizer pushes the join keys
    * — and at worst reads the assignments table once per micro-batch,
    * never the float corpus.
    *
    * @param vectors streaming (vec_id, v: array<double>) frame */
  def probeSemantic(spark: org.apache.spark.sql.SparkSession,
      vectors: DataFrame, root: String, tau: Double): DataFrame = {
    import graft.similarity.{Embeddings, VectorIndex}
    val stored = graft.sources.Snapshots
      .read(spark, VectorIndex.assignmentsRoot(root))
      .select(col("vec_id").as("match_id"), col("v").as("mv"),
        col("bucket").cast("int").as("bucket"))
    VectorIndex.assignRowLocal(vectors, VectorIndex.centroidMatrix(spark, root))
      .drop("ccos")
      .join(stored, Seq("bucket"))
      .filter(col("vec_id") =!= col("match_id"))
      .select(col("vec_id").as("new_id"), col("match_id"),
        round(Embeddings.cosine(col("v"), col("mv")), 6).as("cos"))
      .filter(col("cos") >= tau)
  }

  /** Streaming SEMANTIC ABSORB LOOP — [[absorbNearDups]]'s shape for
    * the vector family, completing the probe+absorb streaming story on
    * all four stored index types: each micro-batch of (vec_id, v) rows
    * runs [[graft.similarity.VectorIndex.semProbeBatch]] with batchId =
    * the MICRO-BATCH id (row-local assignment, own-bucket probes of the
    * stored assignments, within-batch pairs, idempotent delta absorb),
    * and the batch's verified pairs are landed under `matchesRoot` on
    * the same clock (first batch = full snapshot, later ones idempotent
    * delta appends) — a crash between the index append and the matches
    * commit retries into a no-op on the index side and a replay-stable
    * pair set on the matches side.
    *
    * Per-micro-batch cost is semProbeBatch's O(batch + own-bucket
    * candidates) with `bucket=`-pruned stored reads — the corpus is
    * never re-assigned. `checkpoint` is REQUIRED for the same reason as
    * [[absorbNearDups]]: a restart without it replays micro-batch ids
    * from 0 below the stored watermark and silently drops data. An
    * empty micro-batch appends nothing on either root (semProbeBatch's
    * empty-batch short-circuit covers the index side) — except the
    * very first tick, which still lands an empty frame so
    * `matchesRoot` exists with the contract schema for downstream
    * readers (only once the index exists — empty ticks before the
    * build idle politely). BUILD-BEFORE-STREAM is enforced loudly: a
    * NON-EMPTY micro-batch arriving before [[graft.similarity
    * .VectorIndex.build]] committed fails the query with a named
    * IllegalStateException instead of an incidental read error
    * (StreamingSpec pins the failure mode). */
  def absorbSemantic(spark: org.apache.spark.sql.SparkSession,
      vectors: DataFrame, root: String, matchesRoot: String,
      checkpoint: String, tau: Double = 0.95):
      org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.similarity.VectorIndex
    require(checkpoint.nonEmpty, "absorbSemantic needs a checkpoint location")
    vectors.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, id: Long) =>
        // an empty micro-batch APPENDS nothing on either root — the
        // index side short-circuits in semProbeBatch, and landing an
        // empty pair delta here would grow the matches chain by one
        // version per idle tick. Exception: the very FIRST tick still
        // lands (empty) so matchesRoot exists with the contract schema
        // for downstream readers, matching the sibling loops — but
        // ONLY once the index itself exists: a deployment may start
        // the stream before VectorIndex.build commits, and probing a
        // centroids-less root on an empty startup tick would crash a
        // query the old code let idle. The micro-batch frame is
        // replayable, so the emptiness probe is a plain take(1) with
        // no extra materialization.
        val batch = df.select(col("vec_id"), col("v"))
        val built = graft.sources.Snapshots
          .latestVersion(VectorIndex.centroidsRoot(root)).nonEmpty
        // BUILD-BEFORE-STREAM is a contract, and breaking it must be a
        // NAMED failure: a non-empty micro-batch arriving before
        // VectorIndex.build committed would otherwise crash
        // incidentally deep inside Snapshots.read on the missing
        // centroids root (empty startup ticks keep idling politely —
        // a stream may legitimately start before its first data).
        if (!batch.isEmpty && !built)
          throw new IllegalStateException(
            s"absorbSemantic: no vector index is built under $root — " +
              "run VectorIndex.build/buildIfAbsent BEFORE streaming " +
              "absorb (build-before-stream contract); this micro-batch " +
              s"(id=$id) carries rows that would otherwise be probed " +
              "against a nonexistent index")
        if (!batch.isEmpty ||
            (graft.sources.Snapshots.latestVersion(matchesRoot).isEmpty && built))
          graft.sources.Snapshots.landBatch(
            VectorIndex.semProbeBatch(spark, root, batch, tau, id),
            matchesRoot, id)
      }
      .start()
  }

  /** Streaming TRENDING TERMS: watermarked tumbling-window term
    * counts over a document stream — the "what is the crawl seeing
    * right now" monitoring view next to the batch vocab/entropy
    * tables (#87/#88). Term explode is row-local; the windowed count
    * is the canonical watermark + window agg (state bounded by the
    * watermark, finalized windows emitted once in append mode).
    * Ranking within a window is left to the reader of the (small)
    * per-window count table: streaming top-k would need
    * arbitrary-stateful processing for exactness, and the count table
    * IS the complete answer. Low-signal terms are pre-filtered by
    * minimum length so stopword noise never enters the state store. */
  def trendingTerms(
      docs: DataFrame, textCol: String, tsCol: String,
      watermark: String = "1 hour", windowLen: String = "10 minutes",
      minTermLen: Int = 3): DataFrame =
    docs
      .withWatermark(tsCol, watermark)
      .select(col(tsCol), explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) >= minTermLen)
      .groupBy(window(col(tsCol), windowLen), col("term"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("term"), col("n"))

  /** Curated ingest: the full quality-then-dedup gate applied AT THE
    * EDGE of a document stream. The quality rules
    * ([[graft.functions.TextAnalysis.qualityPass]]) are row-local
    * Column expressions, so they compose with streaming for free (a
    * stateless filter before the stateful dedup keeps junk documents
    * from ever entering the dedup state store) — the streaming
    * complement of the batch `q_curation_pipeline`. */
  def curatedIngest(
      docs: DataFrame, textCol: String, tsCol: String,
      watermark: String = "1 hour", rowsPerKey: Int = 1): DataFrame =
    dedupNearWithinWatermark(
      docs.filter(graft.functions.TextAnalysis.qualityPass(col(textCol))),
      textCol, tsCol, watermark, rowsPerKey)

  /** One arriving document for [[quotaIngest]]. */
  case class QuotaDoc(doc_id: Long, source: String, ntok: Long,
      ts: java.sql.Timestamp)
  /** Tokens admitted so far for one (source, window) quota key. */
  case class QuotaState(admitted: Long)
  /** An admitted document with its running window total. */
  case class QuotaOut(doc_id: Long, source: String, ntok: Long,
      window_start: java.sql.Timestamp, cum_tokens: Long)

  /** Streaming per-source TOKEN-QUOTA ADMISSION: cap how many tokens
    * each source may contribute per event-time window — the
    * rate-control half of mixture enforcement (#67 resamples a static
    * corpus; this bounds a LIVE crawl so no domain floods an epoch).
    *
    * Keyed by (source, tumbling window): state is ONE counter per
    * key; a document is admitted iff the counter stays within quota,
    * oversized arrivals are dropped (emitting a truncated doc would
    * corrupt downstream dedup hashes). Admission order inside a
    * micro-batch is (ts, doc_id) — deterministic under replay, since
    * Spark does not order rows within a group iterator. The counter
    * is evicted by EventTimeTimeout once the watermark passes the
    * window end, so state is O(sources × windows-in-flight) forever.
    * Emitted docs appear immediately (append mode) — admission must
    * not wait for window finalization.
    *
    * MEMORY BOUND: ordering needs a buffer, and the flood case this
    * operator exists for is exactly the case where one (source,
    * window) group is huge — so the buffer is CAPPED at the remaining
    * quota in docs (an admitted set can never exceed quotaTokens docs
    * at ntok ≥ 1): a bounded max-heap keeps the (ts, doc_id)-earliest
    * `cap` candidates and evicts the latest beyond it. Under overflow
    * the greedy scan considers only those earliest arrivals — still
    * deterministic; the only deviation from the unbounded-sort result
    * is when every one of `cap` ≥ remaining-tokens earliest candidates
    * is oversized while a later one would fit, a corner where the
    * window is saturated anyway. Executor memory per group is
    * O(min(batch, remaining quota)), never O(flood). */
  /** One scored candidate for [[bestOfNIngest]]. */
  case class CandDoc(doc_id: Long, prompt_id: Long, reward: Double,
      ts: java.sql.Timestamp)
  /** Running winner for one (prompt, window) key. */
  case class BestState(doc_id: Long, reward: Double, n_seen: Long)
  /** The finalized selection for one (prompt, window). */
  case class BestOut(prompt_id: Long, window_start: java.sql.Timestamp,
      doc_id: Long, reward: Double, n_candidates: Long)

  /** Streaming REJECTION SAMPLING (best-of-n at the edge): per
    * (prompt, event-time window), keep only the highest-reward
    * candidate — the streaming complement of the batch
    * `q_rejection_sample` (#179). Generations arrive as a stream; a
    * window's winner is emitted ONCE, when the watermark passes the
    * window end and no late candidate can still displace it (emitting
    * eagerly would retract — a finalized append is the exactly-once
    * shape downstream training jobs can consume).
    *
    * State is O(1) per in-flight (prompt, window) key — just the
    * current argmax and a count, updated per micro-batch with the
    * (reward desc, doc_id asc) tie-break of #179, so replays and
    * arrival orders all converge to the same winner. Keys are evicted
    * by EventTimeTimeout at emission, so state is bounded by
    * prompts × windows-in-flight forever. In BATCH mode (isStreaming
    * false) the group is complete by definition and the winner is
    * emitted immediately. */
  def bestOfNIngest(
      docs: org.apache.spark.sql.Dataset[CandDoc],
      windowLenMs: Long = 10L * 60 * 1000,
      watermark: String = "30 minutes"):
      org.apache.spark.sql.Dataset[BestOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import docs.sparkSession.implicits._
    val isStreaming = docs.isStreaming
    def better(a: (Double, Long), b: (Double, Long)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
    docs
      .withWatermark("ts", watermark)
      .groupByKey(d => (d.prompt_id, d.ts.getTime / windowLenMs * windowLenMs))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: (Long, Long), ds: Iterator[CandDoc],
         state: GroupState[BestState]) => {
          val (promptId, windowStartMs) = key
          def emit(st: BestState) = Iterator.single(BestOut(promptId,
            new java.sql.Timestamp(windowStartMs), st.doc_id, st.reward,
            st.n_seen))
          if (state.hasTimedOut) {
            // watermark cleared the window end: the winner is final
            val st = state.get
            state.remove()
            emit(st)
          } else {
            var best = state.getOption
              .map(s => (s.reward, s.doc_id)).getOrElse((Double.MinValue, Long.MaxValue))
            var n = state.getOption.map(_.n_seen).getOrElse(0L)
            ds.foreach { d =>
              n += 1
              if (better((d.reward, d.doc_id), best)) best = (d.reward, d.doc_id)
            }
            val st = BestState(best._2, best._1, n)
            if (isStreaming) {
              state.update(st)
              val windowEndMs = windowStartMs + windowLenMs
              state.setTimeoutTimestamp(
                math.max(windowEndMs, state.getCurrentWatermarkMs() + 1))
              Iterator.empty
            } else emit(st) // batch: the group iterator IS the window
          }
        })
  }

  def quotaIngest(
      docs: org.apache.spark.sql.Dataset[QuotaDoc],
      quotaTokens: Long,
      windowLenMs: Long = 10L * 60 * 1000,
      watermark: String = "30 minutes"):
      org.apache.spark.sql.Dataset[QuotaOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import docs.sparkSession.implicits._
    val isStreaming = docs.isStreaming
    docs
      .withWatermark("ts", watermark)
      .groupByKey(d => (d.source, d.ts.getTime / windowLenMs * windowLenMs))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: (String, Long), ds: Iterator[QuotaDoc],
         state: GroupState[QuotaState]) => {
          val (source, windowStartMs) = key
          if (state.hasTimedOut) {
            // watermark passed the window end: no more admissions
            // possible for this key — drop the counter
            state.remove()
            Iterator.empty
          } else {
            var admitted = state.getOption.map(_.admitted).getOrElse(0L)
            // bounded candidate buffer: at most `cap` earliest rows
            // (max-heap on (ts, doc_id); the heap head is the LATEST
            // kept candidate and is evicted when a smaller key arrives)
            val cap = math.max(1L, math.min(quotaTokens - admitted, 1L << 20)).toInt
            implicit val ord: Ordering[QuotaDoc] =
              Ordering.by((d: QuotaDoc) => (d.ts.getTime, d.doc_id))
            val heap = scala.collection.mutable.PriorityQueue.empty[QuotaDoc]
            ds.foreach { d =>
              if (d.ntok <= quotaTokens) { // oversized rows can never admit
                if (heap.size < cap) heap.enqueue(d)
                else if (ord.lt(d, heap.head)) { heap.dequeue(); heap.enqueue(d) }
              }
            }
            val out = scala.collection.mutable.ArrayBuffer[QuotaOut]()
            heap.dequeueAll.reverse.foreach { (d: QuotaDoc) =>
              if (admitted + d.ntok <= quotaTokens) {
                admitted += d.ntok
                out += QuotaOut(d.doc_id, source, d.ntok,
                  new java.sql.Timestamp(windowStartMs), admitted)
              }
            }
            state.update(QuotaState(admitted))
            if (isStreaming) {
              // evict once the watermark clears the window end (late
              // docs inside the watermark can still arrive until then)
              val windowEndMs = windowStartMs + windowLenMs
              state.setTimeoutTimestamp(
                math.max(windowEndMs, state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
        })
  }
}
