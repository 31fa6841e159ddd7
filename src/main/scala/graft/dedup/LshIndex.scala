package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.sources.Snapshots

/** STORED near-dup (MinHash/LSH) index — the text twin of
  * [[graft.similarity.VectorIndex]]'s build-once / absorb-many
  * discipline, closing the gap `q_dedup_incremental` (#72) leaves
  * open: #72's daily batch signs only itself, but it still
  * re-computes the CORPUS signatures every run. Here the corpus is
  * signed ONCE by a nightly build and persisted; a daily batch then
  * costs O(batch + candidates):
  *
  *  - batch MinHash signatures and band keys are row-local
  *    ([[graft.plans.MinHashSigs]] — no corpus access);
  *  - candidate generation probes the STORED band index, whose
  *    `bmod=` hash-partition dirs are pruned to the partitions the
  *    batch's buckets actually hash into (PartitionFilters in the
  *    scan — the [[graft.similarity.VectorIndex.ivfTopKStored]]
  *    treatment applied to band buckets; the pruning set is bounded
  *    at [[Bmods]] values, so collecting it is always safe);
  *  - exact-Jaccard verification reads only the stored shingle sets
  *    of the matched candidates, pruned the same way via `dmod=`
  *    partitions of the shingle artifact;
  *  - the batch's band keys and shingle sets are absorbed as
  *    [[Snapshots.commitAppend]] DELTA commits — the stored corpus
  *    index is never rewritten, and a replayed `batchId` is a no-op
  *    that still returns the same matches (already-absorbed batch
  *    rows are excluded from the corpus side of the probe, so the
  *    result is replay-stable).
  *
  * Reference provenance: the reference's dedup surface is daily
  * re-computation (utils/query snapshots); the stored-index shape is
  * the 100 TB posture this library adds on top.
  */
object LshIndex {

  /** Bump when build semantics change: a [[defaultRoot]] from an
    * older layout can then never be silently reused. (2: build also
    * stores the banding parameters and the `stats` drift baseline; 3:
    * manifests record the `bmod=`/`dmod=` layout — an older root reads
    * as unpartitioned and its next compaction would drop the dirs.) */
  val layoutVersion = 3

  /** Hash-partition fanout of the band artifact (`bmod=` dirs) and
    * the shingle artifact (`dmod=` dirs). Partition-pruning probe
    * sets are bounded by these constants, never by data size. */
  val Bmods = 32
  val Dmods = 32

  /** Jaccard threshold a candidate must clear to count as a match —
    * the `q_dedup_pipeline` (#36c) convention. */
  val JaccardMin = 0.2

  /** Largest batch band frame [[probeCandidates]] will broadcast as
    * the probe's build side (rows ≈ |batch| × bands/doc; ~40 B/row →
    * the default bounds the relation near 40 MB, well under the 8 GB
    * broadcast cap). A daily batch sits orders of magnitude below it;
    * a backfill-sized batch falls back to the shuffle_hash plan
    * (specs force that fallback through this seam). */
  @volatile private[graft] var broadcastMaxBandRows: Long = 1000000L

  def bandsRoot(root: String): String = s"$root/bands"
  def shinglesRoot(root: String): String = s"$root/shingles"
  def statsRoot(root: String): String = s"$root/stats"

  /** Every artifact root of an index — what nightly maintenance
    * compacts and vacuums. */
  def roots(root: String): Seq[String] =
    Seq(bandsRoot(root), shinglesRoot(root), statsRoot(root))

  /** Deterministic index root for a corpus: keyed on an
    * order-independent content fingerprint (an index built from
    * DIFFERENT data at the same path is never reused), the banding
    * parameters (a re-banded index is a DIFFERENT index — the #194
    * sweep's whole point), and [[layoutVersion]]. One
    * map-side-combined scan. */
  def defaultRoot(docs: DataFrame, rowsPerBand: Int = 2): String = {
    val fp = docs.agg(
      bit_xor(xxhash64(col("doc_id"), col("text"))).as("h"),
      count(lit(1)).as("n")).head()
    s"/tmp/graft-lshindex/v$layoutVersion/r$rowsPerBand-${fp.getLong(0)}-${fp.getLong(1)}"
  }

  /** The banding parameter a root was built with — stored in a
    * `_params` file at build time so every probe/absorb against the
    * root signs its batch with the MATCHING band structure (a probe
    * banded differently would silently find nothing). Roots from
    * before the file existed default to the original
    * rows-per-band = 2; a file that EXISTS but does not parse fails
    * LOUDLY — it is exactly the torn/corrupt state this file guards
    * against, and a silent =2 default would sign every probe with the
    * wrong banding and silently find nothing. */
  def rowsPerBandOf(root: String): Int = {
    val p = java.nio.file.Paths.get(s"$root/_params")
    if (!java.nio.file.Files.exists(p)) 2
    else "\"rowsPerBand\":(\\d+)".r
      .findFirstMatchIn(java.nio.file.Files.readString(p))
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(
        s"corrupt _params under $root: cannot recover rowsPerBand — " +
          "refusing to probe with guessed banding"))
  }

  private def bmodCol: Column =
    pmod(xxhash64(col("band"), col("bucket")), lit(Bmods)).cast("int")
  private def dmodOf(id: Column): Column = pmod(id, lit(Dmods)).cast("int")

  /** Row-local band keys of a (doc_id, text) frame: MinHash
    * signatures → banded bucket keys → partition tag. No shuffle.
    * `carry` columns ride through the band explode. */
  private[graft] def bandsOf(docs: DataFrame, rowsPerBand: Int = 2,
      carry: Seq[String] = Seq.empty): DataFrame =
    TextDedup.bandKeys(
      TextDedup.minhashSignatures(docs, "doc_id", "text", carry = carry), "doc_id",
      rowsPerBand = rowsPerBand, carry = carry)
      .withColumn("bmod", bmodCol)

  /** [[bandsOf]] banded with the parameters `root` was built with
    * ([[rowsPerBandOf]]) — every probe of a stored index signs through
    * here, since a probe banded differently would silently find
    * nothing. */
  private[graft] def bandsFor(root: String, docs: DataFrame,
      carry: Seq[String] = Seq.empty): DataFrame =
    bandsOf(docs, rowsPerBandOf(root), carry)

  /** A text's hashed distinct shingle set — the
    * [[TextDedup.verifyJaccard]] representation. */
  private[graft] def shingleSet(text: Column): Column =
    array_distinct(transform(TextAnalysis.shinglesOfText(text), s => xxhash64(s)))

  /** Row-local [[shingleSet]]s with the `dmod` partition tag. */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), shingleSet(col("text")).as("shs"),
      dmodOf(col("doc_id")).as("dmod"))

  /** Sign the corpus once and persist both artifacts (hash-partition
    * dirs so future probes prune), the banding `_params`, and the
    * `stats` DRIFT BASELINE — the build-time band-collision rate
    * ([[absorbDrift]] compares a future batch against it): the
    * fraction of corpus docs sharing at least one (band, bucket) with
    * another corpus doc. Computed FROM the committed artifact (no
    * second signing pass); null buckets (docs too short to shingle)
    * are excluded — they never join in a probe either. Returns
    * (bandsVersion, shinglesVersion). */
  def build(docs: DataFrame, root: String, rowsPerBand: Int = 2): (Long, Long) = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    // tmp + ATOMIC_MOVE like every other pointer file: a reader can see
    // the old file or the new one, never a torn write (rowsPerBandOf
    // fails loudly on corruption, so a non-atomic write would turn a
    // crash mid-write into a permanently unreadable root)
    val tmp = java.nio.file.Paths.get(s"$root/_params.tmp")
    java.nio.file.Files.writeString(tmp, s"""{"k":8,"rowsPerBand":$rowsPerBand}""")
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(s"$root/_params"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val bv = Snapshots.commitPartitioned(bandsOf(docs, rowsPerBand),
      bandsRoot(root), Seq("bmod"))
    val sv = Snapshots.commitPartitioned(shinglesOf(docs),
      shinglesRoot(root), Seq("dmod"))
    commitStats(docs.sparkSession, root)
    (bv, sv)
  }

  /** Compute and commit the `stats` drift baseline FROM the committed
    * band artifact (no signing pass — shared by [[build]] and the
    * stats-only backfill in [[buildIfAbsent]]): the fraction of
    * indexed docs sharing at least one (band, bucket) with another
    * indexed doc. Null buckets (docs too short to shingle) are
    * excluded — they never join in a probe either. */
  private def commitStats(spark: SparkSession, root: String): Long = {
    val bands = Snapshots.read(spark, bandsRoot(root))
    val bucketSizes = bands.filter(col("bucket").isNotNull)
      .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("n"))
    val collided = bands.filter(col("bucket").isNotNull)
      .join(bucketSizes.filter(col("n") > 1).hint("shuffle_hash"),
        Seq("band", "bucket"))
      .agg(count_distinct(col("doc_id")).as("n_coll"))
    val total = bands.agg(count_distinct(col("doc_id")).as("n_docs"))
    Snapshots.commit(
      total.crossJoin(collided)
        .select(col("n_docs"),
          round(col("n_coll").cast("double") / col("n_docs"), 6)
            .as("coll_frac")),
      statsRoot(root))
  }

  /** Idempotent build: a no-op when every artifact already exists —
    * the nightly-job contract (a retried run never re-signs). When the
    * band/shingle artifacts exist and ONLY the stats baseline is
    * missing (a pre-v2 root reused via an explicit path), backfill
    * JUST the baseline from the committed band artifact — a full
    * rebuild here would commit fresh full band/shingle snapshots
    * containing only the corpus signing, silently dropping any
    * absorbed delta batches from the latest read view. */
  def buildIfAbsent(docs: DataFrame, root: String, rowsPerBand: Int = 2): Unit =
    if (Snapshots.latestVersion(bandsRoot(root)).isEmpty ||
        Snapshots.latestVersion(shinglesRoot(root)).isEmpty) {
      build(docs, root, rowsPerBand); ()
    } else if (Snapshots.latestVersion(statsRoot(root)).isEmpty) {
      commitStats(docs.sparkSession, root); ()
    }

  /** RETRAIN-AND-SWAP for the text index — the operational response
    * to a [[graft.queries.TrainingD]] #194 banding sweep (or an
    * [[absorbDrift]] signal): (idempotently) re-sign the corpus under
    * NEW banding parameters at a fresh content-fingerprint root, then
    * atomically repoint the family's `_current` pointer
    * ([[graft.sources.IndexPointer]] — the #213 treatment applied to
    * text). In-flight readers that resolved the old root finish
    * against its immutable artifacts with ITS stored `_params`; new
    * probes resolve the new root and sign their batches with the new
    * band structure ([[rowsPerBandOf]]); nobody ever pairs old bands
    * with new parameters. Returns `newRoot`. */
  def retrainSwap(docs: DataFrame, newRoot: String, family: String,
      rowsPerBand: Int = 2): String = {
    buildIfAbsent(docs, newRoot, rowsPerBand)
    graft.sources.IndexPointer.swapTo(family, newRoot)
    newRoot
  }

  /** DRIFT REPORT for the text index — the #207 counterpart on the
    * LSH side, the signal that append-only maintenance
    * ([[absorbBatch]]) has stopped being sound: the batch is signed
    * row-locally and probed (probe-ONLY — nothing is absorbed, so the
    * report is replay-stable) against the stored band artifact's
    * pruned partitions; its band-collision rate — the fraction of
    * batch docs sharing at least one (band, bucket) with a stored doc
    * — is compared to the build-time baseline from the `stats`
    * artifact. One row: (n_batch, coll_frac_batch, coll_frac_build,
    * drift). A strongly positive drift says the feed's duplication
    * against the corpus has surged (crawl loop, mirror flood — expect
    * absorb cost ∝ candidates to surge with it); a strongly negative
    * one says new data no longer resembles the indexed corpus. */
  def absorbDrift(spark: SparkSession, root: String,
      batch: DataFrame): DataFrame = {
    val bb = bandsFor(root, batch).localCheckpoint()
    val mods = bb.select(col("bmod")).distinct()
      .collect().map(_.getInt(0)).toSeq
    // EMPTY batch: no drift evidence — return an explicit zero row
    // (n_batch = 0, fractions 0.0, drift 0.0) instead of the 0/0
    // null-valued row the aggregate path would emit; a monitor
    // alerting on |drift| must treat "nothing arrived" as no signal
    if (mods.isEmpty) {
      val baseline = Snapshots.read(spark, statsRoot(root))
        .select(col("coll_frac").as("coll_frac_build"))
      return baseline.select(lit(0L).as("n_batch"),
        lit(0.0).as("coll_frac_batch"), col("coll_frac_build"),
        lit(0.0).as("drift"))
    }
    val stored = Snapshots.read(spark, bandsRoot(root))
      .filter(col("bmod").isin(mods: _*))
    val collided = bb.filter(col("bucket").isNotNull).as("n")
      .join(stored.as("i").hint("shuffle_hash"),
        col("n.band") === col("i.band") && col("n.bucket") === col("i.bucket") &&
          col("n.doc_id") =!= col("i.doc_id"))
      .agg(count_distinct(col("n.doc_id")).as("n_coll"))
    val baseline = Snapshots.read(spark, statsRoot(root))
      .select(col("coll_frac").as("coll_frac_build"))
    bb.agg(count_distinct(col("doc_id")).as("n_batch"))
      .crossJoin(collided)
      .crossJoin(broadcast(baseline))
      .select(col("n_batch"),
        round(col("n_coll").cast("double") / col("n_batch"), 6)
          .as("coll_frac_batch"),
        col("coll_frac_build"))
      .withColumn("drift",
        round(col("coll_frac_batch") - col("coll_frac_build"), 6))
  }

  /** TARGETED DELETE through the stored text index — the
    * right-to-be-forgotten propagation: tombstone `docIds` out of BOTH
    * artifacts ([[Snapshots.commitDelete]]), so the next probe's
    * candidate generation and Jaccard verification CANNOT see the
    * deleted documents (a deleted doc stops matching new arrivals
    * immediately), while pre-delete versions stay time-travelable
    * until compaction + vacuum physically drop the bytes. Cost is
    * O(keys) — neither corpus-sized artifact is rewritten here; the
    * nightly compact folds the tombstones away. Idempotent per
    * `batchId` (the absorb watermark is shared, so order deletes and
    * absorbs on one monotone clock). */
  def delete(spark: SparkSession, root: String, docIds: DataFrame,
      batchId: Option[Long] = None): Unit = {
    Snapshots.commitDelete(docIds, bandsRoot(root), "doc_id", batchId)
    Snapshots.commitDelete(docIds, shinglesRoot(root), "doc_id", batchId)
    ()
  }

  /** Candidate phase of [[absorbBatch]], exposed for plan-shape
    * specs: the stored band scan is pruned to the `bmod=` partitions
    * the batch's buckets hash into (the pruning set is bounded at
    * [[Bmods]] values, so collecting it is always safe), then joined
    * bucket-locally with the batch as the SHUFFLE_HASH build side (at
    * daily-batch size AQE upgrades it to broadcast and the stored
    * side never shuffles). Returns distinct (new_id, match_id). */
  private[graft] def probeCandidates(spark: SparkSession, root: String,
      bb: DataFrame, batchIds: DataFrame): DataFrame = {
    // ONE job yields both the bmod pruning set and the batch band-frame
    // size (r14): the size decides the join strategy below — the old
    // plan collected the same distinct bmods and left the strategy to
    // AQE, which still ran the map side of BOTH exchanges before its
    // broadcast upgrade could cancel the reduce (guide §3.1: pick the
    // strategy deliberately when you know a side is small).
    val byMod = bb.groupBy(col("bmod")).count().collect()
    val mods = byMod.map(_.getInt(0)).toSeq
    val bandRows = byMod.map(_.getLong(1)).sum
    val storedBands = Snapshots.read(spark, bandsRoot(root))
      .filter(col("bmod").isin(mods: _*))
    // ONE bucket-local join for BOTH pair rules (r13; guide §2.4 —
    // two operations keyed the same way share one exchange): the
    // index side is the pruned stored bands UNIONED with the batch's
    // own bands (tagged `from_batch`), probed once by the batch. The
    // r12 plan ran a second bb⋈bb join stage for the within-batch
    // pairs — same keys, same build side, one more barrier per
    // absorb. Pair rules, unchanged: a stored (non-batch) row pairs
    // with any other-id batch doc; a batch row pairs as match only
    // with LARGER batch ids (the dedupKeepOne lowest-id-wins
    // convention, so absorbDaily drops the larger-id duplicate and
    // keeps the original-most doc).
    val indexSide = storedBands
      .select(col("band"), col("bucket"), col("doc_id"),
        lit(false).as("from_batch"))
      .unionByName(bb.select(col("band"), col("bucket"), col("doc_id"),
        lit(true).as("from_batch")))
    // a daily batch's band frame is batch-sized (|batch| × bands/doc):
    // under the guard it broadcasts OUTRIGHT, so the corpus-sized index
    // side never shuffles at all (no map stage, no AQE negotiation);
    // past the guard (a backfill-sized "batch") the shuffle_hash build
    // keeps the old bounded-memory plan
    val probeSide =
      if (bandRows <= broadcastMaxBandRows) broadcast(bb)
      else bb.hint("shuffle_hash")
    val pairs = indexSide.as("i")
      .join(probeSide.as("n"),
        col("n.band") === col("i.band") && col("n.bucket") === col("i.bucket") &&
          ((!col("i.from_batch") && col("n.doc_id") =!= col("i.doc_id")) ||
            (col("i.from_batch") && col("i.doc_id") < col("n.doc_id"))))
      .select(col("n.doc_id").as("new_id"), col("i.doc_id").as("match_id"),
        col("i.from_batch"))
    // replay guard: once this batch is absorbed, its own STORED copies
    // (from_batch = false, id ∈ batch) must not re-pair with it on a
    // re-run; the batch's live rows (from_batch = true) are the
    // within-batch rule and stay
    pairs
      .join(broadcast(batchIds.withColumnRenamed("doc_id", "match_id")
        .withColumn("__inb", lit(1))), Seq("match_id"), "left")
      .filter(col("from_batch") || col("__inb").isNull)
      .select(col("new_id"), col("match_id"))
      .distinct()
  }

  /** Absorb a NEW document batch: verified near-dup matches of the
    * batch against the stored corpus (plus within-batch pairs), and
    * the batch's band keys + shingle sets delta-appended so the NEXT
    * batch sees this one. Returns (new_id, match_id, jaccard) with
    * jaccard ≥ [[JaccardMin]]; `match_id` is a corpus doc or a
    * smaller-id batch doc (within-batch pairs keep the LOWEST id as
    * the match — the dedupKeepOne convention).
    *
    * Cost shape: batch signing is row-local; the candidate probe
    * scans only the `bmod=` partitions the batch's buckets hash into
    * and joins bucket-locally (the batch side is the SHUFFLE_HASH
    * build side — at daily-batch size AQE upgrades it to broadcast
    * and the stored side never shuffles at all); verification scans
    * only the `dmod=` partitions of the candidates' shingle sets.
    * Nothing here is ever corpus-sized except pruned artifact reads.
    *
    * Idempotent per `batchId`: the appends replay as no-ops and the
    * match set is replay-stable (stored copies of the batch's own
    * rows are excluded from the corpus side before pairing). */
  def absorbBatch(spark: SparkSession, root: String, batch: DataFrame,
      batchId: Long): DataFrame = {
    // batch-sized; localCheckpoint so probe + append share one signing
    val bb = bandsFor(root, batch).localCheckpoint()
    // checkpoint is the phase boundary: the candidates' dmod set must
    // be COLLECTED (bounded ≤ Dmods) before the verification plan can
    // prune on it
    val cand = probeCandidates(spark, root, bb,
      batch.select(col("doc_id"))).localCheckpoint()
    // verification: batch shingles row-local; candidate corpus
    // shingles from the pruned stored artifact (dmod set ≤ Dmods)
    val dmods = cand.select(dmodOf(col("match_id")).as("dmod")).distinct()
      .collect().map(_.getInt(0)).toSeq
    // batch shingled ONCE (localCheckpoint): the Jaccard verification
    // AND the delta append below consume the same materialized frame —
    // the shingling kernel (tokenize + n-gram + hash over every batch
    // doc's full text) is the absorb's heaviest row-local pass, and the
    // r12 path re-ran it from scratch inside the append's write job
    val sh = shinglesOf(batch).localCheckpoint()
    val batchSh = sh.select(col("doc_id").as("new_id"), col("shs").as("sa"))
    val storedSh = Snapshots.read(spark, shinglesRoot(root))
      .filter(col("dmod").isin(dmods: _*))
      .select(col("doc_id").as("match_id"), col("shs").as("sb"))
    // a within-batch match_id resolves from the batch's own shingles
    // (it may not be stored yet on the first run). Restricted to the
    // CANDIDATES' match ids BEFORE the dedup groupBy (r14): the dmod
    // prune alone leaves the groupBy shuffling every stored shingle
    // array in the surviving partitions — corpus-sized when a big
    // batch touches all Dmods — while the join right below it keeps
    // only candidate rows anyway. The broadcast semi-join drops the
    // non-candidates before their arrays ever cross an exchange
    // (guide §2.3 shuffle fewer bytes / §3.2 pre-filter the big side);
    // groups kept are untouched, so the result is row-identical.
    val matchSh = storedSh.unionByName(
      batchSh.select(col("new_id").as("match_id"), col("sa").as("sb")))
      .join(broadcast(cand.select(col("match_id"))), Seq("match_id"),
        "left_semi")
      .groupBy(col("match_id")).agg(first(col("sb")).as("sb"))
    val out = cand
      .join(batchSh.hint("shuffle_hash"), Seq("new_id"))
      .join(matchSh.hint("shuffle_hash"), Seq("match_id"))
      .withColumn("__inter", size(array_intersect(col("sa"), col("sb"))))
      .select(col("new_id"), col("match_id"),
        round(col("__inter") /
          (size(col("sa")) + size(col("sb")) - col("__inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= JaccardMin)
    // the match plan above reads the artifact versions resolved at
    // Snapshots.read time (immutable dirs), so appending afterwards
    // cannot perturb it. The two appends hit DIFFERENT roots (own
    // commit locks, own chains) and each is one small distributed
    // write — run them concurrently (guide §2.6: overlap independent
    // jobs) so the second write's tasks back-fill the first's tail.
    // Crash between them is the same replay story in either order:
    // both are idempotent per batchId, the incomplete one lands on
    // retry while the complete one no-ops.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fb = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long =
          Snapshots.commitAppend(bb, bandsRoot(root), Some(batchId))
      })
      val fs = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long =
          Snapshots.commitAppend(sh, shinglesRoot(root), Some(batchId))
      })
      // wait for BOTH before rethrowing: shutdown() does not stop a
      // running task, so throwing on the first failure would leave the
      // other append committing after absorbBatch has already failed
      val failures = Seq(fb, fs).flatMap { f =>
        try { f.get(); None }
        catch { case e: java.util.concurrent.ExecutionException =>
          Some(e.getCause) }
      }
      failures.headOption.foreach(throw _)
    } finally pool.shutdown()
    out
  }
}
