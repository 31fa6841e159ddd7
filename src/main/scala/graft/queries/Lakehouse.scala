package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Snapshots, Tables}

/** Snapshot-table OPERATIONS gates (SURVEY §2 #226-227): the two
  * table-level behaviors a lakehouse deployment leans on daily —
  * bad-batch repair by rollback, and schema evolution on a live append
  * chain — each gated end-to-end against a DuckDB oracle. The
  * reference's closest analogue is the `latest` snapshot copy +
  * re-run-the-day repair story (tasks/base.py convert_latest_file,
  * get_latest_file); here both behaviors are properties of the
  * versioned [[Snapshots]] chain and are oracle-verified, not
  * procedural.
  */
object Lakehouse {

  /** Deterministic per-corpus snapshot root: content fingerprint of
    * the docs (order-independent), so a re-run at the same SF reuses
    * its played history and a DIFFERENT corpus can never collide. */
  private def fpRoot(docs: DataFrame, tag: String): String = {
    val fp = docs.agg(
      bit_xor(xxhash64(col("doc_id"), col("text"))).as("h"),
      count(lit(1)).as("n")).head()
    s"/tmp/graft-lakehouse/v1/$tag-${fp.getLong(0)}-${fp.getLong(1)}"
  }

  private val historyMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Play a gate's scripted history exactly once per corpus, crash-
    * safely: complete = the root's latest version equals the script's
    * known final version. Anything else (empty, or a crash left a
    * PARTIAL history) wipes the content-addressed root and replays
    * from scratch — a plain "root exists → skip" guard would read the
    * partial chain forever and brick the gate for that corpus.
    * [[Snapshots.wipe]] deletes the `_latest` pointer FIRST, so a
    * crash mid-wipe leaves the root unambiguously incomplete
    * (tree-order deletion could leave pointer == final with no
    * manifests — bricked). Runs under a per-root JVM monitor: two
    * gates share one history root (mergeHistory serves #228 and #229)
    * and a concurrent check-then-wipe could destroy the other
    * runner's half-played history. */
  private def ensureHistory(root: String, finalVersion: Long)(play: => Unit): Unit = {
    val mon = historyMonitors.computeIfAbsent(root, _ => new Object)
    mon.synchronized {
      if (!Snapshots.latestVersion(root).contains(finalVersion)) {
        Snapshots.wipe(root)
        play
      }
    }
  }

  /** #226 BAD-BATCH REPAIR (`q_ingest_rollback`) — the operational
    * answer to "yesterday's ingest was poisoned and it's already
    * committed": day 0 full snapshot, day 1 delta, then day 2 lands
    * CORRUPTED (every text suffixed, tagged day -2). The repair rolls
    * the pointer back to day 1 ([[Snapshots.rollback]] — O(1), no
    * data movement), which also reverts the REPLAY WATERMARK (the
    * maxBatchId carry is per-version, so the guard travels with the
    * pointer): the corrected day 2 re-commits under the SAME batch id,
    * a re-delivered copy of the poisoned batch (same id) then no-ops
    * against the repaired watermark, and day 3 continues the clock.
    * The final read must equal the never-poisoned history — any
    * rollback, watermark-revert, or replay bug leaves poisoned rows
    * (len + 7, day -2) or drops the correction, and the oracle
    * catches both. History plays once per corpus (the fingerprint
    * root); re-running the gate reads the repaired chain —
    * SnapshotsSpec separately pins each replay/no-op transition.
    * Scale posture: rollback + repair moves ZERO stored bytes — the
    * poisoned version is superseded in place by the corrected commit
    * and the 100 TB base is never rewritten. */
  def ingestRollback(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    def day(m: Int, tag: Int, poison: Boolean = false) = {
      val txt = if (poison) concat(col("text"), lit(" POISON")) else col("text")
      docs.filter(pmod(col("doc_id"), lit(4)) === m)
        .select(col("doc_id"), length(txt).cast("long").as("len"),
          lit(tag).as("day"))
    }
    val root = fpRoot(docs, "rollback")
    ensureHistory(root, finalVersion = 3L) {
      Snapshots.commit(day(0, 0), root)                                   // v0
      val v1 = Snapshots.commitAppend(day(1, 1), root, batchId = Some(1L))
      Snapshots.commitAppend(day(2, -2, poison = true), root,
        batchId = Some(2L))                                               // poisoned
      Snapshots.rollback(root, v1)                                        // repair
      Snapshots.commitAppend(day(2, 2), root, batchId = Some(2L))        // corrected
      Snapshots.commitAppend(day(2, -2, poison = true), root,
        batchId = Some(2L))                                               // replay: no-op
      Snapshots.commitAppend(day(3, 3), root, batchId = Some(3L))
    }
    Snapshots.read(s, root)
  }

  /** #227 SCHEMA EVOLUTION ON A LIVE CHAIN (`q_schema_evolution`) —
    * the additive-column path every long-lived table eventually
    * walks: the base snapshot has (doc_id, len); a later delta adds a
    * `src` provenance column under the EXPLICIT `evolveSchema = true`
    * contract ([[Snapshots.commitAppend]] — an unannounced column-set
    * change or ANY type change fails at write time, so a typo breaks
    * the writing job, not every future reader). Readers fold the
    * chain with by-name union: pre-evolution rows surface `src = NULL`
    * with zero rewrite of the stored base — the 100 TB contract is
    * that adding a column costs O(delta), never O(corpus). The gate
    * reads the evolved chain and the oracle replays both eras.
    * SnapshotsSpec pins the write-time validation (reject without the
    * flag, reject type changes) and the omitted-column direction. */
  def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val root = fpRoot(docs, "evolve")
    ensureHistory(root, finalVersion = 1L) {
      Snapshots.commit(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
          .select(col("doc_id"), length(col("text")).cast("long").as("len")),
        root)
      Snapshots.commitAppend(
        docs.filter(pmod(col("doc_id"), lit(5)) === 0)
          .select(col("doc_id"), length(col("text")).cast("long").as("len"),
            lit("web").as("src")),
        root, batchId = Some(1L), evolveSchema = true)
    }
    Snapshots.read(s, root)
  }

  /** The shared 4-version history behind #228/#229 (played once per
    * corpus; both gates read it): v0 base full snapshot, v1 insert
    * delta, v2 targeted delete, v3 atomic MERGE (updates + new keys in
    * one version). */
  private def mergeHistory(s: SparkSession, dir: String): String = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    def slice(m: Int, of: Int = 3) = docs.filter(pmod(col("doc_id"), lit(of)) === m)
    def asLen(df: DataFrame) =
      df.select(col("doc_id"), length(col("text")).cast("long").as("len"))
    val root = fpRoot(docs, "merge")
    ensureHistory(root, finalVersion = 3L) {
      Snapshots.commit(asLen(slice(0)), root)                               // v0
      Snapshots.commitAppend(asLen(slice(1)), root, batchId = Some(1L))    // v1
      Snapshots.commitDelete(
        slice(0, 30).select(col("doc_id")), root, "doc_id", Some(2L))       // v2
      // one ATOMIC version: update %15==1 rows (len shifted by 1000 —
      // observable) and insert brand-new keys in the same commit
      Snapshots.commitMerge(
        asLen(slice(1, 15)).select(col("doc_id"), (col("len") + 1000L).as("len"))
          .unionByName(asLen(slice(2, 15))
            .select((col("doc_id") + 1000000L).as("doc_id"), col("len"))),
        root, "doc_id", batchId = Some(3L))                                 // v3
    }
    root
  }

  /** #228 ATOMIC MERGE / UPSERT into the stored table
    * (`q_snapshot_merge`) — the reference's pandas
    * `do_updates_inserts` (tasks/revenue.py:do_updates_inserts)
    * re-expressed as a TABLE operation: one committed version whose
    * keys replace matching chain rows and whose new keys append,
    * folded by readers as anti-join-then-union so the delete+insert
    * can never tear (a crash mid-"delete then append" would lose the
    * updated rows; the merge commit is all-or-nothing at the pointer
    * swap). The gate reads the final table across all four version
    * kinds — full, insert, delete, merge — and the oracle replays the
    * history: updated rows surface with the new value exactly once,
    * new keys surface, deleted keys stay gone. O(updates) at commit;
    * the base is never rewritten. */
  def snapshotMerge(s: SparkSession, dir: String): DataFrame =
    Snapshots.read(s, mergeHistory(s, dir))

  /** #229 CHANGE FEED over the version chain (`q_change_feed`) — the
    * CDC view a downstream incremental consumer tails: every row-level
    * change in (v0, v3], tagged (insert | delete | upsert) +
    * `_commit_version`, read straight from the delta dirs in
    * O(changed rows) — no table-state diff, no corpus scan (the
    * state-diff complement is `q_table_diff`). Delete rows carry the
    * tombstone key with other columns NULL. The oracle replays each
    * version's change set from the same slices. */
  def changeFeed(s: SparkSession, dir: String): DataFrame =
    Snapshots.changesBetween(s, mergeHistory(s, dir), fromV = 0L, toV = 3L)

  /** Poll the follower's absorbed position until it reaches `v`. */
  private def awaitPosition(sinkRoot: String, v: Long): Unit = {
    val deadline = System.nanoTime() + 180L * 1000000000L
    while (!graft.streaming.ChangeFeed.position(sinkRoot).exists(_ >= v)) {
      require(System.nanoTime() < deadline,
        s"change-feed follower never reached version $v under $sinkRoot")
      Thread.sleep(100)
    }
  }

  /** #230 STREAMING CHANGE-FEED FOLLOWER (`q_change_feed_stream`) —
    * #229's consumer story made PUSH instead of poll
    * ([[graft.streaming.ChangeFeed]]): a live follower query tails the
    * chain WHILE it grows — v1 insert delta lands, then nightly
    * maintenance COMPACTS the table mid-stream (the follower must skip
    * the invisible rewrite and keep flowing), then a targeted delete
    * and an atomic merge land — each absorbed into the sink table
    * exactly once, keyed by SOURCE VERSION id (no checkpoint needed:
    * the watermark lives in the sink chain, so restarts and replays
    * no-op — ChangeFeedSpec pins that directly). The gate reads the
    * sink: the same typed change rows as `q_change_feed`, at the
    * versions this history commits them (1 insert, 3 delete, 4
    * merge — 2 is the skipped compaction). A follower bug in either
    * direction shows: a skipped delta loses rows, a double landing
    * doubles them, a mis-skip of the compaction explodes the feed
    * with a full table copy. Scale: each tick is O(new manifests)
    * metadata + O(changed rows) data — the feed's cost tracks the
    * change rate, never the table size. */
  def changeFeedStream(s: SparkSession, dir: String): DataFrame = {
    val (_, sink) = feedHistory(s, dir)
    Snapshots.read(s, sink)
  }

  /** The grown-while-following feed history behind #230/#233 (played
    * once per corpus, live follower included): v0 base, v1 insert
    * delta, v2 mid-stream compaction (skipped by the feed), v3
    * targeted delete, v4 atomic merge. Returns (source root, sink
    * root) with the sink fully caught up to v4. */
  private def feedHistory(s: SparkSession, dir: String): (String, String) = {
    import graft.streaming.ChangeFeed
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    def slice(m: Int, of: Int = 3) = docs.filter(pmod(col("doc_id"), lit(of)) === m)
    def asLen(df: DataFrame) =
      df.select(col("doc_id"), length(col("text")).cast("long").as("len"))
    val src = fpRoot(docs, "feedsrc")
    val sink = fpRoot(docs, "feedsink")
    val mon = historyMonitors.computeIfAbsent(sink, _ => new Object)
    mon.synchronized {
      // complete = the follower absorbed through v4 (v2 is the
      // mid-stream compaction it must skip); anything less is a
      // partial run — wipe both roots and replay with a live stream
      if (!ChangeFeed.position(sink).contains(4L)) {
        Snapshots.wipe(src); Snapshots.wipe(sink)
        Snapshots.commit(asLen(slice(0)), src)                            // v0 base
        val q = ChangeFeed.follow(s, src, sink, fromV = 0L,
          tick = "250 milliseconds")
        try {
          Snapshots.commitAppend(asLen(slice(1)), src, batchId = Some(1L)) // v1
          awaitPosition(sink, 1L)
          Snapshots.compact(s, src)                                       // v2: skipped
          Snapshots.commitDelete(
            slice(0, 30).select(col("doc_id")), src, "doc_id", Some(2L))  // v3
          Snapshots.commitMerge(
            asLen(slice(1, 15))
              .select(col("doc_id"), (col("len") + 1000L).as("len"))
              .unionByName(asLen(slice(2, 15))
                .select((col("doc_id") + 1000000L).as("doc_id"), col("len"))),
            src, "doc_id", batchId = Some(3L))                            // v4
          awaitPosition(sink, 4L)
        } finally q.stop()
      }
    }
    (src, sink)
  }

  /** #233 CHANGE-FEED MIRROR (`q_feed_mirror`) — the downstream
    * consumer end of the CDC loop: a REPLICA table bootstrapped from
    * the source's base snapshot and then maintained PURELY from the
    * streamed change feed ([[graft.streaming.ChangeFeed.mirrorCatchUp]]
    * — insert → append, delete → tombstone, upsert → atomic merge,
    * one mirror version per source version, exactly once by version
    * id). The gate reads the MIRROR and must equal the source's final
    * table byte-for-byte (the `q_snapshot_merge`-shaped oracle over
    * the same slices): a lost feed version, a double apply, a
    * mis-typed delete, or a torn upsert all shift the replica. The
    * mirror never reads the source after bootstrap — only the feed.
    * Cost per applied version is O(its changed rows); the replica's
    * base is never rewritten. */
  def feedMirror(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.ChangeFeed
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val (src, sink) = feedHistory(s, dir)
    val mirror = fpRoot(docs, "feedmirror")
    val mon = historyMonitors.computeIfAbsent(mirror, _ => new Object)
    mon.synchronized {
      if (Snapshots.latestVersion(mirror).isEmpty)
        Snapshots.commitBatch(Snapshots.readVersion(s, src, 0L), mirror,
          batchId = 0L)
      ChangeFeed.mirrorCatchUp(s, sink, mirror, keyCol = "doc_id")
    }
    Snapshots.read(s, mirror)
  }

  /** Poll the mirror's applied feed position until it reaches `v`. */
  private def awaitMirrorPos(mirrorRoot: String, v: Long): Unit = {
    val deadline = System.nanoTime() + 180L * 1000000000L
    while (!Snapshots.latestVersion(mirrorRoot)
        .flatMap(x => Snapshots.maxBatchIdOf(mirrorRoot, x)).exists(_ >= v)) {
      require(System.nanoTime() < deadline,
        s"push mirror under $mirrorRoot never reached feed version $v")
      Thread.sleep(100)
    }
  }

  /** The PUSH-maintained replica history behind #235: one LIVE
    * [[graft.streaming.ChangeFeed.followMirror]] query lands every
    * source version into the change table AND folds it into the
    * replica per tick, while the source grows v1 insert → v2
    * compaction (skipped) → v3 delete → v4 merge → v5+v6 consecutive
    * inserts (the run the mirror may batch into one append). Returns
    * the mirror root, caught up through feed version 6. */
  private def pushMirrorHistory(s: SparkSession, dir: String): String = {
    import graft.streaming.ChangeFeed
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    def slice(m: Int, of: Int = 3) = docs.filter(pmod(col("doc_id"), lit(of)) === m)
    def asLen(df: DataFrame) =
      df.select(col("doc_id"), length(col("text")).cast("long").as("len"))
    val src = fpRoot(docs, "pushsrc")
    val sink = fpRoot(docs, "pushsink")
    val mirror = fpRoot(docs, "pushmirror")
    val mon = historyMonitors.computeIfAbsent(mirror, _ => new Object)
    mon.synchronized {
      val done = Snapshots.latestVersion(mirror)
        .flatMap(v => Snapshots.maxBatchIdOf(mirror, v)).contains(6L)
      if (!done) {
        Seq(src, sink, mirror).foreach(Snapshots.wipe)
        Snapshots.commit(asLen(slice(0)), src)                             // v0
        // bootstrap the replica from the base snapshot; everything
        // after this line reaches the mirror ONLY through the feed
        Snapshots.commitBatch(Snapshots.readVersion(s, src, 0L), mirror, 0L)
        val q = ChangeFeed.followMirror(s, src, sink, mirror,
          keyCol = "doc_id", fromV = 0L, tick = "250 milliseconds")
        try {
          Snapshots.commitAppend(asLen(slice(1)), src, batchId = Some(1L)) // v1
          awaitMirrorPos(mirror, 1L)
          Snapshots.compact(s, src)                                        // v2: skipped
          Snapshots.commitDelete(
            slice(0, 30).select(col("doc_id")), src, "doc_id", Some(2L))   // v3
          Snapshots.commitMerge(
            asLen(slice(1, 15))
              .select(col("doc_id"), (col("len") + 1000L).as("len"))
              .unionByName(asLen(slice(2, 15))
                .select((col("doc_id") + 1000000L).as("doc_id"), col("len"))),
            src, "doc_id", batchId = Some(3L))                             // v4
          Snapshots.commitAppend(asLen(slice(2, 6)), src, batchId = Some(4L)) // v5
          Snapshots.commitAppend(asLen(slice(5, 6)), src, batchId = Some(5L)) // v6
          awaitMirrorPos(mirror, 6L)
        } finally q.stop()
      }
    }
    mirror
  }

  /** #235 PUSH-MAINTAINED MIRROR (`q_feed_mirror_stream`) — #233's
    * replica with the consumer scheduling removed: ONE live composed
    * query ([[graft.streaming.ChangeFeed.followMirror]]) tails the
    * source chain and maintains the replica continuously — land a
    * version, apply it, same tick; consecutive insert versions may
    * fold into one append (the run-batching `mirrorCatchUp` gained,
    * spec-pinned batched ≡ per-version). The gate reads the MIRROR
    * after a history that exercises every change type plus a
    * mid-stream compaction and a two-insert tail, and must equal the
    * source's final content — a lost tick, a double apply, or a
    * mis-batched run all shift the replica. No checkpoint anywhere:
    * all three chains carry their own watermarks, so crash/restart
    * anywhere in land-then-apply heals on the next tick. */
  def feedMirrorStream(s: SparkSession, dir: String): DataFrame =
    Snapshots.read(s, pushMirrorHistory(s, dir))

  /** #240 RETENTION-GAP RESET (`q_feed_reset`) — the heal path of the
    * CDC loop gated end-to-end: a follower + replica absorb v1, then
    * PAUSE while the source takes an insert, a targeted delete, a
    * compaction and an aggressive vacuum — the deltas the follower
    * missed are physically gone, [[graft.streaming.ChangeFeed.catchUp]]
    * refuses with the retention-gap error (the script ASSERTS the
    * refusal — a feed that silently proceeded would still produce
    * rows here and fail the oracle), and
    * [[graft.streaming.ChangeFeed.reset]] re-bootstraps sink + replica
    * from the current source version in one call. The feed then
    * RESUMES through an insert and an atomic merge, applied to the
    * healed replica exactly once, and the gate reads the MIRROR: it
    * must equal the oracle's replay of the full logical history
    * (slices, delete, update, late insert) — a mis-seeded watermark
    * double-applies or drops the resumed versions, a wrong bootstrap
    * version ships the gap into the replica. Scale: the heal is
    * O(table) ONCE (unavoidable — the gap destroyed the incremental
    * path); everything after is O(changed rows) again. */
  def feedReset(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.ChangeFeed
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    def slice(m: Int, of: Int = 4) = docs.filter(pmod(col("doc_id"), lit(of)) === m)
    def asLen(df: DataFrame) =
      df.select(col("doc_id"), length(col("text")).cast("long").as("len"))
    val src = fpRoot(docs, "resetsrc")
    val sink = fpRoot(docs, "resetsink")
    val mirror = fpRoot(docs, "resetmirror")
    val mon = historyMonitors.computeIfAbsent(mirror, _ => new Object)
    mon.synchronized {
      // complete = the replica applied through feed version 6 (the
      // post-reset merge)
      val done = Snapshots.latestVersion(mirror)
        .flatMap(v => Snapshots.maxBatchIdOf(mirror, v)).contains(6L)
      if (!done) {
        Seq(src, sink, mirror).foreach(Snapshots.wipe)
        Snapshots.commit(asLen(slice(0)), src)                             // v0
        Snapshots.commitBatch(Snapshots.readVersion(s, src, 0L), mirror, 0L)
        Snapshots.commitAppend(asLen(slice(1)), src, batchId = Some(1L))  // v1
        ChangeFeed.catchUp(s, src, sink)
        ChangeFeed.mirrorCatchUp(s, sink, mirror, keyCol = "doc_id")
        // the follower pauses; the source keeps moving and retention
        // outruns it — v2/v3 are physically destroyed
        Snapshots.commitAppend(asLen(slice(2)), src, batchId = Some(2L))  // v2
        Snapshots.commitDelete(slice(0, 8).select(col("doc_id")), src,
          "doc_id", Some(3L))                                              // v3
        Snapshots.compact(s, src)                                          // v4
        Snapshots.vacuum(src, keep = 0)
        val refused =
          try { ChangeFeed.catchUp(s, src, sink); false }
          catch { case _: IllegalStateException => true }
        require(refused, "expected the retention-gap refusal before reset")
        ChangeFeed.reset(s, src, sink, Some(mirror), keyCol = "doc_id")    // V = 4
        // resume: new history flows through the healed pair
        Snapshots.commitAppend(asLen(slice(3)), src, batchId = Some(4L))  // v5
        Snapshots.commitMerge(
          asLen(slice(2, 8)).select(col("doc_id"), (col("len") + 1000L).as("len"))
            .unionByName(asLen(slice(6, 8))
              .select((col("doc_id") + 1000000L).as("doc_id"), col("len"))),
          src, "doc_id", batchId = Some(5L))                               // v6
        ChangeFeed.catchUp(s, src, sink)
        ChangeFeed.mirrorCatchUp(s, sink, mirror, keyCol = "doc_id")
      }
    }
    Snapshots.read(s, mirror)
  }

  /** #234 STATS-PRUNED READ (`q_stats_pruned`) — the consumer
    * `q_zorder_layout` was missing: the events-derived (u, d) frame is
    * Z-ORDERED (Morton-interleaved range layout, the same bit
    * interleave as #102), committed with PER-FILE min/max stats on
    * both dimensions ([[Snapshots.commit]] `statsCols` — lifted from
    * the staged parquet footers, O(files) metadata), and then read
    * with a PLAIN 2-D box filter: Catalyst pushes the predicates to
    * the scan and [[graft.sources.StatsFileIndex]] intersects them
    * with the sidecar at file-list time (r13 — the planner-integrated
    * path replacing the manual readPruned side door), so only files
    * whose stats intersect the box are scanned, Spark's row-level
    * filter completes exactness, and the answer must equal the
    * oracle's plain filter over the raw table — pruning is an
    * optimization the hash can't see, WHICH IS THE POINT.
    * StatsSkippingSpec asserts the file-count side on this exact
    * planner path (≤3 of 16 Morton files; a Z-ordered table keeps
    * fewer files than a single-column sort; footer stats match ground
    * truth). At 100 TB the box read costs O(files intersecting the
    * box): manifest-level data skipping is the difference between
    * touching one file and listing a directory. */
  def statsPruned(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val base = ev.select(
      pmod(col("user_id"), lit(256)).as("u"),
      pmod(dayofyear(col("ts")), lit(256)).cast("long").as("d"),
      col("value"))
    val fp = ev.agg(
      bit_xor(xxhash64(col("event_id"), col("user_id"))).as("h"),
      count(lit(1)).as("n")).head()
    val root = s"/tmp/graft-lakehouse/v1/statskip-${fp.getLong(0)}-${fp.getLong(1)}"
    ensureHistory(root, finalVersion = 0L) {
      val z = (0 until 8).map { i =>
        shiftright(col("u"), i).bitwiseAND(lit(1)) * lit(1L << (2 * i)) +
          shiftright(col("d"), i).bitwiseAND(lit(1)) * lit(1L << (2 * i + 1))
      }.reduce(_ + _)
      Snapshots.commit(
        base.withColumn("z", z)
          .repartitionByRange(16, col("z")).sortWithinPartitions("z")
          .drop("z"),
        root, statsCols = Seq("u", "d"))
      ()
    }
    // box bounds live INSIDE the data's ranges at EVERY test SF (the
    // smallest has only 15 users -> u in 0..14; events span days
    // 1-30) so the gate grades a real subset everywhere — an
    // out-of-range box would pass trivially on 0 rows. The box is a
    // PLAIN Column filter (r13): the planner pushes it to the scan and
    // [[graft.sources.StatsFileIndex]] prunes the file list from the
    // sidecar — no readPruned call, same oracle, same skip
    // (StatsSkippingSpec asserts the planner-path file counts)
    Snapshots.read(s, root)
      .filter(col("u").between(2L, 9L) && col("d").between(8L, 22L))
      .groupBy(col("u"))
      .agg(count(lit(1)).as("n"), sum(col("d")).as("sum_d"),
        round(sum(col("value")), 6).as("sum_val"))
  }

  /** #237 DOC LOOKUP on a curated-corpus-shaped chain
    * (`q_doc_lookup`) — the OPERATIONAL consumer of the stats
    * sidecars gated end-to-end: a base snapshot plus two delta
    * appends (each range-laid on doc_id, with the per-file doc_id
    * stats the base commit declares — exactly what
    * [[graft.pipelines.CurationJob.absorbDaily]] records on every
    * curated append), then
    * [[graft.pipelines.CurationJob.lookupDocs]] fetches an id range
    * — since r13 a PLAIN filtered read whose pruning happens in the
    * planner ([[graft.sources.StatsFileIndex]]) — and must equal the
    * oracle's plain BETWEEN over the raw table. The skip is real but
    * invisible to the hash (the point): StatsSkippingSpec asserts the
    * file counts on the absorb path itself. At 100 TB this is "fetch
    * these documents" touching O(matching files) of a chain, not the
    * corpus. */
  def docLookup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"),
      length(col("text")).cast("long").as("len"))
    val root = fpRoot(Tables.documents(s, dir)
      .select(col("doc_id"), col("text")), "doclookup")
    ensureHistory(root, finalVersion = 2L) {
      def laid(df: DataFrame, files: Int) =
        df.repartitionByRange(files, col("doc_id"))
      Snapshots.commit(
        laid(docs.filter(pmod(col("doc_id"), lit(2)) === 0), 8),
        root, statsCols = Seq("doc_id"))                                  // v0
      Snapshots.commitAppend(
        laid(docs.filter(pmod(col("doc_id"), lit(4)) === 1), 4), root,
        batchId = Some(1L))                                               // v1
      Snapshots.commitAppend(
        laid(docs.filter(pmod(col("doc_id"), lit(4)) === 3), 4), root,
        batchId = Some(2L))                                               // v2
      ()
    }
    graft.pipelines.CurationJob.lookupDocs(s, root, 100L, 399L)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ingest_rollback"    -> ingestRollback _,
    "q_schema_evolution"   -> schemaEvolution _,
    "q_snapshot_merge"     -> snapshotMerge _,
    "q_change_feed"        -> changeFeed _,
    "q_change_feed_stream" -> changeFeedStream _,
    "q_feed_mirror"        -> feedMirror _,
    "q_feed_mirror_stream" -> feedMirrorStream _,
    "q_feed_reset"         -> feedReset _,
    "q_stats_pruned"       -> statsPruned _,
    "q_doc_lookup"         -> docLookup _
  )

  val oracles: Map[String, String] = Map(
    // the never-poisoned history: base ∪ day1 ∪ CORRECTED day2 ∪ day3
    "q_ingest_rollback" ->
      """SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS len,
        |       CAST(0 AS INTEGER) AS day
        |FROM documents WHERE doc_id % 4 = 0
        |UNION ALL
        |SELECT doc_id, CAST(LENGTH(text) AS BIGINT), 1
        |FROM documents WHERE doc_id % 4 = 1
        |UNION ALL
        |SELECT doc_id, CAST(LENGTH(text) AS BIGINT), 2
        |FROM documents WHERE doc_id % 4 = 2
        |UNION ALL
        |SELECT doc_id, CAST(LENGTH(text) AS BIGINT), 3
        |FROM documents WHERE doc_id % 4 = 3""".stripMargin,
    // both eras of the evolved table: old rows surface src = NULL
    "q_schema_evolution" ->
      """SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS len,
        |       CAST(NULL AS VARCHAR) AS src
        |FROM documents WHERE doc_id % 5 <> 0
        |UNION ALL
        |SELECT doc_id, CAST(LENGTH(text) AS BIGINT), 'web'
        |FROM documents WHERE doc_id % 5 = 0""".stripMargin,
    // the merged table: base minus deletes, inserts, updated rows
    // (len + 1000) exactly once, merge-inserted new keys
    "q_snapshot_merge" ->
      """SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS len
        |FROM documents WHERE doc_id % 3 = 0 AND doc_id % 30 <> 0
        |UNION ALL
        |SELECT doc_id, CAST(LENGTH(text) AS BIGINT)
        |FROM documents WHERE doc_id % 3 = 1 AND doc_id % 15 <> 1
        |UNION ALL
        |SELECT doc_id, CAST(LENGTH(text) AS BIGINT) + 1000
        |FROM documents WHERE doc_id % 15 = 1
        |UNION ALL
        |SELECT doc_id + 1000000, CAST(LENGTH(text) AS BIGINT)
        |FROM documents WHERE doc_id % 15 = 2""".stripMargin,
    // the change log of (v0, v3]: v1 inserts, v2 deletes (key only),
    // v3 upserts (updates + merge-inserted keys)
    "q_change_feed" ->
      """SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS len,
        |       'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
        |FROM documents WHERE doc_id % 3 = 1
        |UNION ALL
        |SELECT doc_id, CAST(NULL AS BIGINT), 'delete', CAST(2 AS BIGINT)
        |FROM documents WHERE doc_id % 30 = 0
        |UNION ALL
        |SELECT doc_id, CAST(LENGTH(text) AS BIGINT) + 1000, 'upsert', CAST(3 AS BIGINT)
        |FROM documents WHERE doc_id % 15 = 1
        |UNION ALL
        |SELECT doc_id + 1000000, CAST(LENGTH(text) AS BIGINT), 'upsert', CAST(3 AS BIGINT)
        |FROM documents WHERE doc_id % 15 = 2""".stripMargin,
    // the STREAMED feed over the grown-while-following history: same
    // change rows, at this history's version numbers — 1 insert,
    // 3 delete, 4 merge (2 is the compaction the follower skips)
    "q_change_feed_stream" ->
      """SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS len,
        |       'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
        |FROM documents WHERE doc_id % 3 = 1
        |UNION ALL
        |SELECT doc_id, CAST(NULL AS BIGINT), 'delete', CAST(3 AS BIGINT)
        |FROM documents WHERE doc_id % 30 = 0
        |UNION ALL
        |SELECT doc_id, CAST(LENGTH(text) AS BIGINT) + 1000, 'upsert', CAST(4 AS BIGINT)
        |FROM documents WHERE doc_id % 15 = 1
        |UNION ALL
        |SELECT doc_id + 1000000, CAST(LENGTH(text) AS BIGINT), 'upsert', CAST(4 AS BIGINT)
        |FROM documents WHERE doc_id % 15 = 2""".stripMargin,
    // the feed-maintained REPLICA must equal the source's final table:
    // base minus deletes, inserts, updated rows exactly once, new keys
    // (the q_snapshot_merge shape over the feed history's slices)
    "q_feed_mirror" ->
      """SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS len
        |FROM documents WHERE doc_id % 3 = 0 AND doc_id % 30 <> 0
        |UNION ALL
        |SELECT doc_id, CAST(LENGTH(text) AS BIGINT)
        |FROM documents WHERE doc_id % 3 = 1 AND doc_id % 15 <> 1
        |UNION ALL
        |SELECT doc_id, CAST(LENGTH(text) AS BIGINT) + 1000
        |FROM documents WHERE doc_id % 15 = 1
        |UNION ALL
        |SELECT doc_id + 1000000, CAST(LENGTH(text) AS BIGINT)
        |FROM documents WHERE doc_id % 15 = 2""".stripMargin,
    // the push-maintained replica equals the source's final content:
    // the q_feed_mirror shape plus the v5/v6 insert tail
    "q_feed_mirror_stream" ->
      """SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS len
        |FROM documents WHERE doc_id % 3 = 0 AND doc_id % 30 <> 0
        |UNION ALL
        |SELECT doc_id, CAST(LENGTH(text) AS BIGINT)
        |FROM documents WHERE doc_id % 3 = 1 AND doc_id % 15 <> 1
        |UNION ALL
        |SELECT doc_id, CAST(LENGTH(text) AS BIGINT) + 1000
        |FROM documents WHERE doc_id % 15 = 1
        |UNION ALL
        |SELECT doc_id + 1000000, CAST(LENGTH(text) AS BIGINT)
        |FROM documents WHERE doc_id % 15 = 2
        |UNION ALL
        |SELECT doc_id, CAST(LENGTH(text) AS BIGINT)
        |FROM documents WHERE doc_id % 6 = 2
        |UNION ALL
        |SELECT doc_id, CAST(LENGTH(text) AS BIGINT)
        |FROM documents WHERE doc_id % 6 = 5""".stripMargin,
    // the id-range fetch through the stats-skipped chain must equal
    // the plain BETWEEN over the raw table
    "q_doc_lookup" ->
      """SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS len
        |FROM documents WHERE doc_id BETWEEN 100 AND 399""".stripMargin,
    // the healed replica's content = the full logical history replayed:
    // base minus the deleted %8=0 slice, the pre-gap insert, the
    // post-reset insert, and the merge's update (+1000) and new
    // (+1000000) halves — a wrong reset watermark or bootstrap version
    // double-applies or drops exactly one of these terms
    "q_feed_reset" ->
      """WITH d AS (SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS len
        |           FROM documents)
        |SELECT doc_id, len FROM d WHERE doc_id % 8 = 4
        |UNION ALL SELECT doc_id, len FROM d WHERE doc_id % 4 = 1
        |UNION ALL SELECT doc_id, len + 1000 FROM d WHERE doc_id % 8 = 2
        |UNION ALL SELECT doc_id, len FROM d WHERE doc_id % 8 = 6
        |UNION ALL SELECT doc_id, len FROM d WHERE doc_id % 4 = 3
        |UNION ALL SELECT doc_id + 1000000 AS doc_id, len FROM d
        |          WHERE doc_id % 8 = 6""".stripMargin,
    // the pruned read must equal the plain filter over the raw table —
    // file skipping is invisible to the answer, by construction
    "q_stats_pruned" ->
      """WITH b AS (SELECT user_id % 256 AS u,
        |                 CAST(dayofyear(ts) % 256 AS BIGINT) AS d,
        |                 value
        |          FROM events)
        |SELECT u, COUNT(*) AS n, CAST(SUM(d) AS BIGINT) AS sum_d,
        |       ROUND(SUM(value), 6) AS sum_val
        |FROM b
        |WHERE u BETWEEN 2 AND 9 AND d BETWEEN 8 AND 22
        |GROUP BY u""".stripMargin
  )
}
