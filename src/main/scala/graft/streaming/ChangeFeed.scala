package graft.streaming

import org.apache.spark.sql.SparkSession

import graft.sources.Snapshots

/** STREAMING CHANGE-FEED SOURCE over a [[graft.sources.Snapshots]]
  * version chain — the push-side of `changesBetween` (#229): a
  * follower query tails the table's delta history and lands every
  * row-level change into a typed sink table, one idempotent landing
  * PER SOURCE VERSION, so a downstream incremental consumer reads a
  * continuously-growing change table instead of polling versions and
  * managing its own watermark.
  *
  * Exactly-once WITHOUT a checkpoint: the consumer watermark is the
  * sink root's own replay watermark (each landing commits with
  * batchId = the source VERSION id), so a replayed tick, a restarted
  * query, even a restart with no checkpoint directory re-lands
  * already-absorbed versions as no-ops. This is stronger than the
  * micro-batch-id loops ([[DocsStream.absorbNearDups]] etc.), whose
  * exactly-once story rests on runtime batch ids and therefore
  * REQUIRES the checkpoint: here the version ids live in the source
  * chain itself.
  *
  * Version semantics per tick (all metadata reads, O(new versions)):
  *  - DELTA versions (insert/delete/upsert) land their typed rows —
  *    `_change_type`, `_commit_version` — via
  *    [[graft.sources.Snapshots.changesBetween]], in version order;
  *  - COMPACTED versions (nightly maintenance's invisible rewrites,
  *    marker `compacted:true`) are SKIPPED: identical logical
  *    content, no row-level change — so the feed keeps flowing
  *    through a week of maintenance;
  *  - a fresh FULL rewrite (a real content replace) is a LOUD error:
  *    it has no row-level representation, and silently skipping it
  *    would serve the consumer a feed that no longer reconstructs the
  *    table. Reset the follower (new sink root) after such a rewrite,
  *    exactly as Delta's change feed requires.
  *
  * ROLLBACK interacts the standard CDC way: a rollback-then-recommit
  * rewrites history under version numbers the follower may already
  * have absorbed, so a repaired table needs a follower reset — the
  * feed follows a forward-moving chain. (The sink's watermark makes
  * this safe-by-default: rewritten version numbers are ≤ the
  * watermark and land as no-ops rather than double-absorbing.)
  *
  * Scale posture: each tick is O(manifests newer than the watermark)
  * metadata reads; each landing reads ONLY the changed version's
  * delta dir (never the table), and the sink chain is a normal
  * snapshot chain — compact/vacuum it with [[Snapshots.maintain]]
  * like any other (the rewrite keeps the `_commit_version` sidecar
  * the bootstrap landing declared). At 100 TB the feed's cost tracks
  * the CHANGE RATE, not the table size.
  */
object ChangeFeed {

  /** The follower's persisted position: the last source version landed
    * into `sinkRoot` (its replay watermark), if any. */
  def position(sinkRoot: String): Option[Long] =
    Snapshots.latestVersion(sinkRoot)
      .flatMap(v => Snapshots.maxBatchIdOf(sinkRoot, v))

  /** ONE catch-up pass: land every un-absorbed committed version of
    * `root` (above the sink watermark, else above `fromV`) into
    * `sinkRoot`, in version order. Returns the versions landed this
    * pass (compacted versions are skipped and not returned). This is
    * the body [[follow]] runs per tick; batch callers (specs, a cron
    * job instead of a stream) can drive it directly — same
    * exactly-once contract. */
  def catchUp(spark: SparkSession, root: String, sinkRoot: String,
      fromV: Long = 0L): Seq[Long] = {
    val latest = Snapshots.latestVersion(root).getOrElse(return Seq.empty)
    val wm = position(sinkRoot).getOrElse(fromV)
    // watermark-seeded listing: historic manifest names are dropped
    // before any file is OPENED, and each landing reads only its own
    // version's metadata (changesOf), so a tick's manifest reads
    // track PENDING versions — FeedTickCostSpec pins them EQUAL at 8x
    // and 96x applied history, idle and busy
    val pending = Snapshots.versionsAbove(root, wm).filter(_ <= latest)
    // GAP GUARD: versions are claimed contiguously, so the first
    // pending version must be wm + 1 — compacted rewrites COUNT as
    // fillers here (they are skipped below, but their version numbers
    // still occupy the chain). A hole means vacuum/maintain retention
    // outran this follower: the vacuumed delta versions would
    // otherwise simply vanish from the list and be silently skipped,
    // and the sink would no longer reconstruct the table — exactly
    // the non-representable history the scaladoc promises is a LOUD
    // error, not a silent gap.
    pending.headOption.filter(_ != wm + 1).foreach { h =>
      throw new IllegalStateException(
        s"change feed on $root: versions ${wm + 1}..${h - 1} are gone — " +
          "retention outran the follower and the sink no longer " +
          "reconstructs the table; reset the follower (new sink root " +
          "bootstrapped from a current base snapshot)")
    }
    pending.flatMap { v =>
      if (Snapshots.manifestOf(root, v).exists(_.compacted)) None // invisible rewrite
      else {
        require(Snapshots.isDelta(root, v),
          s"change feed on $root hit a full rewrite at version $v — a fresh " +
            "commit() has no row-level change representation; reset the " +
            "follower against the rewritten table (compactions are skipped " +
            "automatically, this was not one — see [[reset]])")
        val changes = Snapshots.changesOf(spark, root, v)
        // the sink's schema FOLLOWS the source's by design (that is
        // what a change feed is), so landings always announce
        // evolution: a delete version carries only its tombstone key
        // (the sink's other columns read as null — changesOf's union
        // semantics), and a schema-evolved source widens the sink the
        // same way. Type changes still fail loudly, like every append.
        // The bootstrap landing declares a `_commit_version` stats
        // sidecar, which every later landing and compaction inherits:
        // the column is constant per landed file, so the mirror's
        // watermark filter prunes every already-applied feed FILE at
        // the manifest level ([[Snapshots.readPruned]]) — a long-lived
        // feed's catch-up reads O(pending versions' files), not the
        // whole change table, bootstrap-heavy chains included
        if (Snapshots.latestVersion(sinkRoot).isEmpty)
          Snapshots.commitBatch(changes, sinkRoot, v,
            statsCols = Seq("_commit_version"))
        else
          Snapshots.commitAppend(changes, sinkRoot, batchId = Some(v),
            evolveSchema = true)
        Some(v)
      }
    }
  }

  /** MIRROR APPLIER — the downstream consumer the feed exists for,
    * closing the CDC loop end-to-end: fold the change table under
    * `sinkRoot` into a REPLICA snapshot table at `mirrorRoot`, one
    * committed mirror version per source version, exactly once (each
    * apply commits with batchId = the source version, so replays,
    * restarts and crash-retries no-op). Per version the typed rows
    * map onto the table operations they came from — insert → delta
    * append, delete → tombstone of `keyCol`, upsert → atomic merge —
    * so the mirror IS a Snapshots table: time-travelable, compactable
    * with [[Snapshots.maintain]], and readable mid-apply without
    * tearing. A consumer bootstraps the mirror from a base snapshot
    * (the feed covers changes AFTER it), exactly the Delta-CDF
    * consumer pattern.
    *
    * Returns the source versions applied this pass. Cost is O(changed
    * rows) per pass: the `_commit_version > watermark` filter pushes
    * down to the sink's parquet scan, each apply is the
    * O(version's rows) commit it mirrors — the replica table's 100 TB
    * base is never rewritten — and consecutive INSERT versions batch
    * into ONE append (`batchInserts`, on by default): a lagging
    * mirror catching up a month of hourly insert commits runs one
    * Spark job, not ~720 sequential ones. Deletes/upserts are
    * order-sensitive and stay one commit per version. */
  def mirrorCatchUp(spark: SparkSession, sinkRoot: String,
      mirrorRoot: String, keyCol: String,
      batchInserts: Boolean = true): Seq[Long] = {
    import org.apache.spark.sql.functions.col
    if (Snapshots.latestVersion(sinkRoot).isEmpty) return Seq.empty
    require(Snapshots.latestVersion(mirrorRoot).nonEmpty,
      s"mirror $mirrorRoot has no base snapshot — bootstrap it from the " +
        "source table (the change feed covers changes AFTER the base)")
    val wm = Snapshots.latestVersion(mirrorRoot)
      .flatMap(v => Snapshots.maxBatchIdOf(mirrorRoot, v)).getOrElse(0L)
    // LAG GATE — when the feed's own watermark (last source version
    // landed into the sink) is BEHIND the mirror's, there is nothing
    // this pass could correctly apply, so it is a NO-OP. Two ways
    // here: (a) a mirror legitimately bootstrapped from a NEWER
    // source snapshot than the follower has landed — the mirror
    // simply waits for the feed to catch up (versions ≤ its watermark
    // then no-op by batch id, the normal contract); (b) a sink that
    // was wiped/rebuilt — also safe to wait: the rebuilt feed lands
    // the same source versions with the same content (source versions
    // ARE the identity), and the divergent-history case (source
    // rollback + rewrite) is governed by the follower-reset contract
    // catchUp already enforces loudly. Applying nothing is the only
    // correct move in every branch, so this never throws.
    val sinkWm = position(sinkRoot).getOrElse(0L)
    if (sinkWm < wm) return Seq.empty
    // the watermark filter goes through the DATA-SKIPPING read: each
    // feed landing recorded a `_commit_version` sidecar (constant per
    // file), so every already-applied feed FILE is pruned from the
    // scan's file list — the catch-up pays O(pending versions' files)
    // even when the change table holds months of applied history
    // (members without sidecars scan whole; the residual filter keeps
    // it exact either way)
    val changes = Snapshots.readPruned(spark, sinkRoot, Seq(
      graft.sources.FileStats.ColRange("_commit_version",
        lower = Some(wm + 1))))
    // the pending-version list is O(feed versions above the watermark)
    // driver-side metadata — bounded by the change history, not data
    val pending = changes.select(col("_commit_version"), col("_change_type"))
      .distinct().collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    val byV = pending.groupBy(_._1)
    val ordered = byV.keys.toSeq.sorted.map { v =>
      val types = byV(v).map(_._2).distinct
      require(types.size == 1,
        s"malformed feed: version $v carries mixed change types $types")
      v -> types.head
    }
    // RUN-BATCHING: consecutive INSERT versions fold into ONE delta
    // append (rows of the whole run, batchId = the run's LAST source
    // version — the watermark is a running max, so replays of any
    // member no-op and a crash retries the whole run idempotently).
    // A month of hourly insert commits applies as one Spark job, not
    // ~720 sequential ones; deletes and upserts are ORDER-SENSITIVE
    // against their neighbors and stay one commit per version.
    val runs = ordered.foldLeft(List.empty[List[(Long, String)]]) {
      case (acc, (v, t)) => acc match {
        case head :: tail if t == "insert" && head.head._2 == "insert" =>
          ((v, t) :: head) :: tail // prepend within the current run
        case _ => List((v, t)) :: acc
      }
    }.map(_.reverse).reverse
    // batchInserts = false degrades to one commit per version — the
    // equivalence anchor ChangeFeedSpec pins (batched ≡ per-version)
    val applyRuns =
      if (batchInserts) runs else runs.flatMap(_.map(List(_)))
    applyRuns.flatMap { run =>
      val (vs, typ) = (run.map(_._1), run.head._2)
      val rows = changes
        .filter(col("_commit_version") >= vs.head &&
          col("_commit_version") <= vs.last)
        .drop("_change_type", "_commit_version")
      typ match {
        case "insert" =>
          Snapshots.commitAppend(rows, mirrorRoot, batchId = Some(vs.last),
            evolveSchema = true)
        case "delete" =>
          Snapshots.commitDelete(rows.select(col(keyCol)), mirrorRoot,
            keyCol, batchId = Some(vs.last))
        case "upsert" =>
          Snapshots.commitMerge(rows, mirrorRoot, keyCol = keyCol,
            batchId = Some(vs.last), evolveSchema = true)
        case other =>
          throw new IllegalArgumentException(
            s"unknown change type '$other' at feed version ${vs.head}")
      }
      vs
    }
  }

  /** RETENTION-AWARE FOLLOWER RESET — the operational answer to
    * [[catchUp]]'s gap error (and to the follow-a-rewrite /
    * follow-a-rollback errors), composed instead of manual: when
    * vacuum outran a paused follower (versions between its watermark
    * and the oldest retained manifest are physically gone), the sink
    * can never reconstruct the table again — the ONLY heal is to
    * re-bootstrap downstream state from a CURRENT base and resume the
    * feed after it, exactly the Delta-CDF "restart the consumer from
    * a fresh snapshot" runbook. This does that in one call:
    *
    *  1. PIN the source's current version V (reads below are of V,
    *     not "whatever latest becomes" — a writer landing V+1
    *     mid-reset is simply new history the resumed feed absorbs);
    *  2. wipe the sink (its content no longer reconstructs anything)
    *     and re-seed it with an EMPTY change landing carrying
    *     batchId = V, so [[position]] = V and the resumed follower's
    *     gap guard accepts exactly V+1 as the next version;
    *  3. if a mirror is given: wipe it and re-bootstrap from the
    *     source AS OF V (one full-snapshot commit, batchId = V — the
    *     replica equals the table again and its watermark points the
    *     applier at feed versions > V).
    *
    * Returns V — pass it as `fromV` when restarting [[follow]] /
    * [[followMirror]] (the seeded watermarks already enforce it; the
    * explicit value is for logging/config). Idempotent in effect:
    * re-running reset re-bootstraps from the then-current version.
    * Call with the follower STOPPED (it is failing loudly anyway —
    * that error is what triggers this); the wipe-then-commit pair is
    * not atomic, and a concurrent tick between them would land into
    * an empty sink as if bootstrapping from zero. Cost: O(table) for
    * the mirror re-bootstrap (unavoidable — the gap destroyed the
    * incremental path), O(1) metadata for the feed itself. The spec
    * drives vacuum past a paused follower into the gap error, resets,
    * resumes, and proves the healed replica oracle-equal. */
  def reset(spark: SparkSession, root: String, sinkRoot: String,
      mirrorRoot: Option[String] = None, keyCol: String = ""): Long = {
    val v = Snapshots.latestVersion(root).getOrElse(
      throw new IllegalStateException(
        s"cannot reset a follower of $root: no committed version"))
    val asOf = Snapshots.readVersion(spark, root, v)
    Snapshots.wipe(sinkRoot)
    // empty typed landing, schema = source + the feed's two change
    // columns: the sink LOOKS like a feed the applier/consumers can
    // read (same columns), holds zero rows, and carries watermark V
    import org.apache.spark.sql.functions.lit
    val empty = asOf.where(lit(false))
      .withColumn("_change_type", lit("insert"))
      .withColumn("_commit_version", lit(v))
    Snapshots.commitBatch(empty, sinkRoot, v,
      statsCols = Seq("_commit_version"))
    mirrorRoot.foreach { m =>
      require(keyCol.nonEmpty,
        "mirror reset needs the merge keyCol the applier will use")
      Snapshots.wipe(m)
      Snapshots.commitBatch(asOf, m, v)
    }
    v
  }

  /** Start the FOLLOWER: a streaming query whose every tick (default
    * 1 s) runs [[catchUp]]. The rate source is only a clock — all
    * state lives in the source chain and the sink watermark, so no
    * checkpoint is needed (a temp one is used unless given) and
    * restarts are exactly-once by construction. `fromV` seeds the
    * watermark when the sink does not exist yet: versions ≤ fromV are
    * history the consumer skips. */
  def follow(spark: SparkSession, root: String, sinkRoot: String,
      fromV: Long = 0L, tick: String = "1 second",
      checkpoint: String = ""):
      org.apache.spark.sql.streaming.StreamingQuery = {
    val clock = spark.readStream.format("rate")
      .option("rowsPerSecond", 1L).load()
    val w = clock.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(tick))
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        catchUp(spark, root, sinkRoot, fromV); ()
      }
    (if (checkpoint.nonEmpty) w.option("checkpointLocation", checkpoint) else w)
      .start()
  }

  /** PUSH MIRROR — the follower and the mirror applier composed into
    * ONE live query: each tick lands new source versions into the
    * change table ([[catchUp]]) and immediately folds them into the
    * replica ([[mirrorCatchUp]]), so the mirror is CONTINUOUSLY
    * maintained instead of waiting for a consumer-scheduled batch
    * catch-up — the r11 gap ("the mirror is pull, not push"). All
    * state still lives in the three chains' own watermarks (sink
    * keyed by source version, mirror keyed by feed version), so no
    * checkpoint is needed, restarts are exactly-once, and a crash
    * BETWEEN the land and the apply heals on the next tick (the
    * apply reads the sink, not this tick's memory). The mirror must
    * be bootstrapped from a base snapshot before the first apply —
    * same contract as [[mirrorCatchUp]]. */
  def followMirror(spark: SparkSession, root: String, sinkRoot: String,
      mirrorRoot: String, keyCol: String,
      fromV: Long = 0L, tick: String = "1 second",
      checkpoint: String = ""):
      org.apache.spark.sql.streaming.StreamingQuery = {
    val clock = spark.readStream.format("rate")
      .option("rowsPerSecond", 1L).load()
    val w = clock.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(tick))
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        catchUp(spark, root, sinkRoot, fromV)
        mirrorCatchUp(spark, sinkRoot, mirrorRoot, keyCol); ()
      }
    (if (checkpoint.nonEmpty) w.option("checkpointLocation", checkpoint) else w)
      .start()
  }
}
