package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Versioned (time-travel) table on plain parquet + JSON manifests —
  * the lakehouse snapshot pattern behind Delta/Iceberg expressed with
  * no table-format dependency.
  *
  * Layout under a table root:
  * {{{
  *   <root>/data/v=N/part-*.parquet     immutable snapshot data
  *   <root>/manifests/vN.json           one [[Snapshots.Manifest]] record:
  *                                      {"version":N,"rows":R,"parent":N-1,
  *                                       "ts":..,"cid":"..","batchId":..,
  *                                       "delta":true,"tombstoneKey":"..",
  *                                       "mergeKey":"..","keyed":true,
  *                                       "compacted":true,"maxBatchId":..,
  *                                       "partitionCols":[..],"statsCols":[..]}
  *                                      (absent options, false flags and empty
  *                                       layouts omitted)
  *   <root>/manifests/stats-vN.json     optional per-file stats ([[FileStats]])
  *   <root>/_latest                     atomic pointer file: "N"
  * }}}
  *
  * Writer protocol (crash-safe in commit order, MULTI-WRITER-safe via
  * the per-root commit lock — see the commit-lock note below):
  *  1. STAGE the snapshot's data into a private `data/stage-*` dir
  *     (the distributed write — lock-free, concurrent writers never
  *     collide; a crash leaves an orphan stage dir that [[vacuum]]
  *     sweeps once it is provably abandoned);
  *  2. under the lock: revalidate any idempotence guard (replay
  *     watermark / content key), claim `v = latest + 1`, rename the
  *     stage dir into place, write the manifest file;
  *  3. atomically publish the `_latest` pointer (the commit point —
  *     one small-file atomic swap). Lock, stage move and pointer
  *     publish are the [[CommitIO]] seam: the default is POSIX
  *     primitives (multi-writer-safe on local/shared-POSIX
  *     filesystems ONLY); an object-store deployment must plug a
  *     conditional-put arbiter in through the seam — see CommitIO.
  *
  * Readers resolve `_latest` (or an explicit version) and read ONE
  * immutable directory — no reader/writer race: concurrent readers of
  * version N are untouched by a writer committing N+1, and a reader
  * holding N can finish long after N+2 lands (until `vacuum` removes
  * N). This is the reference's `latest` snapshot idea
  * (tasks/base.py convert_latest_file) upgraded from copy-the-file to
  * versioned history with rollback.
  *
  * Scale posture: the data write is ONE distributed pass; manifests
  * and the pointer are O(1) driver-side metadata (the Delta/Iceberg
  * shape — metadata small, data distributed). Snapshot dirs are
  * immutable so object-store caching/read-replicas stay valid.
  */
object Snapshots {

  private def dataDir(root: String, v: Long) = s"$root/data/v=$v"
  private def manifest(root: String, v: Long): Path = Paths.get(s"$root/manifests/v$v.json")
  // per-file column-stats sidecar (see [[FileStats]]) — named so the
  // [[versions]] listing's `v*.json` pattern can never match it
  private def statsPath(root: String, v: Long): Path =
    Paths.get(s"$root/manifests/stats-v$v.json")
  private def pointer(root: String): Path = Paths.get(s"$root/_latest")

  // ------------------------------------------------------- commit lock
  //
  // CONCURRENT WRITERS: on a real cluster two jobs (a daily absorb and
  // a nightly compact, or two replayed absorbs) can race one root. The
  // version-claim protocol ("next = latest + 1, overwrite") is only
  // safe single-writer, so every METADATA mutation (claim + manifest +
  // pointer, rollback, vacuum) runs under a per-root commit lock —
  // two Spark drivers sharing the filesystem exclude each other
  // (CrossProcessLockSpec races real JVMs on one root to prove it).
  // The DISTRIBUTED data write never holds the lock: it stages to a
  // private `data/stage-*` dir first, and only the O(1) rename + two
  // metadata writes serialize.
  //
  // The lock, the stage move and the pointer publish are the
  // [[CommitIO]] seam: the default [[PosixCommitIO]] guarantees
  // multi-writer safety ONLY on a local/shared-POSIX filesystem; an
  // object-store deployment must plug a conditional-put arbiter in
  // through the seam (see CommitIO's scaladoc — the old claim that
  // the pointer swap "degrades" safely there was wrong: a plain
  // rename has no conditional semantics). Specs inject a
  // fault-injecting CommitIO to pin what each broken primitive costs.
  @volatile private[graft] var io: CommitIO = PosixCommitIO

  private def withCommitLock[T](root: String)(body: => T): T =
    io.withLock(root)(body)

  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))

  /** How long a stage tree may sit mtime-quiet before [[vacuum]]
    * treats it as a crashed writer's orphan (1 hour; specs shorten it
    * through this seam). Live writers HEARTBEAT their stage (below),
    * so the cutoff only paces orphan reclamation — it can never sweep
    * a live commit, however long the writer stalls. */
  @volatile private[graft] var stageAbandonCutoffMs: Long = 3600L * 1000L

  private lazy val heartbeats =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "snapshots-stage-heartbeat")
      t.setDaemon(true); t
    })

  /** The stage-liveness lease: a daemon tick (re-)writes `file` until
    * [[StageHeartbeat.stop]] — keeping the stage tree mtime-fresh so
    * vacuum's abandonment sweep can never reclaim a LIVE commit,
    * however long the writer stalls. The tick must CREATE, not just
    * touch: Spark's `SaveMode.Overwrite` deletes the whole stage dir
    * (heartbeat included) at job start, so an mtime-only tick would
    * go quiet for the rest of the commit — exactly when the writer
    * might block on a contended lock (the r12 review catch). The
    * recreate-after-delete race the mtime design was avoiding (a tick
    * shipping `_heartbeat` into a committed dir, or making a
    * guard-discard's directory delete throw) is closed by `stop()`
    * instead: tick and stop share one monitor, so after `stop()`
    * returns — stopped flag set, file deleted, both under the lock —
    * no tick can ever recreate the file. */
  private[graft] final class StageHeartbeat private[Snapshots] (file: Path) {
    private var stopped = false
    private[Snapshots] val task: java.util.concurrent.ScheduledFuture[_] = {
      val period = math.max(500L, stageAbandonCutoffMs / 6)
      heartbeats.scheduleAtFixedRate(() => this.synchronized {
        if (!stopped)
          try Files.write(file, Array.emptyByteArray)
          catch { case _: java.io.IOException => () }
      }, 0L, period, java.util.concurrent.TimeUnit.MILLISECONDS)
    }
    /** Stop ticking and remove the file — after this returns, no tick
      * can recreate it (serialized on the same monitor), so the
      * caller may delete/move the stage with no heartbeat race. */
    def stop(): Unit = this.synchronized {
      stopped = true
      task.cancel(false)
      try Files.deleteIfExists(file)
      catch { case _: java.io.IOException => () }
      ()
    }
  }

  private[graft] def startStageHeartbeat(file: Path): StageHeartbeat =
    new StageHeartbeat(file)

  /** The shared LANDING step of every absorb loop (streaming
    * foreachBatch sinks, the week-scale gates): commit a micro-batch's
    * derived frame under `root` on the batch-id clock — first batch =
    * full snapshot, later ones idempotent delta appends — so a crash
    * between an index append and this landing retries into a no-op on
    * the index side and a replay-stable frame here. */
  def landBatch(df: DataFrame, root: String, batchId: Long): Unit = {
    if (latestVersion(root).isEmpty) commitBatch(df, root, batchId)
    else commitAppend(df, root, batchId = Some(batchId))
    ()
  }

  /** WIPE a root back to (near-)nonexistence, crash-ordered: the
    * `_latest` pointer goes FIRST so a crash mid-wipe leaves the root
    * unambiguously uncommitted (tree-order deletion could leave a
    * pointer with no manifests — a root that looks committed but
    * cannot be read). Runs UNDER the commit lock, sparing the IO's
    * [[CommitIO.lockArtifacts]]: deleting a held POSIX lock file would
    * let a concurrent cross-process holder keep its lock on the
    * unlinked inode while a new writer locks a recreated file, and
    * deleting a held `_lease` (Snapshots.io = LeaseCommitIO) would
    * hand the lease to a concurrent writer while this wipe is still
    * deleting — two "owners" of one root either way. For
    * content-addressed scratch roots whose history is cheap to
    * replay; NOT a data-retention tool ([[vacuum]] is). */
  def wipe(root: String): Unit = withCommitLock(root) {
    Files.deleteIfExists(pointer(root))
    val top = Paths.get(root)
    if (Files.exists(top))
      Files.list(top).iterator().asScala.toSeq
        .filterNot(p => io.lockArtifacts(p.getFileName.toString))
        .foreach(deleteRecursively)
  }

  /** The committed latest version, if any. */
  def latestVersion(root: String): Option[Long] = {
    val p = pointer(root)
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLong)
    else None
  }

  /** Observability: manifest FILES OPENED this JVM, across all roots —
    * the spec hook behind every "O(pending), not O(history)" metadata
    * claim (FeedTickCostSpec pins a change-feed tick's reads equal at
    * 8x and 96x applied history). Listing a directory of names does
    * NOT count; opening a `vN.json` does. */
  private[graft] val manifestReads = new java.util.concurrent.atomic.AtomicLong

  /** One commit's manifest record (`manifests/vN.json`), fields in
    * on-disk order:
    *  - `version`, `rows` (this version's OWN rows), `parent`;
    *  - `ts`: wall-clock commit millis — powers [[readAsOf]];
    *  - `cid`: a per-commit UUID, THE identity of a commit (version
    *    numbers are reused by rollback-then-recommit, wall-clock
    *    millis collide) — the ABA guard for [[compact]]'s chain pin and
    *    the schema caches;
    *  - `batchId`: the commit's idempotence key; `keyed` marks it an
    *    UNORDERED content fingerprint ([[commitKeyed]]) rather than a
    *    monotone batch id, so watermark readers skip it;
    *  - `delta`: an append-chain member ([[commitAppend]]) — readers
    *    resolve its parent chain;
    *  - `tombstoneKey` / `mergeKey`: the key column of a TOMBSTONE
    *    ([[commitDelete]]) / MERGE ([[commitMerge]]) version — both
    *    ride the delta-chain machinery but flip the reader's fold from
    *    union to anti-join (merge: anti-join its keys, then union);
    *  - `compacted`: an INVISIBLE full rewrite ([[compact]]) — a
    *    change-feed follower skips it, where a fresh [[commit]] (a real
    *    content replace) is a feed error;
    *  - `maxBatchId`: the running max of monotone batch ids, carried
    *    through every commit — the replay watermark ([[maxBatchIdOf]]);
    *  - `partitionCols` / `statsCols`: the root's LAYOUT — hive
    *    partition dirs and per-file stats sidecar columns. Full commits
    *    ([[commit]], [[commitPartitioned]], [[commitBatch]],
    *    [[commitKeyed]]) declare it; every other commit inherits it
    *    from the latest manifest ([[laidOutAfter]]), so appends,
    *    merges and compactions keep the dirs and sidecars later reads
    *    prune on without any caller restating them.
    * Absent options, false flags and empty layouts are omitted on
    * disk. Manifests from before `ts`, `cid`, `keyed`, `maxBatchId` or
    * the layout existed parse with them absent (an absent layout is
    * the empty one); [[readAsOf]] treats a missing `ts` as infinitely
    * old. */
  final case class Manifest(
      version: Long = -1L, rows: Long = 0L, parent: Long = -1L,
      ts: Option[Long] = None, cid: Option[String] = None,
      batchId: Option[Long] = None, delta: Boolean = false,
      tombstoneKey: Option[String] = None, mergeKey: Option[String] = None,
      keyed: Boolean = false, compacted: Boolean = false,
      maxBatchId: Option[Long] = None,
      partitionCols: Seq[String] = Seq.empty, statsCols: Seq[String] = Seq.empty) {

    /** Comparable identity for ABA guards: the commit id, else the
      * legacy timestamp (pre-cid manifests) — two reads agree iff they
      * saw the SAME commit of this version. */
    private[Snapshots] def identity: String =
      cid.orElse(ts.map(t => s"ts:$t")).getOrElse("absent")

    /** This template laid out after `prev`, the latest manifest: a
      * delta or compacted commit INHERITS the root's layout, a full
      * commit keeps the one it declares. */
    private[Snapshots] def laidOutAfter(prev: Option[Manifest]): Manifest =
      if (!delta && !compacted) this
      else copy(partitionCols = prev.toSeq.flatMap(_.partitionCols),
        statsCols = prev.toSeq.flatMap(_.statsCols))

    private[Snapshots] def toJson: String = {
      val n = json.createObjectNode()
      n.put("version", version)
      n.put("rows", rows)
      n.put("parent", parent)
      ts.foreach(n.put("ts", _))
      cid.foreach(n.put("cid", _))
      batchId.foreach(n.put("batchId", _))
      if (delta) n.put("delta", true)
      tombstoneKey.foreach(n.put("tombstoneKey", _))
      mergeKey.foreach(n.put("mergeKey", _))
      if (keyed) n.put("keyed", true)
      if (compacted) n.put("compacted", true)
      maxBatchId.foreach(n.put("maxBatchId", _))
      def strs(f: String, xs: Seq[String]): Unit =
        if (xs.nonEmpty) { val a = n.putArray(f); xs.foreach(x => a.add(x)) }
      strs("partitionCols", partitionCols)
      strs("statsCols", statsCols)
      json.writeValueAsString(n)
    }
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The parsed manifest of `v`, if the version was ever committed —
    * every metadata reader goes through here, so [[manifestReads]] is
    * an honest total. */
  def manifestOf(root: String, v: Long): Option[Manifest] = {
    val p = manifest(root, v)
    if (!Files.exists(p)) None
    else {
      manifestReads.incrementAndGet()
      val n = json.readTree(Files.readAllBytes(p))
      def long(f: String) = Option(n.get(f)).map(_.asLong)
      def str(f: String) = Option(n.get(f)).map(_.asText)
      def flag(f: String) = Option(n.get(f)).exists(_.asBoolean)
      def strs(f: String) = n.path(f).elements().asScala.map(_.asText).toSeq
      Some(Manifest(n.path("version").asLong(v), n.path("rows").asLong,
        n.path("parent").asLong(v - 1), long("ts"), str("cid"), long("batchId"),
        flag("delta"), str("tombstoneKey"), str("mergeKey"), flag("keyed"),
        flag("compacted"), long("maxBatchId"), strs("partitionCols"),
        strs("statsCols")))
    }
  }

  /** All committed versions (manifest-backed), ascending. */
  def versions(root: String): Seq[Long] = versionsAbove(root, Long.MinValue)

  /** Committed versions STRICTLY ABOVE `above`, ascending — the
    * watermark-seeded listing a CDC follower's tick uses
    * ([[graft.streaming.ChangeFeed.catchUp]]): historic names are
    * dropped on the NAME alone, before any manifest file is opened,
    * so a tick's per-version metadata work tracks PENDING versions
    * only (the readdir itself is one listing call — the object-store
    * LIST — not a per-version open). */
  def versionsAbove(root: String, above: Long): Seq[Long] = {
    val dir = Paths.get(s"$root/manifests")
    if (!Files.isDirectory(dir)) Seq.empty
    else Files.list(dir).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json").toLong }
      .filter(_ > above)
      .toSeq.sorted
  }

  /** Write `df` as the next snapshot version; returns the committed
    * version number. Readers of prior versions are unaffected.
    * `statsCols` (optional) records per-FILE min/max for those
    * columns from the staged parquet footers into a
    * `manifests/stats-vN.json` sidecar — O(files) metadata reads, no
    * second data pass — which [[readPruned]] consumes for file-level
    * data skipping. Pair with a layout that CLUSTERS those columns
    * (Z-order / range sort before the commit) or the min/max spans
    * cover everything and nothing prunes. The columns become the
    * root's declared layout: later appends, merges and compactions
    * record the same sidecar (see [[Manifest]]). */
  def commit(df: DataFrame, root: String, statsCols: Seq[String] = Seq.empty): Long =
    commitInternal(df, root, Manifest(statsCols = statsCols)).version

  /** [[commit]] with hive-style partition directories on
    * `partitionCols` inside the snapshot's data dir — a reader
    * filtering on those columns prunes whole directories
    * (PartitionFilters), which is what makes a stored IVF index's
    * per-query cost probe-bucket-sized instead of corpus-sized.
    * `statsCols` adds file-level skipping WITHIN the surviving
    * directories (see [[commit]]) — partition pruning for the coarse
    * key, stats pruning for the fine one. Both lists are recorded in
    * the manifest as the root's layout: every later [[commitAppend]],
    * [[commitMerge]] and [[compact]] writes its files the same way
    * with no layout argument of its own. */
  def commitPartitioned(df: DataFrame, root: String, partitionCols: Seq[String],
      statsCols: Seq[String] = Seq.empty): Long =
    commitInternal(df, root,
      Manifest(partitionCols = partitionCols, statsCols = statsCols)).version

  /** IDEMPOTENT commit keyed by an external batch id (a Structured
    * Streaming micro-batch id): replaying a batch id ≤ the last
    * committed one is a NO-OP, so a foreachBatch sink writing through
    * this method is exactly-once — the snapshot equivalent of
    * [[graft.streaming.EventsStream.idempotentBatchWriter]], with the
    * version history as a bonus (each micro-batch is a time-travel
    * point). Returns the committed (or already-current) version. */
  def commitBatch(df: DataFrame, root: String, batchId: Long,
      statsCols: Seq[String] = Seq.empty): Long =
    commitGuarded(df, root, Manifest(batchId = Some(batchId), statsCols = statsCols))

  /** APPEND (delta) commit: the new version's data dir holds ONLY
    * `delta`'s rows; its manifest records `delta:true` and readers
    * resolve the parent chain back to the last FULL snapshot, reading
    * the union of those immutable dirs. Absorbing a daily batch into
    * a 100 TB table therefore costs O(batch) — the stored corpus is
    * never rewritten — while every version stays a time-travel point
    * and rollback/readers-of-N semantics are unchanged. Chains are
    * kept short by [[compact]] (a periodic full re-commit); `batchId`
    * gives the same idempotent-replay contract as [[commitBatch]]. The
    * delta is written in the root's declared layout — the partition
    * dirs and stats sidecar of the last full commit ([[Manifest]]). */
  def commitAppend(delta: DataFrame, root: String,
      batchId: Option[Long] = None,
      evolveSchema: Boolean = false): Long = {
    require(latestVersion(root).nonEmpty,
      s"commitAppend needs an existing full snapshot under $root")
    commitGuarded(delta, root, Manifest(batchId = batchId, delta = true),
      Some(evolveSchema))
  }

  /** The one REPLAY-GUARDED commit path behind [[commitBatch]],
    * [[commitAppend]], [[commitDelete]] and [[commitMerge]]. With a
    * `batchId` in the template, a replay — an id at or below the
    * HISTORY-WIDE max monotone batch id ([[maxBatchIdOf]], carried
    * forward through every manifest, so an interleaved unkeyed commit
    * cannot blank it) — is a NO-OP returning the current latest; no
    * `batchId` always commits. The fast-path check runs BEFORE schema
    * validation: a straggling duplicate of a pre-evolution batch must
    * no-op like any other replay, not crash the pipeline on a delivery
    * that will never be written (and a no-op must not pay the
    * chain-schema read). `evolveSchema` (None: no schema contract)
    * runs [[validateAppendSchema]]. The guard repeats both checks
    * UNDER the commit lock: two concurrent deliveries of one batch id
    * land EXACTLY once (the loser discards its stage), and a racing
    * evolution commit landing between the pre-check and the claim
    * cannot let a mismatched column set commit without evolveSchema
    * (a thrown guard discards the stage and propagates loudly). The
    * latest manifest read for the fast-path check also lays the
    * stage out: an inheriting template takes the root's layout from
    * it ([[Manifest.laidOutAfter]]). */
  private def commitGuarded(df: DataFrame, root: String, template: Manifest,
      evolveSchema: Option[Boolean] = None): Long = {
    def replayOf(latest: Option[Manifest]): Option[Long] = latest.filter(m =>
      template.batchId.exists(b => watermarkOf(root, m).exists(_ >= b))).map(_.version)
    def validate(): Unit = evolveSchema.foreach(validateAppendSchema(df, root, _))
    val latest = latestManifest(root)
    replayOf(latest).getOrElse {
      validate()
      val c = commitInternal(df, root, template.laidOutAfter(latest),
        guard = prev => replayOf(prev).isEmpty && { validate(); true })
      if (c.committed && evolveSchema.nonEmpty) carrySchemaCache(root, df, c.version)
      c.version
    }
  }

  /** Carry the chain read-schema cache FORWARD across an append that
    * did not change the column set — the absorb-loop fast path: a
    * sustained append stream validates against the chain schema on
    * EVERY commit, and the per-(version, cid) cache key means each
    * new version would MISS once and re-resolve the schema from
    * parquet — one scan-relation build per chain member per append,
    * O(chain²) metadata over a day of appends. When the delta's
    * column set equals the cached chain schema's, the chain schema
    * after the commit is provably unchanged (type equality was just
    * validated; nullability is normalized at compare time), so the
    * cache entry is re-keyed to the new (version, cid) instead.
    * Evolution commits (column set changed) simply miss once — the
    * next validation re-resolves from parquet, the ground truth. */
  private def carrySchemaCache(root: String, delta: DataFrame, v: Long): Unit =
    schemaCache.get(root) match {
      case (pv, _, s) if pv == v - 1 &&
          delta.columns.toSet == s.fieldNames.toSet =>
        manifestOf(root, v).flatMap(_.cid).foreach(cid => schemaCache.put(root, (v, cid, s)))
      case _ => ()
    }

  /** SCHEMA EVOLUTION contract for the append chain: common columns
    * must keep their exact type (a type change is ALWAYS an error —
    * readers cannot union it); a delta that ADDS or OMITS columns is
    * an error unless the writer passes `evolveSchema = true`, in which
    * case readers see nulls for the missing side
    * ([[readVersion]] folds with `unionByName(allowMissingColumns)`).
    * Validation runs at WRITE time so a typo'd column name fails the
    * writing job, not every future reader. */
  // chain read-schema cache: resolving the unified schema costs one
  // parquet footer read per chain member, and an absorb loop validates
  // on EVERY append. ONE entry per root (bounded by live roots),
  // validated against (version, COMMIT ID): the cid is a per-commit
  // UUID, so a rollback-then-recommit that REUSES a version number —
  // even from another driver sharing the filesystem, even within one
  // clock millisecond (the old timestamp guard's ABA hole) — always
  // misses and recomputes. A stale put self-corrects the same way.
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, String, org.apache.spark.sql.types.StructType)]()

  private def validateAppendSchema(delta: DataFrame, root: String,
      evolveSchema: Boolean): Unit = {
    import org.apache.spark.sql.types._
    // nullability is not a type change: parquet read-back widens
    // containsNull/nullable, so compare shapes with nullability erased
    def norm(dt: DataType): DataType = dt match {
      case ArrayType(e, _) => ArrayType(norm(e), containsNull = true)
      case MapType(k, v, _) => MapType(norm(k), norm(v), valueContainsNull = true)
      case StructType(fs) =>
        StructType(fs.map(f => f.copy(dataType = norm(f.dataType), nullable = true)))
      case other => other
    }
    val latest = latestVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val cid = manifestOf(root, latest).fold("absent")(_.identity)
    val current = schemaCache.get(root) match {
      case (v, c, s) if v == latest && c == cid => s
      case _ =>
        // resolve the schema of THIS version explicitly — read() would
        // re-resolve the pointer and could cache a newer version's
        // schema under this key if a commit lands mid-lookup
        val s = readVersion(delta.sparkSession, root, latest).schema
        schemaCache.put(root, (latest, cid, s))
        s
    }
    val cur = current.map(f => f.name -> norm(f.dataType)).toMap
    val del = delta.schema.map(f => f.name -> norm(f.dataType)).toMap
    val typeChanged = del.keySet.intersect(cur.keySet)
      .filter(c => del(c) != cur(c))
    require(typeChanged.isEmpty,
      s"commitAppend under $root changes column types (never allowed): " +
        typeChanged.map(c => s"$c: ${cur(c)} -> ${del(c)}").mkString(", "))
    val added = del.keySet.diff(cur.keySet)
    val omitted = cur.keySet.diff(del.keySet)
    require(evolveSchema || (added.isEmpty && omitted.isEmpty),
      s"commitAppend under $root changes the column set " +
        s"(added: ${added.mkString(",")}; omitted: ${omitted.mkString(",")}) — " +
        "pass evolveSchema = true to evolve the table schema")
  }

  /** Whether a version is a delta (append) commit. */
  def isDelta(root: String, v: Long): Boolean =
    manifestOf(root, v).exists(_.delta)

  /** TARGETED DELETE (the right-to-be-forgotten path): commit a
    * TOMBSTONE version whose data dir holds only the KEYS to delete —
    * readers of this and every later chained version no longer see
    * rows carrying those keys, while versions BEFORE the tombstone
    * stay time-travelable (the audit/pre-delete view) until vacuumed.
    * The physical forget is [[compact]]: it materializes the
    * tombstone-applied view as one full snapshot, after which
    * [[vacuum]] drops the dirs still holding the deleted bytes.
    *
    * Semantics are VERSION-ORDERED, like every other commit: a
    * tombstone at version T removes its keys from data committed at
    * versions < T; an append AFTER T may legitimately re-introduce a
    * key and survives (readers fold the chain oldest-first). Cost is
    * O(keys) at commit time — the 100 TB corpus is never rewritten by
    * the delete itself; readers pay one broadcast anti-join per
    * tombstone still in the chain, which nightly compaction folds
    * away. Idempotent per `batchId` (same watermark contract as
    * [[commitAppend]]). The key frame is written plain — no partition
    * dirs, no sidecar — while the manifest carries the root's layout
    * forward for the commits after it. Returns the committed (or
    * already-current) version. */
  def commitDelete(keys: DataFrame, root: String, keyCol: String,
      batchId: Option[Long] = None): Long = {
    require(latestVersion(root).nonEmpty,
      s"commitDelete needs an existing snapshot under $root")
    commitGuarded(keys.select(keys(keyCol)), root,
      Manifest(batchId = batchId, delta = true, tombstoneKey = Some(keyCol)))
  }

  /** ATOMIC MERGE (upsert) commit — the stored-table form of the
    * reference's `do_updates_inserts` (tasks/revenue.py): rows of
    * `updates` REPLACE chain rows carrying the same `keyCol` value and
    * NEW keys append, in ONE committed version. Readers fold a merge
    * version as anti-join-its-keys-then-union-its-rows, so the
    * delete+insert pair can never tear: a crash before the commit
    * point leaves the table untouched (the two-version
    * delete-then-append composition would lose the updated rows if it
    * died in between). Cost is O(updates) at commit time — the stored
    * corpus is never rewritten; readers pay one broadcast anti-join
    * per merge still in the chain, which nightly compaction folds
    * away. Version-ordered like every commit (a later delete can
    * remove a merged key; a later merge re-updates it), idempotent per
    * `batchId`, schema-checked like [[commitAppend]], and written in
    * the root's declared layout like it (partition dirs and stats
    * sidecar inherited from the manifest). Returns the committed (or
    * already-current) version. */
  def commitMerge(updates: DataFrame, root: String, keyCol: String,
      batchId: Option[Long] = None,
      evolveSchema: Boolean = false): Long = {
    require(latestVersion(root).nonEmpty,
      s"commitMerge needs an existing snapshot under $root")
    require(updates.columns.contains(keyCol),
      s"merge key $keyCol missing from the update frame")
    commitGuarded(updates, root,
      Manifest(batchId = batchId, delta = true, mergeKey = Some(keyCol)),
      Some(evolveSchema))
  }

  /** CHANGE FEED: every row-level change committed AFTER `fromV` up to
    * and including `toV`, tagged `_change_type`
    * (insert | delete | upsert) and `_commit_version` — the CDC view a
    * downstream incremental consumer tails instead of re-diffing 100 TB
    * of table state (`q_table_diff` is the state-diff complement; this
    * is O(changed rows) by construction because delta versions ARE the
    * change log). Delete rows carry the tombstone key column (other
    * columns null); the feed covers DELTA history only — a full
    * rewrite (compaction is invisible rewriting, a fresh [[commit]] is
    * not) has no row-level change representation, so a full snapshot
    * inside the range is an explicit error rather than a silent gap. */
  def changesBetween(spark: SparkSession, root: String,
      fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV, s"empty change range ($fromV, $toV]")
    val vs = versionsAbove(root, fromV).filter(_ <= toV)
    require(vs.nonEmpty, s"no committed versions in ($fromV, $toV] under $root")
    vs.map(changesOf(spark, root, _))
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Row-level changes of ONE delta version — [[changesBetween]]'s
    * unit, exposed for the change-feed follower: typed
    * `_change_type`/`_commit_version` rows over the version's OWN
    * immutable dir. O(1) metadata (this version's manifest only — no
    * history listing, no chain resolution), O(version's rows) data:
    * the per-tick landing cost a 100 TB table's follower pays. A full
    * rewrite has no row-level representation and is the same loud
    * error as in [[changesBetween]]. */
  def changesOf(spark: SparkSession, root: String, v: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val m = manifestOf(root, v).filter(_.delta)
    require(m.nonEmpty,
      s"version $v is a full rewrite — the change feed covers delta history only")
    val df = spark.read.schema(memberSchema(spark, root, m.get))
      .option("basePath", dataDir(root, v))
      .parquet(dataDir(root, v))
    val typ =
      if (m.get.tombstoneKey.nonEmpty) "delete"
      else if (m.get.mergeKey.nonEmpty) "upsert"
      else "insert"
    df.withColumn("_change_type", lit(typ))
      .withColumn("_commit_version", lit(v))
  }

  /** The version chain a read of `v` resolves: `v` and its ancestors
    * back to (and including) the most recent FULL snapshot —
    * newest-first. O(chain length) metadata reads, no data touched. */
  def chainVersions(root: String, v: Long): Seq[Long] =
    chain(root, v).map(_.version).reverse

  /** [[chainVersions]]' manifests, OLDEST-first (the fold order) —
    * each member's manifest parsed once. */
  private def chain(root: String, v: Long): List[Manifest] = {
    @annotation.tailrec
    def walk(cv: Long, acc: List[Manifest]): List[Manifest] =
      manifestOf(root, cv) match {
        case Some(m) if m.delta => walk(cv - 1, m :: acc)
        case Some(base) => base :: acc
        case None => throw new IllegalArgumentException(
          if (cv == v) s"version $v was never committed (or vacuumed)"
          else s"delta chain under $root has no full-snapshot base at or below $v")
      }
    walk(v, Nil)
  }

  /** Rewrite the current delta chain as one full snapshot (the
    * compaction half of the append contract): readers of the new
    * version touch ONE dir again; older versions stay time-travelable
    * until vacuumed. No-op (returns latest) when latest is already
    * full. Under SUSTAINED write contention the rewrite may be refused
    * (a racing writer advanced the chain mid-rewrite) up to 3 times,
    * after which compact DEFERS: it returns the current latest — which
    * is then still a delta — rather than livelocking full-table
    * rewrites; the next maintenance run catches up. Callers needing a
    * guaranteed-full result must check `isDelta` on the returned
    * version. The rewrite keeps the root's declared layout (partition
    * dirs and stats sidecar, from the manifest): a compacted root
    * prunes exactly as its chain did. */
  def compact(spark: SparkSession, root: String): Long = {
    // bounded retries: every refused attempt means a writer advanced
    // the root mid-rewrite, and each retry re-stages a now-LONGER
    // chain — under a sustained append stream an unbounded loop would
    // livelock burning a full-table rewrite per append. After the cap,
    // return the (uncompacted) latest; the next maintenance run
    // catches up when the stream pauses.
    var attempts = 3
    while (attempts > 0) {
      attempts -= 1
      // PIN the chain being compacted — version AND commit IDENTITY
      // (the per-commit UUID): the under-lock guard refuses the commit
      // if any writer advanced the root while the distributed rewrite
      // ran (a delta landing mid-compaction would otherwise silently
      // vanish from the compacted snapshot), and the commit id catches
      // the ABA case where a rollback-then-repair lands BACK ON the
      // pinned version NUMBER — committing the staged pre-repair chain
      // over the repair would silently undo it. The id is a UUID, not
      // a wall-clock timestamp, so same-millisecond reuse and clock
      // regression cannot fake a match (the schema cache defends
      // against the same version-number reuse the same way).
      val pinned = latestVersion(root).getOrElse(
        throw new IllegalStateException(s"no committed version under $root"))
      val pinnedManifest = manifestOf(root, pinned)
      if (!pinnedManifest.exists(_.delta)) return pinned
      val pinnedId = pinnedManifest.get.identity
      // carry the chain's max batchId into the compacted manifest:
      // commitAppend's replay check reads the LATEST version's
      // watermark, so a compact that dropped it would let a
      // re-delivered old batch append AGAIN on top of data that
      // already contains it. Source of truth is the CARRIED maxBatchId
      // field (keyed commits already excluded at write time, and —
      // unlike the chain scan — no plausibility bound applies, so
      // timestamp-derived monotone ids like epoch millis survive
      // compaction); the chain scan inside maxBatchIdOf serves only
      // manifests that carry no field (see there)
      val maxBatch = watermarkOf(root, pinnedManifest.get)
      // compacted = true: marks this full rewrite as an INVISIBLE one
      // (same logical content as the chain it replaces), which is what
      // lets a change-feed follower skip it instead of erroring — a
      // fresh commit() has no such marker and remains a feed error
      val c = commitInternal(readVersion(spark, root, pinned), root,
        Manifest(batchId = maxBatch, compacted = true).laidOutAfter(pinnedManifest),
        guard = prev => prev.exists(p => p.version == pinned && p.identity == pinnedId))
      if (c.committed) return c.version
    }
    latestVersion(root).get // contended past the retry cap: defer
  }

  /** Idempotent commit keyed by an arbitrary UNORDERED run key (a
    * content fingerprint, not a monotone batch id): if any committed
    * version already carries `key`, return (that version, false)
    * WITHOUT evaluating `df` — the by-name parameter means a retried
    * multi-stage job re-runs zero Spark jobs for its completed
    * stages; else commit a new version and return (it, true). */
  def commitKeyed(df: => DataFrame, root: String, key: Long,
      partitionCols: Seq[String] = Seq.empty): (Long, Boolean) = {
    def existing = versions(root).find(v =>
      manifestOf(root, v).exists(_.batchId.contains(key)))
    existing match {
      case Some(v) => (v, false)
      // keyed = true: a content-fingerprint key is an UNORDERED
      // identity, not a monotone batch id — folding it into the carried
      // maxBatchId would let one (arbitrarily large) fingerprint block
      // every later commitBatch/commitAppend on a shared root.
      // The guard re-checks the key under the commit lock: two racing
      // runs of one fingerprint commit exactly one version (the loser
      // reports the winner's version with committed = false).
      case None =>
        val v = commitInternal(df, root,
          Manifest(batchId = Some(key), keyed = true, partitionCols = partitionCols),
          guard = _ => existing.isEmpty)
        if (v.committed) (v.version, true) else (existing.get, false)
    }
  }

  /** Plausibility bound of the chain-scan fallback in [[maxBatchIdOf]]
    * (applied there only, never to the carried `maxBatchId` field):
    * monotone batch ids are typically small counters (micro-batch ids,
    * day indexes); [[commitKeyed]] fingerprints are ~uniform 64-bit
    * values, and keyed manifests written BEFORE the `"keyed":true`
    * marker existed carry no marker, so the scan treats an implausibly
    * large |batchId| as keyed — a random 64-bit fingerprint exceeds
    * 2^40 with probability 1 - 2^-23. The scan runs on every manifest
    * that carries no `maxBatchId`: pre-field manifests, but also LIVE
    * roots that have seen no monotone batch id yet — a keyed-first
    * root such as every [[graft.pipelines.CurationJob.release]] stage,
    * whose fingerprint the `keyed` marker keeps out (SnapshotsSpec's
    * keyed-FIRST root test). Once a monotone id lands, the carried
    * field takes over and no bound applies, so timestamp-derived
    * monotone ids (epoch millis ≈ 1.8e12 > 2^40) keep their replay
    * protection through compaction. */
  private val MaxPlausibleMonotoneId = 1L << 40

  /** The HISTORY-WIDE max monotone batch id as of version `v` — the
    * replay-guard watermark [[commitGuarded]] checks. Every commit
    * carries the running max forward in its manifest (`maxBatchId`),
    * so the guard survives interleaved unkeyed commits whose own
    * `batchId` field is absent. A manifest with no such field — one
    * written before the field existed, or any commit on a root that
    * has seen no monotone batch id yet (a keyed-first root) — falls
    * back to the max over `v`'s delta chain: keyed versions excluded
    * by marker, pre-marker keyed versions by [[MaxPlausibleMonotoneId]]
    * (the pre-field semantics, as `compact` carried it). */
  def maxBatchIdOf(root: String, v: Long): Option[Long] =
    manifestOf(root, v).flatMap(watermarkOf(root, _))

  /** [[maxBatchIdOf]] over an already-parsed manifest. */
  private def watermarkOf(root: String, m: Manifest): Option[Long] =
    m.maxBatchId.orElse(
      chain(root, m.version).filterNot(_.keyed).flatMap(_.batchId)
        .filter(b => math.abs(b) <= MaxPlausibleMonotoneId)
        .reduceOption(_ max _))

  /** The manifest `_latest` points at, if any. */
  private def latestManifest(root: String): Option[Manifest] =
    latestVersion(root).flatMap(manifestOf(root, _))

  /** Result of [[commitInternal]]: the version the caller should use,
    * and whether THIS call wrote it (false = the under-lock guard
    * found the work already done by a racing writer). */
  private final case class Committed(version: Long, committed: Boolean)

  /** Stage `df` in `template`'s layout and commit it under a manifest
    * built from `template` (its batch id, flags and layout; version,
    * rows, parent, ts, cid and maxBatchId are filled in at commit). A
    * tombstone's key frame is staged plain whatever the layout.
    * `guard` is re-checked under the commit lock against the latest
    * manifest: false discards the stage and reports the current
    * latest with `committed = false`. */
  private def commitInternal(df: DataFrame, root: String, template: Manifest,
      guard: Option[Manifest] => Boolean = _ => true): Committed = {
    val (partitionCols, statsCols) =
      if (template.tombstoneKey.nonEmpty) (Nil, Nil)
      else (template.partitionCols, template.statsCols)
    // 1. STAGE the data (distributed, lock-free — concurrent writers
    // each write a private stage dir). Hive-partitioned commits
    // CLUSTER BY the partition key first: without it every shuffle
    // task writes a sliver into every `key=` dir — fanout ×
    // shuffle-partitions small files whose per-file open cost grows
    // with the partition count and quietly re-linearizes pruned probe
    // reads (measured: the k ∝ N SemDeDup probe's residual growth was
    // file handles, not data). One shuffle at write time → one file
    // per dir per owning task; task balance is the partition key's own
    // balance (for the index artifacts that is the flat-occupancy
    // contract).
    // NOT dot-prefixed: the staged-row count comes from the parquet
    // FOOTERS via FileStats (listParquet matches any `*.parquet`
    // recursively, hidden-file convention or not), and committed data
    // must stay visible to Spark readers after the move; nothing ever
    // lists `<root>/data` itself, so the stage name needs no hiding
    val stage = s"$root/data/stage-${java.util.UUID.randomUUID()}"
    // HEARTBEAT the stage for as long as this writer owns it: vacuum's
    // abandonment sweep judges by newest mtime in the stage tree, and
    // a fully-written stage whose writer merely STALLS past the cutoff
    // (GC pause, long row-count read, waiting on a contended lock)
    // would otherwise be swept out from under a live commit. The
    // daemon tick keeps the tree provably alive until the stage is
    // moved or discarded; `_`-prefixed, so Spark's hidden-file filter
    // keeps it out of the staged-row count (and it is deleted before
    // the move so committed dirs stay clean).
    Files.createDirectories(Paths.get(stage))
    val hb = startStageHeartbeat(Paths.get(s"$stage/_heartbeat"))
    try {
      val clustered =
        if (partitionCols.nonEmpty)
          df.repartition(partitionCols.map(org.apache.spark.sql.functions.col): _*)
        else df
      val w = clustered.write.mode(SaveMode.Overwrite)
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(stage)
      // footer-stats collection runs on the STAGE, outside the lock:
      // O(files) metadata reads lifted into the stats sidecar (paths
      // recorded relative to the stage = relative to the final dir).
      // DISTRIBUTED past a small-file threshold: a base commit's
      // 10^5-file stage reads footers on executors, O(files/cores)
      // wall, while a daily delta stays driver-local (no job
      // overhead) — FileStats.collectDistributed
      val stats =
        if (statsCols.isEmpty) None
        else Some(FileStats.collectDistributed(df.sparkSession,
          Paths.get(stage), statsCols))
      // a delta manifest counts its OWN rows only. From the FOOTERS,
      // not a Spark scan job over the stage (the r12 path): a
      // stats-collecting commit already read every footer — sum those
      // — and a plain commit reads just the block counts
      // (FileStats.rowCount), killing one full read-back job + listing
      // per commit (every absorb runs 2-3 commits; a week gate ~30)
      val rows = stats.map(_.map(_.rows).sum)
        .getOrElse(FileStats.rowCount(df.sparkSession, Paths.get(stage)))
      commitStaged(root, stage, template.copy(rows = rows), guard, hb, stats)
    } finally hb.stop()
  }

  /** Step 2+3 of the commit protocol over an already-staged data dir:
    * claim + metadata + pointer under the per-root commit lock (O(1)
    * file ops only — the expensive distributed write is already
    * done). */
  private def commitStaged(root: String, stage: String, template: Manifest,
      guard: Option[Manifest] => Boolean, hb: StageHeartbeat,
      stats: Option[Seq[FileStats.FileStat]]): Committed = {
    withCommitLock(root) {
      // the stage is ours to mutate from here — STOP the heartbeat
      // before any delete/move on it: stop() removes the file and
      // guarantees (same monitor as the tick) no tick can recreate
      // it, so the move ships a clean dir and a guard discard's
      // directory delete can never race a recreation. The heartbeat
      // did its job: it kept the stage alive through however long
      // this writer waited on a contended lock.
      hb.stop()
      // revalidate under the lock: a racing writer may have committed
      // this batch id / key while we staged — the loser discards its
      // stage and reports the current latest. A guard that THROWS
      // (the under-lock schema recheck) also discards the stage, then
      // propagates: the caller must see the contract violation loudly,
      // and the stage must not linger until the abandonment sweep.
      val prev = latestManifest(root)
      val m0 = template.laidOutAfter(prev)
      val pass =
        try guard(prev) && {
          // the stage was laid out from a manifest read BEFORE the lock;
          // a full commit re-declaring the layout in between would leave
          // this commit's files shaped unlike its manifest says
          if (template.tombstoneKey.isEmpty &&
              (m0.partitionCols, m0.statsCols) != (template.partitionCols, template.statsCols))
            throw new IllegalStateException(
              s"the layout of $root changed while this commit staged")
          true
        }
        catch {
          case e: Throwable =>
            deleteRecursively(Paths.get(stage))
            throw e
        }
      if (!pass) {
        deleteRecursively(Paths.get(stage))
        Committed(latestVersion(root).getOrElse(
          throw new IllegalStateException(
            s"commit guard failed on empty root $root")), committed = false)
      } else {
        val next = latestVersion(root).getOrElse(-1L) + 1
        // anything at or above `next` is dead-timeline — a crashed
        // writer's torn data (never committed: the pointer still names
        // an older version) or versions rolled away by [[rollback]].
        // Linear history requires TRUNCATING all of it, not just the
        // claimed version: a stale higher manifest (old v3, parent 2)
        // would otherwise fold over the REWRITTEN v2's data on an
        // explicit readVersion/changesBetween — a chain that never
        // existed, served as silently wrong rows. The dead timeline
        // stays readable only UNTIL the first post-rollback commit.
        versions(root).filter(_ >= next).foreach(dropVersion(root, _))
        deleteRecursively(Paths.get(dataDir(root, next)))
        // an orphan sidecar from a writer that crashed between its
        // sidecar write and its manifest write would otherwise be
        // attributed to THIS commit's files (stale paths -> broken or
        // silently-empty pruned reads); versions() is manifest-derived
        // so the truncation loop above cannot see it
        Files.deleteIfExists(statsPath(root, next))
        Files.createDirectories(Paths.get(dataDir(root, next)).getParent)
        io.moveStage(Paths.get(stage), Paths.get(dataDir(root, next)))
        // manifest (metadata — written before the pointer so a reader
        // that sees the pointer always finds the manifest)
        Files.createDirectories(manifest(root, next).getParent)
        // running max of monotone batch ids, carried through EVERY commit
        // (keyed fingerprints excluded — see commitKeyed); read under the
        // lock, so an interleaved writer's batch id is never missed
        val prevMax = prev.flatMap(watermarkOf(root, _))
        val m = m0.copy(version = next, parent = next - 1,
          // written under the lock, so commit times are non-decreasing
          // in version order on any one host's clock
          ts = Some(System.currentTimeMillis()),
          cid = Some(java.util.UUID.randomUUID().toString),
          maxBatchId = (prevMax ++ template.batchId.filterNot(_ => template.keyed))
            .reduceOption(_ max _))
        // stats sidecar BEFORE the pointer (same ordering rule as the
        // manifest: a reader that sees the pointer finds the sidecar)
        stats.foreach { fs =>
          Files.write(statsPath(root, next),
            FileStats.toJson(next, m.statsCols, fs)
              .getBytes(StandardCharsets.UTF_8)); ()
        }
        Files.write(manifest(root, next), m.toJson.getBytes(StandardCharsets.UTF_8))
        // 3. commit point: atomic pointer swap
        io.publishPointer(root, next.toString.getBytes(StandardCharsets.UTF_8))
        Committed(next, committed = true)
      }
    }
  }

  /** Read the latest committed snapshot. */
  def read(spark: SparkSession, root: String): DataFrame =
    readVersion(spark, root,
      latestVersion(root).getOrElse(
        throw new IllegalStateException(s"no committed version under $root")))

  /** Read SCHEMA of one committed version dir, cached by
    * (root, version, commit identity) — METADATA only, never data: a
    * committed dir is immutable, so its parquet schema is a pure
    * function of the commit, and re-inferring it (listing + footer
    * read) cost a measured ~90 ms of driver time on EVERY chain-member
    * scan — per absorb probe, per stored-index read, per append's
    * schema validation (guide §5: the driver should do almost no data
    * work). The cid key makes rollback-then-recommit reuse of a
    * version NUMBER miss and recompute, the same ABA defense as the
    * validation cache above. [[vacuum]] evicts the entries of the
    * versions it drops, so the map tracks retained versions, not
    * every version ever scanned. */
  private[graft] val memberSchemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, String), org.apache.spark.sql.types.StructType]()

  private def memberSchema(spark: SparkSession, root: String,
      m: Manifest): org.apache.spark.sql.types.StructType =
    memberSchemaCache.computeIfAbsent((root, m.version, m.identity), _ => {
      val dd = dataDir(root, m.version)
      spark.read.option("basePath", dd).parquet(dd).schema
    })

  /** Scan ONE version's own data dir. When the version committed a
    * stats sidecar, the scan goes through [[StatsFileIndex]]: the
    * PLANNER consults the sidecar's per-file min/max against whatever
    * data filters Catalyst pushes down, so a plain
    * `read(root).filter(col between ...)` skips files with no
    * [[readPruned]] side door — every reader of a stats-committed
    * table data-skips for free (the Delta/Iceberg log-backed-index
    * mechanism). Versions without a sidecar scan exactly as before. */
  private def memberScan(spark: SparkSession, root: String, m: Manifest): DataFrame = {
    val dd = dataDir(root, m.version)
    statsOf(root, m.version) match {
      case Some(st) if st.nonEmpty =>
        StatsFileIndex.scan(spark, dd, st,
          dataSchema = Some(memberSchema(spark, root, m)))
      case _ =>
        spark.read.schema(memberSchema(spark, root, m))
          .option("basePath", dd).parquet(dd)
    }
  }

  /** THE chain fold behind [[readVersion]] and [[readPruned]]: the
    * chain's members OLDEST-FIRST, data versions union in via `rows`
    * (None = the member contributes no branch), TOMBSTONE versions
    * anti-join their keys out of everything accumulated so far, MERGE
    * versions anti-join their keys and then union their rows — one
    * atomic upsert. Key frames always read whole ([[memberScan]];
    * tombstone and merge versions carry no stats sidecar). */
  private def foldChain(spark: SparkSession, root: String, members: Seq[Manifest])(
      rows: Manifest => Option[DataFrame]): Option[DataFrame] = {
    import org.apache.spark.sql.functions.broadcast
    // allowMissingColumns: the schema-evolution contract — rows from
    // before a column was added read as null for it (write-time
    // validation in commitAppend keeps accidental drift out)
    def union(a: Option[DataFrame], b: Option[DataFrame]) = (a, b) match {
      case (Some(x), Some(y)) => Some(x.unionByName(y, allowMissingColumns = true))
      case _ => a.orElse(b)
    }
    members.foldLeft(Option.empty[DataFrame]) { (acc, m) =>
      def withoutKeys(k: String) = {
        val keys = memberScan(spark, root, m)
        acc.map(_.join(broadcast(keys.select(keys(k))), Seq(k), "left_anti"))
      }
      (m.tombstoneKey, m.mergeKey) match {
        case (Some(k), _) => withoutKeys(k)
        case (_, Some(k)) => union(withoutKeys(k), rows(m))
        case _ => union(acc, rows(m))
      }
    }
  }

  /** Time travel: read an explicit version. A delta version resolves
    * its parent chain and reads the chain's immutable dirs folded
    * OLDEST-FIRST: data versions union in, TOMBSTONE versions
    * anti-join their keys out of everything accumulated so far — so
    * deletes apply only to data committed before them and a later
    * re-add survives. Each dir is scanned with its own basePath so
    * hive partition columns (and their pruning) survive;
    * partition/predicate pushdown applies per branch of the union
    * (the anti-join key frame is deletion-sized, broadcast), and
    * members with stats sidecars additionally FILE-SKIP on those
    * pushed filters ([[memberScan]]). A filter on a data column
    * cannot cross a tombstone/merge anti-join into its KEY frame
    * (Catalyst pushes left-side predicates to the left child only),
    * so key frames always list whole — a merge row outside a pushed
    * range still replaces the chain row it superseded. */
  def readVersion(spark: SparkSession, root: String, v: Long): DataFrame =
    foldChain(spark, root, chain(root, v))(m => Some(memberScan(spark, root, m)))
      .getOrElse(throw new IllegalStateException(
        s"version $v under $root resolves to no data (tombstone-only chain)"))

  /** The per-file column stats recorded for a version, if its commit
    * declared `statsCols` — the data-skipping metadata
    * [[readPruned]] consumes. O(1) sidecar read. */
  def statsOf(root: String, v: Long): Option[Seq[FileStats.FileStat]] = {
    val p = statsPath(root, v)
    if (!Files.exists(p)) None
    else Some(FileStats.fromJson(Files.readAllBytes(p)))
  }

  /** (files kept, files total) a stats prune of `ranges` leaves of
    * ONE version's own dir — the observability/spec hook behind the
    * pruning claim ("the Z-ordered table touched 1 of 16 files").
    * None when the version recorded no stats. */
  def prunedFileCount(root: String, v: Long,
      ranges: Seq[FileStats.ColRange]): Option[(Int, Int)] =
    statsOf(root, v).map(st =>
      (st.count(FileStats.survives(_, ranges)), st.size))

  /** DATA-SKIPPING read — [[readVersion]] of `v` (default: latest)
    * restricted by inclusive `ranges`: every chain member whose
    * commit recorded stats scans ONLY the files whose per-file
    * min/max intersect ALL ranges (the manifest-level skip that makes
    * a Z-order layout pay off — see `q_stats_pruned`); members
    * without stats scan whole; and the row-level residual of
    * `ranges` is re-applied to the folded result, so the answer is
    * EXACTLY `readVersion(...).filter(ranges)` no matter what pruned
    * — correctness never rests on the sidecar. Tombstone key frames
    * and merge KEY frames always read UNPRUNED: a merge row outside
    * the ranges must still REPLACE (anti-join away) the chain row it
    * superseded, or the stale row would survive the prune and pass
    * the residual filter; a merge member's own rows are pruned like
    * data. At 100 TB: a box query on a Z-ordered stats-committed
    * table costs O(files intersecting the box), not O(table) — the
    * PushedFilters story extended above the scan to the file list
    * itself, which parquet row-group stats alone cannot do once the
    * planner has already opened every file. */
  def readPruned(spark: SparkSession, root: String,
      ranges: Seq[FileStats.ColRange],
      version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val v = version.orElse(latestVersion(root)).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    // a fully-pruned member returns None and contributes NO union
    // branch at all: a `where(false)` placeholder would still list
    // the member's dir and read a footer for schema at plan time, so
    // a long chain's read would cost O(members) in planning even when
    // the sidecars prune every file — the CDC mirror's catch-up over
    // months of applied feed versions is exactly that shape (the
    // mirror_skip probe measured the placeholder form growing 4.6x
    // over 16x history; member-skipping is what makes the claim
    // "cost tracks PENDING versions" true)
    def prunedScan(m: Manifest): Option[DataFrame] =
      statsOf(root, m.version) match {
        case None => Some(memberScan(spark, root, m))
        case Some(stats) =>
          val dd = dataDir(root, m.version)
          val kept = stats.filter(FileStats.survives(_, ranges))
            .map(f => s"$dd/${f.path}")
          if (kept.isEmpty) None
          else Some(spark.read.schema(memberSchema(spark, root, m))
            .option("basePath", dd).parquet(kept: _*))
      }
    foldChain(spark, root, chain(root, v))(prunedScan)
      // every member pruned away: an empty frame with the table's
      // FULL (union) schema — schema evolution means the base member
      // alone could miss later columns the residual names; this rare
      // branch may pay the O(members) plan the hot path avoids
      .getOrElse(readVersion(spark, root, v).where(lit(false)))
      .filter(FileStats.residual(ranges))
  }

  /** TIMESTAMP time travel — "the table as of last midnight": resolve
    * the newest version whose commit time is ≤ `tsMs` and read it.
    * The version-number API ([[readVersion]]) is the precise form;
    * this is the operational one (audits, reproducing yesterday's
    * training run, debugging a consumer that read at a known time).
    * Versions predating the timestamp field count as infinitely old,
    * so legacy history stays addressable. Resolution honors the LIVE
    * timeline only (versions ≤ the `_latest` pointer): after a
    * rollback, the rolled-away versions are dead-timeline audit
    * artifacts — reachable by explicit [[readVersion]], but an AS OF
    * read must never resolve into them (their chains can fold over
    * data a post-rollback recommit rewrote). O(versions) metadata
    * reads to resolve; the data read is one chain, same as any read. */
  def readAsOf(spark: SparkSession, root: String, tsMs: Long): DataFrame = {
    val live = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no committed version under $root"))
    val v = versions(root)
      .filter(_ <= live)
      .filter(v => manifestOf(root, v).flatMap(_.ts).getOrElse(0L) <= tsMs)
      .sorted.lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"no version under $root committed at or before $tsMs"))
    readVersion(spark, root, v)
  }

  /** Roll back: point `_latest` at an older committed version without
    * touching any data. The rolled-away versions stay readable by
    * explicit version ONLY until the next commit: committing on a
    * rolled-back root truncates the dead timeline (its chains would
    * otherwise fold over rewritten data — see the claim step in
    * commitInternal), so take any audit reads before repairing. */
  def rollback(root: String, v: Long): Unit = withCommitLock(root) {
    require(Files.exists(manifest(root, v)), s"cannot roll back to uncommitted version $v")
    io.publishPointer(root, v.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** What [[maintain]] touched: the compacted version per chain root
    * (None = latest was already full or the root is empty — nothing
    * to do) and the vacuumed versions per root. */
  final case class Maintenance(
      compacted: Map[String, Option[Long]],
      vacuumed: Map[String, Seq[Long]])

  /** NIGHTLY CHAIN MAINTENANCE over a set of snapshot roots — the
    * shared machinery behind [[graft.pipelines.CurationJob.nightly]]
    * and [[graft.similarity.VectorIndex.nightly]]: for each root
    * whose latest version is a delta, [[compact]] the chain back to
    * ONE full snapshot in the root's declared layout (re-running is
    * free — a full latest is a no-op), then [[vacuum]] history beyond
    * `keep` versions. Roots with no committed version are skipped, so
    * a caller can list every chain its deployment MIGHT grow. The
    * replay watermark, partition dirs and stats sidecars survive
    * throughout ([[compact]] carries the chain's maxBatchId and
    * layout). Cost: one distributed rewrite per chain that actually
    * has deltas, metadata otherwise. */
  def maintain(spark: SparkSession, roots: Seq[String],
      keep: Int = 7): Maintenance = {
    // The roots are INDEPENDENT tables (each compact/vacuum touches one
    // root, under that root's own commit lock), and each compact is one
    // distributed rewrite whose tail leaves most cores idle — so the
    // per-root maintenance jobs run CONCURRENTLY from a small thread
    // pool (guide §2.6: overlap independent jobs so the next job's
    // tasks back-fill the current job's stragglers). Per-root work and
    // ordering (compact, then vacuum) are unchanged; results keep the
    // caller's root order. 3 in flight is the guide's "enough to fill
    // the tail" number.
    def maintainOne(root: String): (Option[Long], Seq[Long]) = {
      val did = latestVersion(root)
        .filter(v => isDelta(root, v))
        .map(_ => compact(spark, root))
      (did, vacuum(root, keep))
    }
    val done: Seq[(String, (Option[Long], Seq[Long]))] =
      if (roots.size <= 1)
        roots.map(r => r -> maintainOne(r))
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(3, roots.size))
        try {
          val futs = roots.map { r =>
            r -> pool.submit(new java.util.concurrent.Callable[(Option[Long], Seq[Long])] {
              def call(): (Option[Long], Seq[Long]) = maintainOne(r)
            })
          }
          futs.map { case (r, f) =>
            r -> (try f.get()
            catch { case e: java.util.concurrent.ExecutionException =>
              throw e.getCause })
          }
        } finally pool.shutdown()
      }
    Maintenance(done.map { case (r, (c, _)) => r -> c }.toMap,
      done.map { case (r, (_, v)) => r -> v }.toMap)
  }

  /** Retention: drop all snapshots older than `keep` versions behind
    * latest (never the pointer target), manifest first so a crashed
    * vacuum leaves data-without-manifest (invisible), not the
    * reverse. */
  def vacuum(root: String, keep: Int): Seq[Long] = withCommitLock(root) {
    vacuumLocked(root, keep)
  }

  /** Delete one version, manifest first: a crash part-way leaves
    * data-without-manifest (invisible), never the reverse. */
  private def dropVersion(root: String, v: Long): Unit = {
    Files.deleteIfExists(manifest(root, v))
    Files.deleteIfExists(statsPath(root, v))
    deleteRecursively(Paths.get(dataDir(root, v)))
  }

  private def vacuumLocked(root: String, keep: Int): Seq[Long] = {
    val latest = latestVersion(root).getOrElse(return Seq.empty)
    // sweep abandoned stage dirs from crashed writers. "Abandoned" is
    // judged by the NEWEST mtime anywhere in the stage tree, not the
    // top-level dir: a long-running distributed write keeps touching
    // files under `_temporary/` for the duration of the job while the
    // top dir's mtime stays at creation — judging by the top dir would
    // delete a live stage mid-write. Only trees quiet for an hour are
    // provably orphans. O(files in stages) — stages are transient and
    // few.
    val dd = Paths.get(s"$root/data")
    if (Files.isDirectory(dd)) {
      // configurable cutoff; live stages are heartbeat-protected (the
      // writer touches `<stage>/_heartbeat` on a daemon tick), so even
      // a writer stalled far past the cutoff — GC pause, long
      // row-count read, waiting on a contended lock — keeps its stage
      val cutoffMs = System.currentTimeMillis() - stageAbandonCutoffMs
      // a LIVE writer is churning its stage tree (task commits rename
      // files out of _temporary/ and delete attempt dirs) while this
      // walks it — an entry vanishing mid-walk is itself proof of
      // activity, so treat any I/O hiccup as "active", never as
      // abandoned, and never let it abort the wider vacuum
      def newestMtime(p: Path): Long =
        try Files.walk(p).iterator().asScala
          .map { f =>
            try Files.getLastModifiedTime(f).toMillis
            catch { case _: java.io.IOException => Long.MaxValue }
          }
          .foldLeft(0L)(_ max _)
        catch {
          case _: java.io.IOException | _: java.io.UncheckedIOException =>
            Long.MaxValue
        }
      Files.list(dd).iterator().asScala
        .filter(_.getFileName.toString.startsWith("stage-"))
        .filter(p => newestMtime(p) < cutoffMs)
        .toSeq.foreach { p =>
          // same tolerance for the deletion itself: a >1h-suspended
          // writer resuming mid-delete makes the walk throw — skip the
          // stage (it re-qualifies next vacuum) rather than aborting
          // the retained-version GC below
          try deleteRecursively(p)
          catch {
            case _: java.io.IOException | _: java.io.UncheckedIOException => ()
          }
        }
    }
    // never drop an ancestor that ANY retained version's delta chain
    // still resolves through: a retained delta whose full-snapshot
    // base fell outside retention would otherwise become unreadable,
    // breaking the "every version stays a time-travel point until
    // vacuumed" contract (protecting only the LATEST chain missed
    // exactly that case)
    val cutoff = latest - keep.max(0)
    val retained = versions(root).filter(v => v >= cutoff || v == latest)
    // tolerate legacy-damaged roots: a pre-fix vacuum may have dropped
    // a retained delta's full-snapshot base, making chainVersions
    // throw; such a version is already unreadable, so skip it (its own
    // manifest still counts as protected) instead of failing the whole
    // vacuum forever. ONLY that broken-chain IllegalArgumentException
    // is tolerated — a transient I/O failure reading a manifest must
    // propagate, or a healthy retained chain would silently lose its
    // protection and vacuum would delete its live full-snapshot base.
    val protectedChain = retained.flatMap(v =>
      try chainVersions(root, v)
      catch { case _: IllegalArgumentException => Seq(v) }).toSet
    val drop = versions(root).filter(v =>
      v < cutoff && v != latest && !protectedChain(v))
    drop.foreach(dropVersion(root, _))
    val dropped = drop.toSet
    memberSchemaCache.keySet.removeIf(k => k._1 == root && dropped(k._2))
    drop
  }
}
