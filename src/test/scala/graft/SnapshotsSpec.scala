package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Snapshots

class SnapshotsSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpRoot(): String =
    Files.createTempDirectory("snapshots").toString + "/tbl"

  test("commit/read round-trip and version monotonicity") {
    import spark.implicits._
    val root = tmpRoot()
    assert(Snapshots.latestVersion(root).isEmpty)
    val v0 = Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root)
    val v1 = Snapshots.commit(Seq((1L, "a2"), (3L, "c")).toDF("id", "v"), root)
    assert(v0 == 0 && v1 == 1)
    assert(Snapshots.latestVersion(root).contains(1L))
    assert(Snapshots.versions(root) == Seq(0L, 1L))
    val latest = Snapshots.read(spark, root).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(latest == Map(1L -> "a2", 3L -> "c"))
  }

  test("time travel: old versions stay readable and immutable after new commits") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit(Seq((1L, 10L)).toDF("id", "x"), root)
    Snapshots.commit(Seq((1L, 20L)).toDF("id", "x"), root)
    Snapshots.commit(Seq((1L, 30L)).toDF("id", "x"), root)
    assert(Snapshots.readVersion(spark, root, 0).head().getLong(1) == 10L)
    assert(Snapshots.readVersion(spark, root, 1).head().getLong(1) == 20L)
    assert(Snapshots.read(spark, root).head().getLong(1) == 30L)
  }

  test("rollback repoints latest without destroying newer snapshots; next commit continues the history") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit(Seq(1L).toDF("id"), root)
    Snapshots.commit(Seq(2L).toDF("id"), root)
    Snapshots.rollback(root, 0)
    assert(Snapshots.read(spark, root).head().getLong(0) == 1L)
    // newer snapshot still reachable by explicit version
    assert(Snapshots.readVersion(spark, root, 1).head().getLong(0) == 2L)
    // a commit after rollback resumes numbering from the POINTER (0),
    // overwriting the rolled-back v1 — roll-forward-by-rewrite
    val v = Snapshots.commit(Seq(3L).toDF("id"), root)
    assert(v == 1L)
    assert(Snapshots.read(spark, root).head().getLong(0) == 3L)
  }

  test("a crashed commit (data written, pointer not moved) is invisible and self-heals") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit(Seq(1L).toDF("id"), root)
    // simulate a crash between data write and pointer swap: orphan v=1 data
    Seq(99L).toDF("id").write.parquet(s"$root/data/v=1")
    assert(Snapshots.latestVersion(root).contains(0L), "orphan must not be visible")
    assert(Snapshots.read(spark, root).head().getLong(0) == 1L)
    // next commit claims version 1, overwriting the orphan
    val v = Snapshots.commit(Seq(2L).toDF("id"), root)
    assert(v == 1L)
    assert(Snapshots.read(spark, root).head().getLong(0) == 2L)
  }

  test("vacuum drops only versions beyond retention and never the pointer target") {
    import spark.implicits._
    val root = tmpRoot()
    (1L to 5L).foreach(i => Snapshots.commit(Seq(i).toDF("id"), root)) // v0..v4
    val dropped = Snapshots.vacuum(root, keep = 1)                     // keep v3, v4
    assert(dropped == Seq(0L, 1L, 2L))
    assert(Snapshots.versions(root) == Seq(3L, 4L))
    assert(Snapshots.read(spark, root).head().getLong(0) == 5L)
    assert(Snapshots.readVersion(spark, root, 3).head().getLong(0) == 4L)
    intercept[IllegalArgumentException](Snapshots.readVersion(spark, root, 0))
    assert(!Files.isDirectory(Paths.get(s"$root/data/v=0")), "vacuumed data must be gone")
  }

  test("vacuum evicts the member-schema cache entries of the versions it drops") {
    import spark.implicits._
    val root = tmpRoot()
    (1L to 4L).foreach(i => Snapshots.commit(Seq(i).toDF("id"), root)) // v0..v3
    (0L to 3L).foreach(v => Snapshots.readVersion(spark, root, v))      // cache all 4
    def cached = Snapshots.memberSchemaCache.keySet.asScala
      .collect { case (r, v, _) if r == root => v }.toSet
    assert(cached == Set(0L, 1L, 2L, 3L))
    assert(Snapshots.vacuum(root, keep = 1) == Seq(0L, 1L))
    assert(cached == Set(2L, 3L))
  }

  test("commitBatch: replaying a micro-batch id is a no-op (exactly-once), new ids advance") {
    import spark.implicits._
    val root = tmpRoot()
    assert(Snapshots.commitBatch(Seq(1L).toDF("id"), root, batchId = 0) == 0L)
    assert(Snapshots.commitBatch(Seq(2L).toDF("id"), root, batchId = 1) == 1L)
    // replay of batch 1 (crash between sink write and checkpoint
    // commit) — even with DIFFERENT recomputed data — must not commit
    assert(Snapshots.commitBatch(Seq(99L).toDF("id"), root, batchId = 1) == 1L)
    assert(Snapshots.versions(root) == Seq(0L, 1L))
    assert(Snapshots.read(spark, root).head().getLong(0) == 2L)
    assert(Snapshots.manifestOf(root, 1).flatMap(_.batchId).contains(1L))
    // next live batch continues
    assert(Snapshots.commitBatch(Seq(3L).toDF("id"), root, batchId = 2) == 2L)
    assert(Snapshots.read(spark, root).head().getLong(0) == 3L)
  }

  test("schema evolution across versions: readers of each version see its own schema") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), root)
    Snapshots.commit(Seq((1L, "a", 3.5)).toDF("id", "v", "score"), root)
    assert(Snapshots.readVersion(spark, root, 0).columns.toSeq == Seq("id", "v"))
    assert(Snapshots.read(spark, root).columns.toSeq == Seq("id", "v", "score"))
  }

  test("commitAppend: delta dir holds only the batch, reads resolve the chain, time travel intact") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit((1L to 100L).toDF("id"), root)
    val v1 = Snapshots.commitAppend((101L to 110L).toDF("id"), root)
    val v2 = Snapshots.commitAppend((111L to 112L).toDF("id"), root)
    assert(v1 == 1 && v2 == 2)
    assert(Snapshots.isDelta(root, v1) && Snapshots.isDelta(root, v2) &&
      !Snapshots.isDelta(root, 0))
    assert(Snapshots.chainVersions(root, v2) == Seq(2L, 1L, 0L))
    // batch-cost shape: each delta's OWN data dir holds only its rows
    assert(spark.read.parquet(s"$root/data/v=1").count() == 10)
    assert(spark.read.parquet(s"$root/data/v=2").count() == 2)
    // the logical table is the chain union, at every time-travel point
    assert(Snapshots.read(spark, root).count() == 112)
    assert(Snapshots.readVersion(spark, root, v1).count() == 110)
    assert(Snapshots.readVersion(spark, root, 0).count() == 100)
  }

  test("commitAppend with partition dirs keeps pruning; batchId replay is a no-op") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commitPartitioned(
      Seq((1L, 0), (2L, 1)).toDF("id", "bucket"), root, Seq("bucket"))
    val v1 = Snapshots.commitAppend(
      Seq((3L, 0), (4L, 2)).toDF("id", "bucket"), root, batchId = Some(7L))
    // idempotent replay of the same batch id
    assert(Snapshots.commitAppend(
      Seq((3L, 0), (4L, 2)).toDF("id", "bucket"), root, batchId = Some(7L)) == v1)
    assert(Snapshots.read(spark, root).count() == 4)
    // partition pruning survives the chain union: both branch scans
    // carry a PartitionFilters entry on bucket
    val plan = Snapshots.read(spark, root).filter(col("bucket") === 0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"chain read lost pruning:\n$plan")
    assert(Snapshots.read(spark, root).filter(col("bucket") === 0).count() == 2)
  }

  test("vacuum never drops a chain ancestor; compact collapses the chain to one dir") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit((1L to 5L).toDF("id"), root)       // v0 full
    Snapshots.commitAppend(Seq(6L).toDF("id"), root)    // v1 delta
    Snapshots.commitAppend(Seq(7L).toDF("id"), root)    // v2 delta
    // retention 0 would normally drop v0 and v1 — but both are
    // ancestors the latest chain resolves through
    assert(Snapshots.vacuum(root, 0).isEmpty)
    assert(Snapshots.read(spark, root).count() == 7)
    val v3 = Snapshots.compact(spark, root)
    assert(!Snapshots.isDelta(root, v3) &&
      Snapshots.chainVersions(root, v3) == Seq(v3))
    assert(Snapshots.read(spark, root).count() == 7)
    // compacting an already-full latest is a no-op
    assert(Snapshots.compact(spark, root) == v3)
    // with the chain collapsed, the old versions become vacuumable
    assert(Snapshots.vacuum(root, 0).toSet == Set(0L, 1L, 2L))
    assert(Snapshots.read(spark, root).count() == 7)
  }

  test("vacuum protects EVERY retained version's chain, not just the latest's") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit((1L to 5L).toDF("id"), root)        // v0 full
    Snapshots.commitAppend(Seq(6L).toDF("id"), root)     // v1 delta (base = v0)
    Snapshots.compact(spark, root)                       // v2 full
    Snapshots.commit((1L to 8L).toDF("id"), root)        // v3 full
    // keep=2 retains v1..v3; v1 is a DELTA whose base v0 falls outside
    // retention — v0 must survive or readVersion(v1) corrupts, which
    // is exactly the "every version stays a time-travel point until
    // vacuumed" contract
    assert(Snapshots.vacuum(root, keep = 2).isEmpty,
      "vacuum dropped the base of a still-retained delta")
    assert(Snapshots.readVersion(spark, root, 1).count() == 6)
    // once the delta itself leaves retention, its base goes with it
    assert(Snapshots.vacuum(root, keep = 1).toSet == Set(0L, 1L))
    assert(Snapshots.read(spark, root).count() == 8)
    assert(Snapshots.readVersion(spark, root, 2).count() == 6)
  }

  test("append replay guard survives interleaved unkeyed commits (history-wide max)") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit((1L to 3L).toDF("id"), root)                          // v0
    Snapshots.commitAppend(Seq(4L).toDF("id"), root, batchId = Some(5L))  // v1, id 5
    // an interleaved UNKEYED commit leaves the latest manifest with no
    // batchId of its own — the guard must still remember id 5
    Snapshots.commit((1L to 4L).toDF("id"), root)                          // v2
    val before = Snapshots.versions(root)
    assert(Snapshots.commitAppend(Seq(99L).toDF("id"), root,
      batchId = Some(5L)) == 2L, "re-delivered batch slipped past the guard")
    assert(Snapshots.versions(root) == before &&
      Snapshots.read(spark, root).count() == 4)
    // same contract for commitBatch
    assert(Snapshots.commitBatch(Seq(99L).toDF("id"), root, batchId = 5L) == 2L)
    // a genuinely NEW batch id still advances
    assert(Snapshots.commitAppend(Seq(5L).toDF("id"), root,
      batchId = Some(6L)) == 3L)
    assert(Snapshots.read(spark, root).count() == 5)
    // keyed fingerprints must NOT feed the monotone guard: a huge
    // content-fingerprint key on the same root cannot block later
    // small batch ids
    Snapshots.commitKeyed(Seq(7L).toDF("id"), root, key = Long.MaxValue - 1)
    assert(Snapshots.commitAppend(Seq(8L).toDF("id"), root,
      batchId = Some(7L)) == 5L, "a keyed fingerprint blocked a live batch")
  }

  test("keyed-FIRST root: a fingerprint commit never becomes the watermark") {
    import spark.implicits._
    val root = tmpRoot()
    // exactly CurationJob.release's shape: the ROOT's first commit is
    // a content-fingerprint keyed artifact (huge ~random positive key)
    val (v0, fresh) = Snapshots.commitKeyed(
      (1L to 4L).toDF("id"), root, key = Long.MaxValue - 17)
    assert(v0 == 0L && fresh)
    // its manifest has no maxBatchId — the legacy fallback must NOT
    // surface the fingerprint as a monotone watermark
    assert(Snapshots.maxBatchIdOf(root, v0).isEmpty,
      "keyed fingerprint leaked into the monotone watermark")
    // a later real batch (small id) must commit, not silently no-op
    assert(Snapshots.commitAppend(Seq(5L).toDF("id"), root,
      batchId = Some(0L)) == 1L, "append after keyed-first root was dropped")
    assert(Snapshots.read(spark, root).count() == 5)
    assert(Snapshots.commitBatch(Seq(9L).toDF("id"), root, batchId = 1L) == 2L)
    // compact on a history CONTAINING the keyed commit must carry
    // only the monotone ids, not the fingerprint
    Snapshots.commitAppend(Seq(6L).toDF("id"), root, batchId = Some(2L))
    val vC = Snapshots.compact(spark, root)
    assert(Snapshots.maxBatchIdOf(root, vC).contains(2L),
      s"compact watermark poisoned: ${Snapshots.maxBatchIdOf(root, vC)}")
    // replaying the keyed commit is still idempotent
    assert(Snapshots.commitKeyed(sys.error("must not evaluate"),
      root, key = Long.MaxValue - 17) == (0L, false))
  }

  test("LEGACY keyed-first root (manifest predates the keyed marker): watermark still clean") {
    import spark.implicits._
    val root = tmpRoot()
    val (v0, _) = Snapshots.commitKeyed(
      (1L to 4L).toDF("id"), root, key = Long.MaxValue - 31)
    // simulate a manifest written BEFORE the "keyed":true marker
    // existed: strip the marker, leaving only the huge batchId
    val m = Paths.get(s"$root/manifests/v$v0.json")
    Files.writeString(m,
      Files.readString(m).replace(""","keyed":true""", ""))
    assert(!Snapshots.manifestOf(root, v0).exists(_.keyed))
    // the legacy fallback must still refuse the implausibly large id
    // as a monotone watermark — else every later append no-ops
    assert(Snapshots.maxBatchIdOf(root, v0).isEmpty,
      "pre-marker keyed fingerprint poisoned the legacy watermark")
    assert(Snapshots.commitAppend(Seq(5L).toDF("id"), root,
      batchId = Some(0L)) == 1L,
      "append after LEGACY keyed-first root was dropped")
    assert(Snapshots.read(spark, root).count() == 5)
  }

  test("vacuum progresses on legacy-damaged roots (broken retained chain)") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit((1L to 3L).toDF("id"), root)     // v0 full
    Snapshots.commitAppend(Seq(4L).toDF("id"), root)  // v1 delta (base v0)
    Snapshots.commit((1L to 5L).toDF("id"), root)     // v2 full
    Snapshots.commit((1L to 6L).toDF("id"), root)     // v3 full
    // simulate pre-fix vacuum damage: v1's full-snapshot base v0 is
    // already gone, so chainVersions(v1) throws
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/manifests/v0.json"))
    intercept[IllegalArgumentException](Snapshots.chainVersions(root, 1))
    // vacuum must still clean what it can instead of failing forever:
    // keep=2 retains v1..v3; the broken v1 chain is skipped, not fatal
    assert(Snapshots.vacuum(root, keep = 2).isEmpty)
    // and once v1 leaves retention it is itself droppable
    assert(Snapshots.vacuum(root, keep = 1).toSet == Set(1L))
    assert(Snapshots.read(spark, root).count() == 6)
  }

  test("commitDelete: tombstone hides keys, re-add survives, time travel intact, compact forgets physically") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), root)          // v0
    Snapshots.commitAppend(
      Seq((4L, "d")).toDF("id", "v"), root, batchId = Some(0L))           // v1
    // delete one key from the BASE snapshot and one from the DELTA
    val vDel = Snapshots.commitDelete(
      Seq(2L, 4L).toDF("id"), root, "id", Some(1L))                        // v2
    assert(Snapshots.isDelta(root, vDel) &&
      Snapshots.manifestOf(root, vDel).flatMap(_.tombstoneKey).contains("id"))
    assert(Snapshots.read(spark, root)
      .select(col("id")).as[Long].collect().toSet == Set(1L, 3L),
      "deleted keys still visible")
    // time travel: the pre-delete version is the audit view
    assert(Snapshots.readVersion(spark, root, 1L).count() == 4)
    // version-ordered fold: an append AFTER the tombstone re-adds
    Snapshots.commitAppend(
      Seq((2L, "b2")).toDF("id", "v"), root, batchId = Some(2L))          // v3
    val after = Snapshots.read(spark, root)
      .as[(Long, String)].collect().toMap
    assert(after == Map(1L -> "a", 3L -> "c", 2L -> "b2"),
      s"re-add after delete broken: $after")
    // replayed delete no-ops on the shared monotone watermark
    val vs = Snapshots.versions(root)
    assert(Snapshots.commitDelete(Seq(2L).toDF("id"), root, "id", Some(1L))
      == vs.max)
    assert(Snapshots.versions(root) == vs, "replayed delete re-committed")
    // PHYSICAL forget: compact materializes the tombstone-applied view,
    // vacuum drops the dirs still holding the deleted bytes
    val vc = Snapshots.compact(spark, root)
    Snapshots.vacuum(root, keep = 0)
    assert(Snapshots.versions(root) == Seq(vc))
    assert(spark.read.parquet(s"$root/data/v=$vc")
      .filter(col("id") === 4L).count() == 0, "deleted bytes survived compact")
    // the watermark carried through: a replayed pre-compact append no-ops
    assert(Snapshots.commitAppend(Seq((9L, "x")).toDF("id", "v"), root,
      batchId = Some(2L)) == vc, "replayed append re-applied after forget")
  }

  test("compact carries the chain's max batchId: replayed appends still no-op") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit((1L to 5L).toDF("id"), root)                        // v0 full
    Snapshots.commitAppend(Seq(6L).toDF("id"), root, batchId = Some(0L)) // id 0
    Snapshots.commitAppend(Seq(7L).toDF("id"), root, batchId = Some(1L)) // id 1
    val v3 = Snapshots.compact(spark, root)
    // the compacted manifest must remember id 1 — otherwise a
    // re-delivered batch would append on top of data that already
    // contains it and the table would double-count
    assert(Snapshots.manifestOf(root, v3).flatMap(_.batchId).contains(1L),
      "compact dropped the chain's max batchId")
    assert(Snapshots.commitAppend(Seq(7L).toDF("id"), root,
      batchId = Some(1L)) == v3, "replayed batch re-appended after compact")
    assert(Snapshots.read(spark, root).count() == 7)
  }

  test("epoch-millis batch ids keep replay protection through compact") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit(Seq(1L).toDF("id"), root)
    // a timestamp-derived monotone clock: epoch millis ≈ 1.77e12 is
    // far beyond the legacy 2^40 plausibility bound — compact must
    // carry it via the manifest's maxBatchId FIELD (which excludes
    // keyed commits at write time), not the bounded legacy chain scan
    val epochMs = 1771234567890L
    Snapshots.commitAppend(Seq(2L).toDF("id"), root, batchId = Some(epochMs))
    val vc = Snapshots.compact(spark, root)
    assert(Snapshots.maxBatchIdOf(root, vc).contains(epochMs),
      s"compact dropped the epoch-millis watermark: ${Snapshots.maxBatchIdOf(root, vc)}")
    // the re-delivered batch still no-ops — pre-fix it double-appended
    assert(Snapshots.commitAppend(Seq(2L).toDF("id"), root,
      batchId = Some(epochMs)) == vc,
      "re-delivered epoch-millis batch re-appended after compact")
    assert(Snapshots.read(spark, root).count() == 2)
  }

  // -------------------------------------------------- concurrent writers

  private def inParallel[T](n: Int)(body: Int => T): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val fs = (0 until n).map { i =>
        pool.submit(new java.util.concurrent.Callable[T] {
          def call(): T = { start.await(); body(i) }
        })
      }
      start.countDown()
      fs.map(_.get())
    } finally pool.shutdown()
  }

  test("concurrent commits: every writer lands a distinct version, history stays linear") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit(Seq(0L).toDF("id"), root) // v0
    val got = inParallel(8)(i =>
      Snapshots.commitAppend(Seq(100L + i).toDF("id"), root))
    // 8 writers -> 8 DISTINCT versions 1..8 (the unlocked protocol let
    // two writers claim one version and clobber each other's data)
    assert(got.toSet == (1L to 8L).toSet, s"version collision: $got")
    assert(Snapshots.latestVersion(root).contains(8L))
    // no rows lost, no rows doubled: the chain union holds all 9
    assert(Snapshots.read(spark, root).as[Long].collect().toSet ==
      (Set(0L) ++ (0 until 8).map(100L + _)), "concurrent appends lost/doubled rows")
    // every manifest present, every chain resolvable
    assert(Snapshots.versions(root) == (0L to 8L))
    Snapshots.chainVersions(root, 8L)
    // no stage leftovers became visible data dirs
    assert(Files.list(Paths.get(s"$root/data")).iterator().asScala
      .forall(p => p.getFileName.toString.startsWith("v=") ||
        p.getFileName.toString.startsWith("stage-")))
    // every committed manifest counts its OWN rows (the staged read
    // must see the staged files — a miscount here poisons row stats)
    assert((1L to 8L).forall(v =>
      Files.readString(Paths.get(s"$root/manifests/v$v.json"))
        .contains("\"rows\":1")), "staged row count wrong in manifest")
  }

  test("concurrent replays of ONE batch id commit exactly once") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit(Seq(0L).toDF("id"), root) // v0
    // 6 racing deliveries of the SAME batch (the at-least-once runtime
    // shape): the fast-path check passes for all of them simultaneously,
    // so only the under-lock guard stands between this and a 6x append
    inParallel(6)(_ =>
      Snapshots.commitAppend(Seq(42L).toDF("id"), root, batchId = Some(1L)))
    assert(Snapshots.versions(root) == Seq(0L, 1L),
      s"racing same-batch deliveries multi-committed: ${Snapshots.versions(root)}")
    assert(Snapshots.read(spark, root).count() == 2,
      "batch rows double-appended under concurrent replay")
    // and the same contract for commitKeyed: one fingerprint, one commit
    val keyed = inParallel(6)(_ =>
      Snapshots.commitKeyed(Seq(7L).toDF("id"), root, key = Long.MaxValue - 5))
    assert(keyed.map(_._1).distinct.size == 1, s"keyed race forked: $keyed")
    assert(keyed.count(_._2) == 1,
      s"keyed race: expected exactly one winner, got $keyed")
  }

  // ---------------------------------------------------- schema evolution

  test("schema evolution on the chain: additive columns gated by evolveSchema, nulls for old rows") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root)
    // an unannounced column-set change is a WRITE-time error — the typo
    // fails the writing job, not every future reader
    intercept[IllegalArgumentException](
      Snapshots.commitAppend(Seq((3L, "c", "web")).toDF("id", "v", "src"), root))
    // a type change is never allowed, evolveSchema or not
    intercept[IllegalArgumentException](
      Snapshots.commitAppend(Seq((3L, 9L)).toDF("id", "v"), root,
        evolveSchema = true))
    // announced evolution: the delta adds `src`; old rows read as null
    Snapshots.commitAppend(Seq((3L, "c", "web")).toDF("id", "v", "src"), root,
      evolveSchema = true)
    val out = Snapshots.read(spark, root)
      .select(col("id"), col("src")).as[(Long, Option[String])]
      .collect().toMap
    assert(out == Map(1L -> None, 2L -> None, 3L -> Some("web")),
      s"evolved read wrong: $out")
    // later deltas in the OLD shape are also evolution (omitted column)
    intercept[IllegalArgumentException](
      Snapshots.commitAppend(Seq((4L, "d")).toDF("id", "v"), root))
    Snapshots.commitAppend(Seq((4L, "d")).toDF("id", "v"), root,
      evolveSchema = true)
    assert(Snapshots.read(spark, root).count() == 4)
  }

  test("compact racing appends never loses a delta's rows") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit(Seq(0L).toDF("id"), root)
    Snapshots.commitAppend(Seq(1L).toDF("id"), root) // a chain to compact
    // one compactor races 6 appenders: whatever interleaving happens,
    // the final read must hold every appended row — the unguarded
    // compact could claim its version AFTER a racing delta landed and
    // silently drop that delta's rows from the compacted snapshot
    val results = inParallel(7) { i =>
      if (i == 0) { Snapshots.compact(spark, root); -1L }
      else Snapshots.commitAppend(Seq(100L + i).toDF("id"), root)
    }
    assert(results.count(_ >= 0) == 6)
    val got = Snapshots.read(spark, root).as[Long].collect().toSet
    val want = Set(0L, 1L) ++ (1 to 6).map(100L + _)
    assert(got == want, s"compact race lost rows: missing ${want.diff(got)}")
    // and compacting the settled chain is clean + complete
    Snapshots.compact(spark, root)
    assert(Snapshots.read(spark, root).as[Long].collect().toSet == want)
  }

  test("recommit after rollback truncates the dead timeline — no mixed-timeline chains") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit(Seq(0L).toDF("id"), root)                             // v0
    Snapshots.commitAppend(Seq(1L).toDF("id"), root, batchId = Some(1L))  // v1
    Snapshots.commitAppend(Seq(2L).toDF("id"), root, batchId = Some(2L))  // v2
    Snapshots.commitAppend(Seq(3L).toDF("id"), root, batchId = Some(3L))  // v3
    Snapshots.rollback(root, 1)
    // dead timeline still auditable BEFORE the repair commit
    assert(Snapshots.readVersion(spark, root, 3).count() == 4)
    // the repair rewrites v2 — old v3 (parent 2) would now fold over
    // DIFFERENT v2 data: it must be truncated, not served
    Snapshots.commitAppend(Seq(22L).toDF("id"), root, batchId = Some(2L))
    assert(Snapshots.versions(root) == Seq(0L, 1L, 2L),
      s"dead-timeline manifests survived the recommit: ${Snapshots.versions(root)}")
    intercept[IllegalArgumentException](Snapshots.readVersion(spark, root, 3))
    assert(Snapshots.read(spark, root).as[Long].collect().toSet == Set(0L, 1L, 22L))
    // the change feed over the repaired history is pure single-timeline
    val feed = Snapshots.changesBetween(spark, root, 0L, 2L)
      .select(col("id")).as[Long].collect().toSet
    assert(feed == Set(1L, 22L), s"change feed mixed timelines: $feed")
  }

  test("a replayed pre-evolution batch no-ops instead of failing schema validation") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), root)
    Snapshots.commitAppend(Seq((2L, "b")).toDF("id", "v"), root,
      batchId = Some(1L))
    Snapshots.commitAppend(Seq((3L, "c", "web")).toDF("id", "v", "src"), root,
      batchId = Some(2L), evolveSchema = true)
    // an at-least-once runtime re-delivers batch 1 in its ORIGINAL
    // (pre-evolution) shape without the evolve flag: it is below the
    // watermark and must NO-OP — validation firing before the replay
    // fast-path crashed the pipeline here
    val vs = Snapshots.versions(root)
    Snapshots.commitAppend(Seq((2L, "b")).toDF("id", "v"), root,
      batchId = Some(1L))
    assert(Snapshots.versions(root) == vs, "replayed old-shape batch committed")
    // same contract for a replayed old-shape merge
    Snapshots.commitMerge(Seq((2L, "B")).toDF("id", "v"), root, "id",
      batchId = Some(2L))
    assert(Snapshots.versions(root) == vs, "replayed old-shape merge committed")
    assert(Snapshots.read(spark, root).count() == 3)
  }

  // ------------------------------------------------- merge + change feed

  test("commitMerge: atomic upsert — updates replace, new keys append, version-ordered, idempotent") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), root)      // v0
    val vm = Snapshots.commitMerge(
      Seq((2L, "b2"), (4L, "d")).toDF("id", "v"), root, "id", batchId = Some(1L))
    assert(Snapshots.isDelta(root, vm) &&
      Snapshots.manifestOf(root, vm).flatMap(_.mergeKey).contains("id"))
    val after = Snapshots.read(spark, root).as[(Long, String)].collect().toMap
    assert(after == Map(1L -> "a", 2L -> "b2", 3L -> "c", 4L -> "d"),
      s"merge wrong: $after")
    // time travel: pre-merge view intact
    assert(Snapshots.readVersion(spark, root, 0).count() == 3)
    // replay no-ops on the shared monotone watermark
    val vs = Snapshots.versions(root)
    assert(Snapshots.commitMerge(Seq((2L, "XX")).toDF("id", "v"),
      root, "id", batchId = Some(1L)) == vm)
    assert(Snapshots.versions(root) == vs, "replayed merge re-committed")
    // version-ordered: a LATER delete removes a merged key
    Snapshots.commitDelete(Seq(4L).toDF("id"), root, "id", Some(2L))
    assert(Snapshots.read(spark, root).count() == 3)
    // compact materializes the merged view; the watermark survives
    val vc = Snapshots.compact(spark, root)
    assert(Snapshots.read(spark, root).as[(Long, String)].collect().toMap ==
      Map(1L -> "a", 2L -> "b2", 3L -> "c"))
    assert(Snapshots.commitMerge(Seq((2L, "YY")).toDF("id", "v"),
      root, "id", batchId = Some(2L)) == vc, "replayed merge re-applied after compact")
    // schema contract: a type change is rejected like commitAppend's
    intercept[IllegalArgumentException](
      Snapshots.commitMerge(Seq((9L, 7L)).toDF("id", "v"), root, "id"))
  }

  test("changesBetween: the delta history as a typed change log; full rewrites refuse") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root)  // v0
    Snapshots.commitAppend(Seq((3L, "c")).toDF("id", "v"), root)       // v1
    Snapshots.commitDelete(Seq(1L).toDF("id"), root, "id")             // v2
    Snapshots.commitMerge(Seq((2L, "b2")).toDF("id", "v"), root, "id") // v3
    val feed = Snapshots.changesBetween(spark, root, 0L, 3L)
      .select(col("id"), col("v"), col("_change_type"), col("_commit_version"))
      .as[(Long, Option[String], String, Long)].collect().toSet
    assert(feed == Set(
      (3L, Some("c"), "insert", 1L),
      (1L, None, "delete", 2L),
      (2L, Some("b2"), "upsert", 3L)), s"change feed wrong: $feed")
    // a narrower window
    assert(Snapshots.changesBetween(spark, root, 1L, 2L)
      .select(col("_change_type")).head().getString(0) == "delete")
    // a full snapshot inside the range is an error, not a silent gap
    Snapshots.compact(spark, root)                                     // v4 full
    intercept[IllegalArgumentException](
      Snapshots.changesBetween(spark, root, 0L, 4L))
  }

  test("readAsOf: timestamp time travel resolves the newest version at or before the instant") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit(Seq(1L).toDF("id"), root)                 // v0
    Thread.sleep(5)
    val between = System.currentTimeMillis()
    Thread.sleep(5)
    Snapshots.commit(Seq(2L).toDF("id"), root)                 // v1
    assert(Snapshots.manifestOf(root, 0).flatMap(_.ts).exists(_ < between) &&
      Snapshots.manifestOf(root, 1).flatMap(_.ts).exists(_ > between))
    assert(Snapshots.readAsOf(spark, root, between).head().getLong(0) == 1L)
    assert(Snapshots.readAsOf(spark, root,
      System.currentTimeMillis()).head().getLong(0) == 2L)
    // before any commit: explicit error, not a silent empty read
    intercept[IllegalArgumentException](
      Snapshots.readAsOf(spark, root, Snapshots.manifestOf(root, 0).flatMap(_.ts).get - 1))
    // a LEGACY manifest (no ts field) counts as infinitely old: strip
    // v0's field and it still resolves for any timestamp
    val m = Paths.get(s"$root/manifests/v0.json")
    Files.writeString(m,
      Files.readString(m).replaceAll(""","ts":\d+""", ""))
    assert(Snapshots.manifestOf(root, 0).flatMap(_.ts).isEmpty)
    assert(Snapshots.readAsOf(spark, root, between).head().getLong(0) == 1L)
    // AS OF honors the LIVE timeline: after a rollback, the rolled-away
    // v1 is a dead-timeline audit artifact (explicit readVersion only)
    // and readAsOf(now) must resolve v0, not the zombie
    Snapshots.rollback(root, 0)
    assert(Snapshots.readAsOf(spark, root,
      System.currentTimeMillis()).head().getLong(0) == 1L,
      "readAsOf resolved a rolled-back dead-timeline version")
  }

  test("schema validation survives rollback-then-recommit version-number reuse") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), root)                 // v0
    // v1 in the original shape — validation caches (v1, ts, schema)
    Snapshots.commitAppend(Seq((2L, "b")).toDF("id", "v"), root,
      batchId = Some(1L))
    // bad-batch repair: rollback and RECOMMIT v1 with an EVOLVED schema
    // (same version number, fresh manifest timestamp)
    Snapshots.rollback(root, 0)
    Snapshots.commitAppend(Seq((2L, "b", "web")).toDF("id", "v", "src"), root,
      batchId = Some(1L), evolveSchema = true)
    // the rewritten v1's schema must be what validation sees — a stale
    // cache entry from the first v1 would let the old shape through
    // unannounced (and mis-reject deltas carrying src)
    intercept[IllegalArgumentException](
      Snapshots.commitAppend(Seq((3L, "c")).toDF("id", "v"), root,
        batchId = Some(2L)))
    Snapshots.commitAppend(
      Seq((3L, "c", "api")).toDF("id", "v", "src"), root, batchId = Some(2L))
    assert(Snapshots.read(spark, root).count() == 3)
  }

  // --------------------------------------------------- rollback + repair

  test("bad-batch repair: rollback reverts the watermark so the corrected batch can land") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit(Seq(0L).toDF("id"), root)                               // v0
    val v1 = Snapshots.commitAppend(Seq(1L).toDF("id"), root, batchId = Some(1L))
    // day 2 arrives poisoned and is committed before anyone notices
    Snapshots.commitAppend(Seq(-99L).toDF("id"), root, batchId = Some(2L))
    assert(Snapshots.read(spark, root).count() == 3)
    // the repair: roll the pointer back to the last good version —
    // the watermark is PER-VERSION, so it reverts with the pointer
    Snapshots.rollback(root, v1)
    assert(Snapshots.read(spark, root).as[Long].collect().toSet == Set(0L, 1L))
    // the corrected batch reuses the SAME batch id and must commit
    val v2 = Snapshots.commitAppend(Seq(2L).toDF("id"), root, batchId = Some(2L))
    assert(v2 == v1 + 1, "corrected batch did not land after rollback")
    // a re-delivered POISONED day 2 (same id) now no-ops
    assert(Snapshots.commitAppend(Seq(-99L).toDF("id"), root,
      batchId = Some(2L)) == v2, "poisoned replay slipped past the repaired watermark")
    // and the clock continues
    Snapshots.commitAppend(Seq(3L).toDF("id"), root, batchId = Some(3L))
    assert(Snapshots.read(spark, root).as[Long].collect().toSet ==
      Set(0L, 1L, 2L, 3L), "repaired history wrong")
  }

  // ------------------------------------------------- manifest record

  test("key columns named with a quote or a backslash survive delete and merge") {
    import spark.implicits._
    for (k <- Seq("k\"ey", "k\\ey")) {
      val root = tmpRoot()
      Snapshots.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF(k, "v"), root)   // v0
      val vDel = Snapshots.commitDelete(Seq(2L).toDF(k), root, k)                   // v1
      val vm = Snapshots.commitMerge(
        Seq((3L, "C"), (4L, "d")).toDF(k, "v"), root, k)                            // v2
      // the manifest is valid JSON that names the key column exactly
      for ((v, field) <- Seq(vDel -> "tombstoneKey", vm -> "mergeKey")) {
        val text = Files.readString(Paths.get(s"$root/manifests/v$v.json"))
        assert(new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(text).get(field).asText == k, text)
      }
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getAs[Long](k), r.getAs[String]("v"))).toSet
      assert(rows(Snapshots.read(spark, root)) == Set((1L, "a"), (3L, "C"), (4L, "d")))
      assert(rows(Snapshots.readVersion(spark, root, vDel)) == Set((1L, "a"), (3L, "c")))
      val del = Snapshots.changesOf(spark, root, vDel).collect()
      assert(del.map(r => (r.getAs[Long](k), r.getAs[String]("_change_type"))).toSeq ==
        Seq((2L, "delete")))
      val up = Snapshots.changesOf(spark, root, vm).collect()
      assert(up.map(r => (r.getAs[Long](k), r.getAs[String]("_change_type"))).toSet ==
        Set((3L, "upsert"), (4L, "upsert")))
    }
  }

  test("a chain read parses each member's manifest once") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), root) // v0
    Snapshots.commitAppend(Seq((4L, "d")).toDF("id", "v"), root)                 // v1
    Snapshots.commitDelete(Seq(2L).toDF("id"), root, "id")                       // v2
    Snapshots.commitMerge(Seq((3L, "C")).toDF("id", "v"), root, "id")            // v3
    val chainLen = Snapshots.chainVersions(root, 3L).size
    assert(chainLen == 4)
    def opened(body: => org.apache.spark.sql.DataFrame) = {
      val c0 = Snapshots.manifestReads.get()
      val df = body
      (Snapshots.manifestReads.get() - c0, df)
    }
    val (readOpens, all) = opened(Snapshots.read(spark, root))
    val (prunedOpens, pruned) = opened(Snapshots.readPruned(spark, root,
      Seq(graft.sources.FileStats.ColRange("id", Some(1L), Some(4L)))))
    assert(readOpens == chainLen, s"read opened $readOpens manifests")
    assert(prunedOpens == chainLen, s"readPruned opened $prunedOpens manifests")
    val want = Set((1L, "a"), (3L, "C"), (4L, "d"))
    assert(all.as[(Long, String)].collect().toSet == want)
    assert(pruned.as[(Long, String)].collect().toSet == want)
  }

  test("a declared layout is inherited: append, merge, delete, compact and maintain keep dirs and sidecars") {
    import spark.implicits._
    import graft.sources.FileStats.ColRange
    val root = tmpRoot()
    def rows(ids: Range) = ids.map(i => (i.toLong, i % 3, s"v$i")).toDF("id", "k", "v")
    Snapshots.commitPartitioned(rows(0 until 30), root, Seq("k"),
      statsCols = Seq("id"))                                               // v0
    Snapshots.commitAppend(rows(30 until 40), root, batchId = Some(1L))    // v1
    Snapshots.commitMerge(Seq((5L, 2, "m5"), (50L, 2, "m50")).toDF("id", "k", "v"),
      root, "id", batchId = Some(2L))                                      // v2
    Snapshots.commitDelete(Seq(7L).toDF("id"), root, "id", Some(3L))       // v3
    Snapshots.commitAppend(rows(60 until 66), root, batchId = Some(4L))    // v4
    assert(Snapshots.compact(spark, root) == 5L)                           // v5
    Snapshots.commitAppend(rows(70 until 73), root, batchId = Some(5L))    // v6
    assert(Snapshots.maintain(spark, Seq(root), keep = 10)
      .compacted(root).contains(7L))                                       // v7
    val range = Seq(ColRange("id", lower = Some(4L), upper = Some(35L)))
    for (v <- Snapshots.versions(root)) {
      if (Snapshots.manifestOf(root, v).exists(_.tombstoneKey.isEmpty)) {
        val dirs = Files.list(Paths.get(s"$root/data/v=$v")).iterator().asScala
          .map(_.getFileName.toString).toSeq
        assert(dirs.exists(_.startsWith("k=")), s"v$v has no k= dirs: $dirs")
        assert(Snapshots.statsOf(root, v).exists(_.nonEmpty), s"v$v has no stats sidecar")
      }
      val pruned = Snapshots.readPruned(spark, root, range, Some(v)).collect().toSet
      val filtered = Snapshots.readVersion(spark, root, v)
        .filter(col("id").between(4L, 35L)).collect().toSet
      assert(pruned == filtered, s"v$v: readPruned diverged from read + filter")
    }
  }

  test("manifest text per commit kind (ts and cid masked)") {
    import spark.implicits._
    val root = tmpRoot()
    def rows(ids: Long*) = ids.map(i => (i, s"r$i")).toDF("id", "v")
    Snapshots.commit(rows(1L, 2L), root)                                   // v0 plain
    Snapshots.commitBatch(rows(1L, 2L, 3L), root, batchId = 1L)            // v1 batch
    Snapshots.commitKeyed(rows(1L, 2L, 3L), root, key = 77L)               // v2 keyed
    Snapshots.commitAppend(rows(4L), root, batchId = Some(2L))             // v3 delta
    Snapshots.commitDelete(Seq(2L).toDF("id"), root, "id", Some(3L))       // v4 tombstone
    Snapshots.commitMerge(Seq((3L, "C")).toDF("id", "v"), root, "id")      // v5 merge
    assert(Snapshots.compact(spark, root) == 6L)                           // v6 compacted
    def maskedIn(r: String)(v: Int) = Files.readString(Paths.get(s"$r/manifests/v$v.json"))
      .replaceAll("\"ts\":\\d+", "\"ts\":0")
      .replaceAll("\"cid\":\"[^\"]*\"", "\"cid\":\"-\"")
    def masked(v: Int) = maskedIn(root)(v)
    val head = (v: Int, n: Int) =>
      s"""{"version":$v,"rows":$n,"parent":${v - 1},"ts":0,"cid":"-""""
    assert((0 to 6).map(masked) == Seq(
      head(0, 2) + "}",
      head(1, 3) + ""","batchId":1,"maxBatchId":1}""",
      head(2, 3) + ""","batchId":77,"keyed":true,"maxBatchId":1}""",
      head(3, 1) + ""","batchId":2,"delta":true,"maxBatchId":2}""",
      head(4, 1) + ""","batchId":3,"delta":true,"tombstoneKey":"id","maxBatchId":3}""",
      head(5, 1) + ""","delta":true,"mergeKey":"id","maxBatchId":3}""",
      head(6, 3) + ""","batchId":3,"compacted":true,"maxBatchId":3}"""))
    // a partitioned, stats-declaring root: full commits write the
    // layout after maxBatchId, every later commit carries it forward
    val laid = tmpRoot()
    def kRows(ids: Long*) = ids.map(i => (i, (i % 2).toInt)).toDF("id", "k")
    Snapshots.commitPartitioned(kRows(1L, 2L), laid, Seq("k"), Seq("id"))   // v0
    Snapshots.commitAppend(kRows(3L), laid, batchId = Some(1L))              // v1
    Snapshots.commitDelete(Seq(2L).toDF("id"), laid, "id", Some(2L))         // v2
    assert(Snapshots.compact(spark, laid) == 3L)                             // v3
    val layout = ""","partitionCols":["k"],"statsCols":["id"]}"""
    assert((0 to 3).map(maskedIn(laid)) == Seq(
      head(0, 2) + layout,
      head(1, 1) + ""","batchId":1,"delta":true,"maxBatchId":1""" + layout,
      head(2, 1) + ""","batchId":2,"delta":true,"tombstoneKey":"id","maxBatchId":2""" + layout,
      head(3, 2) + ""","batchId":2,"compacted":true,"maxBatchId":2""" + layout))
  }
}
