package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.LshIndex
import graft.sources.{CommitIO, PosixCommitIO, Snapshots}

/** The [[graft.sources.CommitIO]] seam under fault injection: what
  * each broken storage primitive actually costs the commit protocol.
  * These specs turn the documented degradation stories (torn pointer
  * publish, non-atomic stage move, and the OBJECT-STORE hazard — no
  * mutual exclusion, so two drivers claim one version and the loser's
  * dead-timeline truncation erases the winner) into pinned, runnable
  * behavior instead of Scaladoc. The happy-path races live in
  * SnapshotsSpec (threads, one JVM) and CrossProcessLockSpec (real
  * JVMs); here the races run against DELIBERATELY broken IO. */
class CommitIOSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpRoot(): String =
    Files.createTempDirectory("commitio").toString + "/tbl"

  /** Swap the injected IO for the duration of `body`. Suites run
    * sequentially in the forked test JVM, so the global seam swap
    * cannot leak into a concurrently-running suite. */
  private def withIO[T](io: CommitIO)(body: => T): T = {
    val prev = Snapshots.io
    Snapshots.io = io
    try body finally Snapshots.io = prev
  }

  /** Delegates everything to POSIX; subclasses break one primitive. */
  private class DelegatingIO extends CommitIO {
    def withLock[T](root: String)(body: => T): T =
      PosixCommitIO.withLock(root)(body)
    def moveStage(stage: Path, dst: Path): Unit =
      PosixCommitIO.moveStage(stage, dst)
    def publishPointer(root: String, bytes: Array[Byte]): Unit =
      PosixCommitIO.publishPointer(root, bytes)
  }

  test("torn pointer publish: the failed commit is loud, invisible, and self-heals") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit(Seq(1L).toDF("id"), root) // v0
    // the pointer publish dies AFTER the data move + manifest write —
    // the commit point is never reached
    val torn = new DelegatingIO {
      override def publishPointer(root: String, bytes: Array[Byte]): Unit =
        throw new java.io.IOException("injected: pointer publish torn")
    }
    val e = intercept[java.io.IOException](withIO(torn) {
      Snapshots.commitAppend(Seq(2L).toDF("id"), root)
    })
    assert(e.getMessage.contains("injected"))
    // invisible: readers still see v0 only (manifest v1 exists but the
    // pointer — the commit point — never moved)
    assert(Snapshots.latestVersion(root).contains(0L))
    assert(Snapshots.read(spark, root).as[Long].collect().toSeq == Seq(1L))
    // self-heals: the next commit truncates the dead v1 and claims it
    val v = Snapshots.commitAppend(Seq(3L).toDF("id"), root)
    assert(v == 1L)
    assert(Snapshots.read(spark, root).as[Long].collect().toSet == Set(1L, 3L))
  }

  test("non-atomic stage move (object-store copy that dies midway): loud, invisible, self-heals") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit(Seq(1L).toDF("id"), root) // v0
    // emulate a non-atomic "rename" that copies half the files then
    // dies — the object-store failure ATOMIC_MOVE rules out on POSIX
    val tornMove = new DelegatingIO {
      override def moveStage(stage: Path, dst: Path): Unit = {
        Files.createDirectories(dst)
        val one = Files.list(stage).iterator().asScala
          .find(p => Files.isRegularFile(p))
        one.foreach(p => Files.copy(p, dst.resolve(p.getFileName)))
        throw new java.io.IOException("injected: move died mid-copy")
      }
    }
    intercept[java.io.IOException](withIO(tornMove) {
      Snapshots.commitAppend(Seq(2L).toDF("id"), root)
    })
    // the torn dst dir exists but no manifest/pointer names it
    assert(Snapshots.latestVersion(root).contains(0L))
    assert(Snapshots.versions(root) == Seq(0L))
    // next commit reclaims the version number and truncates the wreck
    val v = Snapshots.commitAppend(Seq(3L).toDF("id"), root)
    assert(v == 1L)
    assert(Snapshots.read(spark, root).as[Long].collect().toSet == Set(1L, 3L))
  }

  test("SnapshotsSpec's race invariants hold with the file lock removed (monitor-only, one JVM)") {
    import spark.implicits._
    // the in-JVM races can NEVER see a file-lock bug: a per-root JVM
    // monitor alone passes them, which is exactly why the
    // cross-process claims are pinned by CrossProcessLockSpec with
    // real JVMs and not here
    val monitorOnly = new DelegatingIO {
      private val mons = new java.util.concurrent.ConcurrentHashMap[String, Object]()
      override def withLock[T](root: String)(body: => T): T =
        mons.computeIfAbsent(root, _ => new Object).synchronized(body)
    }
    withIO(monitorOnly) {
      val root = tmpRoot()
      Snapshots.commit(Seq(0L).toDF("id"), root)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val start = new CountDownLatch(1)
        val fs = (0 until 8).map { i =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = {
              start.await()
              Snapshots.commitAppend(Seq(100L + i).toDF("id"), root)
            }
          })
        }
        start.countDown()
        assert(fs.map(_.get()).toSet == (1L to 8L).toSet)
      } finally pool.shutdown()
      assert(Snapshots.read(spark, root).as[Long].collect().toSet ==
        (Set(0L) ++ (0 until 8).map(100L + _)))
    }
  }

  test("LeaseCommitIO (the shipped object-store arbiter): 8-writer race passes with NO posix lock; an expired lease from a dead holder is broken") {
    import spark.implicits._
    withIO(new graft.sources.LeaseCommitIO()) {
      val root = tmpRoot()
      Snapshots.commit(Seq(0L).toDF("id"), root)
      assert(!Files.exists(Paths.get(s"$root/_commitlock")),
        "lease arbiter must never touch the posix lock file")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val start = new CountDownLatch(1)
        val fs = (0 until 8).map { i =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = {
              start.await()
              Snapshots.commitAppend(Seq(100L + i).toDF("id"), root)
            }
          })
        }
        start.countDown()
        assert(fs.map(_.get()).toSet == (1L to 8L).toSet)
      } finally pool.shutdown()
      assert(Snapshots.read(spark, root).as[Long].collect().toSet ==
        (Set(0L) ++ (0 until 8).map(100L + _)))
      // racing same-batch deliveries: the under-lease guard still
      // lands exactly one commit
      val before = Snapshots.versions(root)
      val pool2 = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val start = new CountDownLatch(1)
        val fs = (0 until 4).map(_ => pool2.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = { start.await()
            Snapshots.commitAppend(Seq(42L).toDF("id"), root, batchId = Some(99L)) }
        }))
        start.countDown(); fs.foreach(_.get())
      } finally pool2.shutdown()
      assert(Snapshots.versions(root).size == before.size + 1,
        "same-batch race multi-committed under the lease arbiter")
      // DEAD HOLDER: a crashed writer's lease expires and is broken by
      // the next writer instead of wedging the root forever
      val stale = s"dead-owner:nonce:${System.currentTimeMillis() - 1}"
      Files.write(Paths.get(s"$root/_lease"),
        stale.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE_NEW)
      Snapshots.commitAppend(Seq(999L).toDF("id"), root) // must not hang
      assert(Snapshots.read(spark, root).as[Long].collect().contains(999L))
    }
  }

  test("OBJECT-STORE HAZARD, pinned: without mutual exclusion a racing claim silently erases a committed version") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit(Seq(1L).toDF("id"), root) // v0
    // Deterministic re-enactment of the documented hazard
    // (CommitIO.scala scaladoc): writer A reaches its pointer publish
    // — data moved, manifest v1 written — and stalls; writer B, with
    // NO lock to stop it (an object store has none), reads latest=0,
    // claims v1 too, and its dead-timeline truncation DELETES A's
    // committed-but-unpublished manifest and data. Both "succeed"; A's
    // rows are gone. This is the spec that makes the POSIX-only
    // multi-writer caveat a tested fact, not a comment.
    val aAtPublish = new CountDownLatch(1)
    val bDone = new CountDownLatch(1)
    val noLockChoreo = new DelegatingIO {
      override def withLock[T](root: String)(body: => T): T = body // no exclusion
      override def publishPointer(root: String, bytes: Array[Byte]): Unit = {
        if (Thread.currentThread().getName == "writer-a") {
          aAtPublish.countDown()
          bDone.await()
        }
        PosixCommitIO.publishPointer(root, bytes)
      }
    }
    withIO(noLockChoreo) {
      val aResult = new java.util.concurrent.atomic.AtomicLong(-1L)
      val a = new Thread(() => {
        aResult.set(Snapshots.commitAppend(Seq(100L).toDF("id"), root))
      }, "writer-a")
      a.start()
      aAtPublish.await()
      // B lands a full claim of the same version while A is stalled
      val bV = Snapshots.commitAppend(Seq(200L).toDF("id"), root)
      bDone.countDown()
      a.join()
      // both writers report success on the SAME version — the lost
      // update the POSIX lock exists to prevent
      assert(aResult.get() == 1L && bV == 1L)
      val rows = Snapshots.read(spark, root).as[Long].collect().toSet
      assert(rows == Set(1L, 200L),
        s"expected A's commit silently erased (the documented hazard), got $rows")
    }
    // and the same interleaving CANNOT form under the POSIX lock: B
    // blocks until A's publish completes, then claims the NEXT version
    val root2 = tmpRoot()
    Snapshots.commit(Seq(1L).toDF("id"), root2)
    val a2 = new Thread(() => {
      Snapshots.commitAppend(Seq(100L).toDF("id"), root2); ()
    }, "writer-a2")
    a2.start(); a2.join()
    assert(Snapshots.commitAppend(Seq(200L).toDF("id"), root2) == 2L)
    assert(Snapshots.read(spark, root2).as[Long].collect().toSet ==
      Set(1L, 100L, 200L))
  }

  test("schema contract holds under contention: a racing evolution fails the in-flight old-shape append loudly") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), root)
    // the hook fires when the old-shape append ENTERS the lock — after
    // its pre-stage validation passed against the OLD schema — and
    // lands an evolution commit first; the under-lock recheck must
    // then reject the old-shape delta (pre-fix it committed silently)
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val hooked = new DelegatingIO {
      override def withLock[T](root: String)(body: => T): T = {
        if (fired.compareAndSet(false, true))
          Snapshots.commitAppend(
            Seq((2L, "b", "web")).toDF("id", "v", "src"), root,
            evolveSchema = true)
        PosixCommitIO.withLock(root)(body)
      }
    }
    val e = intercept[IllegalArgumentException](withIO(hooked) {
      Snapshots.commitAppend(Seq((3L, "c")).toDF("id", "v"), root)
    })
    assert(e.getMessage.contains("evolveSchema"))
    // the evolution landed; the unannounced old-shape delta did not;
    // no stage leaked (a thrown guard discards it)
    assert(Snapshots.versions(root) == Seq(0L, 1L))
    assert(Snapshots.read(spark, root).count() == 2)
    assert(!Files.list(Paths.get(s"$root/data")).iterator().asScala
      .exists(_.getFileName.toString.startsWith("stage-")), "stage leaked")
    // the same delta WITH the flag is welcome
    Snapshots.commitAppend(Seq((3L, "c")).toDF("id", "v"), root,
      evolveSchema = true)
    assert(Snapshots.read(spark, root).count() == 3)
  }

  test("commit ids: rollback-then-recommit reuses the version number but never the identity") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit(Seq(1L).toDF("id"), root)
    Snapshots.commitAppend(Seq(2L).toDF("id"), root)
    val cid1 = Snapshots.manifestOf(root, 1L).flatMap(_.cid)
    assert(cid1.nonEmpty, "manifest missing cid")
    Snapshots.rollback(root, 0L)
    Snapshots.commitAppend(Seq(3L).toDF("id"), root) // reuses v1
    val cid2 = Snapshots.manifestOf(root, 1L).flatMap(_.cid)
    assert(cid2.nonEmpty && cid2 != cid1,
      "recommitted version must carry a fresh commit id (ABA guard)")
  }

  test("stage heartbeat: a live-but-stalled writer's stage survives the abandonment sweep; a dead one is swept") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit(Seq(1L).toDF("id"), root)
    val prev = Snapshots.stageAbandonCutoffMs
    Snapshots.stageAbandonCutoffMs = 2000L
    try {
      val stage = Paths.get(s"$root/data/stage-test")
      Files.createDirectories(stage)
      Files.write(stage.resolve("part-0"), Array[Byte](1))
      // a LIVE writer heartbeats its stage: even stalled far past the
      // cutoff, the stage must survive the sweep
      val hbFile = stage.resolve("_heartbeat")
      val hb = Snapshots.startStageHeartbeat(hbFile)
      try {
        Thread.sleep(3000)
        Snapshots.vacuum(root, keep = 7)
        assert(Files.exists(stage), "heartbeat-protected stage was swept")
        // the r12 review catch: Spark's SaveMode.Overwrite DELETES the
        // stage dir (heartbeat included) at job start — the tick must
        // RE-CREATE the file, or the protection silently dies for the
        // rest of the commit (an mtime-only tick cannot)
        Files.deleteIfExists(hbFile)
        Thread.sleep(800) // > the 2s-cutoff tick period (cutoff/6=500ms floor)
        assert(Files.exists(hbFile),
          "heartbeat did not recover from the Overwrite-style delete")
      } finally hb.stop()
      // stop() is a barrier: the file is gone and no tick recreates it
      assert(!Files.exists(hbFile), "stop() left the heartbeat file")
      Thread.sleep(1200)
      assert(!Files.exists(hbFile), "a tick recreated the heartbeat after stop()")
      // dead writer (no heartbeat): quiet past the cutoff -> swept
      Thread.sleep(3000)
      Snapshots.vacuum(root, keep = 7)
      assert(!Files.exists(stage), "abandoned stage not swept")
    } finally Snapshots.stageAbandonCutoffMs = prev
  }

  test("wipe preserves the lock file's inode (cross-process mutual exclusion survives a wipe)") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit(Seq(1L).toDF("id"), root)
    val lockFile = Paths.get(s"$root/_commitlock")
    assert(Files.exists(lockFile))
    val keyBefore = Files.readAttributes(lockFile,
      classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
    Snapshots.wipe(root)
    assert(Snapshots.latestVersion(root).isEmpty)
    assert(Snapshots.versions(root).isEmpty)
    // the lock FILE survived (same inode): a concurrent cross-process
    // holder's lock still guards the root after the wipe
    assert(Files.exists(lockFile), "wipe deleted the commit lock file")
    val keyAfter = Files.readAttributes(lockFile,
      classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
    assert(keyBefore == keyAfter, "lock file inode changed across wipe")
    // and the root is fully reusable
    assert(Snapshots.commit(Seq(2L).toDF("id"), root) == 0L)
    assert(Snapshots.read(spark, root).as[Long].head() == 2L)
  }

  test("wipe spares EVERY lock artifact of the active IO (a held _lease survives a wipe)") {
    import spark.implicits._
    // the r11 hazard: wipe ran under io.withLock but filterNot'd only
    // `_commitlock` — with Snapshots.io = LeaseCommitIO it deleted the
    // HELD `_lease` mid-critical-section, so a concurrent writer could
    // acquire the lease and commit while wipe was still deleting. The
    // fix filters on CommitIO.lockArtifacts; pin the filter directly:
    // an IO whose withLock is a plain monitor (so the lease file we
    // plant is not touched by acquire/release) must see wipe spare
    // both artifact names and delete everything else.
    val root = tmpRoot()
    Snapshots.commit(Seq(1L).toDF("id"), root)
    val lease = Paths.get(s"$root/_lease")
    Files.write(lease, "holder:nonce:9999999999999".getBytes)
    val monitorOnly = new CommitIO {
      def withLock[T](root: String)(body: => T): T =
        this.synchronized(body)
      def moveStage(stage: Path, dst: Path): Unit =
        PosixCommitIO.moveStage(stage, dst)
      def publishPointer(root: String, bytes: Array[Byte]): Unit =
        PosixCommitIO.publishPointer(root, bytes)
    }
    withIO(monitorOnly) { Snapshots.wipe(root) }
    assert(Snapshots.latestVersion(root).isEmpty)
    assert(Snapshots.versions(root).isEmpty)
    assert(Files.exists(lease), "wipe deleted the held _lease — a " +
      "concurrent lease holder would share the root with the wiper")
    assert(Files.exists(Paths.get(s"$root/_commitlock")),
      "wipe deleted the commit lock file")
    // and end-to-end under the REAL lease arbiter: wipe acquires the
    // lease itself, must not self-destruct it mid-body (non-reentrant
    // lock — a deleted-then-reacquired lease would deadlock or tear),
    // and the root stays fully reusable afterwards
    Files.deleteIfExists(lease)
    withIO(new graft.sources.LeaseCommitIO()) {
      Snapshots.commit(Seq(2L).toDF("id"), root)
      Snapshots.wipe(root)
      assert(Snapshots.latestVersion(root).isEmpty)
      assert(Snapshots.commit(Seq(3L).toDF("id"), root) == 0L)
      assert(Snapshots.read(spark, root).as[Long].head() == 3L)
    }
  }

  test("lease break is generation-conditional: a re-acquired fresh lease cannot be mis-stolen") {
    import graft.sources.LocalLeaseStore
    // THE WINDOW (r11's disclosed residue), re-enacted with the store
    // primitives in the exact hazard order: breaker A reads an expired
    // lease; BEFORE A deletes it, breaker B breaks the same lease and
    // REACQUIRES a fresh live one. The old break path (plain
    // deleteIfExists) would now destroy B's live lease — two owners.
    val dir = Files.createTempDirectory("lease")
    val lease = dir.resolve("_lease")
    val expired = s"dead:n1:${System.currentTimeMillis() - 1000}".getBytes
    val fresh = s"B:n2:${System.currentTimeMillis() + 600000}".getBytes
    Files.write(lease, expired)
    // A reads `expired`... (pause) ...B breaks and reacquires:
    assert(LocalLeaseStore.conditionalDelete(lease, expired))
    assert(LocalLeaseStore.createIfAbsent(lease, fresh))
    // the OLD path: Files.deleteIfExists(lease) here would return true
    // and kill B's lock. The NEW path names the bytes A actually read —
    // they no longer match, so the delete REFUSES and B's lease lives:
    assert(!LocalLeaseStore.conditionalDelete(lease, expired),
      "conditional delete stole a lease whose content had changed")
    assert(java.util.Arrays.equals(Files.readAllBytes(lease), fresh),
      "the fresh lease did not survive the stale break attempt")
    // and A still cannot acquire while B holds
    assert(!LocalLeaseStore.createIfAbsent(lease,
      s"A:n3:${System.currentTimeMillis() + 600000}".getBytes))
  }

  test("withLock: an interleaved break-and-reacquire is never stolen; the waiter acquires only after release") {
    import graft.sources.{LeaseCommitIO, LeaseStore, LocalLeaseStore}
    val root = Files.createTempDirectory("leaseio").toString + "/tbl"
    Files.createDirectories(Paths.get(root))
    val lease = Paths.get(s"$root/_lease")
    val expired = s"dead:n1:${System.currentTimeMillis() - 1000}".getBytes
    val fresh = s"B:n2:${System.currentTimeMillis() + 600000}".getBytes
    Files.write(lease, expired)
    // a store that loses A the break race DETERMINISTICALLY: the
    // instant A calls conditionalDelete on the expired bytes, breaker
    // B's break+reacquire lands first (content swapped to a fresh
    // live lease), then A's delete runs — and must refuse.
    @volatile var injected = false
    val interleaved = new LeaseStore {
      def createIfAbsent(p: Path, b: Array[Byte]) =
        LocalLeaseStore.createIfAbsent(p, b)
      def read(p: Path) = LocalLeaseStore.read(p)
      def conditionalDelete(p: Path, e: Array[Byte]) = {
        if (!injected && java.util.Arrays.equals(e, expired)) {
          injected = true
          Files.write(p, fresh) // B: break + reacquire inside A's window
        }
        LocalLeaseStore.conditionalDelete(p, e)
      }
    }
    val io = new LeaseCommitIO(ttlMs = 600000L, pollMs = 2L, store = interleaved)
    @volatile var acquiredAt = 0L
    val a = new Thread(() => io.withLock(root) { acquiredAt = System.nanoTime() })
    a.start()
    // wait for A to walk into the window, let it spin against B's
    // live lease for a beat, then B releases
    val deadline = System.currentTimeMillis() + 10000
    while (!injected && System.currentTimeMillis() < deadline) Thread.sleep(1)
    assert(injected, "A never attempted the break")
    Thread.sleep(100)
    assert(java.util.Arrays.equals(Files.readAllBytes(lease), fresh),
      "A stole B's live lease inside the break window")
    val releasedAt = System.nanoTime()
    assert(LocalLeaseStore.conditionalDelete(lease, fresh)) // B releases
    a.join(15000)
    assert(!a.isAlive, "A never acquired after B's release")
    assert(acquiredAt > releasedAt,
      "A entered the critical section while B still held the lease")
  }

  test("compaction manifests carry the invisible-rewrite marker; fresh commits do not") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit(Seq(1L).toDF("id"), root)
    Snapshots.commitAppend(Seq(2L).toDF("id"), root)
    val cv = Snapshots.compact(spark, root)
    assert(Snapshots.manifestOf(root, cv).exists(_.compacted), "compact not marked compacted")
    assert(!Snapshots.manifestOf(root, 0L).exists(_.compacted))
    val fresh = Snapshots.commit(Seq(9L).toDF("id"), root)
    assert(!Snapshots.manifestOf(root, fresh).exists(_.compacted))
  }

  test("absorbBatch: a failed bands commit leaves no shingles append running after the throw") {
    import spark.implicits._
    val root = Files.createTempDirectory("commitio-lsh").toString
    val docs = (1 to 40).map(i => (i.toLong,
      (0 until 30).map(j => s"w${(i * 7 + j) % 97}").mkString(" ")))
      .toDF("doc_id", "text")
    LshIndex.build(docs, root)
    val shRoot = LshIndex.shinglesRoot(root)
    val shinglesMoving = new CountDownLatch(1)
    // the bands move fails only once the shingles move is under way,
    // and the shingles move is slowed so it outlives that failure
    val io = new DelegatingIO {
      override def moveStage(stage: Path, dst: Path): Unit =
        if (dst.startsWith(Paths.get(LshIndex.bandsRoot(root)))) {
          shinglesMoving.await(60, TimeUnit.SECONDS)
          throw new java.io.IOException("injected: bands move failed")
        } else {
          shinglesMoving.countDown()
          Thread.sleep(1000)
          super.moveStage(stage, dst)
        }
    }
    val batch = docs.filter(col("doc_id") <= 5)
      .select((col("doc_id") + 1000L).as("doc_id"), col("text"))
    val e = intercept[java.io.IOException](withIO(io) {
      LshIndex.absorbBatch(spark, root, batch, batchId = 1L)
    })
    assert(e.getMessage.contains("injected"))
    val settled = Snapshots.latestVersion(shRoot)
    Thread.sleep(2000)
    assert(Snapshots.latestVersion(shRoot) == settled,
      "the shingles append committed after absorbBatch had thrown")
  }

  test("maintain: a failed compact leaves no other root compacting or vacuuming after the throw") {
    import spark.implicits._
    val roots @ Seq(failing, slow, other) = Seq.fill(3)(tmpRoot())
    roots.foreach { r =>
      Snapshots.commit(Seq(1L).toDF("id"), r)
      Snapshots.commitAppend(Seq(2L).toDF("id"), r)
    }
    val slowMoving = new CountDownLatch(1)
    // the failing root's compaction throws only once the slow root's is
    // under way, and the slow one outlives that failure
    val io = new DelegatingIO {
      override def moveStage(stage: Path, dst: Path): Unit =
        if (dst.startsWith(Paths.get(failing))) {
          slowMoving.await(60, TimeUnit.SECONDS)
          throw new java.io.IOException("injected: compaction move failed")
        } else {
          if (dst.startsWith(Paths.get(slow))) {
            slowMoving.countDown()
            Thread.sleep(1000)
          }
          super.moveStage(stage, dst)
        }
    }
    val e = intercept[java.io.IOException](withIO(io) {
      Snapshots.maintain(spark, roots, keep = 0)
    })
    assert(e.getMessage.contains("injected"))
    def state = roots.map(r => (Snapshots.latestVersion(r), Snapshots.versions(r)))
    val settled = state
    Thread.sleep(2000)
    assert(state == settled, "a root changed after maintain had thrown")
    // the roots that did not fail were maintained in full before the throw
    Seq(slow, other).foreach { r =>
      assert(!Snapshots.isDelta(r, Snapshots.latestVersion(r).get), s"$r not compacted")
      assert(Snapshots.versions(r) == Seq(Snapshots.latestVersion(r).get), s"$r not vacuumed")
    }
  }
}
