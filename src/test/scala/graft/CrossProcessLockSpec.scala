package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Snapshots

/** The CROSS-PROCESS half of the multi-writer commit claims
  * (Snapshots.scala's commit-lock note): real child JVMs ([[RaceChild]])
  * racing commits on one shared root, so the `FileChannel` lock in
  * [[graft.sources.PosixCommitIO]] is the ONLY thing serializing them
  * — the per-root JVM monitor that shields every in-JVM thread race
  * (SnapshotsSpec) is provably out of play across process boundaries.
  * Covers: lock contention between two drivers + this JVM, the
  * loser's stage discard and linear-history invariants under real
  * interleaving, and recovery after a lock HOLDER DIES (the OS
  * releases a dead process's file locks; a leftover lock FILE must
  * never wedge the root). */
class CrossProcessLockSpec extends AnyFunSuite {
  import TestSpark._

  // the forked test JVM's classpath IS the full test classpath
  // (build.sbt: Test / fork := true), so children see RaceChild,
  // graft classes, and the Spark jars
  private val classpath = sys.props("java.class.path")
  private val javaBin =
    Paths.get(sys.props("java.home"), "bin", "java").toString
  // same module opens build.sbt injects (Spark 4 on JDK 17 outside
  // spark-submit); children create their own SparkSession
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private def launch(args: Seq[String], out: java.io.File): Process = {
    val cmd = (Seq(javaBin) ++ addOpens ++ Seq(
      "-Xms512m", "-Xmx3g",
      "-Dspark.ui.enabled=false",
      "-Dspark.sql.session.timeZone=UTC",
      "-cp", classpath, "graft.RaceChild") ++ args)
    new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(out)
      .start()
  }

  test("three processes race appends on one root: linear history, no lost or doubled rows") {
    import spark.implicits._
    val root = Files.createTempDirectory("xproc").toString + "/tbl"
    Snapshots.commit(Seq(0L).toDF("id"), root) // v0
    val logs = (1 to 2).map(i => Files.createTempFile(s"race-$i", ".log").toFile)
    // two child JVMs, 5 appends each...
    val kids = Seq(
      launch(Seq("append", root, "1", "5"), logs(0)),
      launch(Seq("append", root, "2", "5"), logs(1)))
    // ...while THIS JVM appends 5 more: three processes contending on
    // the same `_commitlock`, no shared monitor anywhere
    (0 until 5).foreach { i =>
      Snapshots.commitAppend(Seq(3000L + i).toDF("id"), root)
    }
    kids.foreach { p =>
      assert(p.waitFor(240, TimeUnit.SECONDS), "child JVM timed out")
    }
    kids.zip(logs).foreach { case (p, log) =>
      assert(p.exitValue() == 0,
        s"child failed:\n${new String(Files.readAllBytes(log.toPath)).takeRight(4000)}")
    }
    // linear history: 15 appends -> versions 1..15, no gaps, no forks
    assert(Snapshots.versions(root) == (0L to 15L),
      s"history not linear: ${Snapshots.versions(root)}")
    assert(Snapshots.latestVersion(root).contains(15L))
    // every row exactly once (a clobbered claim loses rows; a replayed
    // stage doubles them)
    val expect = Set(0L) ++
      (0 until 5).flatMap(i => Seq(1000L + i, 2000L + i, 3000L + i))
    val rows = Snapshots.read(spark, root).as[Long].collect().toSeq
    assert(rows.size == expect.size, s"row count ${rows.size} != ${expect.size}")
    assert(rows.toSet == expect, "rows lost or doubled across processes")
    // every manifest carries a unique commit id and resolves its chain
    val cids = (0L to 15L).map(v => Snapshots.manifestOf(root, v).flatMap(_.cid))
    assert(cids.forall(_.nonEmpty) && cids.distinct.size == cids.size)
    Snapshots.chainVersions(root, 15L)
    // no stage dir was promoted without its manifest (loser discard)
    import scala.jdk.CollectionConverters._
    assert(Files.list(Paths.get(s"$root/data")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("v="))
      .map(_.stripPrefix("v=").toLong).toSeq.sorted == (0L to 15L))
  }

  test("three processes race appends under the LEASE arbiter (no posix lock anywhere): same invariants") {
    import spark.implicits._
    val prev = Snapshots.io
    Snapshots.io = new graft.sources.LeaseCommitIO()
    try {
      val root = Files.createTempDirectory("xproc-lease").toString + "/tbl"
      Snapshots.commit(Seq(0L).toDF("id"), root)
      val logs = (1 to 2).map(i => Files.createTempFile(s"lease-$i", ".log").toFile)
      val kids = Seq(
        launch(Seq("append", root, "1", "5", "lease"), logs(0)),
        launch(Seq("append", root, "2", "5", "lease"), logs(1)))
      (0 until 5).foreach { i =>
        Snapshots.commitAppend(Seq(3000L + i).toDF("id"), root)
      }
      kids.foreach(p => assert(p.waitFor(240, TimeUnit.SECONDS), "child timed out"))
      kids.zip(logs).foreach { case (p, log) =>
        assert(p.exitValue() == 0,
          s"lease child failed:\n${new String(Files.readAllBytes(log.toPath)).takeRight(4000)}")
      }
      assert(Snapshots.versions(root) == (0L to 15L),
        s"lease-arbitrated history not linear: ${Snapshots.versions(root)}")
      val expect = Set(0L) ++
        (0 until 5).flatMap(i => Seq(1000L + i, 2000L + i, 3000L + i))
      val rows = Snapshots.read(spark, root).as[Long].collect().toSeq
      assert(rows.size == expect.size && rows.toSet == expect,
        "rows lost or doubled under the lease arbiter")
      assert(!Files.exists(Paths.get(s"$root/_commitlock")),
        "lease-arbitrated root must never grow a posix lock file")
    } finally Snapshots.io = prev
  }

  test("cross-process composed job: child-JVM daily ingest races this JVM's nightly maintenance; the corpus is byte-identical to the uncontended run") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, md5}
    import graft.pipelines.CurationJob
    import graft.dedup.LshIndex
    val sfdir = sf // sf0.001 documents
    val corpus = spark.read.parquet(s"$sfdir/documents.parquet")
      .select(col("doc_id"), col("text")).localCheckpoint()
    def playedRoots(tag: String): (String, String, String) = {
      val base = Files.createTempDirectory(s"xweek-$tag").toString
      Snapshots.commit(corpus, s"$base/curated")
      LshIndex.build(corpus, s"$base/lsh")
      (base, s"$base/curated", s"$base/lsh")
    }
    // reference: two days played sequentially, maintenance between
    val (_, refCurated, refLsh) = playedRoots("ref")
    (0 until 2).foreach { d =>
      CurationJob.absorbDaily(graft.queries.Indexing.weekBatch(corpus, d),
        refCurated, refLsh, batchId = d.toLong)
      CurationJob.nightly(spark, refCurated, refLsh, keep = 3)
    }
    // contended: each day's ingest runs in a CHILD JVM while THIS JVM
    // hammers nightly maintenance on the same roots — compaction and
    // vacuum contend with the absorb through the OS file lock only
    val (base, curated, lsh) = playedRoots("race")
    (0 until 2).foreach { d =>
      val log = Files.createTempFile(s"absorbday-$d", ".log").toFile
      val kid = launch(Seq("absorbday", base, d.toString, sfdir), log)
      try {
        while (kid.isAlive) {
          CurationJob.nightly(spark, curated, lsh, keep = 3)
          Thread.sleep(100) // most ticks no-op until the child lands
        }
        assert(kid.waitFor(240, TimeUnit.SECONDS) && kid.exitValue() == 0,
          s"absorbday child failed:\n${new String(
            Files.readAllBytes(log.toPath)).takeRight(4000)}")
      } finally if (kid.isAlive) kid.destroyForcibly()
      CurationJob.nightly(spark, curated, lsh, keep = 3)
    }
    val want = Snapshots.read(spark, refCurated)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val got = Snapshots.read(spark, curated)
      .select(col("doc_id"), md5(col("text")).as("h"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "cross-process ingest-vs-maintenance race changed the curated corpus")
  }

  test("SIGKILL between index absorb and corpus append: the replayed day heals to the uncontended result") {
    import org.apache.spark.sql.functions.{col, md5}
    import graft.pipelines.CurationJob
    import graft.dedup.LshIndex
    val sfdir = sf
    val corpus = spark.read.parquet(s"$sfdir/documents.parquet")
      .select(col("doc_id"), col("text")).localCheckpoint()
    def playedRoots(tag: String): (String, String, String) = {
      val base = Files.createTempDirectory(s"xcrash-$tag").toString
      Snapshots.commit(corpus, s"$base/curated")
      LshIndex.build(corpus, s"$base/lsh")
      (base, s"$base/curated", s"$base/lsh")
    }
    def corpusHash(root: String) = Snapshots.read(spark, root)
      .select(col("doc_id"), md5(col("text")).as("h"))
    // reference: the day absorbed uncontended, no crash
    val (_, refCurated, refLsh) = playedRoots("ref")
    CurationJob.absorbDaily(graft.queries.Indexing.weekBatch(corpus, 0),
      refCurated, refLsh, batchId = 0L)
    // crash run: a REAL child JVM runs the same day and parks in the
    // one window in-JVM races can't reach — index absorb committed,
    // curated append staged but uncommitted — then dies by SIGKILL
    val (base, curated, lsh) = playedRoots("crash")
    val log = Files.createTempFile("absorbday-stall", ".log").toFile
    val kid = launch(Seq("absorbday-stall", base, "0", sfdir), log)
    try {
      val deadline = System.nanoTime() + 180L * 1000000000L
      def logText = new String(Files.readAllBytes(log.toPath))
      while (!logText.contains("CORPUS_COMMIT_PENDING")) {
        assert(System.nanoTime() < deadline, "child never reached the crash window")
        assert(kid.isAlive, s"child died early:\n${logText.takeRight(4000)}")
        Thread.sleep(100)
      }
      assert(!logText.contains("UNEXPECTED_COMPLETION"))
      // the partial state is REAL: the index chains advanced with day
      // 0's signatures, the curated corpus did not
      assert(Snapshots.latestVersion(LshIndex.bandsRoot(lsh)).exists(_ >= 1L),
        "index absorb had not committed at the crash point")
      assert(Snapshots.latestVersion(curated).contains(0L),
        "curated corpus advanced before the crash point — wrong window")
    } finally {
      kid.destroyForcibly()
      kid.waitFor(30, TimeUnit.SECONDS); ()
    }
    // REPLAY the whole day from this JVM on the same batch-id clock:
    // the index-side appends must no-op, the corpus append must land
    CurationJob.absorbDaily(graft.queries.Indexing.weekBatch(corpus, 0),
      curated, lsh, batchId = 0L)
    val (want0, got0) = (corpusHash(refCurated), corpusHash(curated))
    assert(got0.exceptAll(want0).count() == 0 &&
      want0.exceptAll(got0).count() == 0,
      "replayed crash-day corpus diverged from the uncontended day")
    // and the INDEX healed too (not just the corpus): the next day's
    // dedup verdicts depend on the stored signatures, so identical
    // day-1 outcomes on both roots pin index-state convergence
    CurationJob.absorbDaily(graft.queries.Indexing.weekBatch(corpus, 1),
      refCurated, refLsh, batchId = 1L)
    CurationJob.absorbDaily(graft.queries.Indexing.weekBatch(corpus, 1),
      curated, lsh, batchId = 1L)
    val (want1, got1) = (corpusHash(refCurated), corpusHash(curated))
    assert(got1.exceptAll(want1).count() == 0 &&
      want1.exceptAll(got1).count() == 0,
      "day after the healed crash diverged — index state did not converge")
  }

  test("the commit lock blocks across processes, and a DYING holder releases the root") {
    import spark.implicits._
    val root = Files.createTempDirectory("xproc-die").toString + "/tbl"
    Snapshots.commit(Seq(1L).toDF("id"), root)
    val log = Files.createTempFile("lockhold", ".log").toFile
    val holder = launch(Seq("lockhold", root), log)
    try {
      // wait until the child provably HOLDS the OS lock
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!new String(Files.readAllBytes(log.toPath)).contains("LOCKED")) {
        assert(System.nanoTime() < deadline, "lockhold child never locked")
        assert(holder.isAlive, "lockhold child died early")
        Thread.sleep(100)
      }
      // a metadata mutation in THIS process must block on the child's
      // file lock (the JVM monitor is free — different processes)
      val blocked = Future { Snapshots.rollback(root, 0L) }
      intercept[java.util.concurrent.TimeoutException](
        Await.ready(blocked, 3.seconds))
      // kill the holder: the OS releases a dead process's locks, so
      // the blocked writer must proceed — a crashed driver can never
      // wedge the table root
      holder.destroyForcibly()
      holder.waitFor(30, TimeUnit.SECONDS)
      Await.result(blocked, 60.seconds)
      assert(Snapshots.latestVersion(root).contains(0L))
      // and the root is fully writable again
      Snapshots.commit(Seq(2L).toDF("id"), root)
      assert(Snapshots.read(spark, root).as[Long].head() == 2L)
    } finally if (holder.isAlive) holder.destroyForcibly()
  }
}
