package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Snapshots
import graft.streaming.ChangeFeed

/** The streaming change-feed follower ([[graft.streaming.ChangeFeed]]):
  * replay exactly-once WITHOUT a checkpoint (the watermark lives in
  * the sink chain), compaction-skip, full-rewrite refusal, and the
  * delete/merge typed-row semantics per landed version. The
  * grown-while-following end-to-end run is the `q_change_feed_stream`
  * gate; these specs pin the contracts the gate's hash can't name. */
class ChangeFeedSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpBase(): String =
    java.nio.file.Files.createTempDirectory("feed").toString

  test("catchUp lands each delta once, typed; replays and re-runs no-op") {
    import spark.implicits._
    val b = tmpBase()
    val (src, sink) = (s"$b/src", s"$b/sink")
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), src)   // v0
    Snapshots.commitAppend(Seq((3L, "c")).toDF("id", "v"), src, batchId = Some(1L)) // v1
    Snapshots.commitDelete(Seq(1L).toDF("id"), src, "id", Some(2L))    // v2
    assert(ChangeFeed.catchUp(spark, src, sink) == Seq(1L, 2L))
    assert(ChangeFeed.position(sink).contains(2L))
    // typed rows: v1 insert with values, v2 delete key-only (null v)
    val rows = Snapshots.read(spark, sink)
      .select(col("id"), col("v"), col("_change_type"), col("_commit_version"))
      .as[(Long, Option[String], String, Long)].collect().toSet
    assert(rows == Set((3L, Some("c"), "insert", 1L), (1L, None, "delete", 2L)))
    // replay: nothing new -> nothing landed, position unchanged
    assert(ChangeFeed.catchUp(spark, src, sink).isEmpty)
    assert(Snapshots.versions(sink).size == 2)
    // the feed reconstructs the table: base minus deletes plus inserts
    // (v0 is pre-feed history the consumer seeds from readVersion(0))
    val live = Snapshots.read(spark, src).count()
    assert(live == 2) // (2,b) and (3,c)
  }

  test("compactions are skipped (invisible rewrites); a fresh full rewrite is a named error") {
    import spark.implicits._
    val b = tmpBase()
    val (src, sink) = (s"$b/src", s"$b/sink")
    Snapshots.commit(Seq(1L).toDF("id"), src)                       // v0
    Snapshots.commitAppend(Seq(2L).toDF("id"), src, batchId = Some(1L)) // v1
    assert(ChangeFeed.catchUp(spark, src, sink) == Seq(1L))
    Snapshots.compact(spark, src)                                   // v2 compacted
    // the compaction is skipped, the feed keeps flowing
    assert(ChangeFeed.catchUp(spark, src, sink).isEmpty)
    Snapshots.commitAppend(Seq(3L).toDF("id"), src, batchId = Some(2L)) // v3
    assert(ChangeFeed.catchUp(spark, src, sink) == Seq(3L))
    assert(Snapshots.read(spark, sink).count() == 2) // v1 + v3 rows only
    // a REAL content replace has no row-level representation: loud stop
    Snapshots.commit(Seq(9L).toDF("id"), src)                       // v4 fresh full
    val e = intercept[IllegalArgumentException](
      ChangeFeed.catchUp(spark, src, sink))
    assert(e.getMessage.contains("full rewrite"))
  }

  test("retention outrunning a lagging follower is a LOUD error, not a silent skip") {
    import spark.implicits._
    val b = tmpBase()
    val (src, sink) = (s"$b/src", s"$b/sink")
    Snapshots.commit(Seq(1L).toDF("id"), src)                            // v0
    Snapshots.commitAppend(Seq(2L).toDF("id"), src, batchId = Some(1L)) // v1
    assert(ChangeFeed.catchUp(spark, src, sink) == Seq(1L))              // wm = 1
    // the follower pauses; the source keeps moving and maintenance
    // with aggressive retention drops the deltas the follower missed
    Snapshots.commitAppend(Seq(3L).toDF("id"), src, batchId = Some(2L)) // v2
    Snapshots.commitAppend(Seq(4L).toDF("id"), src, batchId = Some(3L)) // v3
    Snapshots.compact(spark, src)                                        // v4
    Snapshots.vacuum(src, keep = 0)                                      // v0-v3 gone
    assert(Snapshots.versions(src) == Seq(4L))
    // the old shape: pending = [4] (compacted, skipped) — v2 and v3
    // silently vanish and the sink no longer reconstructs the table.
    // The gap guard sees pending.head != wm + 1 and stops the feed.
    val e = intercept[IllegalStateException](
      ChangeFeed.catchUp(spark, src, sink))
    assert(e.getMessage.contains("retention outran the follower"))
    // position unchanged — nothing was half-landed
    assert(ChangeFeed.position(sink).contains(1L))
  }

  test("reset heals a gap-stopped follower: re-bootstrapped replica equals the source and the feed resumes") {
    import spark.implicits._
    val b = tmpBase()
    val (src, sink, mirror) = (s"$b/src", s"$b/sink", s"$b/mirror")
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), src)     // v0
    Snapshots.commitAppend(Seq((3L, "c")).toDF("id", "v"), src, batchId = Some(1L)) // v1
    ChangeFeed.catchUp(spark, src, sink)                                 // wm = 1
    Snapshots.commitBatch(Snapshots.readVersion(spark, src, 0L), mirror, 0L)
    ChangeFeed.mirrorCatchUp(spark, sink, mirror, "id")                  // replica @ v1
    // follower pauses; source moves on; retention destroys the gap
    Snapshots.commitAppend(Seq((4L, "d")).toDF("id", "v"), src, batchId = Some(2L)) // v2
    Snapshots.commitDelete(Seq(1L).toDF("id"), src, "id", Some(3L))      // v3
    Snapshots.compact(spark, src)                                        // v4
    Snapshots.vacuum(src, keep = 0)                                      // v0-v3 gone
    intercept[IllegalStateException](ChangeFeed.catchUp(spark, src, sink))
    // the composed heal: pin current V, re-seed sink watermark, full
    // mirror re-bootstrap — the replica equals the table again
    val v = ChangeFeed.reset(spark, src, sink, Some(mirror), "id")
    assert(v == 4L)
    def tbl(root: String) =
      Snapshots.read(spark, root).select(col("id"), col("v"))
        .as[(Long, String)].collect().toSet
    assert(tbl(mirror) == tbl(src) && tbl(src) == Set(2L -> "b", 3L -> "c", 4L -> "d"))
    assert(ChangeFeed.position(sink).contains(4L))
    // the sink reads as a (zero-row) typed feed — consumers keep their schema
    val cols = Snapshots.read(spark, sink).columns.toSet
    assert(cols == Set("id", "v", "_change_type", "_commit_version"))
    assert(Snapshots.read(spark, sink).count() == 0)
    // resume: new history lands and applies exactly-once through the
    // healed pair — insert AND delete paths
    Snapshots.commitAppend(Seq((5L, "e")).toDF("id", "v"), src, batchId = Some(4L)) // v5
    assert(ChangeFeed.catchUp(spark, src, sink) == Seq(5L))
    assert(ChangeFeed.mirrorCatchUp(spark, sink, mirror, "id") == Seq(5L))
    Snapshots.commitDelete(Seq(2L).toDF("id"), src, "id", Some(5L))      // v6
    assert(ChangeFeed.catchUp(spark, src, sink) == Seq(6L))
    assert(ChangeFeed.mirrorCatchUp(spark, sink, mirror, "id") == Seq(6L))
    assert(tbl(mirror) == tbl(src) && tbl(src) == Set(3L -> "c", 4L -> "d", 5L -> "e"))
    // replays after the heal still no-op
    assert(ChangeFeed.catchUp(spark, src, sink).isEmpty)
    assert(ChangeFeed.mirrorCatchUp(spark, sink, mirror, "id").isEmpty)
  }

  test("a feed lagging the mirror is a NO-OP, and the mirror resumes exactly once when it catches up") {
    import spark.implicits._
    val b = tmpBase()
    val (src, sink, mirror) = (s"$b/src", s"$b/sink", s"$b/mirror")
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), src)                // v0
    Snapshots.commitAppend(Seq((2L, "b")).toDF("id", "v"), src, batchId = Some(1L))
    Snapshots.commitAppend(Seq((3L, "c")).toDF("id", "v"), src, batchId = Some(2L))
    ChangeFeed.catchUp(spark, src, sink)                                 // wm = 2
    Snapshots.commitBatch(Snapshots.readVersion(spark, src, 0L), mirror, 0L)
    assert(ChangeFeed.mirrorCatchUp(spark, sink, mirror, "id") == Seq(1L, 2L))
    val before = Snapshots.read(spark, mirror).as[(Long, String)].collect().toSet
    // the sink is wiped and rebuilt, then ROLLED BACK so its watermark
    // (1) regresses behind the mirror's (2): nothing can be applied —
    // the pass must be a clean no-op, not an error (the same shape a
    // mirror legitimately bootstrapped AHEAD of a lagging feed has)
    Snapshots.wipe(sink)
    ChangeFeed.catchUp(spark, src, sink, fromV = 0L)
    Snapshots.rollback(sink, 0L)                     // regress: wm back to 1
    assert(ChangeFeed.mirrorCatchUp(spark, sink, mirror, "id").isEmpty)
    assert(Snapshots.read(spark, mirror).as[(Long, String)].collect().toSet
      == before, "a lagging feed changed the replica")
    // the feed recovers (re-lands v2, lands v3) — the mirror resumes
    // from its watermark exactly once and matches the source
    Snapshots.commitAppend(Seq((4L, "d")).toDF("id", "v"), src, batchId = Some(3L))
    Snapshots.rollback(sink, 1L) // undo the test's artificial regress
    ChangeFeed.catchUp(spark, src, sink)
    assert(ChangeFeed.mirrorCatchUp(spark, sink, mirror, "id") == Seq(3L))
    assert(Snapshots.read(spark, mirror).as[(Long, String)].collect().toSet
      == Snapshots.read(spark, src).as[(Long, String)].collect().toSet)
  }

  test("a live follower tails a growing chain; restart WITHOUT checkpoint stays exactly-once") {
    import spark.implicits._
    val b = tmpBase()
    val (src, sink) = (s"$b/src", s"$b/sink")
    Snapshots.commit(Seq((1L, 10L)).toDF("id", "x"), src)
    def await(v: Long): Unit = {
      val dl = System.nanoTime() + 60L * 1000000000L
      while (!ChangeFeed.position(sink).exists(_ >= v)) {
        assert(System.nanoTime() < dl, s"follower never reached $v")
        Thread.sleep(50)
      }
    }
    val q1 = ChangeFeed.follow(spark, src, sink, tick = "100 milliseconds")
    try {
      Snapshots.commitAppend(Seq((2L, 20L)).toDF("id", "x"), src, batchId = Some(1L))
      await(1L)
    } finally q1.stop()
    // restart with NO checkpoint (a fresh temp one): the sink
    // watermark alone must carry exactly-once across the restart
    val q2 = ChangeFeed.follow(spark, src, sink, tick = "100 milliseconds")
    try {
      Snapshots.commitAppend(Seq((3L, 30L)).toDF("id", "x"), src, batchId = Some(2L))
      await(2L)
    } finally q2.stop()
    val ids = Snapshots.read(spark, sink).select("id").as[Long].collect().toSeq
    assert(ids.sorted == Seq(2L, 3L), s"duplicated or lost landings: $ids")
  }

  test("mirror applier: a replica maintained purely from the feed equals the source; replays no-op") {
    import spark.implicits._
    val b = tmpBase()
    val (src, sink, mirror) = (s"$b/src", s"$b/sink", s"$b/mirror")
    Snapshots.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), src) // v0
    Snapshots.commitAppend(Seq((4L, "d")).toDF("id", "v"), src, batchId = Some(1L))
    Snapshots.commitDelete(Seq(2L).toDF("id"), src, "id", Some(2L))
    Snapshots.commitMerge(
      Seq((3L, "c2", "web"), (5L, "e", "web")).toDF("id", "v", "src"),
      src, "id", batchId = Some(3L), evolveSchema = true) // updates + insert + EVOLUTION
    // consumer side: follow the feed, bootstrap the mirror from v0,
    // then apply ONLY feed rows — the source is never read again
    ChangeFeed.catchUp(spark, src, sink)
    Snapshots.commitBatch(Snapshots.readVersion(spark, src, 0L), mirror, batchId = 0L)
    assert(ChangeFeed.mirrorCatchUp(spark, sink, mirror, "id") == Seq(1L, 2L, 3L))
    def table(root: String) = Snapshots.read(spark, root)
      .select(col("id"), col("v"), col("src"))
      .as[(Long, String, Option[String])].collect().toSet
    assert(table(mirror) == table(src), "mirror diverged from source")
    assert(table(mirror) == Set((1L, "a", None), (3L, "c2", Some("web")),
      (4L, "d", None), (5L, "e", Some("web"))))
    // replays: another catchUp + apply pass changes nothing
    val (sv, mv) = (Snapshots.versions(sink), Snapshots.versions(mirror))
    assert(ChangeFeed.catchUp(spark, src, sink).isEmpty)
    assert(ChangeFeed.mirrorCatchUp(spark, sink, mirror, "id").isEmpty)
    assert(Snapshots.versions(sink) == sv && Snapshots.versions(mirror) == mv)
    // a mirror without a bootstrap base is a LOUD error, not silence
    val e = intercept[IllegalArgumentException](
      ChangeFeed.mirrorCatchUp(spark, sink, s"$b/nomirror", "id"))
    assert(e.getMessage.contains("bootstrap"))
  }

  test("insert-run batching: batched apply == per-version apply, with fewer mirror commits") {
    import spark.implicits._
    val b = tmpBase()
    val (src, sink) = (s"$b/src", s"$b/sink")
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), src)                // v0
    (1 to 3).foreach(i => Snapshots.commitAppend(                        // v1-v3: insert run
      Seq((10L + i, s"i$i")).toDF("id", "v"), src, batchId = Some(i.toLong)))
    Snapshots.commitDelete(Seq(11L).toDF("id"), src, "id", Some(4L))     // v4: splits runs
    (5 to 6).foreach(i => Snapshots.commitAppend(                        // v5-v6: insert run
      Seq((20L + i, s"j$i")).toDF("id", "v"), src, batchId = Some(i.toLong)))
    ChangeFeed.catchUp(spark, src, sink)
    val (mA, mB) = (s"$b/mA", s"$b/mB")
    Seq(mA, mB).foreach(m =>
      Snapshots.commitBatch(Snapshots.readVersion(spark, src, 0L), m, 0L))
    assert(ChangeFeed.mirrorCatchUp(spark, sink, mA, "id") ==
      Seq(1L, 2L, 3L, 4L, 5L, 6L))
    assert(ChangeFeed.mirrorCatchUp(spark, sink, mB, "id",
      batchInserts = false) == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    // identical replica content either way — the equivalence claim
    val a = Snapshots.read(spark, mA).as[(Long, String)].collect().toSet
    val c = Snapshots.read(spark, mB).as[(Long, String)].collect().toSet
    assert(a == c && a == Set(1L -> "a", 12L -> "i2", 13L -> "i3",
      25L -> "j5", 26L -> "j6"))
    // the batching is real: runs [1-3] [4] [5-6] -> 3 applies + base,
    // vs 6 applies + base per-version
    assert(Snapshots.versions(mA).size == 4, Snapshots.versions(mA).toString)
    assert(Snapshots.versions(mB).size == 7)
    // watermark = run max: replays still no-op
    assert(ChangeFeed.mirrorCatchUp(spark, sink, mA, "id").isEmpty)
  }

  test("feed landings carry _commit_version sidecars; the mirror watermark skips applied FILES") {
    import spark.implicits._
    import graft.sources.FileStats.ColRange
    val b = tmpBase()
    val (src, sink, mirror) = (s"$b/src", s"$b/sink", s"$b/mirror")
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), src)                // v0
    (1 to 3).foreach(i => Snapshots.commitAppend(
      Seq((10L + i, s"i$i")).toDF("id", "v"), src, batchId = Some(i.toLong)))
    ChangeFeed.catchUp(spark, src, sink)                                 // feed v1-v3
    Snapshots.commitBatch(Snapshots.readVersion(spark, src, 0L), mirror, 0L)
    assert(ChangeFeed.mirrorCatchUp(spark, sink, mirror, "id") == Seq(1L, 2L, 3L))
    // the source moves on; the feed lands two more versions
    (4 to 5).foreach(i => Snapshots.commitAppend(
      Seq((20L + i, s"j$i")).toDF("id", "v"), src, batchId = Some(i.toLong)))
    ChangeFeed.catchUp(spark, src, sink)                                 // feed v4-v5
    // sink version k landed feed version k+1; appended landings carry
    // a _commit_version sidecar whose min==max==that version, so the
    // mirror's next pass (watermark 3 -> lower bound 4) must PRUNE the
    // already-applied landings' files entirely and keep the new ones
    val wmRange = Seq(ColRange("_commit_version", lower = Some(4L)))
    assert(Snapshots.statsOf(sink, 1L).nonEmpty, "landing recorded no sidecar")
    assert(Snapshots.prunedFileCount(sink, 1L, wmRange).get._1 == 0,
      "an applied feed landing (v2) was not file-skipped")
    assert(Snapshots.prunedFileCount(sink, 2L, wmRange).get._1 == 0,
      "an applied feed landing (v3) was not file-skipped")
    assert(Snapshots.prunedFileCount(sink, 3L, wmRange).get._1 > 0,
      "the pending landing (v4) lost its files")
    // and the pruned-path apply is exact: the new versions land, the
    // replica equals the source
    assert(ChangeFeed.mirrorCatchUp(spark, sink, mirror, "id") == Seq(4L, 5L))
    val got = Snapshots.read(spark, mirror).as[(Long, String)].collect().toSet
    val want = Snapshots.read(spark, src).as[(Long, String)].collect().toSet
    assert(got == want)
  }

  test("Snapshots.maintain compacts a feed sink and keeps its _commit_version sidecar") {
    import spark.implicits._
    import graft.sources.FileStats.ColRange
    val b = tmpBase()
    val (src, sink) = (s"$b/src", s"$b/sink")
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), src)                // v0
    (1 to 3).foreach(i => Snapshots.commitAppend(
      Seq((10L + i, s"i$i")).toDF("id", "v"), src, batchId = Some(i.toLong)))
    ChangeFeed.catchUp(spark, src, sink)                                 // sink v0-v2
    val m = Snapshots.maintain(spark, Seq(sink))
    val cv = Snapshots.latestVersion(sink).get
    assert(m.compacted(sink).contains(cv) && !Snapshots.isDelta(sink, cv))
    assert(Snapshots.statsOf(sink, cv).nonEmpty,
      "compaction stripped the sink's _commit_version sidecar")
    // a watermark range still skips the applied landings' files
    val wmRange = Seq(ColRange("_commit_version", lower = Some(3L)))
    val (kept, total) = Snapshots.prunedFileCount(sink, cv, wmRange).get
    assert(kept > 0 && kept < total, s"compacted sink pruned $kept of $total files")
    val pruned = Snapshots.readPruned(spark, sink, wmRange)
      .select(col("id"), col("_commit_version")).as[(Long, Long)].collect().toSet
    assert(pruned == Set(13L -> 3L))
  }

  test("absorbSemantic fails LOUDLY on a non-empty batch before the index is built") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val b = tmpBase()
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.DocsStream.absorbSemantic(spark,
      mem.toDF().toDF("vec_id", "v"), s"$b/idx-never-built", s"$b/matches",
      s"$b/ckpt")
    try {
      mem.addData(Seq((1L, Seq.fill(64)(0.1))))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: chain(t.getCause)
      assert(chain(e).exists(c =>
        c.isInstanceOf[IllegalStateException] &&
          c.getMessage.contains("build-before-stream")),
        s"expected the named build-before-stream error, got: $e")
    } finally q.stop()
  }
}
