package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Snapshots
import graft.streaming.ChangeFeed

/** Metadata cost of a change-feed TICK vs history depth — the
  * O(pending)-not-O(history) claim measured in MANIFEST READS, not
  * prose: [[Snapshots.manifestReads]] counts every manifest file
  * opened, and a follower tick over a deeply-applied history must
  * open exactly as many as over a shallow one (the watermark-seeded
  * [[Snapshots.versionsAbove]] listing drops historic names before
  * any file is touched; [[Snapshots.changesOf]] reads one version's
  * own metadata; the append-schema cache is CARRIED across an absorb
  * loop's commits so landing N+1 never re-walks the sink chain). */
class FeedTickCostSpec extends AnyFunSuite {
  import TestSpark._

  /** Build a source with `n` applied delta versions + its caught-up
    * sink, then measure manifest reads for (an idle tick, a 2-pending
    * tick). */
  private def tickCosts(n: Int): (Long, Long) = {
    import spark.implicits._
    val b = java.nio.file.Files.createTempDirectory(s"tick$n").toString
    val (src, sink) = (s"$b/src", s"$b/sink")
    Snapshots.commit(Seq((0L, "r0")).toDF("id", "v"), src)
    (1 to n).foreach(i => Snapshots.commitAppend(
      Seq((i.toLong, s"r$i")).toDF("id", "v"), src, batchId = Some(i.toLong)))
    ChangeFeed.catchUp(spark, src, sink)
    assert(ChangeFeed.position(sink).contains(n.toLong))
    def measure(body: => Unit): Long = {
      val c0 = Snapshots.manifestReads.get()
      body
      Snapshots.manifestReads.get() - c0
    }
    val idle = measure {
      assert(ChangeFeed.catchUp(spark, src, sink).isEmpty)
    }
    val twoPending = measure {
      Snapshots.commitAppend(Seq((n + 1L, "x")).toDF("id", "v"), src,
        batchId = Some(n + 1L))
      Snapshots.commitAppend(Seq((n + 2L, "y")).toDF("id", "v"), src,
        batchId = Some(n + 2L))
      assert(ChangeFeed.catchUp(spark, src, sink).size == 2)
    }
    (idle, twoPending)
  }

  test("a follower tick's manifest reads are independent of applied-history depth") {
    val (idle8, pend8) = tickCosts(8)
    val (idle96, pend96) = tickCosts(96)
    // the claim is the CURVE, not an absolute constant: deep history
    // must cost the same metadata as shallow history, idle and busy
    assert(idle96 == idle8,
      s"idle tick reads grew with history: $idle8 @8 vs $idle96 @96")
    assert(pend96 == pend8,
      s"2-pending tick reads grew with history: $pend8 @8 vs $pend96 @96")
    // and both are small absolutes (generous bound — a regression to
    // per-historic-version reads would be ~100 at depth 96)
    assert(idle96 <= 6, s"idle tick opened $idle96 manifests")
    assert(pend96 <= 40, s"2-landing tick opened $pend96 manifests")
  }

  test("versionsAbove lists by NAME: historic versions below the watermark are never opened") {
    import spark.implicits._
    val b = java.nio.file.Files.createTempDirectory("vabove").toString
    val root = s"$b/t"
    Snapshots.commit(Seq(1L).toDF("id"), root)
    (1 to 20).foreach(i => Snapshots.commitAppend(
      Seq(i.toLong).toDF("id"), root, batchId = Some(i.toLong)))
    val c0 = Snapshots.manifestReads.get()
    assert(Snapshots.versionsAbove(root, 18L) == Seq(19L, 20L))
    assert(Snapshots.manifestReads.get() == c0,
      "versionsAbove opened manifest files (name parse should suffice)")
  }

  test("changesOf == changesBetween for a single version, without a history listing") {
    import spark.implicits._
    val b = java.nio.file.Files.createTempDirectory("chof").toString
    val root = s"$b/t"
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), root)
    Snapshots.commitAppend(Seq((2L, "b")).toDF("id", "v"), root, batchId = Some(1L))
    Snapshots.commitDelete(Seq(1L).toDF("id"), root, "id", Some(2L))
    for (v <- Seq(1L, 2L)) {
      val a = Snapshots.changesOf(spark, root, v).collect().toSet
      val e = Snapshots.changesBetween(spark, root, v - 1, v).collect().toSet
      assert(a == e, s"changesOf($v) diverged from changesBetween")
    }
    // a full snapshot has no row-level representation — same loud
    // error contract as changesBetween
    intercept[IllegalArgumentException](
      Snapshots.changesOf(spark, root, 0L))
  }
}
