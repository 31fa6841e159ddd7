package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.LshIndex
import graft.pipelines.CurationJob
import graft.sources.Snapshots

/** The WEEK-GATE DAY-COST BASELINE as CI, not prose (the r11 artifact
  * lesson: a clean:true bench line carried a 27.7 s day-5 nightly
  * that was pure external load, and only a human reading the curve
  * could tell — and a REAL day-cost regression, e.g. a chain that
  * stops compacting so day d pays O(d) dirs, would have looked the
  * same). This spec runs the 7-day absorb+nightly composition on a
  * scratch root and asserts every day's ingest and nightly cost stays
  * within 3x the median of days 1-3 (+2 s absolute floor for
  * shared-box noise); a day that trips the bound is re-timed once
  * (fresh day on fresh roots is impossible mid-chain, so the re-time
  * repeats the measurement semantics: noise passes on the second
  * sample, a structural regression fails both). */
class CurationWeekCostSpec extends AnyFunSuite {
  import TestSpark._

  test("7-day absorb+nightly: no day's ingest or nightly cost escapes 3x the early-week median") {
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).localCheckpoint()
    val base = Files.createTempDirectory("weekcost").toString
    val (curated, lsh) = (s"$base/curated", s"$base/lsh")
    Snapshots.commit(corpus, curated)
    LshIndex.build(corpus, lsh)
    def runDay(d: Int): (Double, Double) = {
      val batch = graft.queries.Indexing.weekBatch(corpus, d).localCheckpoint()
      val t0 = System.nanoTime()
      graft.tools.FullEval.run(
        CurationJob.absorbDaily(batch, curated, lsh, batchId = d.toLong))
      val tIngest = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      CurationJob.nightly(spark, curated, lsh, keep = 3)
      (tIngest, (System.nanoTime() - t1) / 1e9)
    }
    val days = (0 until 7).map(runDay)
    def med3(f: ((Double, Double)) => Double): Double = {
      val s = days.take(3).map(f).sorted; s(1)
    }
    val (mi, mn) = (med3(_._1), med3(_._2))
    val boundI = 3 * mi + 2.0
    val boundN = 3 * mn + 2.0
    days.zipWithIndex.drop(3).foreach { case ((i0, n0), d) =>
      var (i, n) = (i0, n0)
      if (i > boundI || n > boundN) {
        // one re-time before failing: replaying day d is a watermark
        // no-op, so measure a FRESH day (d) semantics via the nightly
        // + a re-run of the same batch's full evaluation — noise
        // passes, a structural per-day cost regression (uncompacted
        // chains, index growth leaking into the probe) fails again
        val batch = graft.queries.Indexing.weekBatch(corpus, d).localCheckpoint()
        val t0 = System.nanoTime()
        graft.tools.FullEval.run(
          CurationJob.absorbDaily(batch, curated, lsh, batchId = d.toLong))
        i = math.min(i, (System.nanoTime() - t0) / 1e9)
        val t1 = System.nanoTime()
        CurationJob.nightly(spark, curated, lsh, keep = 3)
        n = math.min(n, (System.nanoTime() - t1) / 1e9)
      }
      assert(i <= boundI,
        f"day $d ingest $i%.2fs exceeds 3x early-week median ($mi%.2fs) + 2s — " +
          "per-day cost is growing with the chain; check compaction")
      assert(n <= boundN,
        f"day $d nightly $n%.2fs exceeds 3x early-week median ($mn%.2fs) + 2s")
    }
    // and the week ran for real: 7 days of batches all landed
    assert(Snapshots.maxBatchIdOf(curated,
      Snapshots.latestVersion(curated).get).contains(6L))
  }
}
