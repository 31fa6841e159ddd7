package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{LshIndex, TextDedup}
import graft.sources.{Snapshots, Tables}

/** The stored LSH index contract (the text twin of VectorIndexSpec):
  * absorb ≡ the live incremental reference, O(batch) plan shape
  * (partition-pruned artifact reads, no corpus signing in the absorb
  * plan), idempotent batch replay, and delta-chained visibility
  * (batch N+1 matches against batch N through the stored index). */
class LshIndexSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val corpus = Tables.documents(spark, sf)
    .select(col("doc_id"), col("text")).localCheckpoint()
  private def plantedBatch(shift: Long) = corpus
    .filter(pmod(col("doc_id"), lit(10)) === 0)
    .select((col("doc_id") + shift).as("doc_id"),
      concat(col("text"), lit(" near dup probe")).as("text"))

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-lsh").toString

  test("probe broadcast guard: forced shuffle_hash fallback returns identical pairs") {
    // r14: the batch band frame broadcasts outright under
    // broadcastMaxBandRows; a backfill-sized batch must fall back to
    // the bounded-memory shuffle_hash plan with the same result.
    val root = freshRoot()
    LshIndex.build(corpus, root)
    val batch = plantedBatch(8000000L).localCheckpoint()
    def pairs() = LshIndex.probeCandidates(spark, root,
      LshIndex.bandsOf(batch), batch.select(col("doc_id")))
      .collect().map(_.toString).sorted.toSeq
    val bcast = pairs()
    assert(bcast.nonEmpty, "planted batch produced no candidates")
    val prev = LshIndex.broadcastMaxBandRows
    LshIndex.broadcastMaxBandRows = 0L
    try assert(pairs() == bcast,
      "shuffle_hash fallback changed the candidate pairs")
    finally LshIndex.broadcastMaxBandRows = prev
  }

  test("absorb equals the live incremental reference (candidates + verify)") {
    val root = freshRoot()
    LshIndex.build(corpus, root)
    val batch = plantedBatch(1000000L).localCheckpoint()
    val got = LshIndex.absorbBatch(spark, root, batch, batchId = 0L)
    val refCand = TextDedup.lshCandidatesIncremental(
      TextDedup.minhashSignatures(corpus, "doc_id", "text"),
      TextDedup.minhashSignatures(batch, "doc_id", "text"), "doc_id")
    val want = TextDedup.verifyJaccard(
      refCand.select(col("new_id").as("doc_a"), col("match_id").as("doc_b")),
      corpus.unionByName(batch), "doc_id", "text")
      .filter(col("jaccard") >= LshIndex.JaccardMin)
      .select(col("doc_a").as("new_id"), col("doc_b").as("match_id"),
        col("jaccard"))
    assert(got.count() > 0, "planted batch produced no verified matches")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "stored-index absorb diverged from the live incremental pipeline")
  }

  test("O(batch) plan: absorb reads pruned artifacts, never signs the corpus") {
    val root = freshRoot()
    LshIndex.build(corpus, root)
    // literal in-memory batch: any corpus-parquet scan in the plan
    // would then be the index re-signing the corpus
    import spark.implicits._
    val batch = corpus.filter(pmod(col("doc_id"), lit(10)) === 0).limit(20)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("text"), lit(" near dup probe")).as("text"))
      .as[(Long, String)].collect().toSeq.toDF("doc_id", "text")
    // candidate phase: the stored band scan must be partition-pruned
    // on bmod and must not touch the corpus parquet
    val probe = LshIndex.probeCandidates(spark, root,
      graft.dedup.LshIndex.bandsOf(batch), batch.select(col("doc_id")))
    val pp = probe.queryExecution.executedPlan.toString
    assert(pp.contains("PartitionFilters") && pp.contains("bmod"),
      s"stored band scan is not partition-pruned on bmod:\n$pp")
    assert(!pp.contains("documents.parquet"),
      s"candidate phase re-scanned the corpus parquet:\n$pp")
    // verification phase (the returned plan): stored shingle scan
    // pruned on dmod, corpus never re-signed
    val out = LshIndex.absorbBatch(spark, root, batch, batchId = 0L)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("dmod"),
      s"stored shingle scan is not partition-pruned on dmod:\n$p")
    assert(!p.contains("documents.parquet"),
      s"absorb plan re-scanned the corpus parquet:\n$p")
  }

  test("idempotent replay: same batchId re-appends nothing, returns the same matches") {
    val root = freshRoot()
    LshIndex.build(corpus, root)
    val batch = plantedBatch(3000000L).localCheckpoint()
    val r1 = LshIndex.absorbBatch(spark, root, batch, batchId = 7L)
      .collect().toSet
    val bv = Snapshots.versions(LshIndex.bandsRoot(root))
    val sv = Snapshots.versions(LshIndex.shinglesRoot(root))
    val r2 = LshIndex.absorbBatch(spark, root, batch, batchId = 7L)
      .collect().toSet
    assert(Snapshots.versions(LshIndex.bandsRoot(root)) == bv &&
      Snapshots.versions(LshIndex.shinglesRoot(root)) == sv,
      "replayed batch committed new versions")
    assert(r1 == r2, "replayed batch changed the match set")
  }

  test("delta chain: batch 2 matches batch 1 through the stored index") {
    val root = freshRoot()
    LshIndex.build(corpus, root)
    val b1 = plantedBatch(4000000L).localCheckpoint()
    LshIndex.absorbBatch(spark, root, b1, batchId = 0L).count()
    // batch 2 = near-dups OF BATCH 1 docs (different suffix, new ids):
    // their only strong matches live in batch 1's delta-appended rows
    val b2 = b1.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" again")).as("text")).localCheckpoint()
    val m = LshIndex.absorbBatch(spark, root, b2, batchId = 1L)
    val vsB1 = m.filter(col("match_id").between(4000000L, 4999999L))
    assert(vsB1.count() > 0,
      "batch 2 found no matches against batch 1's delta-appended index rows")
  }

  test("compaction: invisible to probes, carries the maxBatchId watermark forward") {
    val root = freshRoot()
    LshIndex.build(corpus, root)
    val b1 = plantedBatch(5000000L).localCheckpoint()
    val r1 = LshIndex.absorbBatch(spark, root, b1, batchId = 0L).collect().toSet
    // compact BOTH artifact chains back to single full snapshots
    Snapshots.compact(spark, LshIndex.bandsRoot(root))
    Snapshots.compact(spark, LshIndex.shinglesRoot(root))
    assert(!Snapshots.isDelta(LshIndex.bandsRoot(root),
      Snapshots.latestVersion(LshIndex.bandsRoot(root)).get))
    // watermark carry: a re-delivered day-1 batch must still no-op
    // AFTER compaction (the bug class #210 caught on the IVF side)
    val bv = Snapshots.versions(LshIndex.bandsRoot(root))
    val sv = Snapshots.versions(LshIndex.shinglesRoot(root))
    val r1b = LshIndex.absorbBatch(spark, root, b1, batchId = 0L).collect().toSet
    assert(Snapshots.versions(LshIndex.bandsRoot(root)) == bv &&
      Snapshots.versions(LshIndex.shinglesRoot(root)) == sv,
      "replayed batch re-appended after compaction — watermark lost")
    assert(r1b == r1, "replay across compaction changed the match set")
    // a genuinely new day still absorbs, and matches THROUGH the
    // compacted index exactly as through the chain
    val b2 = b1.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" again")).as("text")).localCheckpoint()
    val m = LshIndex.absorbBatch(spark, root, b2, batchId = 1L)
    assert(m.filter(col("match_id").between(5000000L, 5999999L)).count() > 0,
      "batch 2 lost its batch-1 matches after compaction")
    // vacuum afterwards keeps every retained version's chain readable
    Snapshots.vacuum(LshIndex.bandsRoot(root), keep = 1)
    assert(Snapshots.read(spark, LshIndex.bandsRoot(root)).count() > 0)
  }

  test("retrain-and-swap: re-banded index served atomically, params ride the root, old root intact") {
    import graft.sources.IndexPointer
    val base = freshRoot()
    val (root1, root2) = (s"$base/r2", s"$base/r4")
    val family = s"$base/family"
    LshIndex.build(corpus, root1, rowsPerBand = 2)
    IndexPointer.swapTo(family, root1)
    assert(LshIndex.rowsPerBandOf(root1) == 2)
    val batch = plantedBatch(1000000L).localCheckpoint()
    // pre-swap probe: resolved via the family pointer, original banding
    val pre = LshIndex.absorbDrift(spark,
      IndexPointer.current(family).get, batch)
    assert(pre.head().getAs[Long]("n_batch") > 0)
    // the swap: re-sign under 2 bands x 4 rows, atomic repoint
    LshIndex.retrainSwap(corpus, root2, family, rowsPerBand = 4)
    assert(IndexPointer.current(family).contains(root2), "pointer did not flip")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$family/_current.tmp")))
    assert(LshIndex.rowsPerBandOf(root2) == 4, "_params not stored")
    // a probe against the resolved root signs with the ROOT's params:
    // matches equal a from-scratch rows=4 index's, and the tighter
    // banding provably differs from the 4x2 result
    val got = LshIndex.absorbBatch(spark,
      IndexPointer.current(family).get, batch, batchId = 0L)
    val ref4 = s"$base/ref4"
    LshIndex.build(corpus, ref4, rowsPerBand = 4)
    val want = LshIndex.absorbBatch(spark, ref4, batch, batchId = 0L)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "post-swap probe diverged from a direct rows=4 index")
    val ref2 = s"$base/ref2"
    LshIndex.build(corpus, ref2, rowsPerBand = 2)
    val m2 = LshIndex.absorbBatch(spark, ref2, batch, batchId = 0L)
    assert(got.count() < m2.count(),
      "rows=4 banding did not tighten the candidate rule — swap untestable")
    // old root stays fully readable with ITS params until retention
    assert(LshIndex.rowsPerBandOf(root1) == 2)
    assert(Snapshots.read(spark, LshIndex.bandsRoot(root1)).count() > 0)
    // retried swap re-signs nothing
    val bv = Snapshots.versions(LshIndex.bandsRoot(root2))
    LshIndex.retrainSwap(corpus, root2, family, rowsPerBand = 4)
    assert(Snapshots.versions(LshIndex.bandsRoot(root2)) == bv,
      "retried retrainSwap re-signed the corpus")
  }

  test("absorbDrift: near-dup flood reports strong positive drift; fresh docs do not") {
    val root = freshRoot()
    LshIndex.build(corpus, root)
    // baseline stored at build
    val stats = Snapshots.read(spark, LshIndex.statsRoot(root)).head()
    val buildFrac = stats.getAs[Double]("coll_frac")
    assert(stats.getAs[Long]("n_docs") == corpus.count())
    assert(buildFrac >= 0.0 && buildFrac <= 1.0)
    // a pure near-dup batch collides nearly everywhere
    val flood = plantedBatch(1000000L)
    val r1 = LshIndex.absorbDrift(spark, root, flood).head()
    assert(r1.getAs[Double]("coll_frac_batch") > 0.9,
      s"near-dup flood under-collided: $r1")
    assert(r1.getAs[Double]("drift") > 0.0, s"flood drift not positive: $r1")
    assert(r1.getAs[Double]("coll_frac_build") == buildFrac)
    // fresh unique docs collide with nothing
    import spark.implicits._
    val fresh = (0 until 20).map(i =>
      (9000000L + i, (0 until 12).map(j => s"dr${i}w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val r2 = LshIndex.absorbDrift(spark, root, fresh).head()
    assert(r2.getAs[Double]("coll_frac_batch") == 0.0, s"fresh batch collided: $r2")
    assert(r2.getAs[Double]("drift") < 0.0 || buildFrac == 0.0)
    // probe-only: the report committed nothing, and re-running it is stable
    assert(Snapshots.versions(LshIndex.bandsRoot(root)).size == 1,
      "absorbDrift mutated the index")
    val r1b = LshIndex.absorbDrift(spark, root, flood).head()
    assert(r1b == r1, "drift report not replay-stable")
  }

  test("targeted delete: a deleted doc never matches again; forget completes physically") {
    val root = freshRoot()
    LshIndex.build(corpus, root)
    val b1 = plantedBatch(1000000L).localCheckpoint()
    LshIndex.absorbBatch(spark, root, b1, batchId = 0L)
    // pre-delete reference: a future batch matches both the corpus
    // originals and the day-1 copies
    val b2 = plantedBatch(2000000L)
      .select(col("doc_id"), concat(col("text"), lit(" again")).as("text"))
      .localCheckpoint()
    // delete every day-1 copy of doc_id % 30 == 0 plus the ORIGINAL
    // doc_id % 40 == 0 docs (tombstones over delta dirs AND the base)
    val delIds = corpus.filter(pmod(col("doc_id"), lit(30)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"))
      .unionByName(corpus.filter(pmod(col("doc_id"), lit(40)) === 0)
        .select(col("doc_id")))
      .localCheckpoint()
    LshIndex.delete(spark, root, delIds, batchId = Some(1L))
    val m = LshIndex.absorbBatch(spark, root, b2, batchId = 2L)
      .localCheckpoint()
    assert(m.count() > 0)
    // no deleted id can appear as a match
    assert(m.join(delIds.withColumnRenamed("doc_id", "match_id"),
      Seq("match_id")).count() == 0, "deleted doc still matches probes")
    // non-deleted originals and day-1 copies still match
    assert(m.filter(col("match_id") < 1000000L).count() > 0 &&
      m.filter(col("match_id").between(1000000L, 1999999L)).count() > 0)
    // replayed delete no-ops (watermark is now past it)
    val bv = Snapshots.versions(LshIndex.bandsRoot(root))
    LshIndex.delete(spark, root, delIds, batchId = Some(1L))
    assert(Snapshots.versions(LshIndex.bandsRoot(root)) == bv,
      "replayed delete re-committed")
    // time travel: the pre-delete band artifact still shows the docs
    val preDelete = Snapshots.readVersion(spark, LshIndex.bandsRoot(root), 1L)
    assert(preDelete.join(delIds, Seq("doc_id")).count() > 0,
      "audit view lost the pre-delete rows")
    // physical forget: compact + vacuum leave no parquet holding the ids
    Snapshots.compact(spark, LshIndex.bandsRoot(root))
    Snapshots.compact(spark, LshIndex.shinglesRoot(root))
    Snapshots.vacuum(LshIndex.bandsRoot(root), keep = 0)
    Snapshots.vacuum(LshIndex.shinglesRoot(root), keep = 0)
    Seq(LshIndex.bandsRoot(root), LshIndex.shinglesRoot(root)).foreach { r =>
      val all = spark.read.option("basePath",
          s"$r/data/v=${Snapshots.latestVersion(r).get}")
        .parquet(s"$r/data/v=${Snapshots.latestVersion(r).get}")
      assert(all.join(delIds, Seq("doc_id")).count() == 0,
        s"deleted bytes survived forget under $r")
    }
  }

  test("corrupt _params fails loudly; a missing file still means the legacy default") {
    val root = freshRoot()
    LshIndex.build(corpus, root, rowsPerBand = 4)
    val p = java.nio.file.Paths.get(s"$root/_params")
    val orig = java.nio.file.Files.readString(p)
    assert(LshIndex.rowsPerBandOf(root) == 4)
    // a torn/corrupt params file must refuse, never guess: a probe
    // signed with the wrong banding silently finds nothing
    java.nio.file.Files.writeString(p, """{"k":8,"rowsPerB""")
    intercept[IllegalStateException] { LshIndex.rowsPerBandOf(root) }
    java.nio.file.Files.writeString(p, orig)
    assert(LshIndex.rowsPerBandOf(root) == 4)
    // genuinely-legacy root (file never written) keeps the =2 default
    java.nio.file.Files.delete(p)
    assert(LshIndex.rowsPerBandOf(root) == 2)
  }

  test("buildIfAbsent backfills ONLY a missing stats baseline — absorbed batches survive") {
    import scala.jdk.CollectionConverters._
    val root = freshRoot()
    LshIndex.build(corpus, root)
    LshIndex.absorbBatch(spark, root, plantedBatch(8000000L), batchId = 0L)
      .count()
    // simulate a pre-v2 root reused via an explicit path: bands and
    // shingles exist (WITH an absorbed delta), stats never built
    val sroot = java.nio.file.Paths.get(LshIndex.statsRoot(root))
    java.nio.file.Files.walk(sroot).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
    assert(Snapshots.latestVersion(LshIndex.statsRoot(root)).isEmpty)
    val bandsBefore = Snapshots.versions(LshIndex.bandsRoot(root))
    val shinglesBefore = Snapshots.versions(LshIndex.shinglesRoot(root))
    LshIndex.buildIfAbsent(corpus, root)
    // the backfill committed stats from the COMMITTED band artifact —
    // a full rebuild here would commit fresh corpus-only snapshots and
    // silently drop the absorbed batch from the latest read view
    assert(Snapshots.versions(LshIndex.bandsRoot(root)) == bandsBefore &&
      Snapshots.versions(LshIndex.shinglesRoot(root)) == shinglesBefore,
      "stats backfill re-signed the corpus")
    assert(Snapshots.latestVersion(LshIndex.statsRoot(root)).nonEmpty,
      "stats baseline not backfilled")
    assert(Snapshots.read(spark, LshIndex.bandsRoot(root))
      .filter(col("doc_id") >= 8000000L).count() > 0,
      "absorbed batch vanished from the read view")
  }

  test("absorbDrift on an empty batch: explicit zero row, never 0/0 nulls") {
    val root = freshRoot()
    LshIndex.build(corpus, root)
    val out = LshIndex.absorbDrift(spark, root, corpus.filter(lit(false)))
      .collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getLong(r.fieldIndex("n_batch")) == 0L)
    assert(!r.isNullAt(r.fieldIndex("coll_frac_batch")) &&
      r.getDouble(r.fieldIndex("coll_frac_batch")) == 0.0,
      "empty batch emitted a null collision fraction")
    assert(!r.isNullAt(r.fieldIndex("drift")) &&
      r.getDouble(r.fieldIndex("drift")) == 0.0,
      "empty batch emitted a null drift — no data is no signal")
    assert(!r.isNullAt(r.fieldIndex("coll_frac_build")),
      "baseline missing from the zero row")
  }
}
