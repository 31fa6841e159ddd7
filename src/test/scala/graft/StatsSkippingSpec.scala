package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FileStats, Snapshots}
import graft.sources.FileStats.ColRange

/** Per-file column stats + data-skipping reads ([[FileStats]] /
  * [[Snapshots.readPruned]]): the footer-derived sidecar matches the
  * files' true min/max, pruned reads are EXACTLY filter-equivalent on
  * full/append/delete/merge chains, and the Z-order layout's whole
  * point — a 2-D box touching fewer files than any single-column sort
  * can manage — is asserted as a file COUNT, not prose. The
  * end-to-end oracle gate is `q_stats_pruned`. */
class StatsSkippingSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpRoot(): String =
    Files.createTempDirectory("statskip").toString + "/tbl"

  /** 64x64 grid, one row per (x, y), plus the 12-bit Morton code. */
  private def grid(): DataFrame = {
    import spark.implicits._
    val rows = for (x <- 0 until 64; y <- 0 until 64)
      yield (x.toLong, y.toLong, morton(x, y), x.toLong * 64 + y)
    rows.toDF("x", "y", "z", "payload")
  }
  private def morton(x: Int, y: Int): Long =
    (0 until 6).map(i =>
      (((x >> i) & 1).toLong << (2 * i)) |
        (((y >> i) & 1).toLong << (2 * i + 1))).reduce(_ | _)

  test("footer stats match the files' true per-file min/max and null counts") {
    import spark.implicits._
    val root = tmpRoot()
    val df = (0 until 1000)
      .map(i => (i.toLong, i.toDouble / 7.0, f"k$i%04d",
        if (i % 5 == 0) None else Some(i.toLong)))
      .toDF("id", "score", "key", "opt")
    Snapshots.commit(df.repartitionByRange(4, col("id")), root,
      statsCols = Seq("id", "score", "key", "opt"))
    val stats = Snapshots.statsOf(root, 0L).get
    assert(stats.size == 4, s"expected 4 files, got ${stats.map(_.path)}")
    // ground truth per physical file
    val truth = spark.read.parquet(s"$root/data/v=0")
      .groupBy(input_file_name().as("f"))
      .agg(min("id"), max("id"), min("score"), max("score"),
        min("key"), max("key"), min("opt"), max("opt"),
        sum(col("opt").isNull.cast("long")), count(lit(1)))
      .collect().map(r => r.getString(0).replaceFirst(".*/v=0/", "") ->
        r).toMap
    stats.foreach { fs =>
      val t = truth(fs.path)
      assert(fs.rows == t.getLong(10))
      assert(fs.stats("id").typ == "l" &&
        fs.stats("id").min.toLong == t.getLong(1) &&
        fs.stats("id").max.toLong == t.getLong(2))
      assert(fs.stats("score").typ == "d" &&
        math.abs(fs.stats("score").min.toDouble - t.getDouble(3)) < 1e-12 &&
        math.abs(fs.stats("score").max.toDouble - t.getDouble(4)) < 1e-12)
      assert(fs.stats("key").typ == "s" &&
        fs.stats("key").min == t.getString(5) &&
        fs.stats("key").max == t.getString(6))
      assert(fs.stats("opt").nulls == t.getLong(9))
    }
  }

  test("readPruned == readVersion.filter across a full+append+delete+merge chain") {
    import spark.implicits._
    val root = tmpRoot()
    def part(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, s"v$i")).toDF("id", "v")
        .repartitionByRange(4, col("id"))
    Snapshots.commit(part(0L, 4000L), root, statsCols = Seq("id"))        // v0
    Snapshots.commitAppend(part(4000L, 6000L), root,
      batchId = Some(1L))                                                 // v1
    Snapshots.commitDelete(
      (0L until 6000L by 13).toDF("id"), root, "id", Some(2L))            // v2
    // merge: update ids 100-199 (values shifted), insert 7000-7099 —
    // written with the root's inherited `id` stats
    Snapshots.commitMerge(
      ((100L until 200L).map(i => (i, s"upd$i")) ++
        (7000L until 7100L).map(i => (i, s"new$i"))).toDF("id", "v"),
      root, "id", batchId = Some(3L))                                     // v3
    val ranges = Seq(ColRange("id", lower = Some(120L), upper = Some(1500L)))
    val pruned = Snapshots.readPruned(spark, root, ranges)
      .as[(Long, String)].collect().toSet
    val full = Snapshots.read(spark, root)
      .filter(col("id") >= 120L && col("id") <= 1500L)
      .as[(Long, String)].collect().toSet
    assert(pruned == full, "pruned read diverged from filtered full read")
    // the box spans only part of v0 (~files 1-2 of its 4 range files)
    // and none of v1 (ids 4000+): real skipping on both members
    val (kept0, total0) = Snapshots.prunedFileCount(root, 0L, ranges).get
    assert(total0 == 4 && kept0 < total0,
      s"v0 pruned nothing ($kept0/$total0)")
    val (kept1, _) = Snapshots.prunedFileCount(root, 1L, ranges).get
    assert(kept1 == 0, s"v1 (ids 4000+) should prune entirely, kept $kept1")
    // updated rows inside the box surface the MERGE value exactly once
    assert(pruned.count(_._1 == 150L) == 1 && pruned(150L -> "upd150"))
    // a range EXCLUDING everything still answers (empty, schema intact)
    val none = Snapshots.readPruned(spark, root,
      Seq(ColRange("id", lower = Some(100000L))))
    assert(none.columns.toSeq == Seq("id", "v") && none.count() == 0)
  }

  test("merge rows OUTSIDE the box still replace their chain targets (key frames unpruned)") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit(
      Seq((1L, 10L), (2L, 20L)).toDF("id", "score")
        .repartitionByRange(2, col("score")), root, statsCols = Seq("score"))
    // the merge moves id=2 OUT of the box (score 20 -> 999): if the
    // merge member's keys were pruned by the box, the stale (2, 20)
    // would survive and pass the residual filter — silently wrong
    Snapshots.commitMerge(Seq((2L, 999L)).toDF("id", "score"), root, "id",
      batchId = Some(1L))
    val box = Seq(ColRange("score", lower = Some(0L), upper = Some(100L)))
    val got = Snapshots.readPruned(spark, root, box)
      .as[(Long, Long)].collect().toSet
    assert(got == Set(1L -> 10L), s"stale pre-merge row resurfaced: $got")
  }

  test("Z-order layout: a 2-D box keeps fewer files than a single-column sort of the same data") {
    val root = (tmpRoot(), tmpRoot())
    val g = grid()
    // same 4096 rows, 16 files each: Morton-ordered vs x-ordered
    Snapshots.commit(g.repartitionByRange(16, col("z")), root._1,
      statsCols = Seq("x", "y"))
    Snapshots.commit(g.repartitionByRange(16, col("x")), root._2,
      statsCols = Seq("x", "y"))
    // an aligned 16x16 tile: 1/16 of the space
    val box = Seq(ColRange("x", Some(0L), Some(15L)),
      ColRange("y", Some(16L), Some(31L)))
    val (keptZ, totZ) = Snapshots.prunedFileCount(root._1, 0L, box).get
    val (keptX, totX) = Snapshots.prunedFileCount(root._2, 0L, box).get
    assert(totZ == 16 && totX == 16)
    // x-sorted files span all of y: every file intersecting x<=15
    // survives (~4); z-sorted files are ~16x16 tiles: ~1 survives
    assert(keptZ < keptX,
      s"z-order kept $keptZ of $totZ vs x-sort $keptX of $totX")
    assert(keptZ <= 3, s"z-order box read should touch ~1 tile, got $keptZ")
    // and both layouts answer identically
    val a = Snapshots.readPruned(spark, root._1, box).agg(
      count(lit(1)), sum("payload")).head()
    val b = Snapshots.readPruned(spark, root._2, box).agg(
      count(lit(1)), sum("payload")).head()
    assert(a == b && a.getLong(0) == 256L)
  }

  test("operational lookup: absorbDaily records doc_id stats, nightly preserves them through compaction") {
    import spark.implicits._
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).localCheckpoint()
    val base = java.nio.file.Files.createTempDirectory("opskip").toString
    val (curated, lsh) = (s"$base/curated", s"$base/lsh")
    // the base corpus committed range-laid-out WITH stats (the 100 TB
    // member a point lookup must be able to skip)
    Snapshots.commit(corpus.repartitionByRange(4, col("doc_id")), curated,
      statsCols = Seq("doc_id"))
    graft.dedup.LshIndex.build(corpus, lsh)
    // three daily absorbs — weekBatch day d's ids live in disjoint
    // shifted ranges, so each delta's sidecar covers a distinct slice
    (0 until 3).foreach { d =>
      graft.pipelines.CurationJob.absorbDaily(
        graft.queries.Indexing.weekBatch(corpus, d), curated, lsh,
        batchId = d.toLong)
      assert(Snapshots.statsOf(curated, (d + 1).toLong).nonEmpty,
        s"day $d's curated append recorded no stats sidecar")
    }
    // a lookup inside day 1's fresh-docs id range (10M + 1*1M shift):
    // must equal the full filtered read AND touch zero files of the
    // base or the other days' deltas
    val (lo, hi) = (11000000L, 11999999L)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id")).as[Long].collect().toSet
    val lookup = graft.pipelines.CurationJob.lookupDocs(spark, curated, lo, hi)
    val full = Snapshots.read(spark, curated)
      .filter(col("doc_id") >= lo && col("doc_id") <= hi)
    assert(ids(lookup) == ids(full) && lookup.count() > 0)
    val range = Seq(FileStats.ColRange("doc_id", Some(lo), Some(hi)))
    assert(Snapshots.prunedFileCount(curated, 0L, range).get._1 == 0,
      "the base corpus was not skipped")
    assert(Snapshots.prunedFileCount(curated, 1L, range).get._1 == 0,
      "day 0's delta was not skipped")
    assert(Snapshots.prunedFileCount(curated, 2L, range).get._1 > 0,
      "day 1's delta lost the rows")
    // nightly compaction re-records the sidecar (maintain's statsCols
    // carry) — the compacted chain still skips
    graft.pipelines.CurationJob.nightly(spark, curated, lsh, keep = 7)
    val cv = Snapshots.latestVersion(curated).get
    assert(!Snapshots.isDelta(curated, cv))
    assert(Snapshots.statsOf(curated, cv).nonEmpty,
      "compaction stripped the stats sidecar")
    assert(ids(graft.pipelines.CurationJob.lookupDocs(spark, curated, lo, hi))
      == ids(full))
    val (kept, total) = Snapshots.prunedFileCount(curated, cv, range).get
    assert(kept < total, s"compacted table prunes nothing ($kept/$total)")
  }

  test("planner path: a plain read().filter() box touches ≤3 of 16 Morton files") {
    val root = tmpRoot()
    Snapshots.commit(grid().repartitionByRange(16, col("z")), root,
      statsCols = Seq("x", "y"))
    val dirKey = s"$root/data/v=0"
    graft.sources.StatsFileIndex.pruneLog.remove(dirKey)
    // NO readPruned, NO ColRange: the filter is an ordinary Column
    // predicate, pushed by Catalyst, intersected with the sidecar by
    // StatsFileIndex at file-list time
    val box = Snapshots.read(spark, root)
      .filter(col("x").between(0L, 15L) && col("y").between(16L, 31L))
    val got = box.agg(count(lit(1)), sum("payload")).head()
    val want = spark.read.parquet(s"$root/data/v=0")
      .filter(col("x").between(0L, 15L) && col("y").between(16L, 31L))
      .agg(count(lit(1)), sum("payload")).head()
    assert(got == want && got.getLong(0) == 256L)
    val (kept, total) = Option(
      graft.sources.StatsFileIndex.pruneLog.get(dirKey)).getOrElse(
      fail("planner never consulted the stats index"))
    assert(total == 16, s"expected 16 listed files, saw $total")
    assert(kept <= 3, s"planner-path box read kept $kept of $total files")
  }

  test("planner path == explicit readPruned across a full+append+delete+merge chain") {
    import spark.implicits._
    val root = tmpRoot()
    def part(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, s"v$i")).toDF("id", "v")
        .repartitionByRange(4, col("id"))
    Snapshots.commit(part(0L, 4000L), root, statsCols = Seq("id"))        // v0
    Snapshots.commitAppend(part(4000L, 6000L), root,
      batchId = Some(1L))                                                 // v1
    Snapshots.commitDelete(
      (0L until 6000L by 13).toDF("id"), root, "id", Some(2L))            // v2
    Snapshots.commitMerge(
      ((100L until 200L).map(i => (i, s"upd$i")) ++
        (7000L until 7100L).map(i => (i, s"new$i"))).toDF("id", "v"),
      root, "id", batchId = Some(3L))                                     // v3
    def rows(df: DataFrame) = df.as[(Long, String)].collect().toSet
    val plain = rows(Snapshots.read(spark, root)
      .filter(col("id") >= 120L && col("id") <= 1500L))
    val pruned = rows(Snapshots.readPruned(spark, root,
      Seq(ColRange("id", lower = Some(120L), upper = Some(1500L)))))
    assert(plain == pruned, "planner path diverged from explicit readPruned")
    // the planner actually skipped: v1 (ids 4000+) kept zero files
    val k1 = Option(graft.sources.StatsFileIndex.pruneLog
      .get(s"$root/data/v=1"))
    assert(k1.exists(_._1 == 0), s"v1 should prune entirely, log: $k1")
    // merge values replace exactly once through the planner path too
    assert(plain.count(_._1 == 150L) == 1 && plain(150L -> "upd150"))
    // IN-list envelope: a 3-id lookup keeps only the files whose range
    // covers them (all three live in v0's first range file)
    graft.sources.StatsFileIndex.pruneLog.remove(s"$root/data/v=0")
    val inRows = rows(Snapshots.read(spark, root)
      .filter(col("id").isin(3L, 6L, 9L)))
    assert(inRows == rows(Snapshots.read(spark, root)
      .filter(col("id") === 3L || col("id") === 6L || col("id") === 9L)))
    val k0 = Option(graft.sources.StatsFileIndex.pruneLog
      .get(s"$root/data/v=0"))
    assert(k0.exists(p => p._1 == 1 && p._2 == 4),
      s"IN-list lookup should keep 1 of v0's 4 files, log: $k0")
  }

  test("planner path: string-range filter prunes in UTF-8 order") {
    import spark.implicits._
    val root = tmpRoot()
    val df = (0 until 1000).map(i => (f"k$i%04d", i.toLong)).toDF("key", "n")
    Snapshots.commit(df.repartitionByRange(4, col("key")), root,
      statsCols = Seq("key"))
    graft.sources.StatsFileIndex.pruneLog.remove(s"$root/data/v=0")
    val got = Snapshots.read(spark, root)
      .filter(col("key") >= "k0100" && col("key") < "k0200")
      .agg(count(lit(1)), sum("n")).head()
    val want = spark.read.parquet(s"$root/data/v=0")
      .filter(col("key") >= "k0100" && col("key") < "k0200")
      .agg(count(lit(1)), sum("n")).head()
    assert(got == want && got.getLong(0) == 100L)
    val k = Option(graft.sources.StatsFileIndex.pruneLog.get(s"$root/data/v=0"))
    assert(k.exists(p => p._1 < p._2), s"string range pruned nothing: $k")
  }

  test("planner path: hive partition pruning and stats skipping compose on one member") {
    import spark.implicits._
    val root = tmpRoot()
    // part correlates with id (part = id / 1000): partition pruning
    // keeps ONE hive dir, and the id-range sidecar entry (whose key
    // is the hive-RELATIVE path `part=N/...`) decides that dir's file
    val df = (0 until 3000)
      .map(i => (i.toLong, i / 1000, s"v$i")).toDF("id", "part", "v")
    Snapshots.commitPartitioned(df, root, Seq("part"),
      statsCols = Seq("id"))
    val dirKey = s"$root/data/v=0"
    def run(lo: Long, hi: Long): Set[(Long, String)] = {
      graft.sources.StatsFileIndex.pruneLog.remove(dirKey)
      Snapshots.read(spark, root)
        .filter(col("part") === 1 && col("id").between(lo, hi))
        .select(col("id"), col("v")).as[(Long, String)].collect().toSet
    }
    // a box DISJOINT from part=1's id range: the delegate prunes to
    // part=1's single file, the SIDECAR must then drop it too — a
    // broken hive-relative key would read "not in sidecar → kept"
    assert(run(0L, 500L).isEmpty)
    assert(Option(graft.sources.StatsFileIndex.pruneLog.get(dirKey))
      .contains((0, 1)), "partition-pruned file escaped the sidecar")
    // and a box INSIDE it keeps the file and answers exactly
    val got = run(1000L, 1500L)
    assert(got == df.filter(col("id").between(1000L, 1500L))
      .select(col("id"), col("v")).as[(Long, String)].collect().toSet)
    assert(Option(graft.sources.StatsFileIndex.pruneLog.get(dirKey))
      .contains((1, 1)))
  }

  test("distributed stats collection == driver-sequential, hive partition dirs included") {
    import spark.implicits._
    val base = Files.createTempDirectory("diststats").toString + "/stage"
    // 24 files (past the distribute threshold) across 3 hive dirs,
    // mixed types + nulls — the exact shapes the sidecar records
    val df = (0 until 3000)
      .map(i => (i.toLong, i % 3, i.toDouble / 7.0, f"k$i%04d",
        if (i % 5 == 0) None else Some(i.toLong)))
      .toDF("id", "part", "score", "key", "opt")
    df.repartitionByRange(8, col("id")).write
      .partitionBy("part").parquet(base)
    val cols = Seq("id", "score", "key", "opt")
    val seq0 = FileStats.collect(java.nio.file.Paths.get(base), cols,
      spark.sparkContext.hadoopConfiguration)
    assert(seq0.size >= graft.sources.FileStats.DistributeThreshold,
      s"test stage too small to exercise the distributed path: ${seq0.size}")
    val dist = FileStats.collectDistributed(spark,
      java.nio.file.Paths.get(base), cols)
    assert(dist == seq0, "distributed footer stats diverged from sequential")
    // paths are hive-relative (the partition subdir is part of the key)
    assert(seq0.exists(_.path.startsWith("part=")), seq0.map(_.path).take(3))
  }

  test("commitBatch records stats sidecars: a base-only chain prunes through both read paths") {
    import spark.implicits._
    val root = tmpRoot()
    val df = (0L until 4000L).map(i => (i, s"v$i")).toDF("id", "v")
    Snapshots.commitBatch(df.repartitionByRange(4, col("id")), root,
      batchId = 7L, statsCols = Seq("id"))
    assert(Snapshots.statsOf(root, 0L).nonEmpty,
      "commitBatch recorded no stats sidecar")
    val ranges = Seq(ColRange("id", lower = Some(100L), upper = Some(900L)))
    val (kept, total) = Snapshots.prunedFileCount(root, 0L, ranges).get
    assert(total == 4 && kept == 1, s"base-only chain kept $kept of $total")
    // explicit path and planner path both answer the plain filter
    val want = df.filter(col("id").between(100L, 900L))
      .as[(Long, String)].collect().toSet
    assert(Snapshots.readPruned(spark, root, ranges)
      .as[(Long, String)].collect().toSet == want)
    graft.sources.StatsFileIndex.pruneLog.remove(s"$root/data/v=0")
    assert(Snapshots.read(spark, root).filter(col("id").between(100L, 900L))
      .as[(Long, String)].collect().toSet == want)
    assert(Option(graft.sources.StatsFileIndex.pruneLog
      .get(s"$root/data/v=0")).exists(_._1 == 1))
    // and the replay guard still holds with the new parameter
    assert(Snapshots.commitBatch(df, root, batchId = 7L,
      statsCols = Seq("id")) == 0L)
  }

  test("stats sidecars follow their versions through truncation and vacuum") {
    import spark.implicits._
    val root = tmpRoot()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), root, statsCols = Seq("id"))
    Snapshots.commitAppend(Seq((2L, "b")).toDF("id", "v"), root,
      batchId = Some(1L))
    assert(Snapshots.statsOf(root, 0L).nonEmpty)
    assert(Snapshots.statsOf(root, 1L).nonEmpty)
    // rollback + recommit truncates the dead v1 — its sidecar too: the
    // recommit inherits `id` stats, so v1's sidecar must describe the
    // recommitted row (id 3), not the dead timeline's (id 2)
    Snapshots.rollback(root, 0L)
    Snapshots.commitAppend(Seq((3L, "c")).toDF("id", "v"), root,
      batchId = Some(2L))
    assert(Snapshots.statsOf(root, 1L).map(_.map(f =>
        (f.stats("id").min, f.stats("id").max))).contains(Seq(("3", "3"))),
      "dead-timeline stats sidecar survived truncation")
    // compact + aggressive vacuum drops v0's sidecar with its version
    Snapshots.compact(spark, root)
    Snapshots.vacuum(root, keep = 0)
    assert(Snapshots.statsOf(root, 0L).isEmpty,
      "vacuumed version's stats sidecar leaked")
  }
}
