package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventsStream
import graft.streaming.EventsStream.{Ev, SessionOut}

class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00")

  test("windowed counts over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts(1), "click", 1.0), Ev(1, ts(2), "click", 2.0),
      Ev(2, ts(3), "purchase", 10.0))
    val agg = EventsStream.windowedCounts(mem.toDF(), "1 hour", "2 hours")
    val q = agg.writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("wc").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("wc").collect()
    assert(rows.length == 2)
    assert(rows.find(_.getString(1) == "click").get.getLong(2) == 2L)
  }

  test("stateful sessionization closes sessions on idle gap") {
    import spark.implicits._
    // events at minute 0,5,10 then a 40-minute gap then 50,52
    val evs = Seq(
      Ev(7, ts(0), "click", 0), Ev(7, ts(5), "click", 0), Ev(7, ts(10), "click", 0),
      Ev(7, ts(50), "click", 0), Ev(7, ts(52), "click", 0)).toDS()
    val out: Seq[SessionOut] = EventsStream.sessionize(evs).collect().toSeq
    // first session (0→10) closes when the 40-min gap is seen;
    // second session stays open in state (batch semantics)
    assert(out.length == 1)
    assert(out.head.n_events == 3)
    assert(out.head.session_len_us == 10L * 60 * 1000 * 1000)
  }

  test("watermarked append emits closed windows as watermark advances") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = EventsStream.windowedCounts(mem.toDF(), "10 minutes", "5 minutes")
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("wm").start()
    mem.addData(Ev(1, ts(1), "click", 1.0), Ev(1, ts(2), "click", 1.0))
    q.processAllAvailable()
    val early = spark.table("wm").count()
    // event far past the first window pushes the watermark beyond it
    mem.addData(Ev(2, Timestamp.valueOf("2024-01-01 02:00:00"), "view", 1.0))
    q.processAllAvailable()
    val late = spark.table("wm").count()
    q.stop()
    assert(early == 0)  // window still open, nothing emitted
    assert(late >= 1)   // watermark passed -> first window finalized
  }

  test("streaming sessionize emits the final session via event-time timeout and clears state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventsStream.sessionize(mem.toDS())
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ss").start()
    mem.addData(Ev(7, ts(0), "click", 0), Ev(7, ts(5), "click", 0))
    q.processAllAvailable()
    assert(spark.table("ss").count() == 0) // session still open
    // far-future event advances the watermark past last+gap...
    mem.addData(Ev(99, Timestamp.valueOf("2024-01-01 03:00:00"), "click", 0))
    q.processAllAvailable()
    // ...and the next batch fires the timeout
    mem.addData(Ev(99, Timestamp.valueOf("2024-01-01 03:00:30"), "click", 0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("ss").as[SessionOut].collect().filter(_.user_id == 7L)
    assert(out.length == 1)
    assert(out.head.n_events == 2)
    assert(out.head.session_len_us == 5L * 60 * 1000 * 1000)
  }

  test("streaming sessionize absorbs a late-but-admissible cross-batch event without corrupting the session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventsStream.sessionize(mem.toDS())
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ss_late").start()
    // batch 1: session opens at 00:20
    mem.addData(Ev(5, ts(20), "click", 0))
    q.processAllAvailable()
    // batch 2: a LATE event at 00:10 — within the 30-min watermark, so
    // Spark admits it; the session must extend BACKWARD, not run
    // negative or move its end earlier
    mem.addData(Ev(5, ts(10), "click", 0))
    q.processAllAvailable()
    // advance the watermark past 00:20+gap and fire the timeout
    mem.addData(Ev(99, Timestamp.valueOf("2024-01-01 03:00:00"), "click", 0))
    q.processAllAvailable()
    mem.addData(Ev(99, Timestamp.valueOf("2024-01-01 03:00:30"), "click", 0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("ss_late").as[SessionOut].collect().filter(_.user_id == 5L)
    assert(out.length == 1)
    assert(out.head.n_events == 2)
    assert(out.head.session_start_us ==
      Timestamp.valueOf("2024-01-01 00:10:00").getTime * 1000)
    assert(out.head.session_len_us == 10L * 60 * 1000 * 1000) // POSITIVE ten minutes
  }

  test("sessionize runs on the RocksDB state store (production posture)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    EventsStream.configureRocksDbState(spark)
    try {
      val mem = MemoryStream[Ev]
      val q = EventsStream.sessionize(mem.toDS())
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("ss_rocks").start()
      mem.addData(Ev(1, ts(0), "click", 0), Ev(1, ts(2), "click", 0),
        Ev(1, ts(40), "click", 0)) // 40-min gap splits the session
      q.processAllAvailable()
      q.stop()
      val out = spark.table("ss_rocks").as[SessionOut].collect()
      assert(out.length == 1 && out.head.n_events == 2) // first session closed by gap
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("exactly-once sink: a replayed micro-batch rewrites its partition, never duplicates") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("eos").toString + "/t"
    val writer = EventsStream.idempotentBatchWriter(path) _
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    writer(b0, 0L)
    // the at-least-once failure mode: batch 0 is REPLAYED after a
    // crash between write and checkpoint commit
    writer(b0, 0L)
    assert(spark.read.parquet(path).count() == 2, "replay must not duplicate")
    // a replay may even carry a recomputed (different) batch frame —
    // the partition is overwritten wholesale, not merged
    writer(Seq((1L, "a2"), (2L, "b2"), (3L, "c")).toDF("id", "s"), 0L)
    val after = spark.read.parquet(path)
    assert(after.count() == 3)
    assert(after.filter(col("s") === "a").count() == 0)
    // a NEW batch id appends alongside, untouched partitions intact
    writer(Seq((4L, "d")).toDF("id", "s"), 1L)
    assert(spark.read.parquet(path).count() == 4)
    // and the real streaming sink drives the same writer end-to-end
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(Ev(1L, Timestamp.valueOf("2024-01-01 00:00:00"), "view", 1.0))
    val sinkPath = java.nio.file.Files.createTempDirectory("eos2").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("eos2ck").toString
    val q = EventsStream.foreachBatchExactlyOnce(mem.toDF(), sinkPath, ckpt)
    q.processAllAvailable(); q.stop()
    assert(spark.read.parquet(sinkPath).count() == 1)
  }

  test("streaming cdc apply: state converges to the last op, late entries never regress") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import EventsStream.{CdcOp, CdcOut}
    val mem = MemoryStream[CdcOp]
    val q = EventsStream.cdcStream(mem.toDS()).writeStream
      .outputMode(OutputMode.Update).format("memory").queryName("cdc").start()
    // batch 0: two fresh keys
    mem.addData(
      CdcOp(1L, 100L, 1L, "U", "view", 1.0),
      CdcOp(2L, 100L, 2L, "U", "click", 2.0))
    q.processAllAvailable()
    val b0 = spark.table("cdc").as[CdcOut].collect().toSet
    assert(b0 == Set(CdcOut(1L, "U", "view", 1.0), CdcOut(2L, "U", "click", 2.0)))
    // batch 1: key1 deleted (newer seq); key2 gets a LATE older op
    // (must not regress, must not emit); key3 appears
    mem.addData(
      CdcOp(1L, 200L, 3L, "D", "view", 0.0),
      CdcOp(2L, 50L, 0L, "U", "stale", 9.0),
      CdcOp(3L, 150L, 4L, "U", "buy", 3.0))
    q.processAllAvailable(); q.stop()
    val all = spark.table("cdc").as[CdcOut].collect()
    val b1 = all.toSet -- b0
    assert(b1 == Set(CdcOut(1L, "D", "view", 0.0), CdcOut(3L, "U", "buy", 3.0)),
      s"late op must not re-emit key 2: $b1")
    assert(all.length == 4, "no-change keys emit nothing")
  }

  test("versioned snapshot sink: micro-batches become time-travel points, replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val root = java.nio.file.Files.createTempDirectory("snapsink").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("snapsinkck").toString
    val q = EventsStream.foreachBatchSnapshot(mem.toDF(), root, ckpt)
    mem.addData(Ev(1L, Timestamp.valueOf("2024-01-01 00:00:00"), "view", 1.0))
    q.processAllAvailable()
    mem.addData(Ev(2L, Timestamp.valueOf("2024-01-01 00:01:00"), "view", 1.0))
    q.processAllAvailable(); q.stop()
    import graft.sources.Snapshots
    assert(Snapshots.versions(root).size == 2, "each micro-batch is a version")
    assert(Snapshots.readVersion(spark, root, 0).count() == 1)
    // a crash-replay of the LAST batch id must be a no-op
    val last = Snapshots.manifestOf(root, Snapshots.latestVersion(root).get).get.batchId.get
    Snapshots.commitBatch(Seq(99L).toDF("user_id"), root, last)
    assert(Snapshots.versions(root).size == 2)
  }

  test("stream-stream interval join attributes purchases to preceding clicks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val joined = EventsStream.clickPurchaseJoin(
      clicks.toDF(), purchases.toDF(), "30 minutes", "1 hour")
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("cpj").start()
    clicks.addData(Ev(1, ts(0), "click", 1.0), Ev(2, ts(0), "click", 1.0))
    purchases.addData(
      Ev(1, ts(10), "purchase", 9.0),   // within 30 min of user 1's click
      Ev(2, ts(50), "purchase", 5.0))   // 50 min after user 2's click -> outside
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("cpj").select("user_id").collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(1L))
  }

  test("streaming near-dup suppression drops LSH-band collisions at ingest") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    case class Doc(doc_id: Long, text: String, ts: Timestamp)
    val base = "the quick brown fox jumps over the lazy dog again and again until dawn breaks"
    val near = base.replace("dawn", "dusk") // near-dup: most shingles shared
    val far  = "completely different words about spark catalyst optimizer plans and shuffles everywhere"
    val mem = MemoryStream[(Long, String, Timestamp)]
    val df = graft.streaming.DocsStream.dedupNearWithinWatermark(
      mem.toDF().toDF("doc_id", "text", "ts"), "text", "ts")
    val q = df.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("nd").start()
    mem.addData((1L, base, ts(1)))
    q.processAllAvailable()
    mem.addData((2L, near, ts(2)), (3L, far, ts(3)))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("nd").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(1L))     // first arrival kept
    assert(!kept.contains(2L))    // near-dup suppressed on band collision
    assert(kept.contains(3L))     // unrelated doc passes
  }

  test("curated ingest filters junk before dedup state, keeps quality docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val good = "the quick brown fox jumps over the lazy dog again and again until dawn breaks"
    val junk = "spam spam spam spam spam spam spam spam spam spam spam spam" // rep_ratio 1.0
    val short = "too short" // fails the 10-token floor
    val mem = MemoryStream[(Long, String, Timestamp)]
    val df = graft.streaming.DocsStream.curatedIngest(
      mem.toDF().toDF("doc_id", "text", "ts"), "text", "ts")
    val q = df.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ci").start()
    mem.addData((1L, good, ts(1)), (2L, junk, ts(1)), (3L, short, ts(1)))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("ci").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L))
  }

  test("streaming decontamination drops docs overlapping the eval set, stateless") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // eval doc shares an 8-gram with the contaminated stream doc only
    val evalDoc = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val contaminated = "prefix words alpha beta gamma delta epsilon zeta eta theta more tail"
    val clean = "totally unrelated content about distributed query engines and parquet files"
    val evalGrams = Seq(evalDoc).toDF("text")
      .select(explode(transform(
        sequence(lit(1), size(split(col("text"), " ")) - 7),
        i => array_join(slice(split(col("text"), " "), i, lit(8)), " "))).as("g"))
    val mem = MemoryStream[(Long, String, Timestamp)]
    val df = graft.streaming.DocsStream.decontaminatedIngest(
      mem.toDF().toDF("doc_id", "text", "ts"), evalGrams, "text")
    val q = df.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("decon").start()
    mem.addData((1L, contaminated, ts(1)), (2L, clean, ts(1)))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("decon").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L))
  }

  test("stream-static dim enrichment broadcasts the static side, no state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dims = Seq(("us", "America/New_York"), ("de", "Europe/Berlin"))
      .toDF("country", "tz")
    val mem = MemoryStream[(Long, String, Timestamp)]
    val df = EventsStream.enrichWithDims(
      mem.toDF().toDF("user_id", "country", "ts"), dims, "country")
    val q = df.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dimjoin").start()
    mem.addData((1L, "us", ts(1)), (2L, "de", ts(1)), (3L, "xx", ts(1)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("dimjoin").collect()
      .map(r => r.getAs[Long]("user_id") -> Option(r.getAs[String]("tz"))).toMap
    assert(rows(1L).contains("America/New_York"))
    assert(rows(2L).contains("Europe/Berlin"))
    assert(rows(3L).isEmpty) // left join: unknown dim passes through with null
  }

  test("foreachBatch sink appends micro-batches to parquet") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val mem = MemoryStream[Ev]
    val q = EventsStream.foreachBatchParquet(mem.toDF(), s"$dir/out", s"$dir/ckpt")
    mem.addData(Ev(1, ts(1), "click", 1.0))
    q.processAllAvailable()
    mem.addData(Ev(2, ts(2), "view", 2.0))
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(s"$dir/out").count() == 2)
  }

  test("checkpointed sink resumes after restart without duplicating batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val mem = MemoryStream[Ev]
    val q1 = EventsStream.foreachBatchParquet(mem.toDF(), s"$dir/out", s"$dir/ckpt")
    mem.addData(Ev(1, ts(1), "click", 1.0), Ev(2, ts(2), "view", 2.0))
    q1.processAllAvailable()
    q1.stop()
    // restart from the SAME checkpoint: prior batches must not replay
    val q2 = EventsStream.foreachBatchParquet(mem.toDF(), s"$dir/out", s"$dir/ckpt")
    mem.addData(Ev(3, ts(3), "purchase", 3.0))
    q2.processAllAvailable()
    q2.stop()
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() == 3)
    assert(out.select("user_id").distinct().count() == 3)
  }

  test("streaming windowed counts equal batch aggregation on same rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val rows = graft.sources.Tables.events(spark, sf)
      .select("user_id", "ts", "event_type", "value")
      .as[(Long, java.sql.Timestamp, String, Double)]
      .collect().map(r => Ev(r._1, r._2, r._3, r._4))
    val mem = MemoryStream[Ev]
    mem.addData(rows.toIndexedSeq)
    val q = EventsStream.windowedCounts(mem.toDF(), "1 hour", "2 hours")
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("sb").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sb")
      .select(col("window_start"), col("event_type"), col("n_events"))
      .orderBy("window_start", "event_type").collect().toSeq
    val batch = graft.sources.Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n_events"))
      .orderBy("window_start", "event_type").collect().toSeq
    assert(streamed == batch)
  }

  test("streaming dedup within watermark drops late duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val deduped = mem.toDF()
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("user_id", "ts")
    val q = deduped.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dd").start()
    mem.addData(Ev(1, ts(1), "click", 1.0), Ev(1, ts(1), "click", 1.0))
    q.processAllAvailable()
    mem.addData(Ev(1, ts(1), "click", 1.0)) // late duplicate, same key+ts
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dd").count() == 1)
  }

  test("trending terms: windowed counts finalize on watermark, short terms filtered") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val df = graft.streaming.DocsStream.trendingTerms(
      mem.toDF().toDF("doc_id", "text", "ts"), "text", "ts",
      watermark = "5 minutes", windowLen = "10 minutes")
    val q = df.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("tt").start()
    mem.addData(
      (1L, "spark spark engine is up", ts(1)),
      (2L, "spark engine scaling up up up", ts(3)))
    q.processAllAvailable()
    // advance the watermark far past the first window to finalize it
    mem.addData((3L, "later window content", ts(40)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("tt")
      .filter(col("window_start") === ts(0))
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(rows("spark") == 3L)
    assert(rows("engine") == 2L)
    assert(!rows.contains("is") && !rows.contains("up")) // len < 3 filtered
    assert(rows("scaling") == 1L)
  }

  test("quota ingest: per-source window cap holds across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DocsStream
    import graft.streaming.DocsStream.QuotaDoc
    val mem = MemoryStream[QuotaDoc]
    val out = DocsStream.quotaIngest(mem.toDS(), quotaTokens = 100,
      windowLenMs = 10L * 60 * 1000, watermark = "5 minutes")
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("quota").start()
    // batch 1: src0 uses 90 of its 100-token window budget; src1 fits
    mem.addData(
      QuotaDoc(1, "src0", 60, ts(1)),
      QuotaDoc(2, "src0", 30, ts(2)),
      QuotaDoc(3, "src1", 80, ts(2)))
    q.processAllAvailable()
    // batch 2, same window: 20 tokens would exceed src0's remaining 10
    // (state persisted across batches), but src1 still has room
    mem.addData(
      QuotaDoc(4, "src0", 20, ts(3)),
      QuotaDoc(5, "src1", 20, ts(4)))
    q.processAllAvailable()
    // batch 3: a NEW window gets a fresh budget
    mem.addData(QuotaDoc(6, "src0", 90, ts(11)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("quota").as[DocsStream.QuotaOut]
      .collect().map(r => r.doc_id -> r).toMap
    assert(rows.keySet == Set(1L, 2L, 3L, 5L, 6L)) // doc 4 dropped
    assert(rows(2L).cum_tokens == 90)  // in-batch running total
    assert(rows(5L).cum_tokens == 100) // cross-batch continuation
    assert(rows(6L).cum_tokens == 90)  // fresh window, fresh counter
    assert(rows(6L).window_start == ts(10))
  }

  test("quota ingest: flood batch larger than the candidate cap admits the earliest docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DocsStream
    import graft.streaming.DocsStream.QuotaDoc
    val mem = MemoryStream[QuotaDoc]
    // quota 20 → candidate buffer cap 20; flood 50 one-token docs
    val out = DocsStream.quotaIngest(mem.toDS(), quotaTokens = 20)
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("quota3").start()
    mem.addData((1 to 50).map(i => QuotaDoc(i.toLong, "s", 1, ts(1))): _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("quota3").as[DocsStream.QuotaOut]
      .collect().map(_.doc_id).toSet
    // bounded heap keeps the (ts, doc_id)-earliest 20; all admit
    assert(got == (1 to 20).map(_.toLong).toSet)
  }

  test("quota ingest: in-batch admission is (ts, doc_id)-deterministic") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DocsStream
    import graft.streaming.DocsStream.QuotaDoc
    val mem = MemoryStream[QuotaDoc]
    val out = DocsStream.quotaIngest(mem.toDS(), quotaTokens = 50)
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("quota2").start()
    // all same ts: doc_id breaks the tie, so 10+20 admit and 30 drops
    mem.addData(
      QuotaDoc(30, "s", 30, ts(1)),
      QuotaDoc(10, "s", 10, ts(1)),
      QuotaDoc(20, "s", 20, ts(1)))
    q.processAllAvailable(); q.stop()
    val got = spark.table("quota2").as[DocsStream.QuotaOut]
      .collect().map(_.doc_id).toSet
    assert(got == Set(10L, 20L))
  }

  test("streaming volume anomaly flags against the broadcast baseline; unknown types pass unflagged") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // clicks: 5 in hour 0 vs baseline med=2 mad=1 -> |5-2| > 3*1 is false (3 !> 3+eps)… use 6
    mem.addData(
      (1 to 6).map(i => Ev(i.toLong, ts(i), "click", 1.0)) ++
        Seq(Ev(9, ts(10), "purchase", 5.0),
          Ev(10, ts(12), "mystery", 1.0)): _*)
    val baseline = Seq(("click", 2.0, 1.0), ("purchase", 1.0, 1.0))
      .toDF("event_type", "med", "mad")
    val out = EventsStream.volumeAnomaly(mem.toDF(), baseline, "1 hour", "2 hours")
    val q = out.writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("vol_anom").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("vol_anom").collect()
      .map(r => r.getString(1) -> r.getInt(3)).toMap
    assert(rows("click") == 1, "6 clicks vs med 2 mad 1 must flag")
    assert(rows("purchase") == 0, "1 purchase vs med 1 must not flag")
    assert(rows("mystery") == 0, "unknown type must pass through unflagged")
  }

  test("best-of-n ingest: winner finalizes once per window, across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DocsStream
    import graft.streaming.DocsStream.{BestOut, CandDoc}
    val mem = MemoryStream[CandDoc]
    val out = DocsStream.bestOfNIngest(mem.toDS(),
      windowLenMs = 10L * 60 * 1000, watermark = "5 minutes")
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("bestofn").start()
    // window [00:00, 00:10): candidates for prompt 1 across two batches
    mem.addData(CandDoc(11, 1, 0.4, ts(1)), CandDoc(12, 1, 0.9, ts(2)))
    q.processAllAvailable()
    assert(spark.table("bestofn").count() == 0,
      "nothing may emit before the watermark finalizes the window")
    // a late-but-in-watermark better candidate still displaces
    mem.addData(CandDoc(13, 1, 0.95, ts(3)), CandDoc(21, 2, 0.5, ts(4)))
    q.processAllAvailable()
    // advance the watermark past the window end (00:10 + 5 min)
    mem.addData(CandDoc(99, 7, 0.1, ts(20)))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("bestofn").as[BestOut]
      .collect().map(r => r.prompt_id -> r).toMap
    assert(rows.keySet == Set(1L, 2L), "one finalized row per prompt window")
    assert(rows(1L).doc_id == 13 && rows(1L).reward == 0.95)
    assert(rows(1L).n_candidates == 3, "count accumulates across batches")
    assert(rows(2L).doc_id == 21)
  }

  test("best-of-n ingest: reward tie breaks on the lower doc_id") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DocsStream
    import graft.streaming.DocsStream.{BestOut, CandDoc}
    val mem = MemoryStream[CandDoc]
    val out = DocsStream.bestOfNIngest(mem.toDS(),
      windowLenMs = 10L * 60 * 1000, watermark = "5 minutes")
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("bestofn2").start()
    mem.addData(CandDoc(42, 1, 0.7, ts(1)), CandDoc(7, 1, 0.7, ts(2)))
    q.processAllAvailable()
    mem.addData(CandDoc(99, 9, 0.1, ts(20)))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("bestofn2").as[BestOut].collect()
      .map(r => r.prompt_id -> r).toMap
    assert(rows(1L).doc_id == 7, "equal reward must pick the lower id")
  }

  test("best-of-n ingest: batch mode emits immediately and matches q_rejection_sample") {
    import spark.implicits._
    import graft.streaming.DocsStream
    import graft.streaming.DocsStream.CandDoc
    // batch replay over the real corpus: one global window, reward =
    // the #179 TTR micro-unit reward — winners must agree exactly
    val tk = split(col("text"), " ")
    val cands = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), pmod(col("doc_id"), lit(64)).as("prompt_id"),
        round(round(size(array_distinct(tk)).cast("double") / size(tk), 6)
          * 1e6).cast("double").as("reward"),
        lit(Timestamp.valueOf("2024-01-01 00:01:00")).as("ts"))
      .as[CandDoc]
    val got = DocsStream.bestOfNIngest(cands)
      .select(col("prompt_id"), col("doc_id"))
    val want = SparkEntry.queries("q_rejection_sample")(spark, sf)
      .select(col("prompt_id"), col("chosen_id").as("doc_id"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("match completion: sides split across micro-batches pair exactly once") {
    import spark.implicits._
    import graft.streaming.EventsStream.{MatchSide, MatchOut}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[MatchSide]
    val q = EventsStream.matchCompletion(mem.toDS())
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("arena").start()
    // batch 1: one full match (higher value wins) + one orphan half
    mem.addData(
      MatchSide(1, 0, "gamma", 2.0, ts(1)), MatchSide(1, 1, "alpha", 5.0, ts(1)),
      MatchSide(2, 0, "beta", 1.0, ts(2)))
    q.processAllAvailable()
    assert(spark.table("arena").as[MatchOut].collect().toSet ==
      Set(MatchOut(1, "alpha", "gamma", 1)))
    // batch 2: the orphan's opponent arrives — exact tie breaks to
    // the lexicographically smaller model
    mem.addData(MatchSide(2, 1, "alpha", 1.0, ts(3)))
    q.processAllAvailable()
    // batch 3: a same-model match completes silently
    mem.addData(
      MatchSide(3, 0, "beta", 9.0, ts(4)), MatchSide(3, 1, "beta", 1.0, ts(4)))
    q.processAllAvailable(); q.stop()
    val out = spark.table("arena").as[MatchOut].collect().toSet
    assert(out == Set(
      MatchOut(1, "alpha", "gamma", 1), MatchOut(2, "alpha", "beta", 1)))
  }

  test("match completion: re-delivered sides of a completed match never re-emit") {
    import spark.implicits._
    import graft.streaming.EventsStream.{MatchSide, MatchOut}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[MatchSide]
    val q = EventsStream.matchCompletion(mem.toDS())
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("arena_dup").start()
    mem.addData(
      MatchSide(9, 0, "gamma", 2.0, ts(1)), MatchSide(9, 1, "alpha", 5.0, ts(1)))
    q.processAllAvailable()
    assert(spark.table("arena_dup").count() == 1)
    // full re-delivery of BOTH sides in a later micro-batch: the
    // tombstone swallows the pair instead of re-forming and re-emitting
    mem.addData(
      MatchSide(9, 0, "gamma", 2.0, ts(1)), MatchSide(9, 1, "alpha", 5.0, ts(1)))
    q.processAllAvailable()
    // and re-delivery split across batches cannot re-open the match
    mem.addData(MatchSide(9, 0, "gamma", 2.0, ts(2)))
    q.processAllAvailable(); q.stop()
    assert(spark.table("arena_dup").as[MatchOut].collect().toSeq ==
      Seq(MatchOut(9, "alpha", "gamma", 1)))
  }

  test("matchCompletion horizon follows the watermark argument (delayMs)") {
    assert(EventsStream.delayMs("10 minutes") == 600000L)
    assert(EventsStream.delayMs("1 hour") == 3600000L)
    assert(EventsStream.delayMs("30 seconds") == 30000L)
    assert(EventsStream.delayMs("2 days") == 172800000L)
    // COMPOUND intervals (withWatermark accepts them): every unit must
    // sum — a first-unit-only parse would derive a retention horizon
    // SHORTER than the watermark and evict tombstones early
    assert(EventsStream.delayMs("1 hour 30 minutes") == 5400000L)
    assert(EventsStream.delayMs("2 days 3 hours 15 seconds") ==
      2 * 86400000L + 3 * 3600000L + 15000L)
    // Spark's IntervalUtils accepts a leading "interval" token and
    // commas; the SAME string goes to withWatermark and delayMs, so
    // both spellings must parse here too
    assert(EventsStream.delayMs("interval 1 hour") == 3600000L)
    assert(EventsStream.delayMs("INTERVAL 1 hour, 30 minutes") == 5400000L)
    intercept[IllegalArgumentException](EventsStream.delayMs("soon"))
    // malformed residue must still throw, not silently truncate
    intercept[IllegalArgumentException](EventsStream.delayMs("1 hour and a bit"))
    intercept[IllegalArgumentException](EventsStream.delayMs("5 fortnights"))
  }

  test("streaming vector ingest: stream assignment equals the stored-index rule, zero state") {
    import spark.implicits._
    import graft.similarity.{Embeddings, VectorIndex}
    implicit val sqlCtx = spark.sqlContext
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), Embeddings.asDouble(col("embedding")).as("v"))
    val root = java.nio.file.Files.createTempDirectory("graft-sv").toString
    VectorIndex.build(vecs.filter(col("vec_id") % 10 =!= 7), root)
    val cents = graft.sources.Snapshots.read(spark, VectorIndex.centroidsRoot(root))
    val batch = vecs.filter(col("vec_id") % 10 === 7)
      .as[(Long, Seq[Double])].collect().toSeq
    val mem = MemoryStream[(Long, Seq[Double])]
    mem.addData(batch)
    val q = graft.streaming.DocsStream
      .assignVectors(mem.toDF().toDF("vec_id", "v"), cents)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("vecassign").start()
    q.processAllAvailable()
    // stateless: no state store operators in the streaming plan
    assert(q.lastProgress == null ||
      q.lastProgress.stateOperators.isEmpty,
      "streaming assignment created state")
    q.stop()
    val got = spark.table("vecassign").select(col("vec_id"), col("bucket"))
    val want = VectorIndex
      .assignRowLocal(vecs.filter(col("vec_id") % 10 === 7), cents)
      .select(col("vec_id"), col("bucket"))
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0,
      "stream assignment diverged from the batch rule")
  }

  test("match completion: batch replay aggregates to q_win_matrix exactly") {
    import spark.implicits._
    import graft.streaming.EventsStream.MatchSide
    val sides = graft.sources.Tables.events(spark, sf)
      .select(floor(col("event_id") / 2).cast("long").as("match_id"),
        (col("event_id") % 2).cast("int").as("side"),
        col("event_type").as("model"), col("value"), col("ts"))
      .as[MatchSide]
    // drop odd-tail matches (a lone side) like the batch pairing does
    val complete = sides.groupBy(col("match_id")).agg(count(lit(1)).as("c"))
      .filter(col("c") === 2).select(col("match_id"))
    val got = EventsStream
      .matchCompletion(sides.join(complete, "match_id").as[MatchSide])
      .groupBy(col("model_a"), col("model_b"))
      .agg(count(lit(1)).as("n_matches"), sum(col("wins_a")).as("wins_a"))
    val want = SparkEntry.queries("q_win_matrix")(spark, sf)
      .select(col("model_a"), col("model_b"), col("n_matches"), col("wins_a"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("stream -> stored-index loop: foreachBatch assignBatch lands micro-batches exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.similarity.{Embeddings, VectorIndex}
    import graft.sources.Snapshots
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), Embeddings.asDouble(col("embedding")).as("v"))
      .localCheckpoint()
    val isBatch = pmod(col("vec_id"), lit(10)) === 7
    val base = vecs.filter(!isBatch)
    val root = java.nio.file.Files.createTempDirectory("graft-vloop").toString
    VectorIndex.build(base, root, seedK = 8, iters = 2)
    val rows = vecs.filter(isBatch).as[(Long, Seq[Double])].collect().toSeq
    val (b1, b2) = rows.splitAt(rows.size / 2)
    val mem = MemoryStream[(Long, Seq[Double])]
    // the composition SURVEY claims: stateless assignment in the
    // stream, idempotent delta commit per micro-batch id in the sink
    val q = graft.streaming.DocsStream
      .assignVectors(mem.toDF().toDF("vec_id", "v"),
        Snapshots.read(spark, VectorIndex.centroidsRoot(root)))
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        VectorIndex.assignBatch(spark, root,
          df.select(col("vec_id"), col("v")), id); ()
      }.start()
    mem.addData(b1); q.processAllAvailable()
    mem.addData(b2); q.processAllAvailable()
    q.stop()
    val aroot = VectorIndex.assignmentsRoot(root)
    // every micro-batch landed; the union equals assign-all
    val cents = Snapshots.read(spark, VectorIndex.centroidsRoot(root))
    val want = VectorIndex.assignRowLocal(vecs, cents).drop("ccos")
    val got = Snapshots.read(spark, aroot)
      .select(col("vec_id"), col("v"), col("bucket").cast("int").as("bucket"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "streamed index != assign-all-vs-stored-centroids")
    // retry semantics: the runtime re-delivers a micro-batch id on
    // recovery — the sink must no-op, not double-append
    val vBefore = Snapshots.versions(aroot)
    VectorIndex.assignBatch(spark, root, b2.toDF("vec_id", "v"), batchId = 1L)
    assert(Snapshots.versions(aroot) == vBefore,
      "replayed micro-batch id re-appended")
  }

  test("stream -> stored-LSH-index loop: foreachBatch absorb equals batch absorb; replay no-ops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.dedup.LshIndex
    import graft.sources.Snapshots
    val corpus = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).localCheckpoint()
    val rows = corpus.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" near dup probe")).as("text"))
      .as[(Long, String)].collect().toSeq
    val (b1, b2) = rows.splitAt(rows.size / 2)
    // streamed index: two micro-batches through the absorb sink
    val sroot = java.nio.file.Files.createTempDirectory("graft-lshloop-s").toString
    val mroot = s"$sroot/matches"
    LshIndex.build(corpus, sroot)
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.DocsStream.absorbNearDups(spark,
      mem.toDF().toDF("doc_id", "text"), sroot, mroot, s"$sroot/ckpt")
    mem.addData(b1); q.processAllAvailable()
    mem.addData(b2); q.processAllAvailable()
    q.stop()
    // reference: the same two batches absorbed in BATCH mode
    val broot = java.nio.file.Files.createTempDirectory("graft-lshloop-b").toString
    LshIndex.build(corpus, broot)
    val m1 = LshIndex.absorbBatch(spark, broot, b1.toDF("doc_id", "text"), 0L)
    val m2 = LshIndex.absorbBatch(spark, broot, b2.toDF("doc_id", "text"), 1L)
    // stream-absorbed artifacts == batch-absorbed artifacts
    val gotBands = Snapshots.read(spark, LshIndex.bandsRoot(sroot))
    val wantBands = Snapshots.read(spark, LshIndex.bandsRoot(broot))
    assert(gotBands.exceptAll(wantBands).count() == 0 &&
      wantBands.exceptAll(gotBands).count() == 0,
      "stream-absorbed band index diverged from batch absorb")
    // landed matches == the batch matches, across both micro-batches
    val gotM = Snapshots.read(spark, mroot)
    val wantM = m1.unionByName(m2)
    assert(gotM.count() > 0, "loop landed no matches")
    assert(gotM.exceptAll(wantM).count() == 0 &&
      wantM.exceptAll(gotM).count() == 0,
      "landed match set diverged from batch absorb")
    // replayed micro-batch id: index AND matches no-op
    val bv = Snapshots.versions(LshIndex.bandsRoot(sroot))
    val mv = Snapshots.versions(mroot)
    val mReplay = LshIndex.absorbBatch(spark, sroot, b2.toDF("doc_id", "text"), 1L)
    Snapshots.commitAppend(mReplay, mroot, batchId = Some(1L))
    assert(Snapshots.versions(LshIndex.bandsRoot(sroot)) == bv &&
      Snapshots.versions(mroot) == mv,
      "replayed micro-batch re-appended")
  }

  test("streaming near-dup probe equals the batch stored-index probe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.dedup.{LshIndex, TextDedup}
    val corpus = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).localCheckpoint()
    val root = java.nio.file.Files.createTempDirectory("graft-lshstream").toString
    LshIndex.build(corpus, root)
    val batchRows = corpus.filter(pmod(col("doc_id"), lit(10)) === 0).limit(50)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" near dup probe")).as("text"))
      .as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String, Timestamp)]
    mem.addData(batchRows.map { case (id, t) => (id, t, ts(1)) })
    val q = graft.streaming.DocsStream
      .probeNearDups(spark, mem.toDF().toDF("doc_id", "text", "ts"), root, "ts")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("lshprobe").start()
    q.processAllAvailable()
    // the per-pair dedup is the ONLY state in the plan, and it is
    // watermark-bounded
    assert(q.lastProgress == null || q.lastProgress.stateOperators.length <= 1,
      "streaming probe created unexpected state operators")
    q.stop()
    val got = spark.table("lshprobe")
    // reference: the batch candidate probe + verify, restricted to
    // vs-corpus pairs (the stream sees no within-batch pairs)
    val batch = batchRows.toDF("doc_id", "text")
    val cand = LshIndex.probeCandidates(spark, root,
        LshIndex.bandsOf(batch), batch.select(col("doc_id")))
      .filter(col("match_id") < 1000000L)
    val want = TextDedup.verifyJaccard(
      cand.select(col("new_id").as("doc_a"), col("match_id").as("doc_b")),
      corpus.unionByName(batch), "doc_id", "text")
      .filter(col("jaccard") >= LshIndex.JaccardMin)
      .select(col("doc_a").as("new_id"), col("doc_b").as("match_id"),
        col("jaccard"))
    assert(want.count() > 0, "planted stream batch produced no matches")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "streaming probe diverged from the batch stored-index probe")
  }

  test("streaming near-dup probe bands like the root: a rowsPerBand = 4 index matches planted copies") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.dedup.LshIndex
    val corpus = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).localCheckpoint()
    val root = java.nio.file.Files.createTempDirectory("graft-lshstream4").toString
    LshIndex.build(corpus, root, rowsPerBand = 4)
    // exact copies: identical signatures, so every band of the stored
    // original collides — whatever the banding, as long as it matches
    val originals = corpus.filter(pmod(col("doc_id"), lit(10)) === 0)
      .filter(size(LshIndex.shingleSet(col("text"))) > 0).limit(20)
      .as[(Long, String)].collect().toSeq
    assert(originals.nonEmpty)
    val mem = MemoryStream[(Long, String, Timestamp)]
    mem.addData(originals.map { case (id, t) => (id + 1000000L, t, ts(1)) })
    val q = graft.streaming.DocsStream
      .probeNearDups(spark, mem.toDF().toDF("doc_id", "text", "ts"), root, "ts")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("lshprobe4").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("lshprobe4").select(col("new_id"), col("match_id"))
      .as[(Long, Long)].collect().toSet
    val planted = originals.map { case (id, _) => (id + 1000000L, id) }.toSet
    assert(planted.subsetOf(got),
      s"probe missed planted copies: ${planted.diff(got).take(5)}")
  }

  test("streaming span probe: stateless flags equal the batch report (corpus ∪ self)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.dedup.SpanIndex
    val corpus = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).localCheckpoint()
    val root = java.nio.file.Files.createTempDirectory("graft-spanstream").toString
    SpanIndex.build(corpus, root)
    // verbatim copies (every span dups vs the index), one doc that
    // repeats its own span (within-doc rule), one fresh synthetic doc;
    // cross-arrival dup pairs deliberately absent — they are the
    // foreachBatch absorb loop's job, out of the probe's scope
    val copies = corpus.filter(pmod(col("doc_id"), lit(10)) === 0).limit(20)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    def tok(i: Int) = s"zq${i}w"
    val block = (0 until 16).map(tok).mkString(" ")
    val rows = copies ++ Seq(
      (2000000L, s"$block $block"),                       // self-repeating
      (2000001L, (100 until 140).map(tok).mkString(" "))) // fresh
    val mem = MemoryStream[(Long, String)]
    mem.addData(rows)
    val q = graft.streaming.DocsStream
      .probeSpans(spark, mem.toDF().toDF("doc_id", "text"), root)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("spanprobe").start()
    q.processAllAvailable()
    // stateless by construction: one stream-static join, no state store
    assert(q.lastProgress == null || q.lastProgress.stateOperators.isEmpty,
      "span probe created streaming state — it must be stateless")
    q.stop()
    val got = spark.table("spanprobe")
    // sharp cases first: the self-repeating doc flags BOTH spans
    // (within-doc rule, no index hit), the fresh doc flags none
    assert(got.filter(col("doc_id") === 2000000L && col("dup") === 1)
      .count() == 2, "within-doc repeated span not flagged")
    assert(got.filter(col("doc_id") === 2000001L && col("dup") === 1)
      .count() == 0, "fresh doc spans flagged against nothing")
    // per-doc stats derived from the flags == absorbBatch's report on
    // the same batch against the same pre-absorb index
    val gotStats = got.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("dup")).as("n_dup_spans"))
    val want = SpanIndex.absorbBatch(spark, root,
      rows.toDF("doc_id", "text"), batchId = 0L)
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"))
    assert(gotStats.exceptAll(want).count() == 0 &&
      want.exceptAll(gotStats).count() == 0,
      "streaming span flags diverged from the batch report")
  }

  test("streaming semantic probe: stateless, equals the batch stored-index probe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.similarity.{Embeddings, VectorIndex}
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), Embeddings.asDouble(col("embedding")).as("v"))
      .localCheckpoint()
    val root = java.nio.file.Files.createTempDirectory("graft-semstream").toString
    VectorIndex.build(vecs, root)
    // planted verbatim copies: cosine with their originals is exactly
    // 1.0, so matches are guaranteed at any SF
    val batch = vecs.filter(pmod(col("vec_id"), lit(10)) === 3).limit(40)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("v"))
      .as[(Long, Seq[Double])].collect().toSeq
    val mem = MemoryStream[(Long, Seq[Double])]
    mem.addData(batch)
    val q = graft.streaming.DocsStream
      .probeSemantic(spark, mem.toDF().toDF("vec_id", "v"), root, tau = 0.95)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("semprobe").start()
    q.processAllAvailable()
    // a vector lives in ONE bucket — nothing to dedup, zero state
    assert(q.lastProgress == null || q.lastProgress.stateOperators.isEmpty,
      "semantic probe created streaming state — it must be stateless")
    q.stop()
    val got = spark.table("semprobe")
    // reference: the batch probe's vs-corpus pairs on the same
    // pre-absorb index (semProbeBatch absorbs, so it runs AFTER the
    // streaming probe; within-batch pairs are out of the probe's scope)
    val want = VectorIndex.semProbeBatch(spark, root,
        batch.toDF("vec_id", "v"), tau = 0.95, batchId = 0L)
      .filter(col("match_id") < 1000000L)
    assert(want.count() >= 40, "planted copies produced no matches")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "streaming semantic probe diverged from the batch stored-index probe")
  }

  test("stream -> vector-index loop: foreachBatch semantic absorb chains micro-batches; replay no-ops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.similarity.{Embeddings, VectorIndex}
    import graft.sources.Snapshots
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), Embeddings.asDouble(col("embedding")).as("v"))
      .localCheckpoint()
    val base = java.nio.file.Files.createTempDirectory("graft-semloop").toString
    val (root, mroot) = (s"$base/idx", s"$base/matches")
    VectorIndex.build(vecs, root)
    val slice = vecs.filter(pmod(col("vec_id"), lit(10)) === 4).limit(20)
      .as[(Long, Seq[Double])].collect().toSeq
    // micro-batch 0: copies of a corpus slice; micro-batch 1: copies of
    // BATCH 0's vectors — their cross-batch match is reachable only
    // through batch 0's absorbed rows
    val b0 = slice.map { case (id, v) => (id + 1000000L, v) }
    val b1 = slice.map { case (id, v) => (id + 2000000L, v) }
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.DocsStream.absorbSemantic(spark,
      mem.toDF().toDF("vec_id", "v"), root, mroot, s"$base/ckpt")
    mem.addData(b0); q.processAllAvailable()
    mem.addData(b1); q.processAllAvailable()
    q.stop()
    val landed = Snapshots.read(spark, mroot)
    // batch 0 matched its corpus originals
    assert(landed.filter(col("new_id") >= 1000000L && col("new_id") < 2000000L &&
      col("match_id") < 1000000L).count() >= 20,
      "micro-batch 0 pairs missing")
    // batch 1 matched batch 0 THROUGH the absorbed index (same vector,
    // cos exactly 1.0), proving cross-micro-batch chain visibility
    assert(landed.filter(col("new_id") >= 2000000L &&
      col("match_id") >= 1000000L && col("match_id") < 2000000L)
      .count() >= 20, "micro-batch 1 did not match micro-batch 0 through the index")
    // replayed micro-batch id: index AND matches no-op
    val (v1, v2) = (Snapshots.versions(VectorIndex.assignmentsRoot(root)),
      Snapshots.versions(mroot))
    val rep = VectorIndex.semProbeBatch(spark, root,
      b1.toDF("vec_id", "v"), tau = 0.95, batchId = 1L)
    Snapshots.commitAppend(rep, mroot, batchId = Some(1L))
    assert(Snapshots.versions(VectorIndex.assignmentsRoot(root)) == v1 &&
      Snapshots.versions(mroot) == v2,
      "replayed micro-batch re-appended")
  }

  test("stream -> span-index loop: foreachBatch absorb chains micro-batches; replay no-ops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.dedup.SpanIndex
    import graft.sources.Snapshots
    def doc(i: Int): String = (0 until 40).map(j => s"sl${i}t$j").mkString(" ")
    val corpus = Seq((1L, doc(1)), (2L, doc(2))).toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft-spanloop").toString
    val (root, statsRoot) = (s"$base/idx", s"$base/stats")
    SpanIndex.build(corpus, root)
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.DocsStream.absorbSpans(spark,
      mem.toDF().toDF("doc_id", "text"), root, statsRoot, s"$base/ckpt")
    // micro-batch 0: a copy of a corpus doc + a fresh doc
    mem.addData(Seq((100L, doc(3)), (101L, doc(1))))
    q.processAllAvailable()
    // micro-batch 1: a copy of batch 0's FRESH doc — fully duplicated
    // only through batch 0's absorbed spans
    mem.addData(Seq((200L, doc(3))))
    q.processAllAvailable()
    q.stop()
    val stats = Snapshots.read(spark, statsRoot)
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(stats(101L)._1 == stats(101L)._2,
      "corpus copy not fully duplicated in the landed report")
    assert(stats(100L)._2 == 0L, "fresh doc reported duplicated spans")
    assert(stats(200L)._1 == stats(200L)._2,
      "micro-batch 1 did not match micro-batch 0 through the absorbed index")
    // replayed micro-batch id: index AND stats no-op
    val (v1, v2) =
      (Snapshots.versions(SpanIndex.spansRoot(root)), Snapshots.versions(statsRoot))
    val rep = SpanIndex.absorbBatch(spark, root,
      Seq((200L, doc(3))).toDF("doc_id", "text"), batchId = 1L)
    Snapshots.commitAppend(rep, statsRoot, batchId = Some(1L))
    assert(Snapshots.versions(SpanIndex.spansRoot(root)) == v1 &&
      Snapshots.versions(statsRoot) == v2,
      "replayed micro-batch re-appended")
  }
}
