package graft

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.SourceConfig
import graft.pipelines.Backfill
import graft.sources.{ApiSource, Extract, Tables, Views, Writers}

class SourcePipelineSpec extends AnyFunSuite {
  import TestSpark._

  private val apiSchema = StructType(Seq(
    StructField("id", LongType), StructField("country", StringType),
    StructField("v", DoubleType)))

  /** 2 pages per country, jsonl payloads keyed by (country, page). */
  private def fakeFetcher(counter: java.util.concurrent.atomic.AtomicInteger): ApiSource.Fetcher =
    (country, page) =>
      if (page > 2) None
      else {
        counter.incrementAndGet()
        Some((1 to 3).map(i =>
          s"""{"id": ${page * 10 + i}, "country": "$country", "v": ${i}.5}""")
          .mkString("\n"))
      }

  test("a source table rewritten in place is read with its new schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tables").toString
    Seq((1L, "a")).toDF("id", "name").write.parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir, "t").columns.toSeq == Seq("id", "name"))
    Seq((2L, "b", 3.5)).toDF("id", "name", "score")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val reread = Tables(spark, dir, "t")
    assert(reread.columns.toSeq == Seq("id", "name", "score"))
    assert(reread.collect().map(_.getDouble(2)).toSeq == Seq(3.5))
  }

  test("api source pages through iterators and caches raw files") {
    val raw = Files.createTempDirectory("graft-api").toString
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val cfg = SourceConfig("adnet", "api", iterator = Seq("TW", "ID"))
    val df = Extract(spark, cfg, apiSchema, rawDir = raw, fetcher = Some(fakeFetcher(n)))
    assert(n.get() == 4) // 2 countries x 2 pages
    assert(df.count() == 12)
    assert(df.filter(col("country") === "TW").count() == 6)

    // second run: full cache hit — the fetcher is never called
    val df2 = Extract(spark, cfg, apiSchema, rawDir = raw, fetcher = Some(fakeFetcher(n)))
    assert(n.get() == 4)
    assert(df2.count() == 12)

    // cache=false forces a refetch of this source's files
    val df3 = Extract(spark, cfg.copy(cache = false), apiSchema,
      rawDir = raw, fetcher = Some(fakeFetcher(n)))
    assert(n.get() == 8)
    assert(df3.count() == 12)
  }

  test("api sources sharing one rawDir stay isolated, even with prefix-overlapping names") {
    val raw = Files.createTempDirectory("graft-api-shared").toString
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    // "foo" is a filename-prefix of "foo-bar": a prefix-based cache
    // scheme would cross-contaminate reads and invalidation
    val cfgA = SourceConfig("foo", "api")
    val cfgB = SourceConfig("foo-bar", "api")
    val dfA = Extract(spark, cfgA, apiSchema, rawDir = raw, fetcher = Some(fakeFetcher(n)))
    val dfB = Extract(spark, cfgB, apiSchema, rawDir = raw, fetcher = Some(fakeFetcher(n)))
    assert(n.get() == 4) // 2 pages each
    assert(dfA.count() == 6 && dfB.count() == 6) // not 12: no cross-read
    // cache=false on "foo" must NOT evict "foo-bar"'s cache
    Extract(spark, cfgA.copy(cache = false), apiSchema,
      rawDir = raw, fetcher = Some(fakeFetcher(n)))
    assert(n.get() == 6) // only foo's 2 pages refetched
    val dfB2 = Extract(spark, cfgB, apiSchema, rawDir = raw, fetcher = Some(fakeFetcher(n)))
    assert(n.get() == 6) // foo-bar: full cache hit
    assert(dfB2.count() == 6)
  }

  test("upsert failure while staging leaves the target table intact") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-upsert-crash").toString
    val v1 = Seq(
      (1L, "2024-01-01", 10.0), (2L, "2024-01-01", 20.0), (3L, "2024-01-02", 30.0))
      .toDF("id", "d", "v")
    Writers.upsertDatePartitions(v1, out, "staging", "rev", "t", "d", Seq("id"))
    val before = spark.read.parquet(s"$out/staging-rev-t")
      .select("id", "v").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // incoming frame that BLOWS UP at execution time (assert_true
    // throws while the staged write job runs) — the merge must fail
    // before the target is touched
    val bad = Seq((2L, "2024-01-01", -1.0)).toDF("id", "d", "v")
      .withColumn("v", when(expr("assert_true(v > 0)").isNull, col("v")).otherwise(col("v")))
    intercept[Exception] {
      Writers.upsertDatePartitions(bad, out, "staging", "rev", "t", "d", Seq("id"))
    }
    val after = spark.read.parquet(s"$out/staging-rev-t")
      .select("id", "v").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(after == before) // byte-for-byte: no partition was truncated
    // the next good upsert clears the leftover staging prefix and lands
    val v2 = Seq((2L, "2024-01-01", 99.0)).toDF("id", "d", "v")
    Writers.upsertDatePartitions(v2, out, "staging", "rev", "t", "d", Seq("id"))
    val fixed = spark.read.parquet(s"$out/staging-rev-t")
      .select("id", "v").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fixed == Map(1L -> 10.0, 2L -> 99.0, 3L -> 30.0))
    assert(!Files.exists(java.nio.file.Paths.get(s"$out/staging-rev-t.staging")))
  }

  test("writeLatest on an empty frame writes an empty snapshot, not an NPE") {
    val out = Files.createTempDirectory("graft-latest-empty").toString
    val empty = Tables.events(spark, sf).filter(lit(false))
    Writers.writeLatest(empty, out, "staging", "events", "t", "ts")
    assert(spark.read.parquet(s"$out/staging-events-t-latest").count() == 0)
  }

  test("backfill over a date range is idempotent") {
    val out = Files.createTempDirectory("graft-backfill").toString
    val events = Tables.events(spark, sf)
    val dates = events.select(to_date(col("ts")).as("d")).distinct()
      .orderBy("d").collect().map(_.getDate(0).toLocalDate)
    val start = dates.head
    val end = start.plusDays(3)

    Backfill.run(events, "ts", start, end, out, "staging", "events", "t")
    val p = s"$out/staging-events-t"
    val first = spark.read.parquet(p)
    assert(first.select("__date").distinct().count() == 3)
    val firstRows = first.orderBy("event_id").collect().toSeq

    // re-run the same range: identical output (dynamic overwrite)
    Backfill.run(events, "ts", start, end, out, "staging", "events", "t")
    val second = spark.read.parquet(p).orderBy("event_id").collect().toSeq
    assert(firstRows == second)

    // per-day variant over the same dates adds/changes nothing
    Backfill.runPerDay(events, "ts", Backfill.dateRange(start, end),
      out, "staging", "events", "t")
    val third = spark.read.parquet(p).orderBy("event_id").collect().toSeq
    assert(firstRows == third)
  }

  test("backfill date helpers mirror the reference semantics") {
    val d = LocalDate.parse("2019-01-01")
    assert(Backfill.lookbackDate(d, 30) == LocalDate.parse("2018-12-02"))
    assert(Backfill.lookforwardDate(d, 30) == LocalDate.parse("2019-01-31"))
    assert(Backfill.dateRange(d, d.plusDays(2)) ==
      Seq(d, d.plusDays(1))) // half-open, like get_date_range
    assert(Backfill.backfillDates(d, Seq(1, 7)) ==
      Seq(d.minusDays(1), d.minusDays(7)))
  }

  test("view task publishes an optimizable temp view") {
    Views.publish("orders_v", Tables.orders(spark, sf))
    Views.publishSql(spark, "big_orders_v",
      "SELECT o_orderkey, o_totalprice FROM orders_v WHERE o_totalprice > 100000")
    val n = spark.table("big_orders_v").count()
    assert(n > 0)
    assert(n == Tables.orders(spark, sf).filter(col("o_totalprice") > 100000).count())
  }

  test("configured task runs the full config-driven E/T/L loop") {
    import graft.config.TaskConfig
    import graft.operators.ConfiguredTask
    val out = Files.createTempDirectory("graft-task").toString
    val cfg = TaskConfig.revenueExample(out)
    val ordersSchema = Tables.orders(spark, sf).schema
    val task = new ConfiguredTask(
      spark, cfg, baseDir = sf,
      schemas = Map("orders" -> ordersSchema),
      constRows = Map("rates" -> (Seq("USD" -> 1.0, "TWD" -> 0.032), ("currency", "rate"))),
      transforms = Map("orders" -> ((df: org.apache.spark.sql.DataFrame) =>
        df.filter(col("o_totalprice") > 0))))
    task.run("l")
    // orders written date-partitioned + latest snapshot; rates (load=false) not written
    val written = spark.read.parquet(s"$out/staging-revenue-orders")
    assert(written.count() == Tables.orders(spark, sf).count())
    assert(spark.read.parquet(s"$out/staging-revenue-orders-latest").count() > 0)
    assert(!Files.exists(java.nio.file.Paths.get(s"$out/staging-revenue-rates")))
  }

  test("adjust task stamps execution_date on the trackers feed (reference tasks/adjust.py)") {
    import graft.config.TaskConfig
    import graft.operators.{Adjust, ConfiguredTask}
    val out = Files.createTempDirectory("graft-adjust").toString
    // reference default run date: one day back from "now"
    val execDate = Adjust.defaultExecutionDate(LocalDate.parse("2024-03-15"))
    assert(execDate == LocalDate.parse("2024-03-14"))
    val cfg = TaskConfig.adjustExample(out)
    val trackersSchema = spark.read.parquet(s"$sf/nation.parquet").schema
    val task = new ConfiguredTask(
      spark, cfg, baseDir = sf,
      schemas = Map("adjust_trackers" -> trackersSchema),
      transforms = Map("adjust_trackers" -> Adjust.stampExecutionDate(execDate)))
    task.run("l")
    val written = spark.read.parquet(s"$out/staging-adjust-adjust_trackers")
    assert(written.count() == spark.read.parquet(s"$sf/nation.parquet").count())
    // every row carries the stamped timestamp, typed timestamp
    assert(written.schema("execution_date").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val stamped = written.select(col("execution_date").cast("date").cast("string"))
      .distinct().collect().map(_.getString(0)).toSeq
    assert(stamped == Seq("2024-03-14"))
    // latest snapshot written too (reference convert_latest_file)
    assert(spark.read.parquet(s"$out/staging-adjust-adjust_trackers-latest").count() > 0)
  }

  test("storage abstraction resolves local and remote prefixes uniformly") {
    import graft.sources.Storage
    assert(!Storage.isRemote("/data/out"))
    assert(!Storage.isRemote("file:///data/out"))
    assert(Storage.isRemote("gs://bucket/path"))
    assert(Storage.isRemote("s3a://bucket/path"))
    assert(Storage.resolve("gs://b/pre/", "staging", "revenue", "orders") ==
      "gs://b/pre/staging-revenue-orders")
    // round-trip through the same API on a local prefix
    val out = Files.createTempDirectory("graft-storage").toString
    Storage.writeParquet(Tables.events(spark, sf), out, "staging", "events", "t", "ts")
    assert(Storage.readParquet(spark, out, "staging", "events", "t").count() ==
      Tables.events(spark, sf).count())
  }

  test("upsert rewrites affected partitions only, incoming rows win") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-upsert").toString
    val v1 = Seq(
      (1L, "2024-01-01", 10.0), (2L, "2024-01-01", 20.0), (3L, "2024-01-02", 30.0))
      .toDF("id", "d", "v")
    Writers.upsertDatePartitions(v1, out, "staging", "rev", "t", "d", Seq("id"))
    // update id=2 (same date), insert id=4 on a NEW date; day 2 untouched
    val v2 = Seq((2L, "2024-01-01", 99.0), (4L, "2024-01-03", 40.0)).toDF("id", "d", "v")
    Writers.upsertDatePartitions(v2, out, "staging", "rev", "t", "d", Seq("id"))
    val rows = spark.read.parquet(s"$out/staging-rev-t")
      .select("id", "v").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows == Map(1L -> 10.0, 2L -> 99.0, 3L -> 30.0, 4L -> 40.0))
    // idempotent: same upsert again -> same table
    Writers.upsertDatePartitions(v2, out, "staging", "rev", "t", "d", Seq("id"))
    assert(spark.read.parquet(s"$out/staging-rev-t").count() == 4)
  }

  test("binaryFiles source: directory of media files feeds the distributed image decode") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    val dir = Files.createTempDirectory("graft-binfiles")
    def writePng(name: String, w: Int, h: Int, rgb: Int): Unit = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach(y => (0 until w).foreach(x => img.setRGB(x, y, rgb)))
      ImageIO.write(img, "png", dir.resolve(name).toFile)
    }
    writePng("red.png", 20, 10, 0xff0000)
    writePng("blue.png", 8, 8, 0x0000ff)
    Files.write(dir.resolve("notes.txt"), "not an image".getBytes("UTF-8"))

    // the glob filters at the LISTING: the txt file never becomes a row
    val bin = graft.sources.Readers.binaryFiles(spark, dir.toString, "*.png")
    assert(bin.count() == 2)
    assert(bin.select("doc_id").distinct().count() == 2, "path hash ids collide")
    val lens = bin.select("length", "media").collect()
    assert(lens.forall(r => r.getAs[Long]("length") == r.getAs[Array[Byte]]("media").length))

    val decoded = graft.multimodal.BinaryDocs.decodeImages(bin, maxW = 16, maxH = 16)
      .join(bin.select(col("doc_id"), col("path")), Seq("doc_id"))
      .collect().map(r => r.getAs[String]("path").split('/').last -> r).toMap
    assert(decoded("red.png").getAs[Boolean]("decoded"))
    assert(decoded("red.png").getAs[Long]("width") == 20)
    assert(decoded("red.png").getAs[Double]("mean_r") == 255.0)
    assert(decoded("blue.png").getAs[Double]("mean_b") == 255.0)
  }

  test("writeLatest snapshots only the max date in one derived pass") {
    val out = Files.createTempDirectory("graft-latest").toString
    val events = Tables.events(spark, sf)
    Writers.writeLatest(events, out, "staging", "events", "t", "ts")
    val latest = spark.read.parquet(s"$out/staging-events-t-latest")
    val maxDate = events.agg(max(to_date(col("ts")))).head.getDate(0)
    assert(latest.select(to_date(col("ts"))).distinct().head.getDate(0) == maxDate)
    assert(latest.count() ==
      events.filter(to_date(col("ts")) === lit(maxDate.toString)).count())
  }
}
