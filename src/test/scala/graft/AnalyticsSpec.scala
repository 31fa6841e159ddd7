package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class AnalyticsSpec extends AnyFunSuite {
  import TestSpark._

  test("user_channels: exactly one attribution row per user") {
    val df = SparkEntry.queries("q_user_channels")(spark, sf)
    assert(df.count() == df.select("user_id").distinct().count())
  }

  test("user_channels: users without tracker get unknown defaults") {
    val df = SparkEntry.queries("q_user_channels")(spark, sf)
    val unk = df.filter(col("tracker_token").isNull)
    assert(unk.filter(col("network_name") =!= "unknown").count() == 0)
  }

  test("user_rfe: stickiness bounded by 1") {
    val df = SparkEntry.queries("q_user_rfe")(spark, sf)
    assert(df.filter(col("stickiness") > 1.0).count() == 0)
  }

  test("user_rfe: incremental per-day partials merge to the exact direct result") {
    import java.nio.file.Files
    val events = graft.sources.Tables.events(spark, sf)
    // production shape: each day's partial is computed from ONLY that
    // day's raw slice and appended to a date-partitioned table — no day
    // ever sees another day's events
    val out = Files.createTempDirectory("graft-rfe-partials").toString
    val days = events.select(to_date(col("ts")).as("d")).distinct()
      .collect().map(_.getDate(0).toLocalDate.toString).sorted
    days.foreach { d =>
      val slice = events.filter(to_date(col("ts")) === lit(d))
      graft.operators.Rfe.dailyPartial(slice)
        .write.mode("append").parquet(out)
    }
    val merged = graft.operators.Rfe
      .merge(spark.read.parquet(out), queries.CohortQueries.AsOf)
    val direct = SparkEntry.queries("q_user_rfe")(spark, sf)
    val key = Seq("user_id", "event_type")
    assert(merged.count() == direct.count())
    // exact equality row-by-row (anti-join both ways is empty)
    assert(merged.join(direct, merged.columns.toSeq, "left_anti").count() == 0)
    assert(direct.join(merged, direct.columns.toSeq, "left_anti").count() == 0)
    assert(merged.select(key.map(col): _*).distinct().count() == merged.count())
  }

  test("rps_factor: rps proportional to cost_idx") {
    val rows = SparkEntry.queries("q_rps_factor")(spark, sf)
      .select(col("cost_idx"), col("rps")).collect()
    val ratios = rows.filter(_.getDouble(0) > 0).map(r => r.getDouble(1) / r.getDouble(0))
    assert(ratios.max - ratios.min < 1e-6)
  }

  test("feature_mapping: App branch counts all events") {
    val df = SparkEntry.queries("q_feature_mapping")(spark, sf)
    val appN = df.filter(col("feature_type") === "App").select(sum("n")).head.getLong(0)
    val base = Tables_events_count
    assert(appN == base)
  }

  private lazy val Tables_events_count: Long =
    graft.sources.Tables.events(spark, sf).count()

  test("daily pipeline composes all stage outputs") {
    val out = graft.pipelines.DailyPipeline.run(spark, sf)
    // the named list is what `Main --task daily` writes: all 9 tables,
    // each field exactly once
    assert(out.named.map(_._1) == Seq("occurrence", "retention", "active_users",
      "feature_active_users", "sessions", "user_rfe", "feature_roi",
      "user_channels", "revenue"))
    assert(out.named.map(_._2) == out.productIterator.toSeq)
    assert(out.occurrence.count() > 0)
    assert(out.retention.count() > 0)
    assert(out.featureRoi.count() > 0)
    assert(out.userChannels.count() > 0)
    assert(out.revenue.count() > 0)
  }
}
