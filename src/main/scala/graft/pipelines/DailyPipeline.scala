package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Cohort, Sessionize}
import graft.queries.{Analytics, CohortQueries}
import graft.sources.Tables

/** The reference's daily DAG as one composed pipeline
  * (reference tasks/bigquery.py daily_run: core → events → feature
  * mapping → user_channels → cohorts → occurrence → retention →
  * active users → RFE → ROI → revenue, each a separate BigQuery job
  * writing a table).
  *
  * Spark-first: stages are lazy DataFrames composed in one session —
  * an orchestrator materializes whichever outputs it needs
  * (`.write.parquet`), and Catalyst sees through the whole chain.
  * Stage boundaries match the reference's table boundaries so a
  * reference user can materialize the same intermediate tables.
  */
object DailyPipeline {

  case class Outputs(
      occurrence: DataFrame,
      retention: DataFrame,
      activeUsers: DataFrame,
      featureActiveUsers: DataFrame,
      sessions: DataFrame,
      userRfe: DataFrame,
      featureRoi: DataFrame,
      userChannels: DataFrame,
      revenue: DataFrame) {
    /** Every output under its table name, in field order: the one list
      * an orchestrator iterates, so no output can be left out. */
    def named: Seq[(String, DataFrame)] = Seq(
      "occurrence" -> occurrence, "retention" -> retention,
      "active_users" -> activeUsers, "feature_active_users" -> featureActiveUsers,
      "sessions" -> sessions, "user_rfe" -> userRfe, "feature_roi" -> featureRoi,
      "user_channels" -> userChannels, "revenue" -> revenue)
  }

  def run(spark: SparkSession, dir: String, asOf: String = CohortQueries.AsOf): Outputs = {
    val events = Tables.events(spark, dir)
    val occ = Cohort.occurrence(events, "user_id", "ts")
    Outputs(
      occurrence = occ,
      retention = Cohort.retentionMatrix(occ, Nil),
      activeUsers = Cohort.activeUserCount(occ.withColumn("scope", lit("all")), asOf, Seq("scope")),
      featureActiveUsers = Cohort.activeUserCount(
        Cohort.occurrence(events, "user_id", "ts", Seq("event_type")), asOf, Seq("event_type")),
      sessions = Sessionize.dailySessionTime(
        events, Seq("user_id"), "ts", Seq(col("ts"), col("event_id"))),
      userRfe = Analytics.userRfe(spark, dir),
      featureRoi = Analytics.featureRoi(spark, dir),
      userChannels = Analytics.userChannels(spark, dir),
      revenue = Analytics.revenueJoin(spark, dir))
  }
}
