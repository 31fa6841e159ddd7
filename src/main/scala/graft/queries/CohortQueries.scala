package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipelines.DailyPipeline

/** Cohort / retention / engagement analytics (SURVEY §2 #24-28).
  * The reference's domain core, re-keyed onto the `events` table
  * (user_id ≙ client_id, ts ≙ submission_timestamp). */
object CohortQueries {

  /** Last full day in the synthetic events table — the "execution
    * date" the reference passes as {start_date}. */
  val AsOf = "2024-01-30"

  // The five queries ARE DailyPipeline outputs: one definition, so
  // the oracle-gated query and the DAG table cannot drift apart.

  /** #24 per-user occurrence derivation
    * (reference sql/mango_user_occurrence.sql). */
  def userOccurrence(s: SparkSession, dir: String): DataFrame =
    DailyPipeline.run(s, dir).occurrence

  /** #25 retention matrix by cohort date
    * (reference sql/mango_cohort_retained_users.sql). */
  def cohortRetained(s: SparkSession, dir: String): DataFrame =
    DailyPipeline.run(s, dir).retention

  /** #26 DAU/WAU/MAU + new-user variants as of [[AsOf]]
    * (reference sql/mango_active_user_count.sql). */
  def activeUserCount(s: SparkSession, dir: String): DataFrame =
    DailyPipeline.run(s, dir).activeUsers

  /** #27 per-feature DAU/WAU/MAU (event_type ≙ feature)
    * (reference sql/mango_feature_active_user_count.sql). */
  def featureActiveUsers(s: SparkSession, dir: String): DataFrame =
    DailyPipeline.run(s, dir).featureActiveUsers

  /** #28 sessionization with 30-min idle cap
    * (reference sql/mango_user_rfe_daily_session.sql). */
  def sessionize(s: SparkSession, dir: String): DataFrame =
    DailyPipeline.run(s, dir).sessions

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_user_occurrence"      -> userOccurrence _,
    "q_cohort_retained"      -> cohortRetained _,
    "q_active_user_count"    -> activeUserCount _,
    "q_feature_active_users" -> featureActiveUsers _,
    "q_sessionize"           -> sessionize _
  )

  private val occCte =
    """WITH daily AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS occur_date FROM events),
      |occ0 AS (
      |  SELECT user_id, occur_date,
      |    MIN(occur_date) OVER (PARTITION BY user_id) AS cohort_date
      |  FROM daily),
      |occ AS (
      |  SELECT user_id, occur_date, cohort_date,
      |    CAST(date_diff('day', cohort_date, occur_date) AS BIGINT) AS occur_day,
      |    CAST(FLOOR(date_diff('day', cohort_date, occur_date) / 7.0) AS BIGINT) AS occur_week,
      |    CAST(FLOOR(date_diff('day', cohort_date, occur_date) / 28.0) AS BIGINT) AS occur_month
      |  FROM occ0
      |  WHERE date_diff('day', cohort_date, occur_date) BETWEEN 0 AND 111)
      |""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_user_occurrence" ->
      (occCte + "SELECT user_id, occur_date, cohort_date, occur_day, occur_week, occur_month FROM occ"),
    "q_cohort_retained" ->
      (occCte +
        """SELECT cohort_date,
          |  COUNT(DISTINCT CASE WHEN occur_day = 0 THEN user_id END) AS daily_cohort_size,
          |  COUNT(DISTINCT CASE WHEN occur_day = 1 THEN user_id END) AS d1_retained,
          |  COUNT(DISTINCT CASE WHEN occur_day = 3 THEN user_id END) AS d3_retained,
          |  COUNT(DISTINCT CASE WHEN occur_day = 7 THEN user_id END) AS d7_retained,
          |  COUNT(DISTINCT CASE WHEN occur_day = 14 THEN user_id END) AS d14_retained,
          |  COUNT(DISTINCT CASE WHEN occur_week = 0 THEN user_id END) AS weekly_cohort_size,
          |  COUNT(DISTINCT CASE WHEN occur_week = 1 THEN user_id END) AS w1_retained,
          |  COUNT(DISTINCT CASE WHEN occur_week = 2 THEN user_id END) AS w2_retained,
          |  COUNT(DISTINCT CASE WHEN occur_week = 3 THEN user_id END) AS w3_retained,
          |  COUNT(DISTINCT CASE WHEN occur_month = 0 THEN user_id END) AS monthly_cohort_size,
          |  COUNT(DISTINCT CASE WHEN occur_month = 1 THEN user_id END) AS m1_retained
          |FROM occ GROUP BY cohort_date""".stripMargin),
    "q_active_user_count" ->
      (occCte +
        """, o2 AS (SELECT 'all' AS scope, * FROM occ),
          |dau AS (
          |  SELECT scope,
          |    COUNT(DISTINCT CASE WHEN occur_day = 0 THEN user_id END) AS new_dau,
          |    COUNT(DISTINCT user_id) AS dau
          |  FROM o2 WHERE occur_date = DATE '2024-01-30' GROUP BY 1),
          |wau AS (
          |  SELECT scope,
          |    COUNT(DISTINCT CASE WHEN occur_day = 0 THEN user_id END) AS new_wau,
          |    COUNT(DISTINCT user_id) AS wau
          |  FROM o2 WHERE occur_date > DATE '2024-01-30' - 7 AND occur_date <= DATE '2024-01-30' GROUP BY 1),
          |mau AS (
          |  SELECT scope,
          |    COUNT(DISTINCT CASE WHEN occur_day = 0 THEN user_id END) AS new_mau,
          |    COUNT(DISTINCT user_id) AS mau
          |  FROM o2 WHERE occur_date > DATE '2024-01-30' - 28 AND occur_date <= DATE '2024-01-30' GROUP BY 1)
          |SELECT dau.scope, dau.new_dau, dau.dau, wau.new_wau, wau.wau, mau.new_mau, mau.mau
          |FROM dau LEFT JOIN wau USING (scope) LEFT JOIN mau USING (scope)""".stripMargin),
    "q_feature_active_users" ->
      ("""WITH daily AS (
         |  SELECT DISTINCT event_type, user_id, CAST(ts AS DATE) AS occur_date FROM events),
         |occ0 AS (
         |  SELECT event_type, user_id, occur_date,
         |    MIN(occur_date) OVER (PARTITION BY event_type, user_id) AS cohort_date
         |  FROM daily),
         |occ AS (
         |  SELECT event_type, user_id, occur_date,
         |    CAST(date_diff('day', cohort_date, occur_date) AS BIGINT) AS occur_day
         |  FROM occ0
         |  WHERE date_diff('day', cohort_date, occur_date) BETWEEN 0 AND 111),
         |dau AS (
         |  SELECT event_type,
         |    COUNT(DISTINCT CASE WHEN occur_day = 0 THEN user_id END) AS new_dau,
         |    COUNT(DISTINCT user_id) AS dau
         |  FROM occ WHERE occur_date = DATE '2024-01-30' GROUP BY 1),
         |wau AS (
         |  SELECT event_type,
         |    COUNT(DISTINCT CASE WHEN occur_day = 0 THEN user_id END) AS new_wau,
         |    COUNT(DISTINCT user_id) AS wau
         |  FROM occ WHERE occur_date > DATE '2024-01-30' - 7 AND occur_date <= DATE '2024-01-30' GROUP BY 1),
         |mau AS (
         |  SELECT event_type,
         |    COUNT(DISTINCT CASE WHEN occur_day = 0 THEN user_id END) AS new_mau,
         |    COUNT(DISTINCT user_id) AS mau
         |  FROM occ WHERE occur_date > DATE '2024-01-30' - 28 AND occur_date <= DATE '2024-01-30' GROUP BY 1)
         |SELECT dau.event_type, dau.new_dau, dau.dau, wau.new_wau, wau.wau, mau.new_mau, mau.mau
         |FROM dau LEFT JOIN wau USING (event_type) LEFT JOIN mau USING (event_type)""".stripMargin),
    "q_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS t,
        |    LEAD(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
        |      PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
        |      - epoch_us(CAST(ts AS TIMESTAMP)) AS gap_us
        |  FROM events)
        |SELECT user_id, CAST(t AS DATE) AS day,
        |  CAST(SUM(CASE WHEN gap_us > 1800000000 THEN 0 ELSE gap_us END) AS BIGINT) AS session_time_us,
        |  COUNT(*) AS n_events
        |FROM g GROUP BY 1, 2""".stripMargin
  )
}
