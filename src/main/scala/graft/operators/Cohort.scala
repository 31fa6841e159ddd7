package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cohort / retention / active-user analytics.
  *
  * Re-expresses the reference's cohort DAG
  * (reference sql/mango_user_occurrence.sql,
  * sql/mango_cohort_retained_users.sql,
  * sql/mango_active_user_count.sql,
  * sql/mango_feature_active_user_count.sql) as composable
  * DataFrame→DataFrame operators.
  *
  * Scale notes: `occurrence` takes the distinct (dims, user, date)
  * rows, map-side combined, and gets the cohort date from a window min
  * over (dims, user), not a self-join, so its output is hash-
  * partitioned by (dims, user). The retention matrix and the active-
  * user counts reuse that partitioning. They never run a multi-
  * `countDistinct`, which Spark plans as an `Expand` copying every row
  * once per distinct column, plus an extra shuffle. Instead
  * [[distinctUserCounts]] first reduces to one row per (keys, user)
  * with a 0/1 flag per condition — a grouping that contains (dims,
  * user), so it runs inside the occurrence partitions with no exchange
  * — and then counts the flags per key: one shuffle of at most one row
  * per (keys, user).
  */
object Cohort {

  /** One row per (dims, user, active-date) with cohort_date and
    * occur_day/week/month derivation
    * (reference sql/mango_user_occurrence.sql). */
  def occurrence(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      dims: Seq[String] = Nil,
      maxDay: Int = 112): DataFrame = {
    val keyCols = (dims :+ userCol).map(col)
    val daily = events
      .select((dims.map(col) :+ col(userCol) :+ to_date(col(tsCol)).as("occur_date")): _*)
      .distinct()
    val w = Window.partitionBy(keyCols: _*)
    daily
      .withColumn("cohort_date", min(col("occur_date")).over(w))
      .withColumn("occur_day", datediff(col("occur_date"), col("cohort_date")).cast("long"))
      .filter(col("occur_day") >= 0 && col("occur_day") < maxDay)
      .withColumn("occur_week", floor(col("occur_day") / 7).cast("long"))
      .withColumn("occur_month", floor(col("occur_day") / 28).cast("long"))
  }

  /** Retention matrix over an occurrence frame: distinct users seen
    * exactly N days/weeks/months after their cohort date
    * (reference sql/mango_cohort_retained_users.sql). */
  def retentionMatrix(occ: DataFrame, dims: Seq[String], userCol: String = "user_id"): DataFrame = {
    def at(c: String, n: Int): (String, Column) = s"${c.charAt(6)}${n}_retained" -> (col(c) === n)
    distinctUserCounts(occ, dims :+ "cohort_date", userCol)(
      "daily_cohort_size" -> (col("occur_day") === 0),
      at("occur_day", 1), at("occur_day", 3), at("occur_day", 7), at("occur_day", 14),
      "weekly_cohort_size" -> (col("occur_week") === 0),
      at("occur_week", 1), at("occur_week", 2), at("occur_week", 3),
      "monthly_cohort_size" -> (col("occur_month") === 0),
      at("occur_month", 1))
  }

  /** Per key, the number of distinct non-null users with at least one
    * row meeting each condition: `keys`, then one count per named
    * condition, equal to `countDistinct(when(cond, user))` per key
    * (keys whose users are all null are kept, with zero counts). Two
    * aggregations instead of one with several distinct columns: one
    * row per (keys, user) with `max(when(cond && user IS NOT NULL, 1))`
    * per condition, then `count` of each flag per key. */
  def distinctUserCounts(df: DataFrame, keys: Seq[String], userCol: String)(
      conds: (String, Column)*): DataFrame = {
    val u = col(userCol)
    val flags = conds.map { case (name, c) => max(when(c && u.isNotNull, 1)).as(name) }
    val counts = conds.map { case (name, _) => count(col(name)).as(name) }
    df.groupBy((keys :+ userCol).map(col): _*).agg(flags.head, flags.tail: _*)
      .groupBy(keys.map(col): _*).agg(counts.head, counts.tail: _*)
  }

  /** DAU/WAU/MAU (+ new-user variants) as of a date, per dims
    * (reference sql/mango_active_user_count.sql: dau/wau/mau CTEs
    * left-joined on the dims). All six counts come from the same
    * occurrence rows in one [[distinctUserCounts]] pass. */
  def activeUserCount(occ: DataFrame, asOf: String, dims: Seq[String], userCol: String = "user_id"): DataFrame = {
    val d = lit(asOf).cast("date")
    val isNew = col("occur_day") === 0
    val inWau = col("occur_date") > date_sub(d, 7)
    // The reference computes dau/wau/mau as three scans LEFT JOINed on
    // the dims (sql/mango_active_user_count.sql). One pass of per-user
    // flags over the 28-day slice produces identical rows (dau>0 ⇒
    // wau,mau>0, so the join never actually nulls): the flags group by
    // (dims, user) inside the occurrence partitions, so the counts cost
    // one shuffle instead of three agg jobs + two joins, and no row is
    // expanded. The dau>0 filter reproduces the dau-driven join base
    // exactly.
    distinctUserCounts(
      occ.filter(col("occur_date") > date_sub(d, 28) && col("occur_date") <= d), dims, userCol)(
      "new_dau" -> (col("occur_date") === d && isNew),
      "dau" -> (col("occur_date") === d),
      "new_wau" -> (inWau && isNew),
      "wau" -> inWau,
      "new_mau" -> isNew,
      "mau" -> lit(true))
      .filter(col("dau") > 0)
  }
}
