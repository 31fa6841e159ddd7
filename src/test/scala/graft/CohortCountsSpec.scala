package graft

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Cohort

/** `Cohort.retentionMatrix` and `Cohort.activeUserCount` count distinct
  * users as per-user flags, then counts. Here they are checked against
  * the multi-`countDistinct(when(cond, user))` formulation they
  * replaced, kept below as the reference, on random events with null
  * user ids, null dims and users active on several days of one week
  * or month. */
class CohortCountsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private object Reference {
    def retentionMatrix(occ: DataFrame, dims: Seq[String], userCol: String = "user_id"): DataFrame = {
      def at(c: String, n: Int): Column =
        countDistinct(when(col(c) === n, col(userCol))).as(s"${c.charAt(6)}${n}_retained")
      occ
        .groupBy((dims :+ "cohort_date").map(col): _*)
        .agg(
          countDistinct(when(col("occur_day") === 0, col(userCol))).as("daily_cohort_size"),
          at("occur_day", 1), at("occur_day", 3), at("occur_day", 7), at("occur_day", 14),
          countDistinct(when(col("occur_week") === 0, col(userCol))).as("weekly_cohort_size"),
          at("occur_week", 1), at("occur_week", 2), at("occur_week", 3),
          countDistinct(when(col("occur_month") === 0, col(userCol))).as("monthly_cohort_size"),
          at("occur_month", 1))
    }

    def activeUserCount(occ: DataFrame, asOf: String, dims: Seq[String], userCol: String = "user_id"): DataFrame = {
      val d = lit(asOf).cast("date")
      val u = col(userCol)
      val isNew = col("occur_day") === 0
      val inWau = col("occur_date") > date_sub(d, 7)
      occ.filter(col("occur_date") > date_sub(d, 28) && col("occur_date") <= d)
        .groupBy(dims.map(col): _*)
        .agg(
          countDistinct(when(col("occur_date") === d && isNew, u)).as("new_dau"),
          countDistinct(when(col("occur_date") === d, u)).as("dau"),
          countDistinct(when(inWau && isNew, u)).as("new_wau"),
          countDistinct(when(inWau, u)).as("wau"),
          countDistinct(when(isNew, u)).as("new_mau"),
          countDistinct(u).as("mau"))
        .filter(col("dau") > 0)
        .select((dims.map(col) :+ col("new_dau") :+ col("dau") :+ col("new_wau") :+
          col("wau") :+ col("new_mau") :+ col("mau")): _*)
    }
  }

  /** `n` events over 60 days from 2024-01-01: 40 users (about 1 in 10
    * events has a null user), 3 features plus null, so most users are
    * active on several days of one week and of one month; plus one
    * feature whose only user is null. */
  private def randomEvents(seed: Long, n: Int): DataFrame = {
    val r = new Random(seed)
    val rows = Seq.fill(n) {
      val user = if (r.nextInt(10) == 0) None else Some(r.nextInt(40).toLong)
      val feature = if (r.nextInt(8) == 0) None else Some(s"f${r.nextInt(3)}")
      val ts = java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(r.nextInt(60 * 24 * 60).toLong))
      (user, feature, ts)
    }
    // a feature seen only by null users: its retention row must stay,
    // with zero counts
    val nullOnly = (None, Some("null_users_only"),
      java.sql.Timestamp.valueOf("2024-01-30 10:00:00"))
    (rows :+ nullOnly).toDF("user_id", "feature", "ts")
  }

  private def sameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => f.name -> f.dataType) == want.schema.map(f => f.name -> f.dataType))
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(rows(got) == rows(want))
  }

  for (seed <- 1L to 3L) {
    test(s"per-user-flag counts equal the countDistinct reference (seed $seed)") {
      val events = randomEvents(seed, 400)
      val occ = Cohort.occurrence(events, "user_id", "ts")
      val occByFeature = Cohort.occurrence(events, "user_id", "ts", Seq("feature"))
      sameRows(Cohort.retentionMatrix(occ, Nil), Reference.retentionMatrix(occ, Nil))
      sameRows(Cohort.retentionMatrix(occByFeature, Seq("feature")),
        Reference.retentionMatrix(occByFeature, Seq("feature")))
      for (asOf <- Seq("2024-01-30", "2024-02-20")) {
        sameRows(Cohort.activeUserCount(occByFeature, asOf, Seq("feature")),
          Reference.activeUserCount(occByFeature, asOf, Seq("feature")))
        val scoped = occ.withColumn("scope", lit("all"))
        sameRows(Cohort.activeUserCount(scoped, asOf, Seq("scope")),
          Reference.activeUserCount(scoped, asOf, Seq("scope")))
      }
    }
  }
}
