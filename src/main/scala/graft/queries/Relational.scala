package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{Cohort, Dedup}
import graft.functions.Mappings

/** Relational / ETL core operators (SURVEY §2 #1-23, first batch).
  *
  * Each query is a declarative DataFrame plan over the synthetic
  * tables plus a DuckDB oracle with identical column names. Floats are
  * rounded to 6 decimals on both sides so result hashes compare.
  */
object Relational {

  /** #1 projection + filter; both reach the parquet scan
    * (reference sql/mango_core.sql: project + WHERE app_name/date). */
  def selectFilter(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_quantity") > 45 && col("l_shipdate") < lit("1995-06-01").cast("timestamp"))
      .select(
        col("l_orderkey"),
        col("l_partkey"),
        col("l_quantity"),
        to_date(col("l_shipdate")).as("ship_date"))

  /** #2 CASE-based normalization, invalid values -> null
    * (reference sql/mango_core_normalized.sql). */
  def normalizeCase(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey"),
      when(col("o_orderstatus") === "O", "open")
        .when(col("o_orderstatus") === "F", "filled")
        .otherwise(lit(null).cast("string")).as("normalized_status"),
      when(
        col("o_orderdate").between(
          lit("1992-01-01").cast("timestamp"), lit("1998-12-31").cast("timestamp")),
        to_date(col("o_orderdate"))).otherwise(lit(null).cast("date"))
        .as("normalized_orderdate"))

  /** #3 grouped aggregation (TPC-H Q1 shape; the reference's daily agg
    * jobs, e.g. sql/mango_user_rfe_28d.sql rfe_partial). */
  def aggGroup(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 6).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** #4 conditional COUNT(DISTINCT CASE ...) — the retention-matrix
    * counting idiom (reference sql/mango_cohort_retained_users.sql),
    * planned as per-user flags then counts, not an `Expand`. */
  def countDistinctConditional(s: SparkSession, dir: String): DataFrame =
    Cohort.distinctUserCounts(
      Tables.events(s, dir).withColumn("day", to_date(col("ts"))), Seq("day"), "user_id")(
      "users" -> lit(true),
      "purchasers" -> (col("event_type") === "purchase"),
      "big_spenders" -> (col("value") > 100))

  /** #5 star join with broadcast dims
    * (reference sql/mango_revenue_google.sql vol⋈rps). */
  def joinBroadcast(s: SparkSession, dir: String): DataFrame = {
    val orders   = Tables.orders(s, dir)
    val customer = Tables.customer(s, dir)
    val nation   = Tables.nation(s, dir)
    val region   = Tables.region(s, dir)
    orders
      .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        round(sum(col("o_totalprice")), 2).as("revenue"),
        count(lit(1)).as("order_cnt"))
  }

  /** #10 DISTINCT projection (reference tasks/revenue.py:187
    * drop_duplicates). */
  def distinctDedup(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_mktsegment"), col("c_nationkey").cast("int").as("c_nationkey"))
      .distinct()

  /** #11 window-rank dedup: latest order per customer
    * (reference sql/mango_user_channels.sql rs CTE, r=1). */
  def windowRankDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.rankDedup(
      Tables.orders(s, dir),
      Seq("o_custkey"),
      Seq(col("o_orderdate").desc, col("o_orderkey").desc))
      .select(
        col("o_custkey"),
        col("o_orderkey").as("latest_orderkey"),
        to_date(col("o_orderdate")).as("latest_orderdate"),
        col("o_totalprice"))

  /** #20 CASE-chain market mapping + agg
    * (reference udf/map_markets.sql applied as in sql/mango_channel_roi.sql). */
  def caseMapping(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables.customer(s, dir)
    val nation   = Tables.nation(s, dir)
    customer
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .select(Mappings.market(col("n_name")).as("market"), col("c_acctbal"))
      .groupBy(col("market"))
      .agg(
        count(lit(1)).as("customers"),
        round(sum(col("c_acctbal")), 6).as("total_acctbal"))
  }

  /** #21 snapshot upsert: old∪new, drop duplicates, keep approved
    * (reference tasks/revenue.py do_updates_inserts + filter). */
  def upsertLatest(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val old    = orders.filter(col("o_orderdate") < lit("1997-06-01").cast("timestamp"))
    val fresh  = orders.filter(col("o_orderdate") >= lit("1996-06-01").cast("timestamp"))
    Dedup.snapshotMerge(old, fresh)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        to_date(col("o_orderdate")).as("o_date"))
  }

  /** #22 time-bucketed aggregation
    * (reference sql/revenue_search_events.sql TIMESTAMP_TRUNC day). */
  def dateTruncAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("users"),
        round(sum(col("value")), 6).as("total_value"))

  /** #18 JSON extraction from a string column + agg
    * (reference udf_js/json_extract_events.sql / JSON_EXTRACT in
    * sql/revenue_search_events.sql). */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("k")), 6).as("avg_k"),
        max(col("k")).as("max_k"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_select_filter"  -> selectFilter _,
    "q_normalize_case" -> normalizeCase _,
    "q_agg_group"      -> aggGroup _,
    "q_count_distinct" -> countDistinctConditional _,
    "q_join_broadcast" -> joinBroadcast _,
    "q_distinct_dedup" -> distinctDedup _,
    "q_window_rank_dedup" -> windowRankDedup _,
    "q_case_mapping"   -> caseMapping _,
    "q_upsert_latest"  -> upsertLatest _,
    "q_date_trunc_agg" -> dateTruncAgg _,
    "q_json_extract"   -> jsonExtract _
  )

  val oracles: Map[String, String] = Map(
    "q_select_filter" ->
      """SELECT l_orderkey, l_partkey, l_quantity, CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem WHERE l_quantity > 45 AND l_shipdate < TIMESTAMP '1995-06-01'""".stripMargin,
    "q_normalize_case" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderstatus = 'O' THEN 'open' WHEN o_orderstatus = 'F' THEN 'filled' ELSE NULL END AS normalized_status,
        |  CASE WHEN o_orderdate BETWEEN TIMESTAMP '1992-01-01' AND TIMESTAMP '1998-12-31' THEN CAST(o_orderdate AS DATE) ELSE NULL END AS normalized_orderdate
        |FROM orders""".stripMargin,
    "q_agg_group" ->
      """SELECT l_returnflag, l_linestatus,
        |  ROUND(SUM(l_quantity), 6) AS sum_qty,
        |  ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  ROUND(AVG(l_quantity), 6) AS avg_qty,
        |  ROUND(AVG(l_discount), 6) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_count_distinct" ->
      """SELECT CAST(ts AS DATE) AS day,
        |  COUNT(DISTINCT user_id) AS users,
        |  COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS purchasers,
        |  COUNT(DISTINCT CASE WHEN value > 100 THEN user_id END) AS big_spenders
        |FROM events GROUP BY 1""".stripMargin,
    "q_join_broadcast" ->
      """SELECT r_name, n_name,
        |  ROUND(SUM(o_totalprice), 2) AS revenue,
        |  COUNT(*) AS order_cnt
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "q_distinct_dedup" ->
      "SELECT DISTINCT c_mktsegment, CAST(c_nationkey AS INTEGER) AS c_nationkey FROM customer",
    "q_window_rank_dedup" ->
      """SELECT o_custkey, o_orderkey AS latest_orderkey,
        |  CAST(o_orderdate AS DATE) AS latest_orderdate, o_totalprice
        |FROM orders
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1""".stripMargin,
    "q_case_mapping" ->
      """SELECT CASE
        |    WHEN n_name IS NULL THEN 'Unknown'
        |    WHEN n_name IN ('NATION_0','NATION_1','NATION_2','NATION_3','NATION_4','NATION_5') THEN 'APAC'
        |    WHEN n_name IN ('NATION_6','NATION_7','NATION_8','NATION_9','NATION_10') THEN 'EMEA'
        |    WHEN n_name IN ('NATION_11','NATION_12','NATION_13','NATION_14','NATION_15') THEN 'AMER'
        |    WHEN n_name IN ('NATION_16','NATION_17','NATION_18','NATION_19','NATION_20') THEN 'AFRICA'
        |    ELSE 'Others' END AS market,
        |  COUNT(*) AS customers,
        |  ROUND(SUM(c_acctbal), 6) AS total_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin,
    "q_upsert_latest" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, CAST(o_orderdate AS DATE) AS o_date
        |FROM (
        |  SELECT DISTINCT * FROM (
        |    SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1997-06-01'
        |    UNION ALL
        |    SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1996-06-01'
        |  )
        |) WHERE o_orderstatus = 'F'""".stripMargin,
    "q_date_trunc_agg" ->
      """SELECT CAST(ts AS DATE) AS day, event_type,
        |  COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS users,
        |  ROUND(SUM(value), 6) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_json_extract" ->
      """SELECT event_type,
        |  COUNT(*) AS n,
        |  ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin
  )
}
