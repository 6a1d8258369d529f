package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Q, Tables}

/** The 12 BI analytics views (reference:
  * sql-scripts/snowflake/analytics_views.sql:9-375), re-expressed over the
  * driver's TPC-H-ish analogs (customer→DIM_USER, orders/lineitem→facts,
  * events→activity stream) and executed by Catalyst instead of Snowflake —
  * the whole warehouse tier collapses into Spark SQL (SURVEY.md §3.3).
  *
  * Each view is written in dialect-neutral ANSI SQL wherever possible so
  * the same text runs on Spark and on the DuckDB oracle; the two places
  * where date arithmetic differs (month diff, day diff) carry a per-engine
  * variant. Floating sums go through the DECIMAL-accumulator pattern
  * (see graft.functions.Det) for cross-engine bit-identity.
  */
object Views {

  private val viewTables =
    Seq("events", "orders", "customer", "lineitem", "part", "nation", "region")

  /** Spark-side dialect rewrite: every `sqlDsum` emission —
    * `cast(sum(cast((e) as decimal(38,6))) as double)` — becomes the
    * native 128-bit accumulator `dsum6(e)` ([[graft.plans.Dsum6]],
    * bit-identical on these domain-bounded columns, and allocation-free
    * per row where the decimal Sum adds a BigDecimal). Only the EXECUTED
    * text is rewritten; the oracle strings keep the decimal form
    * DuckDB reproduces. The match is anchored on sqlDsum's exact
    * prefix/suffix, so a view that stops using the helper simply stops
    * matching — the fallback is the decimal path, never a wrong
    * result. */
  private def sparkDialect(sql: String): String = {
    val pre = "cast(sum(cast(("
    val suf = ") as decimal(38,6))) as double)"
    val sb = new StringBuilder
    var i = 0
    var p = sql.indexOf(pre, i)
    while (p >= 0) {
      val s = sql.indexOf(suf, p)
      require(s > p, s"unterminated dsum pattern in view SQL at offset $p")
      sb.append(sql.substring(i, p)).append("dsum6(")
        .append(sql.substring(p + pre.length, s)).append(")")
      i = s + suf.length
      p = sql.indexOf(pre, i)
    }
    sb.append(sql.substring(i)).toString
  }

  private def runSql(sql: String): (SparkSession, String) => DataFrame = { (spark, sfDir) =>
    viewTables.foreach { t =>
      Tables.table(spark, sfDir, t).createOrReplaceTempView(t)
    }
    spark.sql(sparkDialect(sql))
  }

  private def dsum(e: String) = graft.functions.Det.sqlDsum(e)

  /** V_DAILY_ACTIVE_USERS (analytics_views.sql:9-24) — A8/A10. */
  private val v01 =
    s"""SELECT cast(ts as date) AS day,
       | count(DISTINCT user_id) AS dau,
       | count(*) AS total_events,
       | cast(count(*) as double)/count(DISTINCT user_id) AS events_per_user,
       | cast(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) as bigint) AS purchases,
       | cast(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) as double)/count(*) AS purchase_rate
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** V_USER_COHORTS (analytics_views.sql:27-60) — J3/J5/A10 + W6
    * first_value. Month-diff syntax differs per engine. */
  private def v02(monthsSince: String) =
    s"""WITH om AS (SELECT o_custkey, cast(date_trunc('month', o_orderdate) as date) AS order_month, o_totalprice FROM orders),
       |cohorts AS (SELECT o_custkey, min(order_month) AS cohort_month FROM om GROUP BY 1),
       |activity AS (
       |  SELECT cohort_month, $monthsSince AS months_since,
       |         count(DISTINCT om.o_custkey) AS active_customers,
       |         ${dsum("o_totalprice")} AS revenue
       |  FROM om JOIN cohorts ON om.o_custkey = cohorts.o_custkey GROUP BY 1,2)
       |SELECT cohort_month, months_since, active_customers, revenue,
       | first_value(active_customers) OVER (PARTITION BY cohort_month ORDER BY months_since) AS cohort_size,
       | cast(active_customers*100 as double)
       |   / first_value(active_customers) OVER (PARTITION BY cohort_month ORDER BY months_since) AS retention_pct
       |FROM activity ORDER BY cohort_month, months_since""".stripMargin
  private val v02Spark = v02("cast(months_between(order_month, cohort_month) as bigint)")
  private val v02Duck  = v02("cast(datediff('month', cohort_month, order_month) as bigint)")

  /** V_USER_SEGMENTS (analytics_views.sql:63-102) — CASE segmentation over
    * per-customer spend. */
  private val v03 =
    s"""WITH spend AS (
       |  SELECT c_custkey, coalesce(cnt, 0) AS order_cnt, coalesce(total, cast(0.0 as double)) AS total_spend
       |  FROM customer LEFT JOIN (
       |    SELECT o_custkey, count(*) AS cnt, ${dsum("o_totalprice")} AS total
       |    FROM orders GROUP BY 1) o ON c_custkey = o_custkey),
       |seg AS (SELECT *,
       |  CASE WHEN total_spend >= 3000000 THEN 'VIP'
       |       WHEN total_spend >= 1500000 THEN 'HIGH'
       |       WHEN total_spend >= 500000 THEN 'MEDIUM'
       |       WHEN total_spend > 0 THEN 'LOW'
       |       ELSE 'INACTIVE' END AS segment FROM spend)
       |SELECT segment, count(*) AS customers,
       | ${dsum("total_spend")} AS segment_revenue,
       | cast(sum(order_cnt) as bigint) AS orders,
       | cast(sum(order_cnt) as double)/count(*) AS avg_orders_per_customer
       |FROM seg GROUP BY 1 ORDER BY 1""".stripMargin

  /** V_TOP_CONTENT (analytics_views.sql:109-128) — W3 rank over aggregate.
    * The Spark variant pre-reduces with a TakeOrdered threshold
    * (rank <= k ⇔ revenue >= k-th largest, ties included) so the global
    * rank window sorts only the survivors instead of every part key on one
    * reducer — same output; the DuckDB oracle keeps the naive shape. */
  // Aggregate at lineitem grain BY THE INT KEY ONLY — shuffling 600k+
  // rows keyed by (int, string, string) to group at part grain drags two
  // dim strings through the exchange for nothing (p_partkey is the part
  // PK, so name/brand are functionally dependent and can be attached
  // later). Cached: both the threshold pass and the rank pass read it.
  // The FK guard sits AFTER the aggregation, not on the fact: a fact key
  // absent from the dim would otherwise take a rank slot and then drop
  // out of the final inner probe, gapping the ranks. Semi-joining the
  // per-key AGGREGATE against the dim keys costs a #keys-sized key-only
  // shuffle (vs dragging every fact row through a fact⋈dim semi join),
  // and makes the threshold shape safe on data without TPC-H's FK
  // contract.
  private val v04AggSpark =
    s"""WITH a AS (
       |  SELECT l_partkey,
       |   ${dsum("l_extendedprice*(1-l_discount)")} AS revenue,
       |   ${dsum("l_quantity")} AS total_qty,
       |   count(*) AS order_lines
       |  FROM lineitem GROUP BY 1)
       |SELECT a.* FROM a LEFT SEMI JOIN part ON l_partkey = p_partkey""".stripMargin
  // The part dim's payload columns are joined AFTER the threshold + rank
  // prune: only the ~k surviving keys ever fetch name/brand — at 100 TB
  // that's a 20-row broadcast probe into the dim instead of a fact⋈dim
  // join.
  private val v04RestSpark =
    s"""WITH v AS (SELECT min(revenue) AS vk FROM (SELECT revenue FROM v04_agg ORDER BY revenue DESC LIMIT 20)),
       |top AS (SELECT v04_agg.* FROM v04_agg CROSS JOIN v WHERE revenue >= vk),
       |ranked AS (SELECT *, rank() OVER (ORDER BY revenue DESC) AS rev_rank FROM top)
       |SELECT rev_rank, p_partkey, p_name, p_brand, revenue, total_qty, order_lines
       |FROM ranked JOIN part ON l_partkey = p_partkey
       |WHERE rev_rank <= 20 ORDER BY rev_rank, p_partkey""".stripMargin

  /** v04 runner: persists the shared per-key revenue aggregate so the
    * threshold pass and the rank pass compute it once (CacheScope
    * releases it after the harness action). */
  private def runV04: (SparkSession, String) => DataFrame = { (spark, sfDir) =>
    viewTables.foreach(t => Tables.table(spark, sfDir, t).createOrReplaceTempView(t))
    val agg = graft.CacheScope.manage(spark.sql(sparkDialect(v04AggSpark)).persist())
    agg.createOrReplaceTempView("v04_agg")
    spark.sql(sparkDialect(v04RestSpark))
  }
  private val v04Duck =
    s"""SELECT rev_rank, p_partkey, p_name, p_brand, revenue, total_qty, order_lines
       |FROM (
       | SELECT p_partkey, p_name, p_brand,
       |  ${dsum("l_extendedprice*(1-l_discount)")} AS revenue,
       |  ${dsum("l_quantity")} AS total_qty,
       |  count(*) AS order_lines,
       |  rank() OVER (ORDER BY ${dsum("l_extendedprice*(1-l_discount)")} DESC) AS rev_rank
       | FROM lineitem JOIN part ON l_partkey = p_partkey
       | GROUP BY 1,2,3)
       |WHERE rev_rank <= 20 ORDER BY rev_rank, p_partkey""".stripMargin

  /** V_CONTENT_TRENDS (analytics_views.sql:131-146) — weekly trend. */
  private val v05 =
    s"""SELECT p_brand, cast(date_trunc('week', l_shipdate) as date) AS week,
       | count(*) AS lines,
       | ${dsum("l_quantity")} AS qty,
       | ${dsum("l_extendedprice")} AS revenue
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY 1,2 ORDER BY 1,2""".stripMargin

  /** V_CONTENT_DROPOFF (analytics_views.sql:149-181) — A11 histogram +
    * W4 ratio-to-total. */
  private val v06 =
    """WITH b AS (
      | SELECT l_returnflag,
      |  CASE WHEN l_quantity < 10 THEN '00-09' WHEN l_quantity < 20 THEN '10-19'
      |       WHEN l_quantity < 30 THEN '20-29' WHEN l_quantity < 40 THEN '30-39'
      |       ELSE '40+' END AS qty_bucket,
      |  count(*) AS cnt
      | FROM lineitem GROUP BY 1,2)
      |SELECT l_returnflag, qty_bucket, cnt,
      | cast(cnt*100 as double)/sum(cnt) OVER (PARTITION BY l_returnflag) AS pct_of_flag
      |FROM b ORDER BY 1,2""".stripMargin

  /** V_DEVICE_ANALYTICS (analytics_views.sql:188-205) — A9 rates. */
  private val v07 =
    s"""SELECT event_type,
       | count(*) AS n_events,
       | count(DISTINCT user_id) AS uniq_users,
       | ${dsum("value")}/count(value) AS avg_value,
       | cast(sum(CASE WHEN value > 150 THEN 1 ELSE 0 END)*100 as double)/count(*) AS high_value_pct
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** V_PLATFORM_QUALITY (analytics_views.sql:208-224). */
  private val v08 =
    s"""SELECT o_orderpriority,
       | count(*) AS orders,
       | ${dsum("o_totalprice")} AS revenue,
       | ${dsum("o_totalprice")}/count(o_totalprice) AS avg_order_value,
       | cast(sum(CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END)*100 as double)/count(*) AS fulfilled_pct
       |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** V_GEOGRAPHIC_ANALYTICS (analytics_views.sql:231-249) — J2/J6/A8. */
  private val v09 =
    s"""SELECT r_name, n_name,
       | count(DISTINCT c_custkey) AS customers,
       | count(DISTINCT o_orderkey) AS orders,
       | ${dsum("o_totalprice")} AS revenue,
       | ${dsum("o_totalprice")}/count(DISTINCT c_custkey) AS revenue_per_customer
       |FROM customer
       | JOIN nation ON c_nationkey = n_nationkey
       | JOIN region ON n_regionkey = r_regionkey
       | LEFT JOIN orders ON o_custkey = c_custkey
       |GROUP BY 1,2 ORDER BY 1,2""".stripMargin

  /** V_EXECUTIVE_KPIS (analytics_views.sql:256-295) — J4 cross join +
    * growth percentages. */
  private val v10 =
    s"""WITH cur AS (
       |  SELECT ${dsum("o_totalprice")} AS revenue, count(*) AS orders, count(DISTINCT o_custkey) AS buyers
       |  FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01' AND o_orderdate < TIMESTAMP '2001-07-01'),
       |prev AS (
       |  SELECT ${dsum("o_totalprice")} AS revenue, count(*) AS orders, count(DISTINCT o_custkey) AS buyers
       |  FROM orders WHERE o_orderdate >= TIMESTAMP '2000-07-01' AND o_orderdate < TIMESTAMP '2001-01-01')
       |SELECT cur.revenue AS cur_revenue, prev.revenue AS prev_revenue,
       | (cur.revenue - prev.revenue)/prev.revenue*cast(100.0 as double) AS revenue_growth_pct,
       | cur.orders AS cur_orders, prev.orders AS prev_orders,
       | cast(cur.orders - prev.orders as double)/prev.orders*cast(100.0 as double) AS order_growth_pct,
       | cur.buyers AS cur_buyers, prev.buyers AS prev_buyers,
       | cur.revenue/cur.orders AS cur_aov
       |FROM cur CROSS JOIN prev""".stripMargin

  /** V_MRR_ANALYSIS (analytics_views.sql:298-330) — W5 LAG MoM growth. */
  private val v11 =
    s"""WITH monthly AS (
       | SELECT c_mktsegment, cast(date_trunc('month', o_orderdate) as date) AS month,
       |  ${dsum("o_totalprice")} AS mrr
       | FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1,2)
       |SELECT c_mktsegment, month, mrr,
       | lag(mrr,1) OVER (PARTITION BY c_mktsegment ORDER BY month) AS prev_mrr,
       | (mrr - lag(mrr,1) OVER (PARTITION BY c_mktsegment ORDER BY month))
       |   / lag(mrr,1) OVER (PARTITION BY c_mktsegment ORDER BY month) * cast(100.0 as double) AS mom_growth_pct
       |FROM monthly ORDER BY 1,2""".stripMargin

  /** V_CHURN_RISK (analytics_views.sql:333-375) — J3 + risk CASE. The
    * "now" is pinned to DATE '2002-01-01' (just past the fixture's last
    * order) so results are deterministic. Day-diff syntax differs. */
  private def v12(daysSince: String) =
    s"""WITH lastord AS (
       | SELECT o_custkey, max(cast(o_orderdate as date)) AS last_order_date, count(*) AS orders,
       |  ${dsum("o_totalprice")} AS spend
       | FROM orders GROUP BY 1),
       |flags AS (
       | SELECT c_custkey, coalesce(orders, 0) AS orders, coalesce(spend, cast(0.0 as double)) AS spend,
       |  $daysSince AS days_since_last
       | FROM customer LEFT JOIN lastord ON c_custkey = o_custkey)
       |SELECT CASE WHEN days_since_last IS NULL THEN 'never_ordered'
       |            WHEN days_since_last > 365 THEN 'high_risk'
       |            WHEN days_since_last > 180 THEN 'medium_risk'
       |            ELSE 'active' END AS churn_risk,
       | count(*) AS customers,
       | ${dsum("spend")} AS revenue_at_risk,
       | cast(sum(orders) as bigint) AS orders
       |FROM flags GROUP BY 1 ORDER BY 1""".stripMargin
  private val v12Spark = v12("datediff(DATE '2002-01-01', last_order_date)")
  private val v12Duck  = v12("datediff('day', last_order_date, DATE '2002-01-01')")

  // ---- registry ----

  def all: Seq[Q] = Seq(
    Q("v01_daily_active_users", runSql(v01), Some(v01)),
    Q("v02_user_cohorts", runSql(v02Spark), Some(v02Duck)),
    Q("v03_user_segments", runSql(v03), Some(v03)),
    Q("v04_top_content", runV04, Some(v04Duck)),
    Q("v05_content_trends", runSql(v05), Some(v05)),
    Q("v06_content_dropoff", runSql(v06), Some(v06)),
    Q("v07_device_analytics", runSql(v07), Some(v07)),
    Q("v08_platform_quality", runSql(v08), Some(v08)),
    Q("v09_geographic", runSql(v09), Some(v09)),
    Q("v10_executive_kpis", runSql(v10), Some(v10)),
    Q("v11_mrr_analysis", runSql(v11), Some(v11)),
    Q("v12_churn_risk", runSql(v12Spark), Some(v12Duck)))
}
