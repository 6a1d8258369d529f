package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}
import graft.{Q, Tables}
import graft.etl.Ingest
import graft.functions.Det._

/** Scalar/function-surface queries rounding out SURVEY §2: JSON
  * star-expansion with partition-column derivation, full summary stats
  * (incl. exact median and a determinism-safe stddev), the complete
  * analytic-window function family (W6), and gap sessionization.
  */
object SurfaceQueries {

  /** q31 — P1/P3: from_json star-expand of the raw payload + derived
    * partition columns (reference: real_time_streaming.py:155-179,
    * etl_framework.py:286-291). */
  def jsonStarExpand(events: DataFrame): DataFrame = {
    val schema = StructType(Seq(StructField("k", LongType)))
    val parsed = Ingest.parseJson(events, "props", schema,
      keep = Seq("event_id", "ts", "user_id", "event_type", "value"))
    Ingest.withPartitionCols(parsed, "ts")
      .groupBy("year", "month")
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        countDistinct(col("user_id")).as("uniq_users"))
      .orderBy("year", "month")
  }

  private val q31Sql =
    """SELECT cast(year(ts) as int) AS year, cast(month(ts) as int) AS month,
      | count(*) AS n,
      | cast(sum(cast(props->>'k' as bigint)) as bigint) AS sum_k,
      | count(DISTINCT user_id) AS uniq_users
      |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin

  /** q32 — A13: summary statistics incl. exact interpolated median and a
    * stddev derived from decimal-exact sums (sqrt((Σx² − Σx²/n)/(n−1)))
    * so both engines compute identical IEEE arithmetic. */
  def summaryStats(events: DataFrame): DataFrame =
    events.groupBy("event_type")
      .agg(
        count(col("value")).as("n"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"),
        davg(col("value")).as("avg_v"),
        expr("percentile(value, 0.5)").as("median_v"),
        dsum(col("value") * col("value")).as("sumsq"),
        dsum(col("value")).as("s"))
      .withColumn("sd_v",
        sqrt((col("sumsq") - col("s") * col("s") / col("n")) / (col("n") - 1)))
      .drop("sumsq", "s")
      .orderBy("event_type")

  private val q32Sql =
    s"""SELECT event_type, n, min_v, max_v, avg_v, median_v,
       | sqrt((sumsq - s*s/n)/(n-1)) AS sd_v
       |FROM (SELECT event_type,
       |        count(value) AS n,
       |        min(value) AS min_v,
       |        max(value) AS max_v,
       |        ${sqlDavg("value")} AS avg_v,
       |        quantile_cont(value, 0.5) AS median_v,
       |        ${sqlDsum("value*value")} AS sumsq,
       |        ${sqlDsum("value")} AS s
       |      FROM events GROUP BY 1) ORDER BY event_type""".stripMargin

  /** q54 — grouped Pearson correlation and covariance, bit-exact across
    * engines (completes the statistical family next to q32). The
    * built-in `corr`/`covar_samp` accumulate co-moments in doubles —
    * ORDER-dependent across partitions, so they can never hash-match an
    * oracle. Even decimal-summing the raw double products isn't enough:
    * a squared price (~1e10) has double ULP ≈ 2e-6, the same order as a
    * (38,6) cast's resolution, so engines can round the cast apart.
    * The cure is exact integers: quantities are integral and prices have
    * two decimals, so cents-scaling makes every product and sum EXACT
    * (decimal(38,0) — no fractional rounding anywhere); the one
    * int→double conversion per sum rounds nearest-even identically in
    * both engines, and the closed-form tail is IEEE-identical. Scaling
    * cancels in corr; covar unscales by the constant at the end. */
  def correlationStats(lineitem: DataFrame): DataFrame = {
    val exact = DecimalType(38, 0)
    val q = col("l_quantity").cast("long")
    val p = round(col("l_extendedprice") * 100).cast("long") // exact cents
    lineitem.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(q.cast(exact)).cast("double").as("sx"),
        sum(p.cast(exact)).cast("double").as("sy"),
        sum((q * q).cast(exact)).cast("double").as("sxx"),
        sum((p * p).cast(exact)).cast("double").as("syy"),
        sum((q * p).cast(exact)).cast("double").as("sxy"))
      .withColumn("covar_samp",
        (col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1) / 100.0)
      .withColumn("corr_xy",
        (col("n") * col("sxy") - col("sx") * col("sy")) /
          nullif(sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy")), lit(0.0)))
      .select("l_returnflag", "n", "covar_samp", "corr_xy")
      .orderBy("l_returnflag")
  }

  private val q54Sql =
    """SELECT l_returnflag, n,
      | (sxy - sx*sy/n) / (n-1) / 100.0 AS covar_samp,
      | (n*sxy - sx*sy) / nullif(sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy), 0.0) AS corr_xy
      |FROM (SELECT l_returnflag, count(*) AS n,
      |        cast(sum(cast(q as decimal(38,0))) as double) AS sx,
      |        cast(sum(cast(p as decimal(38,0))) as double) AS sy,
      |        cast(sum(cast(q*q as decimal(38,0))) as double) AS sxx,
      |        cast(sum(cast(p*p as decimal(38,0))) as double) AS syy,
      |        cast(sum(cast(q*p as decimal(38,0))) as double) AS sxy
      |      FROM (SELECT l_returnflag,
      |              cast(l_quantity as bigint) AS q,
      |              cast(round(l_extendedprice*100) as bigint) AS p
      |            FROM lineitem)
      |      GROUP BY 1)
      |ORDER BY 1""".stripMargin

  /** q33 — W6: the full analytic window family over daily counts:
    * lag/lead/dense_rank/first_value/last_value with explicit frames
    * (reference: etl_framework.py:29, snowflake_pipeline.py:24 imports). */
  def windowSuite(events: DataFrame): DataFrame = {
    val daily = events.withColumn("day", to_date(col("ts")))
      .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
    val byDay = Window.partitionBy("event_type").orderBy("day")
    val full = byDay.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    daily.select(
        col("event_type"), col("day"), col("cnt"),
        lag(col("cnt"), 1).over(byDay).as("prev_cnt"),
        lead(col("cnt"), 1).over(byDay).as("next_cnt"),
        dense_rank().over(Window.partitionBy("event_type").orderBy(col("cnt").desc)).as("cnt_rank"),
        first_value(col("cnt")).over(byDay).as("first_cnt"),
        last_value(col("cnt")).over(full).as("last_cnt"))
      .orderBy("event_type", "day")
  }

  private val q33Sql =
    """SELECT event_type, day, cnt,
      | lag(cnt, 1) OVER w AS prev_cnt,
      | lead(cnt, 1) OVER w AS next_cnt,
      | dense_rank() OVER (PARTITION BY event_type ORDER BY cnt DESC) AS cnt_rank,
      | first_value(cnt) OVER w AS first_cnt,
      | last_value(cnt) OVER (PARTITION BY event_type ORDER BY day
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_cnt
      |FROM (SELECT event_type, cast(ts as date) AS day, count(*) AS cnt
      |      FROM events GROUP BY 1,2)
      |WINDOW w AS (PARTITION BY event_type ORDER BY day)
      |ORDER BY event_type, day""".stripMargin

  /** q34 — gap sessionization via gaps-and-islands (identical formulation
    * on both engines; 2-hour gap; session end = last event + gap,
    * matching `session_window` semantics). */
  def sessionizeGaps(events: DataFrame): DataFrame = {
    val gap = 7200L
    val w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    events
      .withColumn("ts_s", unix_timestamp(col("ts")))
      .withColumn("prev_s", lag(col("ts_s"), 1).over(w))
      .withColumn("brk",
        when(col("prev_s").isNull || col("ts_s") - col("prev_s") > gap, 1).otherwise(0))
      .withColumn("sid", sum(col("brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(
        min(col("ts_s")).as("session_start_s"),
        (max(col("ts_s")) + gap).as("session_end_s"),
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("total_value"))
      .orderBy("user_id", "sid")
  }

  private val q34Sql =
    s"""WITH e AS (SELECT user_id, event_id, cast(floor(epoch(ts)) as bigint) AS ts_s, value FROM events),
       |s AS (SELECT *, CASE WHEN lag(ts_s) OVER w IS NULL OR ts_s - lag(ts_s) OVER w > 7200
       |                THEN 1 ELSE 0 END AS brk
       |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
       |s2 AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
       |                                ROWS UNBOUNDED PRECEDING) AS sid FROM s)
       |SELECT user_id, cast(sid as bigint) AS sid,
       | min(ts_s) AS session_start_s,
       | max(ts_s) + 7200 AS session_end_s,
       | count(*) AS n_events,
       | ${sqlDsum("value")} AS total_value
       |FROM s2 GROUP BY 1,2 ORDER BY 1,2""".stripMargin

  /** q35 — the built-in `session_window` path. Its oracle is the
    * gaps-and-islands formulation (q34's CTE) projected without the
    * island id — DuckDB has no session windows, but the two
    * formulations are provably the same partition of events, which this
    * oracle (and SessionizeSpec's q35≡q34 assertion) checks. */
  def sessionWindow(events: DataFrame): DataFrame =
    graft.streaming.Sessionize.sessionWindowRollup(events, "2 hours")

  private[graft] val q35Sql =
    s"""WITH e AS (SELECT user_id, event_id, cast(floor(epoch(ts)) as bigint) AS ts_s, value FROM events),
       |s AS (SELECT *, CASE WHEN lag(ts_s) OVER w IS NULL OR ts_s - lag(ts_s) OVER w > 7200
       |                THEN 1 ELSE 0 END AS brk
       |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
       |s2 AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
       |                                ROWS UNBOUNDED PRECEDING) AS sid FROM s)
       |SELECT user_id,
       | min(ts_s) AS session_start_s,
       | max(ts_s) + 7200 AS session_end_s,
       | count(*) AS n_events,
       | ${sqlDsum("value")} AS total_value
       |FROM s2 GROUP BY user_id, sid ORDER BY 1, 2""".stripMargin

  /** q36 — the medallion gold layer as a query: raw → bronze
    * (validate/dedup) → gold daily user metrics with the collect_set
    * columns (reference: delta_setup.py:366-386). */
  def goldDailyUser(events: DataFrame): DataFrame = {
    val (bronze, _) = graft.etl.Medallion.toBronze(events)
    graft.etl.Medallion.toGoldDaily(bronze).orderBy("user_id", "day")
  }

  // Oracle mirrors Medallion.toBronze exactly: the validity rules keep
  // NULL `value` (the rule is `value < 0`, NULL-violated = false) and the
  // bronze layer dedups by event_id before gold aggregates.
  private val q36Sql =
    s"""WITH bronze AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM events
       |    WHERE user_id IS NOT NULL AND ts IS NOT NULL AND (value >= 0 OR value IS NULL))
       |  WHERE rn = 1)
       |SELECT user_id, cast(ts as date) AS day,
       | count(*) AS n_events,
       | count(DISTINCT event_type) AS uniq_types,
       | string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS event_types,
       | cast(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) as bigint) AS purchases,
       | ${sqlDsum("value")} AS total_value,
       | ${sqlEpochS("min(ts)")} AS first_ts_s,
       | ${sqlEpochS("max(ts)")} AS last_ts_s,
       | count(*)*cast(0.3 as double) + count(DISTINCT event_type)*cast(0.7 as double) AS engagement_score
       |FROM bronze GROUP BY 1,2 ORDER BY 1,2""".stripMargin

  /** q37 — as-of join: enrich every event with the value of the user's
    * most recent signup event at-or-before it (union + ignore-nulls
    * window — one shuffle; DuckDB's native ASOF JOIN is the oracle). */
  def asofEnrich(events: DataFrame): DataFrame = {
    val base = events.withColumn("ts_s", unix_timestamp(col("ts")))
    val left = base.select("event_id", "user_id", "ts_s")
    val right = graft.etl.Dedup.keepLatest(
        base.filter(col("event_type") === "signup"), Seq("user_id", "ts_s"), Seq(col("event_id")))
      .select(col("user_id"), col("ts_s"), col("value").as("signup_value"))
    AsOfJoin.asofJoin(left, right, "user_id", "ts_s", Seq("signup_value"))
      .withColumnRenamed("asof_signup_value", "last_signup_value")
      .orderBy("event_id")
  }

  private val q37Sql =
    """WITH sign AS (
      |  SELECT user_id, ts_s, value AS signup_value FROM (
      |    SELECT user_id, cast(floor(epoch(ts)) as bigint) AS ts_s, value,
      |           row_number() OVER (PARTITION BY user_id, cast(floor(epoch(ts)) as bigint)
      |                              ORDER BY event_id DESC) AS rn
      |    FROM events WHERE event_type = 'signup') WHERE rn = 1),
      |ev AS (SELECT event_id, user_id, cast(floor(epoch(ts)) as bigint) AS ts_s FROM events)
      |SELECT ev.event_id, ev.user_id, ev.ts_s, sign.signup_value AS last_signup_value
      |FROM ev ASOF LEFT JOIN sign
      |  ON ev.user_id = sign.user_id AND ev.ts_s >= sign.ts_s
      |ORDER BY ev.event_id""".stripMargin

  /** q38 — interval-predicate join: lineitems shipped within 90 days of
    * their order date — equi join on the key with a pushed range filter
    * (never a BNLJ; the range rides on the hash join). */
  def intervalJoin(lineitem: DataFrame, orders: DataFrame): DataFrame =
    lineitem.join(orders,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") < date_add(col("o_orderdate"), 90))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("lines_in_window"),
        countDistinct(col("o_orderkey")).as("orders_hit"),
        dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("o_orderpriority")

  private val q38Sql =
    s"""SELECT o_orderpriority,
       | count(*) AS lines_in_window,
       | count(DISTINCT o_orderkey) AS orders_hit,
       | ${sqlDsum("l_extendedprice")} AS revenue
       |FROM lineitem JOIN orders
       |  ON l_orderkey = o_orderkey
       | AND l_shipdate >= o_orderdate
       | AND l_shipdate < o_orderdate + INTERVAL 90 DAY
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q39 — mergeable HLL sketch rollup (SURVEY §7.4's "mergeable
    * persisted sketches"): per-day DataSketches HLL of users, unioned
    * into the period-wide distinct estimate. This is the architecture
    * for incremental distinct counts at 100 TB — a gold table stores the
    * per-day sketch column and any date range's DAU is a cheap
    * `hll_union_agg` over already-aggregated rows, never a rescan of the
    * fact table. Registered through [[hllRollupAudit]], whose agreement
    * surface is oracle-exact; the raw ≤5% error bound is also asserted
    * in SketchSpec. */
  def hllRollup(events: DataFrame): DataFrame = {
    // persisted: feeds both the per-day output and the union rollup —
    // without it the day-level aggregation over the fact table runs twice.
    // CacheScope-managed so harness runs can release it post-action.
    val daily = graft.CacheScope.manage(events.withColumn("day", to_date(col("ts")))
      .groupBy("day")
      .agg(
        hll_sketch_agg(col("user_id")).as("sketch"),
        countDistinct(col("user_id")).as("exact_dau"))
      .persist())
    val dailyOut = daily.select(
      col("day"), hll_sketch_estimate(col("sketch")).as("approx_dau"), col("exact_dau"))
    val totalApprox = daily.agg(
      hll_sketch_estimate(hll_union_agg(col("sketch"))).as("approx_dau"))
    val totalExact = events.agg(countDistinct(col("user_id")).as("exact_dau"))
    val total = totalApprox.crossJoin(totalExact)
      .withColumn("day", lit(null).cast("date"))
      .select("day", "approx_dau", "exact_dau")
    dailyOut.unionByName(total).orderBy(col("day").asc_nulls_last)
  }

  /** The registered q39 surface: [[hllRollup]] reduced to its AGREEMENT
    * CONTRACT — per day (and the union-sketch total row, day = NULL) the
    * exact DAU plus `approx_ok` = the HLL estimate lands within ±10% of
    * it, which the oracle pins to `true` (the l47 trick: the error bound
    * becomes a driver-visible oracle-exact row instead of a rows-only
    * check; the sketch value itself has no SQL oracle — DuckDB's HLL is
    * a different implementation). Deterministic: the HLL register state
    * is a pure function of the value SET, invariant to partition order,
    * so the estimate cannot wobble between runs — but the ERROR a given
    * fixture realizes is a lottery, so the driver gate carries sigma
    * headroom: at the sketch's default lgConfigK=12 the relative
    * standard error is ≈1.04/√4096 ≈ 1.6%, making 10% a ≳6σ bound — a
    * new fixture or scale essentially cannot trip it without a real
    * regression (the l47/l48 pattern: audit bound ≫ expected error).
    * SketchSpec keeps the tight ≤5% product assertion on the pinned
    * fixtures. */
  def hllRollupAudit(events: DataFrame): DataFrame =
    hllRollup(events).select(
      col("day"), col("exact_dau"),
      (abs(col("approx_dau").cast("double") - col("exact_dau").cast("double")) <=
        col("exact_dau").cast("double") * 0.10).as("approx_ok"))

  private val q39Sql =
    """SELECT cast(ts as date) AS day, count(DISTINCT user_id) AS exact_dau, true AS approx_ok
      |FROM events GROUP BY 1
      |UNION ALL
      |SELECT NULL, count(DISTINCT user_id), true FROM events
      |ORDER BY 1 NULLS LAST""".stripMargin

  /** q40 — ROLLUP subtotals (beyond the reference, standard BI surface).
    * Null-ordering is pinned explicitly: Spark defaults NULLS FIRST,
    * DuckDB NULLS LAST. */
  def rollupTotals(lineitem: DataFrame): DataFrame =
    lineitem.rollup("l_returnflag", "l_linestatus")
      .agg(dsum(col("l_extendedprice")).as("revenue"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  private val q40Sql =
    s"""SELECT l_returnflag, l_linestatus,
       | ${sqlDsum("l_extendedprice")} AS revenue, count(*) AS n
       |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
       |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin

  /** q46 — CUBE subtotals: all four grouping combinations in one pass
    * (completes the grouping-sets family next to q40's ROLLUP; Spark
    * plans one Expand + one aggregation shuffle). */
  def cubeTotals(lineitem: DataFrame): DataFrame =
    lineitem.cube("l_returnflag", "l_linestatus")
      .agg(dsum(col("l_extendedprice")).as("revenue"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  private val q46Sql =
    s"""SELECT l_returnflag, l_linestatus,
       | ${sqlDsum("l_extendedprice")} AS revenue, count(*) AS n
       |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
       |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin

  private val pivotTypes = Seq("click", "error", "purchase", "signup", "view")

  /** q41 — pivot: event counts per day spread into one column per type
    * (`na.fill(0)` matches the oracle's CASE-sum zeros). */
  def pivotCounts(events: DataFrame): DataFrame =
    events.withColumn("day", to_date(col("ts")))
      .groupBy("day").pivot("event_type", pivotTypes).count()
      .na.fill(0, pivotTypes)
      .orderBy("day")

  /** q51 — unpivot (melt): q41's wide daily matrix back to long
    * (day, event_type, cnt) rows — the inverse reshape, producing the
    * DENSE grid (zero cells kept, the property a pivot→unpivot round
    * trip must preserve and a plain GROUP BY would lose). One narrow
    * aggregate then a per-row expansion — no extra shuffle. */
  def unpivotCounts(events: DataFrame): DataFrame =
    pivotCounts(events)
      .unpivot(Array(col("day")), pivotTypes.map(col).toArray, "event_type", "cnt")
      .orderBy("day", "event_type")

  private val q51Sql =
    """WITH days AS (SELECT DISTINCT cast(ts as date) AS day FROM events),
      |t AS (SELECT unnest(['click','error','purchase','signup','view']) AS event_type),
      |c AS (SELECT cast(ts as date) AS day, event_type, count(*) AS cnt
      |      FROM events GROUP BY 1,2)
      |SELECT d.day, t.event_type, cast(coalesce(c.cnt, 0) as bigint) AS cnt
      |FROM days d CROSS JOIN t
      |LEFT JOIN c ON c.day = d.day AND c.event_type = t.event_type
      |ORDER BY 1, 2""".stripMargin

  /** q52 — explicit GROUPING SETS with grouping() disambiguation:
    * per-returnflag totals, per-linestatus totals, and the grand total
    * in one Expand + one aggregation shuffle (completes the family next
    * to q40's ROLLUP and q46's CUBE — this set is NOT expressible as
    * either). The grouping flags distinguish a subtotal's NULL from a
    * data NULL, which the BI layer needs on nullable dimensions. */
  def groupingSetsTotals(lineitem: DataFrame): DataFrame =
    lineitem.groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"),
        dsum(col("l_extendedprice")).as("revenue"), count(lit(1)).as("n"))
      .orderBy(col("g_rf"), col("g_ls"),
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  private val q52Sql =
    s"""SELECT l_returnflag, l_linestatus,
       | cast(grouping(l_returnflag) as int) AS g_rf,
       | cast(grouping(l_linestatus) as int) AS g_ls,
       | ${sqlDsum("l_extendedprice")} AS revenue, count(*) AS n
       |FROM lineitem
       |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
       |ORDER BY 3, 4, 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin

  /** q53 — time-series gap fill + forward fill (resample): daily
    * high-value revenue per event type on a dense day spine, missing
    * days flagged and forward-filled from the last observed day — the
    * standard sparse-metric resample before charting or joining time
    * series. Scale shape: the spine and the window ride the DAILY
    * AGGREGATE (days × types rows — metadata-sized at any corpus size),
    * never the event grain; the fact is touched once by the groupBy. */
  def gapFill(events: DataFrame, minValue: Double = 250.0): DataFrame = {
    val daily = events
      .filter(col("event_type").isNotNull && col("value") >= minValue)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(dsum(col("value")).as("day_value"))
    val span = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = span
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      .crossJoin(daily.select("event_type").distinct())
    spine.join(daily, Seq("day", "event_type"), "left_outer")
      .withColumn("is_gap", col("day_value").isNull)
      .withColumn("filled_value", last(col("day_value"), ignoreNulls = true)
        .over(Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("day", "event_type", "is_gap", "filled_value")
      .orderBy("day", "event_type")
  }

  private val q53Sql =
    s"""WITH daily AS (
       |  SELECT cast(ts as date) AS day, event_type,
       |    ${sqlDsum("value")} AS day_value
       |  FROM events
       |  WHERE event_type IS NOT NULL AND value >= cast(250.0 as double)
       |  GROUP BY 1, 2),
       |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
       |days AS (
       |  SELECT cast(unnest(generate_series(cast(d0 as timestamp),
       |    cast(d1 as timestamp), interval 1 day)) as date) AS day FROM span),
       |spine AS (SELECT day, event_type
       |          FROM days CROSS JOIN (SELECT DISTINCT event_type FROM daily)),
       |j AS (SELECT s.day, s.event_type, d.day_value
       |      FROM spine s LEFT JOIN daily d USING (day, event_type))
       |SELECT day, event_type, day_value IS NULL AS is_gap,
       |  last_value(day_value IGNORE NULLS) OVER (PARTITION BY event_type
       |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
       |FROM j ORDER BY 1, 2""".stripMargin

  private val q41Sql =
    """SELECT cast(ts as date) AS day,
      | cast(sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) as bigint) AS click,
      | cast(sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) as bigint) AS error,
      | cast(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) as bigint) AS purchase,
      | cast(sum(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) as bigint) AS signup,
      | cast(sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) as bigint) AS view
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** q55 — ntile quantile bucketing: days binned into revenue quartiles
    * within each event type (the "rank days by how good they were" BI
    * cut). Scale shape: like q53, the window rides the DAILY AGGREGATE
    * (days × types rows — metadata-sized at any corpus size), never the
    * event grain, so the per-partition sort ntile needs is over a
    * relation whose size is independent of fact cardinality. Tie-break
    * on day pins the ntile assignment to a total order. */
  def ntileQuartiles(events: DataFrame): DataFrame = {
    val daily = events.groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(dsum(col("value")).as("revenue"))
    daily
      .withColumn("quartile", ntile(4).over(
        Window.partitionBy("event_type").orderBy(col("revenue"), col("day"))))
      .groupBy("event_type", "quartile")
      .agg(
        count(lit(1)).as("days"),
        min(col("revenue")).as("min_rev"),
        max(col("revenue")).as("max_rev"),
        dsum(col("revenue")).as("sum_rev"))
      .orderBy("event_type", "quartile")
  }

  private val q55Sql =
    s"""WITH daily AS (
       |  SELECT cast(ts as date) AS day, event_type,
       |    ${sqlDsum("value")} AS revenue
       |  FROM events GROUP BY 1, 2),
       |q AS (SELECT *, cast(ntile(4) OVER (PARTITION BY event_type
       |        ORDER BY revenue, day) as int) AS quartile FROM daily)
       |SELECT event_type, quartile, count(*) AS days,
       |  min(revenue) AS min_rev, max(revenue) AS max_rev,
       |  ${sqlDsum("revenue")} AS sum_rev
       |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q56 — rolling 7-day revenue via a RANGE frame over day numbers:
    * unlike a ROWS frame, missing days shrink the window instead of
    * silently pulling older rows in — the correct rolling metric on a
    * sparse daily series, without materializing a gap-filled spine
    * first (contrast q53, which fills the gaps). Same scale shape as
    * q53/q55: the frame walks the daily aggregate, not the fact. The
    * window SUM goes through the decimal accumulator — engines walk
    * frames with different incremental strategies (running accumulate
    * vs segment tree), so a double frame-sum is order-sensitive. */
  def rollingRange(events: DataFrame): DataFrame = {
    val daily = events.groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(dsum(col("value")).as("day_value"))
      .withColumn("day_nr", datediff(col("day"), to_date(lit("1970-01-01"))))
    val w = Window.partitionBy("event_type").orderBy("day_nr").rangeBetween(-6, 0)
    daily
      .withColumn("rolling_7d",
        sum(col("day_value").cast(DecimalType(38, 6))).over(w).cast("double"))
      .withColumn("days_in_window", count(lit(1)).over(w))
      .select("day", "event_type", "day_value", "rolling_7d", "days_in_window")
      .orderBy("day", "event_type")
  }

  private val q56Sql =
    s"""WITH daily AS (
       |  SELECT cast(ts as date) AS day, event_type,
       |    ${sqlDsum("value")} AS day_value,
       |    cast(ts as date) - DATE '1970-01-01' AS day_nr
       |  FROM events GROUP BY 1, 2)
       |SELECT day, event_type, day_value,
       |  cast(sum(cast(day_value as decimal(38,6))) OVER w as double) AS rolling_7d,
       |  count(*) OVER w AS days_in_window
       |FROM daily
       |WINDOW w AS (PARTITION BY event_type ORDER BY day_nr
       |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
       |ORDER BY 1, 2""".stripMargin

  /** Exact interpolated quantile per group, computed DISTRIBUTED from
    * the value-count CDF instead of the built-in `percentile` aggregate.
    * The built-in collects a value→count map per (partition, group) and
    * merges the maps on one reducer per group — at scale that reducer
    * deserializes and unions hundreds of near-full-domain maps (measured
    * 2.3 s of q57's 2.5 s at sf0.1). Here the histogram is an ordinary
    * codegen'd groupBy(group, value) with map-side combine — the shuffle
    * carries one row per DISTINCT (group, value) — and the quantile is
    * read off a running-sum window over distinct values, whose partition
    * size is bounded by the value DOMAIN (2-decimal prices), not the row
    * count. Interpolation uses the same `(hi-pos)·v_lo + (pos-lo)·v_hi`
    * form as engine quantile implementations, so results stay bit-exact
    * vs the oracle. Emits one row per group: q1, q3. */
  private[graft] def exactQuartilesCdf(fact: DataFrame, groupCol: String,
                                       valueCol: String): DataFrame = {
    val hist = fact.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol), col(valueCol).as("v"))
      .agg(count(lit(1)).as("c"))
    val byV = Window.partitionBy(groupCol).orderBy("v")
    val cdf = hist
      .withColumn("cum",
        sum(col("c")).over(byV.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(groupCol)))
    def interp(p: Double): Column = {
      // row-level (group-constant) position: usable inside the aggregate
      // filters; value at 0-based sorted index i = smallest v whose cum > i
      val posRow = lit(p) * (col("n") - 1).cast("double")
      val vLo = min(when(col("cum") > floor(posRow), col("v")))
      val vHi = min(when(col("cum") > ceil(posRow), col("v")))
      // aggregate-level position for the arithmetic after the groupBy
      val pos = lit(p) * (max(col("n")) - 1).cast("double")
      val lo = floor(pos)
      val hi = ceil(pos)
      // engines special-case the integral position (both weights vanish)
      when(lo === hi, vLo)
        .otherwise((hi.cast("double") - pos) * vLo + (pos - lo.cast("double")) * vHi)
    }
    cdf.groupBy(groupCol)
      .agg(interp(0.25).as("q1"), interp(0.75).as("q3"))
  }

  /** q57 — IQR outlier detection (Tukey fence): per-group exact
    * quartiles → upper fence q3 + 1.5·IQR → count/total the rows beyond
    * it. The classic two-pass robust-outlier pattern: the fence relation
    * is group-cardinality-sized, so the second pass is a broadcast probe
    * of the fact — no shuffle beyond the quartile aggregation itself.
    * Quartiles come from [[exactQuartilesCdf]] — exact, interpolated,
    * and distributed (no per-group map-merge reducer); at 100 TB on an
    * unbounded value domain swap in approx_percentile and drop the
    * oracle to a tolerance check — the probe shape is unchanged. */
  def iqrOutliers(lineitem: DataFrame): DataFrame =
    fenceProbe(lineitem,
      exactQuartilesCdf(lineitem, "l_returnflag", "l_extendedprice"))

  // The exact quartile relation per sfDir, kept as a GateFixture table —
  // the SigStore pattern on the relational side: the CDF histogram is
  // the dominant cost of BOTH q57 (its fences) and q63 (the agreement
  // reference), and it's a pure group-cardinality-sized function of the
  // read-only fixture, exactly what a production system persists as a
  // statistics table next to the data. Results are byte-identical with
  // or without the store.
  private def exactQuartileStore(spark: SparkSession, sfDir: String): DataFrame =
    graft.GateFixture.table(spark, "graft_quartiles_q57", sfDir)(
      exactQuartilesCdf(Tables.lineitem(spark, sfDir), "l_returnflag", "l_extendedprice"))

  /** The shared second pass of q57/q63: broadcast the group-cardinality
    * fence relation and count/total the rows beyond the upper fence in
    * one probe of the fact. */
  private def fenceProbe(lineitem: DataFrame, quartiles: DataFrame): DataFrame = {
    val fences = quartiles
      .withColumn("hi_fence", col("q3") + (col("q3") - col("q1")) * 1.5)
    lineitem.join(broadcast(fences), "l_returnflag")
      .groupBy("l_returnflag", "q1", "q3", "hi_fence")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("l_extendedprice") > col("hi_fence"), 1).otherwise(0))
          .as("n_outliers"),
        dsum(when(col("l_extendedprice") > col("hi_fence"), col("l_extendedprice"))
          .otherwise(lit(0.0))).as("outlier_revenue"))
      .withColumn("outlier_frac", col("n_outliers").cast("double") / col("n"))
      .orderBy("l_returnflag")
  }

  /** q63 — the documented unbounded-domain twin of q57: quartile fences
    * from `approx_percentile` (a mergeable fixed-size sketch per group —
    * no per-group map-merge of full value→count maps, no dependence on a
    * bounded value domain), pushed through the IDENTICAL broadcast fence
    * probe via [[fenceProbe]]. Registered rows-only (a sketch has no SQL
    * oracle); SketchSpec bounds its fences against q57's exact quartiles
    * and PlanSpec asserts the same broadcast-probe plan shape. */
  def iqrOutliersApprox(lineitem: DataFrame, accuracy: Int = 10000): DataFrame =
    fenceProbe(lineitem,
      lineitem.filter(col("l_extendedprice").isNotNull)
        .groupBy("l_returnflag")
        .agg(percentile_approx(col("l_extendedprice"),
          array(lit(0.25), lit(0.75)), lit(accuracy)).as("qs"))
        .select(col("l_returnflag"), col("qs")(0).as("q1"), col("qs")(1).as("q3")))

  /** The registered q63 surface: the approx fence probe reduced to its
    * AGREEMENT CONTRACT against the exact path — per group, the exact row
    * count plus `fences_ok` = each of (q1, q3, hi_fence) from
    * `approx_percentile` lands within ±1% of [[iqrOutliers]]'s exact
    * value, pinned to `true` by the oracle (the l47 trick — same shape
    * as q39's audit). At accuracy=10000 the sketch's rank error is
    * ≤0.01%, so the 1% VALUE tolerance has orders-of-magnitude headroom
    * against partial-merge order wobble. SketchSpec keeps the raw fence
    * bound; PlanSpec keeps the broadcast-probe plan shape. */
  def iqrOutliersApproxAudit(spark: SparkSession, sfDir: String): DataFrame = {
    def within1pct(a: Column, e: Column): Column =
      abs(a - e) <= abs(e) * 0.01
    def fence(q1: Column, q3: Column): Column = q3 + (q3 - q1) * 1.5
    val lineitem = Tables.lineitem(spark, sfDir)
    // ONE scan: the approx sketch and the group counts ride the same
    // aggregation; the exact side is the 4-row quartile store joined in
    val approx = lineitem
      .groupBy("l_returnflag")
      .agg(
        percentile_approx(col("l_extendedprice"),
          array(lit(0.25), lit(0.75)), lit(10000)).as("qs"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("n"),
        col("qs")(0).as("q1_a"), col("qs")(1).as("q3_a"))
    approx.join(broadcast(exactQuartileStore(spark, sfDir)), "l_returnflag")
      .select(col("l_returnflag"), col("n"),
        (within1pct(col("q1_a"), col("q1")) &&
          within1pct(col("q3_a"), col("q3")) &&
          within1pct(fence(col("q1_a"), col("q3_a")),
            fence(col("q1"), col("q3")))).as("fences_ok"))
      .orderBy("l_returnflag")
  }

  private val q63Sql =
    """SELECT l_returnflag, count(*) AS n, true AS fences_ok
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  private val q57Sql =
    s"""WITH f AS (
       |  SELECT l_returnflag,
       |    quantile_cont(l_extendedprice, cast(0.25 as double)) AS q1,
       |    quantile_cont(l_extendedprice, cast(0.75 as double)) AS q3
       |  FROM lineitem GROUP BY 1),
       |f2 AS (SELECT *, q3 + (q3 - q1) * cast(1.5 as double) AS hi_fence FROM f)
       |SELECT l.l_returnflag, q1, q3, hi_fence,
       |  count(*) AS n,
       |  cast(sum(CASE WHEN l_extendedprice > hi_fence THEN 1 ELSE 0 END) as bigint) AS n_outliers,
       |  ${sqlDsum("CASE WHEN l_extendedprice > hi_fence THEN l_extendedprice ELSE cast(0.0 as double) END")} AS outlier_revenue,
       |  cast(sum(CASE WHEN l_extendedprice > hi_fence THEN 1 ELSE 0 END) as double)/count(*) AS outlier_frac
       |FROM lineitem l JOIN f2 USING (l_returnflag)
       |GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin

  /** q42 — INTERSECT/EXCEPT set operations (completing §2.7 beyond the
    * reference's union/distinct/anti surface). */
  def setOps(events: DataFrame): DataFrame = {
    val purchasers = events.filter(col("event_type") === "purchase").select("user_id").distinct()
    val erroring = events.filter(col("event_type") === "error").select("user_id").distinct()
    val both = purchasers.intersect(erroring).withColumn("set_class", lit("purchase_and_error"))
    val onlyP = purchasers.except(erroring).withColumn("set_class", lit("purchase_only"))
    both.unionByName(onlyP)
      .groupBy("set_class").agg(count(lit(1)).as("users"))
      .orderBy("set_class")
  }

  private val q42Sql =
    """SELECT set_class, count(*) AS users FROM (
      |  SELECT user_id, 'purchase_and_error' AS set_class FROM (
      |    SELECT DISTINCT user_id FROM events WHERE event_type='purchase'
      |    INTERSECT
      |    SELECT DISTINCT user_id FROM events WHERE event_type='error')
      |  UNION ALL
      |  SELECT user_id, 'purchase_only' FROM (
      |    SELECT DISTINCT user_id FROM events WHERE event_type='purchase'
      |    EXCEPT
      |    SELECT DISTINCT user_id FROM events WHERE event_type='error'))
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q76 — exact per-key top-k ("latest k events per type") through the
    * [[graft.plans.TopKRows]] bounded-heap aggregate instead of
    * `row_number() OVER (PARTITION BY …) <= k`.
    *
    * The window form is the 100 TB trap this query exists to retire:
    * with a handful of key values (event types, languages, tenants) the
    * PARTITION BY shuffles the ENTIRE fact to as many reducers as there
    * are keys and sorts each fact-sized partition. The aggregate form
    * bounds state at k rows per key per task — partial aggregation
    * ships k·keys rows per task, the merge keeps the unique top-k set
    * under the total order (ts DESC, event_id ASC) — so the shuffle is
    * aggregate-grain and the plan has no sort at all below the final
    * 50-row ORDER BY. The top-k SET under a total order is
    * merge-order-invariant, so unlike [[graft.plans.MisraGries]] the
    * aggregate output itself is deterministic and sits directly under
    * the window-rank oracle; PlanSpec pins the no-WindowExec,
    * partial/final ObjectHashAggregate shape.
    */
  def topKPerKey(events: DataFrame, k: Int = 10): DataFrame =
    events
      .select(col("event_type"), epochS(col("ts")).as("ts_s"), col("event_id"))
      .groupBy("event_type")
      .agg(expr(s"top_k_rows(ts_s, event_id, $k)").as("tk"))
      .select(col("event_type"), explode(col("tk")).as("t"))
      .select(col("event_type"), col("t.id").as("event_id"), col("t.ord").as("ts_s"))
      .orderBy(col("event_type"), col("ts_s").desc, col("event_id"))

  private val q76Sql =
    s"""SELECT event_type, event_id, ts_s FROM (
       |  SELECT event_type, event_id, ${sqlEpochS("ts")} AS ts_s,
       |         row_number() OVER (PARTITION BY event_type
       |           ORDER BY ${sqlEpochS("ts")} DESC, event_id) AS rn
       |  FROM events) t
       |WHERE rn <= 10
       |ORDER BY event_type, ts_s DESC, event_id""".stripMargin

  def all: Seq[Q] = Seq(
    Q("q31_json_star_expand", (s, d) => jsonStarExpand(Tables.events(s, d)), Some(q31Sql)),
    Q("q32_summary_stats", (s, d) => summaryStats(Tables.events(s, d)), Some(q32Sql)),
    Q("q33_window_suite", (s, d) => windowSuite(Tables.events(s, d)), Some(q33Sql)),
    Q("q34_sessionize_gaps", (s, d) => sessionizeGaps(Tables.events(s, d)), Some(q34Sql)),
    Q("q35_session_window", (s, d) => sessionWindow(Tables.events(s, d)), Some(q35Sql)),
    Q("q36_gold_daily_user", (s, d) => goldDailyUser(Tables.events(s, d)), Some(q36Sql)),
    Q("q37_asof_join", (s, d) => asofEnrich(Tables.events(s, d)), Some(q37Sql)),
    Q("q38_interval_join",
      (s, d) => intervalJoin(Tables.lineitem(s, d), Tables.orders(s, d)), Some(q38Sql)),
    Q("q39_hll_sketch_rollup", (s, d) => hllRollupAudit(Tables.events(s, d)), Some(q39Sql)),
    Q("q40_rollup_totals", (s, d) => rollupTotals(Tables.lineitem(s, d)), Some(q40Sql)),
    Q("q41_pivot_counts", (s, d) => pivotCounts(Tables.events(s, d)), Some(q41Sql)),
    Q("q42_set_ops", (s, d) => setOps(Tables.events(s, d)), Some(q42Sql)),
    Q("q46_cube_totals", (s, d) => cubeTotals(Tables.lineitem(s, d)), Some(q46Sql)),
    Q("q51_unpivot_counts", (s, d) => unpivotCounts(Tables.events(s, d)), Some(q51Sql)),
    Q("q52_grouping_sets", (s, d) => groupingSetsTotals(Tables.lineitem(s, d)), Some(q52Sql)),
    Q("q53_gap_fill", (s, d) => gapFill(Tables.events(s, d)), Some(q53Sql)),
    Q("q54_correlation", (s, d) => correlationStats(Tables.lineitem(s, d)), Some(q54Sql)),
    Q("q55_ntile_quartiles", (s, d) => ntileQuartiles(Tables.events(s, d)), Some(q55Sql)),
    Q("q56_rolling_range", (s, d) => rollingRange(Tables.events(s, d)), Some(q56Sql)),
    Q("q57_iqr_outliers",
      (s, d) => fenceProbe(Tables.lineitem(s, d), exactQuartileStore(s, d)), Some(q57Sql)),
    Q("q63_iqr_outliers_approx", (s, d) => iqrOutliersApproxAudit(s, d), Some(q63Sql)),
    Q("q76_topk_per_key", (s, d) => topKPerKey(Tables.events(s, d)), Some(q76Sql)))
}
