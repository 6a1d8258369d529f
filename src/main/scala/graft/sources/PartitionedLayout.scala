package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Det.{dsum, sqlDsum}

/** The physical-layout operators under the oracle gate: partition-pruned
  * scans (q60) and bucketed zero-exchange joins (q62). Both write a
  * derived layout through the real writers (`Writers.writePartitioned` /
  * `Writers.writeBucketed`), read it back, and must produce results
  * hash-identical to the oracle computing the same answer from the flat
  * fixture — proving the layout changes WHERE the data lives and what
  * the scan READS, never what a query returns.
  *
  * Every derived copy here (partitioned, clustered, JSONL/CSV, the q96
  * sketch table, the q103 histogram store) is a pure function of the
  * read-only fixture, so it is a [[graft.GateFixture]]: written once per
  * (JVM, sfDir) into scratch deleted at exit, built on first use by
  * whichever accessor asks, and only read after that. The bucketed
  * tables are the exception — see [[bucketedTables]].
  *
  * This is the reference's storage design (delta_setup.py:395-431
  * partitions every table by y/m/d; etl_framework.py:286-291 filters on
  * those columns) — at 100 TB the date predicate prunes the scan to the
  * touched partitions and the pre-bucketed fact⋈fact join repays its
  * write-time shuffle on every query.
  */
object PartitionedLayout {

  /** The directory of the y/m/d-partitioned copy of `events` for an sf
    * dir, written through the production writer (the streaming-oracle
    * gates stream this directory). */
  def partitionedEventsDir(spark: SparkSession, sfDir: String): String =
    graft.GateFixture.cached("graft_layout_part", sfDir) { root =>
      val out = root.resolve("events").toString
      Writers.writePartitioned(
        graft.Tables.events(spark, sfDir)
          .select("event_id", "user_id", "event_type", "value", "ts"),
        "ts", out, SaveMode.Overwrite)
      out
    }

  def partitionedEvents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(partitionedEventsDir(spark, sfDir))

  /** q60 — a date-sliced daily rollup over the partitioned layout. The
    * filter lands on PARTITION columns, so the scan's `PartitionFilters`
    * prune to 11 of 30 day-directories before a single row is read
    * (PlanSpec asserts the pruned scan). The oracle recomputes the same
    * slice from the flat fixture by deriving y/m/d from the timestamp —
    * hash equality proves pruning is a pure I/O optimization. */
  def prunedDailyRollup(spark: SparkSession, sfDir: String): DataFrame =
    partitionedEvents(spark, sfDir)
      .filter(col("year") === 2024 && col("month") === 1 && col("day").between(10, 20))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy(col("day"), col("event_type").asc_nulls_last)

  private val q60Sql =
    s"""SELECT day(ts) AS day, event_type, count(*) AS n, ${sqlDsum("value")} AS total_value
       |FROM events
       |WHERE year(ts) = 2024 AND month(ts) = 1 AND day(ts) BETWEEN 10 AND 20
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // The scratch database's location: one per JVM (the database is
  // created once and holds every sf dir's tables), deleted at exit.
  private lazy val bucketDbDir: String = graft.FileTree.deleteAtExit(
    java.nio.file.Files.createTempDirectory("graft_layout_bucket")).toString

  // Not a GateFixture: see the comment in bucketedTables.
  private val bucketedWritten = new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** The pair of order-key-bucketed tables for an sf dir, registered in a
    * scratch-located database so the bucket files never land in the
    * caller's working directory. */
  def bucketedTables(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    def create(): (String, String) = {
      val db = "graft_scratch"
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$bucketDbDir'")
      val sfx = graft.PathKey(sfDir)
      val (liName, ordName) = (s"$db.b_lineitem_$sfx", s"$db.b_orders_$sfx")
      Writers.writeBucketed(
        graft.Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity"),
        liName, "l_orderkey", 8)
      Writers.writeBucketed(
        graft.Tables.orders(spark, sfDir).select("o_orderkey", "o_totalprice"),
        ordName, "o_orderkey", 8)
      (liName, ordName)
    }
    // Unlike the GateFixture layouts (whose parquet directories any
    // SparkSession can read), table names live in a SESSION's catalog —
    // a second SparkSession in the same JVM would get memoized names its
    // own catalog has never seen. Re-validate against the caller's
    // catalog and rebuild for it when the names don't resolve.
    val (li, ord) = bucketedWritten.compute(sfDir, { (_, cached) =>
      if (cached != null && spark.catalog.tableExists(cached._1) &&
        spark.catalog.tableExists(cached._2)) cached
      else create()
    })
    (spark.table(li), spark.table(ord))
  }

  /** q62 — the co-located fact⋈fact join: both sides pre-bucketed on the
    * join key, so the sort-merge join AND the per-order rollup (same key)
    * run with ZERO exchanges — the only shuffle in the whole plan is the
    * metadata-sized items-histogram rollup at the end (PlanSpec asserts
    * exactly one hash exchange). The MERGE hint pins the join strategy so
    * the plan proves the bucketed path rather than a broadcast hiding it. */
  def bucketedOrderRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val (li, ord) = bucketedTables(spark, sfDir)
    val perOrder = li
      .join(ord.hint("merge"), li("l_orderkey") === ord("o_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("items"), dsum(col("l_quantity")).as("qty"),
        max(col("o_totalprice")).as("total_price"))
    perOrder.groupBy("items")
      .agg(count(lit(1)).as("n_orders"), dsum(col("qty")).as("sum_qty"),
        dsum(col("total_price")).as("sum_price"))
      .orderBy("items")
  }

  /** The OPTIMIZE'd copy of `events` for an sf dir: first written
    * ROUND-ROBIN (the worst possible layout — every file spans the full
    * key range, nothing can skip), then rewritten IN PLACE by the S9
    * maintenance job ([[graft.etl.Maintenance.rewriteClustered]])
    * clustering on (event_type, value) — the Z-ORDER analog: range
    * partitioning gives each file a tight key range and the in-file sort
    * tightens parquet row-group min/max stats on those keys. */
  def clusteredEventsDir(spark: SparkSession, sfDir: String): String =
    graft.GateFixture.cached("graft_layout_clust", sfDir) { root =>
      val out = root.resolve("events").toString
      graft.Tables.events(spark, sfDir)
        .select("event_id", "user_id", "event_type", "value", "ts")
        .repartition(12)
        .write.mode(SaveMode.Overwrite).parquet(out)
      graft.etl.Maintenance.rewriteClustered(spark, out, Seq("event_type", "value"), 8)
      out
    }

  /** q75 — the S9 OPTIMIZE/Z-ORDER analog under the oracle gate: a
    * selective rollup over the clustered rewrite of `events`. The filter
    * lands on the CLUSTER keys, so the pushed parquet predicates skip
    * the files and row groups whose (event_type, value) stats exclude
    * the range (~2.5% of rows survive; EtlSpec asserts the scan emits a
    * small fraction of the table). The oracle recomputes the same slice
    * from the flat fixture — hash equality proves the maintenance
    * rewrite changes only WHERE rows sit and what the scan reads, never
    * what a query returns (the q60/q62 contract, completing the layout
    * trio: partition pruning, bucketing, clustering). */
  def clusteredRollup(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(clusteredEventsDir(spark, sfDir))
      .filter(col("event_type") === "error" &&
        col("value") >= 100.0 && col("value") < 250.0)
      .groupBy(dayofmonth(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("users"),
        dsum(col("value")).as("total_value"))
      .orderBy("day")

  private val q75Sql =
    s"""SELECT day(ts) AS day, count(*) AS n, count(DISTINCT user_id) AS users,
       |       ${sqlDsum("value")} AS total_value
       |FROM events
       |WHERE event_type = 'error' AND value >= 100 AND value < 250
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The partitioned JSONL and CSV copies of `events` for an sf dir
    * (written once per JVM through the production writers). */
  private def textLayouts(spark: SparkSession, sfDir: String): (String, String) =
    graft.GateFixture.cached("graft_layout_text", sfDir) { root =>
      val ev = graft.Tables.events(spark, sfDir)
        .select("event_id", "user_id", "event_type", "value", "ts")
      val (jsonl, csv) = (root.resolve("jsonl").toString, root.resolve("csv").toString)
      Writers.writeJsonl(ev, "ts", jsonl, SaveMode.Overwrite)
      Writers.writeCsv(ev, "ts", csv, SaveMode.Overwrite)
      (jsonl, csv)
    }

  // Read the text formats with an explicit schema (never inference: a
  // schema-inference pass reads the data twice and can widen types under
  // it). `ts` is re-read as STRING and ignored — the partition columns
  // carry the time slice, so no timestamp text format has to round-trip.
  private val textSchema = "event_id BIGINT, user_id BIGINT, event_type STRING, " +
    "value DOUBLE, ts STRING"

  private def textRollup(df: DataFrame): DataFrame = df
    .filter(col("year") === 2024 && col("month") === 1 && col("day").between(5, 9))
    .groupBy("event_type")
    .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("users"),
      dsum(col("value")).as("total_value"))
    .orderBy(col("event_type").asc_nulls_last)

  /** q66/q67 — the JSONL / CSV writer paths under the oracle gate: the
    * reference's generator emits exactly these partitioned text layouts
    * (batch_generator.py:276-339), so prove the full write→read round
    * trip — directory partition discovery, text re-parse of longs and
    * doubles, null handling — is lossless by hash-matching an aggregate
    * against the oracle computing from the original parquet fixture. */
  def jsonlRoundtrip(spark: SparkSession, sfDir: String): DataFrame =
    textRollup(spark.read.schema(textSchema).json(textLayouts(spark, sfDir)._1))

  def csvRoundtrip(spark: SparkSession, sfDir: String): DataFrame =
    textRollup(spark.read.schema(textSchema).option("header", "true")
      .csv(textLayouts(spark, sfDir)._2))

  private val textSql =
    s"""SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS users,
       |       ${sqlDsum("value")} AS total_value
       |FROM events
       |WHERE year(ts) = 2024 AND month(ts) = 1 AND day(ts) BETWEEN 5 AND 9
       |GROUP BY 1 ORDER BY 1""".stripMargin

  private val q62Sql =
    s"""WITH j AS (SELECT l.l_orderkey, l.l_quantity, o.o_totalprice
       |           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
       |p AS (SELECT l_orderkey, count(*) AS items, ${sqlDsum("l_quantity")} AS qty,
       |             max(o_totalprice) AS total_price
       |      FROM j GROUP BY 1)
       |SELECT items, count(*) AS n_orders, ${sqlDsum("qty")} AS sum_qty,
       |       ${sqlDsum("total_price")} AS sum_price
       |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  /** q78 — DYNAMIC partition pruning: q60's filter names its days as
    * literals, so the scan prunes at plan time; here the qualifying days
    * (January 2024 weekends) are known only by JOINING the calendar
    * dimension — the selective predicate lives on the DIM side. Spark's
    * DPP turns the broadcast dim into a runtime partition filter
    * (`dynamicpruningexpression` in the scan's PartitionFilters, reusing
    * the join's broadcast exchange), so only the 8 weekend
    * day-directories of 30 are ever listed and read. At 100 TB this is
    * the difference between scanning a month and scanning its weekends
    * whenever the slice is defined by a dimension attribute (holiday
    * flag, fiscal period, campaign window) rather than a literal range.
    * The oracle re-derives the weekend slice from the flat fixture with
    * date arithmetic — hash equality proves DPP is pure I/O pruning.
    * PlanSpec pins the dynamicpruningexpression in the scan. */
  def dppWeekendRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val weekendDim = graft.analytics.Calendar.dimTime(spark)
      .filter(col("is_weekend") && col("year") === 2024 && col("month") === 1)
      .select(col("year"), col("month"), col("day"), col("day_name"))
    partitionedEvents(spark, sfDir)
      .join(broadcast(weekendDim), Seq("year", "month", "day"))
      .groupBy("day", "day_name")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy("day")
  }

  private val q78Sql =
    s"""SELECT day(ts) AS day,
       | CASE dayofweek(ts) WHEN 0 THEN 'Sunday' ELSE 'Saturday' END AS day_name,
       | count(*) AS n, ${sqlDsum("value")} AS total_value
       |FROM events
       |WHERE year(ts) = 2024 AND month(ts) = 1 AND dayofweek(ts) IN (0, 6)
       |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** q96 — the PERSISTED mergeable-sketch table (SURVEY §7.4's optional
    * sketch tier, realized with Spark's DataSketches built-ins, never a
    * custom aggregate): per-day HLL sketches over `user_id` are written
    * ONCE into a parquet pre-aggregate table `(day, sketch BINARY,
    * exact_dau)`, and the registered query answers a two-week
    * distinct-users-per-week question by MERGING the STORED sketches
    * (`hll_union_agg` over the binary column read back from parquet) —
    * the fact table is not rescanned on the approximate path.
    *
    * This is THE 100 TB distinct-count pattern: touch each day's facts
    * once at ingest, persist a kilobyte sketch per day, and answer any
    * later range/rollup by re-aggregating sketches — associativity plus
    * the storage round-trip are exactly what this gate proves.
    *
    * Bench-timing note: the sketch TABLE is memoized per (JVM, sfDir) —
    * an ingest-once pre-aggregate, deliberately NOT dropped by
    * CacheScope between Bench's best-of-N passes. So pass 1 pays the
    * ingest write and later passes time only the read+merge path: the
    * reported min is the STEADY-STATE query cost over an existing
    * sketch table, which is the pattern's production shape (facts are
    * sketched at ingest, queries only merge). Oracle:
    * the q39/l47 agreement contract — the exact weekly distinct
    * (recomputed declaratively from the fact table, also by DuckDB) plus
    * `approx_ok` = the merged-sketch estimate within ±10%, pinned true.
    * Week boundaries are day-index floor((day − 2024-01-01)/7) on both
    * sides, so no engine WEEK() semantics are involved. Deterministic:
    * HLL register state is a pure function of the value SET (max per
    * register), invariant to partition order and merge shape. */
  def sketchTableRollup(spark: SparkSession, sfDir: String): DataFrame =
    weeklySketchContract(spark, sfDir, spark.read.parquet(sketchTableDir(spark, sfDir)))

  /** The persisted per-day sketch table `(day, sketch, exact_dau)` for
    * `sfDir`, written once per JVM. */
  private[graft] def sketchTableDir(spark: SparkSession, sfDir: String): String =
    graft.GateFixture.cached("graft_layout_sketch", sfDir) { root =>
      val out = root.resolve("dau").toString
      graft.Tables.events(spark, sfDir)
        .withColumn("day", to_date(col("ts")))
        .groupBy("day")
        .agg(hll_sketch_agg(col("user_id")).as("sketch"),
          countDistinct(col("user_id")).as("exact_dau"))
        .write.mode(SaveMode.Overwrite).parquet(out)
      out
    }

  /** q96's registered surface over ANY per-day sketch table — shared
    * by the batch-built path (q96) and the stream-maintained one
    * (q102): exact weekly distinct recomputed from the fact table,
    * `approx_ok` = the merged stored sketches within ±10%. */
  // The q96/q102/q103/q104 analysis window and week formula, defined
  // ONCE on the Scala side (the q96Sql/q103Sql oracle strings state the
  // same constants in DuckDB dialect — changing the window means
  // changing those two strings in lockstep).
  private def winLo = to_date(lit("2024-01-08"))
  private def winHi = to_date(lit("2024-01-21"))
  private def weekOf(day: org.apache.spark.sql.Column) =
    floor(datediff(day, to_date(lit("2024-01-01"))) / 7).cast("long")

  private[graft] def weeklySketchContract(spark: SparkSession, sfDir: String,
                                          sketches: DataFrame): DataFrame = {
    val approx = mergedWeeklyEstimates(sketches)
    val exact = graft.Tables.events(spark, sfDir)
      .withColumn("day", to_date(col("ts")))
      .filter(col("day").between(winLo, winHi))
      .groupBy(weekOf(col("day")).as("week"))
      .agg(countDistinct(col("user_id")).as("exact_wau"))
    exact.join(approx, Seq("week"))
      .select(col("week"), col("exact_wau"),
        (abs(col("approx_wau").cast("double") - col("exact_wau").cast("double")) <=
          col("exact_wau").cast("double") * 0.10).as("approx_ok"))
      .orderBy("week")
  }

  /** The merged path's RAW weekly estimates over the persisted sketch
    * table — split out so PlanSpec can assert storage-round-trip
    * associativity (merged == direct, exactly) against the values the
    * registered surface reduces to `approx_ok`. */
  private[graft] def mergedWeeklyEstimates(sketches: DataFrame): DataFrame =
    sketches
      .filter(col("day").between(winLo, winHi))
      .groupBy(weekOf(col("day")).as("week"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("approx_wau"))

  // ---- q103: the persisted QUANTILE-histogram store -----------------------

  /** Histogram grid: unit-width value buckets, clamped into [0, 1023]
    * (the fixture's value domain is 0–560, so the clamp is headroom,
    * not lossiness). The grid is the whole trick: a fixed-grid
    * histogram is a MERGEABLE quantile sketch whose merge is exact
    * elementwise addition — deterministic under any partition layout or
    * merge shape, unlike randomized KLL/t-digest state — so the entire
    * store-and-merge pipeline sits under a hash-exact oracle instead of
    * q96's pinned `approx_ok` bound. */
  private val HistBuckets = 1024
  private[graft] def histBucket(value: org.apache.spark.sql.Column) =
    least(greatest(floor(value).cast("long"), lit(0L)), lit(HistBuckets - 1L))

  /** q103 — q96's pattern for PERCENTILES: per-day value histograms
    * persisted at ingest (rows (day, bucket, cnt) — a few hundred rows
    * per day regardless of fact volume), weekly p50/p95/p99 answered by
    * re-aggregating the stored histograms, never rescanning facts. The
    * quantile pick is pure integer arithmetic (smallest bucket whose
    * cumulative count reaches ⌈q·total⌉, reported as the bucket's upper
    * edge), so the estimate is exactly reproducible by the oracle from
    * the raw table — merged-store ≡ direct is a sum associativity, and
    * PlanSpec additionally pins the estimate within one bucket width of
    * the true percentile. Store memoized per (JVM, sfDir) like q96's —
    * the same documented ingest-excluded bench timing. */
  def quantileHistogramRollup(spark: SparkSession, sfDir: String): DataFrame =
    weeklyQuantilesFromStore(spark.read.parquet(histStoreDir(spark, sfDir)))

  /** The persisted (day, bucket, cnt) histogram store for `sfDir`,
    * written once per JVM. */
  private[graft] def histStoreDir(spark: SparkSession, sfDir: String): String =
    graft.GateFixture.cached("graft_layout_hist", sfDir) { root =>
      val out = root.resolve("vhist").toString
      graft.Tables.events(spark, sfDir)
        .filter(col("value").isNotNull)
        .withColumn("day", to_date(col("ts")))
        .groupBy(col("day"), histBucket(col("value")).as("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .write.mode(SaveMode.Overwrite).parquet(out)
      out
    }

  /** The registered weekly-quantile surface over ANY (day, bucket, cnt)
    * histogram store — the merge is `sum(cnt)` by (week, bucket). */
  private[graft] def weeklyQuantilesFromStore(hist: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weekly = hist
      .filter(col("day").between(winLo, winHi))
      .groupBy(weekOf(col("day")).as("week"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))
    val w = Window.partitionBy("week")
    val c = weekly
      .withColumn("cum", sum(col("cnt")).over(w.orderBy("bucket")))
      .withColumn("total", sum(col("cnt")).over(w))
    // `div`, not `/`: Spark's `/` on longs is DOUBLE division where the
    // oracle's `//` is integer — the ⌈q·total⌉ thresholds must be the
    // same exact integers in both engines
    def pick(thresh: org.apache.spark.sql.Column, as: String) =
      (min(when(col("cum") >= thresh, col("bucket"))) + 1).cast("double").as(as)
    c.groupBy("week")
      .agg(
        pick(expr("(total + 1) div 2"), "p50_est"),
        pick(expr("(total * 95 + 99) div 100"), "p95_est"),
        pick(expr("(total * 99 + 99) div 100"), "p99_est"))
      .orderBy("week")
  }

  private[graft] val q103Sql =
    """WITH h AS (
      |  SELECT cast(floor(datediff('day', DATE '2024-01-01', cast(ts as date)) / 7) as bigint) AS week,
      |         least(greatest(cast(floor(value) as bigint), 0), 1023) AS bucket,
      |         count(*) AS cnt
      |  FROM events
      |  WHERE value IS NOT NULL
      |    AND cast(ts as date) BETWEEN DATE '2024-01-08' AND DATE '2024-01-21'
      |  GROUP BY 1, 2),
      |c AS (
      |  SELECT week, bucket, cnt,
      |         sum(cnt) OVER (PARTITION BY week ORDER BY bucket) AS cum,
      |         sum(cnt) OVER (PARTITION BY week) AS total
      |  FROM h)
      |SELECT week,
      |  cast(min(CASE WHEN cum >= (total + 1) // 2 THEN bucket END) + 1 as double) AS p50_est,
      |  cast(min(CASE WHEN cum >= (total * 95 + 99) // 100 THEN bucket END) + 1 as double) AS p95_est,
      |  cast(min(CASE WHEN cum >= (total * 99 + 99) // 100 THEN bucket END) + 1 as double) AS p99_est
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  private[graft] val q96Sql =
    """SELECT cast(floor(datediff('day', DATE '2024-01-01', cast(ts as date)) / 7) as bigint) AS week,
      |       count(DISTINCT user_id) AS exact_wau, true AS approx_ok
      |FROM events
      |WHERE cast(ts as date) BETWEEN DATE '2024-01-08' AND DATE '2024-01-21'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  def all: Seq[graft.Q] = Seq(
    graft.Q("q96_sketch_table_rollup", (s, d) => sketchTableRollup(s, d), Some(q96Sql)),
    graft.Q("q103_quantile_histogram_rollup", (s, d) => quantileHistogramRollup(s, d),
      Some(q103Sql)),
    graft.Q("q60_partition_pruned_rollup", (s, d) => prunedDailyRollup(s, d), Some(q60Sql)),
    graft.Q("q78_dpp_weekend_rollup", (s, d) => dppWeekendRollup(s, d), Some(q78Sql)),
    graft.Q("q62_bucketed_join_rollup", (s, d) => bucketedOrderRollup(s, d), Some(q62Sql)),
    graft.Q("q66_jsonl_roundtrip", (s, d) => jsonlRoundtrip(s, d), Some(textSql)),
    graft.Q("q67_csv_roundtrip", (s, d) => csvRoundtrip(s, d), Some(textSql)),
    graft.Q("q75_clustered_rollup", (s, d) => clusteredRollup(s, d), Some(q75Sql)))
}
