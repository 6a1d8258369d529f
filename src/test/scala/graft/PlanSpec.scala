package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.CoreQueries

/** Physical-plan assertions — the 100 TB posture checks (VERDICT round 1:
  * "verify with explain() in tests"). Runs against the sf0.001 fixture.
  */
class PlanSpec extends SparkSuite {

  private val sf = sfDir("0.001")

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("star join broadcasts every dimension (no shuffle join on dims)") {
    val p = plan(CoreQueries.starJoin(
      Tables.lineitem(spark, sf), Tables.orders(spark, sf), Tables.customer(spark, sf),
      Tables.nation(spark, sf), Tables.region(spark, sf)))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins in:\n$p")
    // nation/region/customer are all broadcastable — at most the
    // lineitem⋈orders join may shuffle
    val smj = "SortMergeJoin".r.findAllIn(p).length
    assert(smj <= 1, s"dims must broadcast; got $smj sort-merge joins:\n$p")
  }

  test("pricing summary pushes the shipdate filter into the parquet scan") {
    val p = plan(CoreQueries.pricingSummary(Tables.lineitem(spark, sf)))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter must reach the scan:\n$p")
  }

  test("projection pruning: only referenced columns are read") {
    val p = plan(CoreQueries.rankTopK(Tables.lineitem(spark, sf)))
    assert(p.contains("l_partkey") && !p.contains("l_shipdate#"),
      s"scan must prune unused columns:\n$p")
  }

  test("rank top-k pre-reduces with TakeOrdered — no single-partition full sort") {
    val df = CoreQueries.rankTopK(Tables.lineitem(spark, sf))
    df.collect() // finalize AQE plan
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"),
      s"expected a TakeOrdered threshold pre-reduction:\n$p")
    // the global-rank window may only ever see threshold-filtered rows:
    // every single-partition exchange must sit above the threshold filter,
    // never directly above the full aggregate
    val winIdx = p.indexOf("Window")
    val filterIdx = p.indexOf("__vk")
    assert(winIdx >= 0 && filterIdx > winIdx,
      s"rank window must consume the threshold-filtered side:\n$p")
  }

  test("partial aggregation happens before the shuffle (map-side combine)") {
    val p = plan(CoreQueries.userActivity5m(Tables.events(spark, sf)))
    assert(p.contains("partial_"), s"expected partial aggregation:\n$p")
  }

  test("bucketed tables join with zero exchanges (co-located join)") {
    import spark.implicits._
    graft.sources.Writers.writeBucketed(
      Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity"),
      "b_lineitem", "l_orderkey", 8)
    graft.sources.Writers.writeBucketed(
      Tables.orders(spark, sf).select("o_orderkey", "o_totalprice"),
      "b_orders", "o_orderkey", 8)
    // force the shuffle-join path (a broadcast would hide bucketing on
    // these tiny fixtures) — the point is that bucketing removes the
    // hash-partition exchanges a fact⋈fact SMJ would otherwise need
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), $"l_orderkey" === $"o_orderkey")
      joined.collect()
      val p = plan(joined)
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$p")
      assert(p.contains("SortMergeJoin"), s"expected bucketed SMJ:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q60 prunes the partitioned scan: non-empty PartitionFilters, 11 of 30 days read") {
    val df = graft.sources.PartitionedLayout.prunedDailyRollup(spark, sf)
    df.collect()
    val p = plan(df)
    // the day-range predicate must land in PartitionFilters (directory
    // pruning — zero rows read from the other 19 days), not PushedFilters
    val pf = "PartitionFilters: \\[[^\\]]+\\]".r.findFirstIn(p)
    assert(pf.exists(s => s.contains("day") && s.length > "PartitionFilters: []".length),
      s"expected a non-empty PartitionFilters on day in:\n$p")
    // and the rows actually read must all come from day=10..20 directories
    // (input_file_name sees the post-pruning scan, unlike df.inputFiles
    // which lists the whole relation)
    val ev = graft.sources.PartitionedLayout.partitionedEvents(spark, sf)
    val readFiles = ev
      .filter(col("year") === 2024 && col("month") === 1 && col("day").between(10, 20))
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    val allFiles = ev.inputFiles
    assert(readFiles.nonEmpty && readFiles.length < allFiles.length,
      s"pruning must cut the file list (${readFiles.length} of ${allFiles.length})")
    assert(readFiles.forall(f => f.contains("/day=1") || f.contains("/day=20")),
      s"only day=10..20 directories may be read:\n${readFiles.mkString("\n")}")
  }

  test("q62 bucketed join + per-key rollup run with exactly one exchange (the final histogram)") {
    val df = graft.sources.PartitionedLayout.bucketedOrderRollup(spark, sf)
    df.collect() // finalize AQE plan
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("SortMergeJoin"), s"the MERGE hint must pin the co-located SMJ:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"bucketing must eliminate the join + per-order-agg shuffles; got $exchanges:\n$p")
    assert(p.contains("Bucketed: true"), s"both scans must report bucketed reads:\n$p")
  }

  test("v04 probes the part dim only after the top-k prune (broadcast, no SMJ)") {
    val df = SparkEntry.queries("v04_top_content")(spark, sf)
    df.collect() // finalize AQE plan
    val p = plan(df)
    try {
      assert(p.contains("TakeOrderedAndProject"),
        s"expected the TakeOrdered threshold pre-reduction:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"the part join must ride the ~k pruned survivors (broadcast), not shuffle:\n$p")
      // the part dim join sits ABOVE the rank window (survivors-only probe)
      val winIdx = p.indexOf("Window")
      val partScan = p.lastIndexOf("part.parquet")
      assert(winIdx >= 0 && partScan > winIdx,
        s"part scan must feed the post-rank join, not the aggregate:\n$p")
    } finally CacheScope.releaseAll()
  }

  test("calendar dim broadcasts in the v13 star join") {
    val df = graft.analytics.Calendar.dauCalendar(spark, sf)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      s"the 4018-row dim must broadcast, not shuffle:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no SMJ expected in v13:\n$p")
  }

  test("contamination audit joins on the shingle key — never a cartesian") {
    val df = graft.llm.Sampling.splitContamination(Tables.documents(spark, sf))
    df.collect()
    val p = plan(df)
    try {
      assert(!p.contains("CartesianProduct"),
        s"train-shingle membership must be an equi-join on the shingle:\n$p")
      assert(p.contains("partial_"), s"expected map-side combine in the rollups:\n$p")
    } finally CacheScope.releaseAll()
  }

  test("ann recall: probe sides broadcast; no cartesian product anywhere") {
    val df = graft.llm.Similarity.annRecall(Tables.embeddings(spark, sf))
    df.collect()
    val p = plan(df)
    // bruteTopK's probes ride a broadcast nested-loop (the intentional
    // O(probes×n) baseline); the recall join itself is an equi-join
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe set must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no unbounded pair blowup:\n$p")
  }

  test("leakage-safe split joins labels back by doc_id equi-join — no cartesian") {
    val df = graft.llm.Sampling.withLeakageSafeSplit(Tables.documents(spark, sf))
    df.collect()
    val p = plan(df)
    try {
      assert(!p.contains("CartesianProduct"), s"label re-join must stay keyed:\n$p")
    } finally CacheScope.releaseAll()
  }

  test("vocab coverage probes the bounded vocabulary via broadcast") {
    val df = graft.llm.TextStats.vocabCoverage(Tables.documents(spark, sf))
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      s"the 1000-row vocab must broadcast to the token stream:\n$p")
    assert(!p.contains("CartesianProduct"), s"no pair blowup:\n$p")
  }

  test("as-of join compiles to a window, not a join — no pair blowup operator") {
    val df = graft.operators.AsOfJoin.asofEnrich(
      Tables.events(spark, sf), Tables.orders(spark, sf))
    df.collect()
    val p = plan(df)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"the tagged-union shape must not materialize event x order pairs:\n$p")
    assert(p.contains("Window"), s"expected the per-key as-of window:\n$p")
    // AQE prints the plan twice (final + initial) — count the final only
    val finalP = p.split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(finalP).length <= 1,
      s"one shuffle on the join key is the whole cost:\n$finalP")
  }

  test("balanced sample selects by threshold — no window over the raw relation") {
    val df = graft.llm.Sampling.balancedSample(Tables.documents(spark, sf))
    df.collect() // finalize AQE plan
    val p = plan(df)
    // every Window must consume either aggregated metadata (the 65536-bucket
    // histogram) or the boundary-bucket slice (a broadcast-join prune) —
    // never the documents scan directly. A window fed straight from the
    // scan would single-partition each stratum at 100 TB.
    val winIdxs = "Window ".r.findAllMatchIn(p).map(_.start).toList
    assert(winIdxs.nonEmpty, s"expected the two reduced-input windows:\n$p")
    winIdxs.foreach { i =>
      val rest = p.substring(i)
      val scanAt = rest.indexOf("Scan parquet")
      val seg = if (scanAt >= 0) rest.substring(0, scanAt) else rest
      assert(seg.contains("HashAggregate") || seg.contains("BroadcastHashJoin"),
        s"window at offset $i rides the raw scan (no aggregate/prune between):\n$p")
    }
  }

  test("salted aggregation keeps the two-phase shape with map-side combine") {
    val df = graft.etl.Skew.saltedAggStats(Tables.events(spark, sf))
    df.collect()
    val p = plan(df)
    assert(p.contains("__salt"),
      s"Catalyst must not collapse the salted pre-aggregation:\n$p")
    assert(p.contains("partial_"), s"expected map-side combine:\n$p")
  }

  test("salted join broadcasts the replicated dim — no shuffle join, no cartesian") {
    val df = graft.etl.Skew.saltedJoinStats(spark, Tables.events(spark, sf))
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      s"the 16x-replicated 5-row dim must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the fact side must never shuffle for this join:\n$p")
  }

  test("iqr outliers (exact q57 and approx q63) probe the fact through a broadcast fence — no shuffle join") {
    for (df <- Seq(
        graft.operators.SurfaceQueries.iqrOutliers(Tables.lineitem(spark, sf)),
        graft.operators.SurfaceQueries.iqrOutliersApprox(Tables.lineitem(spark, sf)))) {
      df.collect()
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin"),
        s"the group-cardinality fence relation must broadcast:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"the fact side must never shuffle for the fence probe:\n$p")
    }
  }

  test("the q63 audit runs one fact scan: sketch + counts in a single aggregation, exact side broadcast") {
    val df = graft.operators.SurfaceQueries.iqrOutliersApproxAudit(spark, sf)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      s"the 4-row exact quartile store must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"nothing in the audit may shuffle a join:\n$p")
    // the sketch and the counts ride the SAME aggregation operator —
    // every aggregate over the fact carries both functions (AQE reprints
    // stages, so assert fusion per line rather than counting operators)
    val aggLines = p.linesIterator.filter(_.contains("ObjectHashAggregate")).toSeq
    assert(aggLines.nonEmpty &&
      aggLines.forall(l => l.contains("percentile_approx") && l.contains("count")),
      s"sketch + counts must share one aggregation:\n$p")
  }

  test("ntile and range-frame windows ride the daily aggregate, never the raw scan") {
    for (df <- Seq(
        graft.operators.SurfaceQueries.ntileQuartiles(Tables.events(spark, sf)),
        graft.operators.SurfaceQueries.rollingRange(Tables.events(spark, sf)))) {
      df.collect()
      val p = plan(df)
      val winIdxs = "Window ".r.findAllMatchIn(p).map(_.start).toList
      assert(winIdxs.nonEmpty, s"expected a window operator:\n$p")
      // every Window must sit above an aggregate, not directly on the scan —
      // the frame walks days × types rows, not the event grain
      winIdxs.foreach { i =>
        val rest = p.substring(i)
        val scanAt = rest.indexOf("Scan parquet")
        val seg = if (scanAt >= 0) rest.substring(0, scanAt) else rest
        assert(seg.contains("HashAggregate"),
          s"window at offset $i rides the raw scan (no aggregate between):\n$p")
      }
    }
  }

  test("funnel computes all three step minima on a single user_id exchange") {
    val df = graft.operators.FunnelQueries.funnelSteps(Tables.events(spark, sf))
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"stacked window minima + per-user rollup must share ONE shuffle, got $exchanges:\n$p")
    assert("Window ".r.findAllIn(p).length == 3, s"expected the three stacked windows:\n$p")
  }

  test("q78 joins through the calendar dim with dynamic partition pruning") {
    val df = graft.sources.PartitionedLayout.dppWeekendRollup(spark, sf)
    val p = df.queryExecution.executedPlan.treeString
    assert(p.contains("dynamicpruning"),
      s"the dim-side weekend predicate must prune fact partitions at runtime:\n$p")
    assert(p.contains("PartitionFilters") && p.contains("year"),
      s"static year/month pruning must still reach the scan:\n$p")
    // 8 weekend days of January 2024, each a real partition directory
    assert(df.count() === 8)
  }

  test("q77 bloom prune: scan-side might_contain, exact under the plain join") {
    val df = graft.operators.RuntimeFilter.bloomPrunedRollup(spark, sf)
    val p = plan(df)
    assert(p.contains("might_contain"), s"bloom probe must reach the fact side:\n$p")
    // exactness: the bloom affects work, never results — the equi-join
    // removes false positives, so the rollup equals the plain join's
    val li = Tables.lineitem(spark, sf)
    val sel = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 450000.0)
      .select("o_orderkey")
    val exact = li.join(sel, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        graft.functions.Det.dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("l_returnflag")
    assert(df.collect().toSeq === exact.collect().toSeq)
    // the prune genuinely shrinks the join's fact input: survivors cover
    // every true match (no false negatives) yet are far fewer than the
    // scan — the work the join never has to shuffle
    val total = li.count()
    val matches = li.join(sel, col("l_orderkey") === col("o_orderkey")).count()
    val survivors = graft.operators.RuntimeFilter.prunedFact(spark, sf).count()
    assert(survivors >= matches, "bloom filters never drop true matches")
    assert(survivors < total / 2,
      s"prune must shrink the fact input: $survivors of $total survived")
  }

  test("q79 auto bloom prune: the optimizer rule injects the probe; callers are untouched") {
    val auto = graft.operators.RuntimeFilter.autoBloomPrunedRollup(spark, sf)
    val p = auto.queryExecution.executedPlan.treeString
    assert(p.contains("might_contain"),
      s"the rule must inject the scan-side bloom probe:\n$p")
    // results identical to the hand-written q77 (the rule changes WORK,
    // never RESULTS)
    val manual = graft.operators.RuntimeFilter.bloomPrunedRollup(spark, sf)
    assert(auto.collect().toSeq === manual.collect().toSeq)
    // the caller's session must keep byte-identical plans: same join,
    // no flag, no probe
    val sel = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 450000.0)
      .select("o_orderkey")
    val plain = Tables.lineitem(spark, sf)
      .join(sel, col("l_orderkey") === col("o_orderkey"))
    assert(!plain.queryExecution.executedPlan.treeString.contains("might_contain"),
      "the conf-gated rule must not fire on sessions that never opted in")
  }

  test("q78 beyond broadcast: default conf skips DPP, duplicated subquery restores it; rows never change") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case qs: QueryStageExec => walk(qs.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => (other.children ++ other.subqueries).flatMap(walk)
    }
    // the hint-free q78 shape on a session whose dim cannot broadcast —
    // what q78 degrades to at 100 TB when the dim outgrows the threshold
    def rollup(s: org.apache.spark.sql.SparkSession) = {
      val dim = graft.analytics.Calendar.dimTime(s)
        .filter(col("is_weekend") && col("year") === 2024 && col("month") === 1)
        .select(col("year"), col("month"), col("day"), col("day_name"))
      graft.sources.PartitionedLayout.partitionedEvents(s, sf)
        .join(dim, Seq("year", "month", "day"))
        .groupBy("day", "day_name")
        .agg(count(lit(1)).as("n"))
        .orderBy("day")
    }
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      walk(df.queryExecution.executedPlan)
        .filter(_.toString.contains("graft_layout"))
        .map(_.metrics("numFiles").value).sum
    }
    val total = graft.sources.PartitionedLayout.partitionedEvents(spark, sf).inputFiles.length
    // (a) Spark's default beyond-broadcast posture: the SMJ plan keeps a
    // dynamicpruning PartitionFilter but it is a runtime NO-OP — every
    // partition is read (the silent scan-cost cliff the receipt pins)
    val defSess = graft.SessionClones.cloned("dpp-nobcast-default", spark) { s =>
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    }
    val noOp = rollup(defSess)
    assert(filesRead(noOp) === total.toLong,
      s"reuseBroadcastOnly=true must read every partition under a shuffle join")
    // (b) reuseBroadcastOnly=false: the dim subquery is DUPLICATED as a
    // real partition filter — pruning equivalent to the broadcast path
    val dupSess = graft.SessionClones.cloned("dpp-nobcast-dup", spark) { s =>
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
    }
    val dup = rollup(dupSess)
    val dupFiles = filesRead(dup)
    assert(dupFiles < total.toLong,
      s"the duplicated dim subquery must prune the scan: read $dupFiles of $total")
    // (c) results are identical in all three postures — DPP is pure I/O
    val viaBroadcast = graft.sources.PartitionedLayout.dppWeekendRollup(spark, sf)
      .select("day", "day_name").collect().toSeq
    assert(noOp.select("day", "day_name").collect().toSeq === viaBroadcast)
    assert(dup.select("day", "day_name").collect().toSeq === viaBroadcast)
  }

  test("q81 composes partition pruning and the bloom probe on one scan") {
    val df = graft.operators.RuntimeFilter.bloomPrunedPartitionedRollup(spark, sf)
    df.collect()
    val p = plan(df)
    // the static day range must land in PartitionFilters (directory
    // pruning), the bloom probe in a Filter over the SAME scan — the
    // two prunes compose, neither displaces the other
    val pf = "PartitionFilters: \\[[^\\]]+\\]".r.findFirstIn(p)
    assert(pf.exists(s => s.contains("day") && s.length > "PartitionFilters: []".length),
      s"expected a non-empty PartitionFilters on day in:\n$p")
    assert(p.contains("might_contain"), s"bloom probe must reach the scan side:\n$p")
    // the probe genuinely shrinks the join input beyond the partition cut
    val sliced = graft.sources.PartitionedLayout.partitionedEvents(spark, sf)
      .filter(col("year") === 2024 && col("month") === 1 && col("day").between(10, 20))
    val survivors = graft.operators.RuntimeFilter.prunedPartitionedFact(spark, sf).count()
    val matches = sliced.join(
      graft.operators.RuntimeFilter.highValueUsers(spark, sf), Seq("user_id")).count()
    assert(survivors >= matches, "bloom filters never drop true matches")
    assert(survivors < sliced.count(),
      s"the probe must cut the day-sliced scan: $survivors of ${sliced.count()}")
  }

  test("q96: sketches merged THROUGH STORAGE equal the direct sketch exactly (associativity)") {
    import org.apache.spark.sql.functions.{hll_sketch_agg, hll_sketch_estimate}
    // the estimate from per-day persisted sketches unioned back together
    // must EQUAL (not merely approximate) the estimate of one sketch
    // built directly over the same range: HLL register state is an
    // elementwise max, so grouping + parquet round-trip + union is the
    // identity — the property that makes a persisted sketch table sound
    val out = graft.sources.PartitionedLayout.sketchTableRollup(spark, sf).collect()
    assert(out.nonEmpty && out.forall(_.getBoolean(2)), s"approx_ok must hold: ${out.mkString}")
    val ev = Tables.events(spark, sf)
      .withColumn("day", to_date(col("ts")))
      .filter(col("day").between(to_date(lit("2024-01-08")), to_date(lit("2024-01-21"))))
      .withColumn("week",
        floor(datediff(col("day"), to_date(lit("2024-01-01"))) / 7).cast("long"))
    val direct = ev.groupBy("week")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("direct"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the merged path's RAW estimates over the persisted table — must
    // EQUAL the direct estimates, not merely approximate them
    val merged = graft.sources.PartitionedLayout
      .mergedWeeklyEstimates(
        spark.read.parquet(graft.sources.PartitionedLayout.sketchTableDir(spark, sf)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged === direct,
      s"storage round-trip + union must be the identity on HLL state: $merged vs $direct")
  }

  test("q103: store-merged weekly quantiles bracket the exact order statistic within one bucket") {
    // the histogram store's pick is "the bucket containing the
    // ⌈q·total⌉-th order statistic, reported as its upper edge" — so
    // for each quantile the TRUE ⌈q·n⌉-th value x_m (computed directly
    // from the facts by rank) must satisfy est−1 ≤ x_m < est: the
    // unit-width grid loses at most one bucket of precision, and the
    // store-merge (exact integer addition over per-day rows) selects
    // exactly the right bucket
    import org.apache.spark.sql.expressions.Window
    val out = graft.sources.PartitionedLayout.quantileHistogramRollup(spark, sf)
      .collect()
    assert(out.nonEmpty)
    val ev = Tables.events(spark, sf)
      .filter(col("value").isNotNull)
      .withColumn("day", to_date(col("ts")))
      .filter(col("day").between(to_date(lit("2024-01-08")), to_date(lit("2024-01-21"))))
      .withColumn("week",
        floor(datediff(col("day"), to_date(lit("2024-01-01"))) / 7).cast("long"))
    // the bracket form below assumes the UNCLAMPED grid regime (every
    // value lands in its own unit bucket); on a fixture whose value
    // domain leaves [0, 1024) the clamped buckets would need an
    // edge-equality form instead — make that assumption explicit
    val mm = ev.agg(min(col("value")), max(col("value"))).head()
    assert(mm.getDouble(0) >= 0.0 && mm.getDouble(1) < 1024.0,
      s"fixture values ${mm.getDouble(0)}..${mm.getDouble(1)} leave the unclamped grid")
    val ranked = ev
      .withColumn("rn", row_number().over(Window.partitionBy("week").orderBy("value")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("week")))
    val orderStats = ranked
      .filter(col("rn") === expr("(n + 1) div 2") ||
        col("rn") === expr("(n * 95 + 99) div 100") ||
        col("rn") === expr("(n * 99 + 99) div 100"))
      .select(col("week"), col("rn"), col("n"), col("value"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (wk, rows) =>
        val n = rows.head.getLong(2)
        def at(m: Long) = rows.find(_.getInt(1) == m).get.getDouble(3)
        wk -> Seq(at((n + 1) / 2), at((n * 95 + 99) / 100), at((n * 99 + 99) / 100))
      }
    out.foreach { r =>
      val (week, ests) = (r.getLong(0), Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      ests.zip(orderStats(week)).zipWithIndex.foreach { case ((est, xm), i) =>
        assert(xm >= est - 1.0 && xm < est,
          s"week $week q#$i: order statistic $xm must lie in [${est - 1}, $est)")
      }
    }
  }

  test("q104: the STREAM-maintained histogram store equals the batch-built one ROW FOR ROW") {
    // stronger than q102's estimate-equality: histogram merge is exact
    // integer addition, so the maintained store must be IDENTICAL as a
    // (day, bucket, cnt) set to the batch build under any slicing
    def rowsOf(store: DataFrame) = store
      .select(col("day").cast("string"), col("bucket"), col("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = rowsOf(graft.etl.SnapshotMerge.read(spark,
      graft.streaming.StreamingOracle.maintainedStores(spark, sf)._2))
    val batch = rowsOf(spark.read.parquet(graft.sources.PartitionedLayout.histStoreDir(spark, sf)))
    assert(streamed === batch,
      s"exact-addition merge must land on the identical store: ${
        (streamed diff batch).take(3)} vs ${(batch diff streamed).take(3)}")
    assert(streamed.nonEmpty)
  }

  test("q104 merge is replay-idempotent: re-merging an applied batch is a no-op") {
    // simulate a foreachBatch retry (failure after the store merge but
    // before the offset commit): apply two overlapping-day batches,
    // snapshot, re-apply each with its original batchId — the
    // src_batch txn-version guard must make both replays no-ops. Count
    // addition is not idempotent on its own; without the guard the
    // replay would double the touched days' counts.
    val dir = java.nio.file.Files.createTempDirectory("q104_replay").toString + "/store"
    val ev = Tables.events(spark, sf).filter(col("value").isNotNull)
      .select(col("event_id"), to_date(col("ts")).as("day"), col("value"))
    val b0 = ev.filter(col("event_id") % 2 === 0).drop("event_id")
    val b1 = ev.filter(col("event_id") % 2 === 1).drop("event_id")
    graft.streaming.StreamingOracle.mergeHistogramBatch(b0, 0L, dir)
    graft.streaming.StreamingOracle.mergeHistogramBatch(b1, 1L, dir)
    def snap() = graft.etl.SnapshotMerge.read(spark, dir)
      .select(col("day").cast("string"), col("bucket"), col("cnt"), col("src_batch"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val before = snap()
    assert(before.nonEmpty)
    graft.streaming.StreamingOracle.mergeHistogramBatch(b1, 1L, dir) // the retry
    assert(snap() === before, "replaying batch 1 must be a no-op")
    graft.streaming.StreamingOracle.mergeHistogramBatch(b0, 0L, dir) // stale replay
    assert(snap() === before, "replaying batch 0 after batch 1 must be a no-op")
    // and the guarded store still aggregates to the single-pass truth
    val direct = ev.groupBy(col("day"),
        graft.sources.PartitionedLayout.histBucket(col("value")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("day").cast("string"), col("bucket"), col("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(before.map(t => (t._1, t._2, t._3)) === direct)
  }

  private def q102Batches = {
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), to_date(col("ts")).as("day"), col("user_id"))
    (ev, ev.filter(col("event_id") % 2 === 0).drop("event_id"),
      ev.filter(col("event_id") % 2 === 1).drop("event_id"))
  }

  private def sketchEstimates(store: DataFrame) = store
    .select(col("day").cast("string"), hll_sketch_estimate(col("sketch")))
    .collect().map(r => (r.getString(0), r.getLong(1))).toSet

  private def directEstimates(rows: DataFrame) = rows
    .groupBy(col("day")).agg(hll_sketch_agg(col("user_id")).as("sk"))
    .select(col("day").cast("string"), hll_sketch_estimate(col("sk")))
    .collect().map(r => (r.getString(0), r.getLong(1))).toSet

  test("q102 first write is replay-safe: a crashed batch 0's files are ignored") {
    // trigger 0 died mid-write: the store directory holds a readable
    // partition file and a torn one, but no manifest. The retry must
    // bootstrap from its own rows alone, and a replay after the commit
    // must merge idempotently (HLL union is a per-register max).
    val dir = java.nio.file.Files.createTempDirectory("q102_replay").toString + "/store"
    val (_, b0, _) = q102Batches
    b0.limit(1).select(to_date(lit("1999-01-01")).as("day"),
        hll_sketch_agg(col("user_id")).as("sketch"))
      .write.partitionBy("day").parquet(dir)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part-junk.parquet"),
      Array[Byte](1, 2, 3))
    graft.streaming.StreamingOracle.mergeSketchBatch(b0, dir) // the retry of batch 0
    def snap() = sketchEstimates(graft.etl.SnapshotMerge.read(spark, dir))
    val after = snap()
    assert(after === directEstimates(b0),
      "the first commit must hold exactly batch 0's sketches, no crashed-write rows")
    graft.streaming.StreamingOracle.mergeSketchBatch(b0, dir)
    assert(snap() === after, "re-merging a replayed batch must not move any estimate")
  }

  test("q102 store: the second batch merges into the first, it does not overwrite") {
    val dir = java.nio.file.Files.createTempDirectory("q102_merge").toString + "/store"
    val (ev, b0, b1) = q102Batches
    graft.streaming.StreamingOracle.mergeSketchBatch(b0, dir)
    graft.streaming.StreamingOracle.mergeSketchBatch(b1, dir)
    assert(graft.etl.SnapshotMerge.committedEpochs(spark, dir) === Seq(1L, 2L))
    val merged = sketchEstimates(graft.etl.SnapshotMerge.read(spark, dir))
    val direct = directEstimates(ev)
    assert(merged === direct,
      s"the second batch must MERGE into the first (got $merged vs $direct)")
  }

  test("q102: the STREAM-maintained sketch store equals the batch-built one, estimate for estimate") {
    // the incremental path — per-batch partial sketches merged into the
    // stored table by day across real micro-batches — must land on the
    // SAME register state as the batch build (HLL union is an
    // elementwise max, invariant to slicing), so the weekly estimates
    // from both stores must be EQUAL, not merely both within ±10%
    val out = graft.streaming.StreamingOracle.streamingSketchMaintain(spark, sf).collect()
    assert(out.nonEmpty && out.forall(_.getBoolean(2)),
      s"approx_ok must hold on the stream-maintained store: ${out.mkString}")
    val streamed = graft.sources.PartitionedLayout
      .mergedWeeklyEstimates(graft.etl.SnapshotMerge.read(spark,
        graft.streaming.StreamingOracle.maintainedStores(spark, sf)._1))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.sources.PartitionedLayout
      .mergedWeeklyEstimates(
        spark.read.parquet(graft.sources.PartitionedLayout.sketchTableDir(spark, sf)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed === batch,
      s"stream-maintained store must equal the batch build: $streamed vs $batch")
  }

  // a session with the AutoBloomPrune flag on (the q79 gate-session
  // pattern) — the caller's `spark` never sees the flag
  private def abpSession = graft.SessionClones.cloned("plan-spec-abp", spark) { s =>
    s.conf.set(graft.plans.AutoBloomPrune.Flag, "true")
  }

  test("AutoBloomPrune never fires on an EqualTo nested under Or (disjunctive join)") {
    val s = abpSession
    val li = Tables.lineitem(s, sf).select("l_orderkey", "l_suppkey", "l_returnflag")
    val sel = Tables.orders(s, sf)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 450000.0)
      .select("o_orderkey", "o_custkey")
    // rows may join through EITHER disjunct — pruning on one equi-pair
    // would silently drop rows that only match the other (the round-9
    // ADVICE correctness flag)
    val disjunctive = li.join(sel,
      col("l_orderkey") === col("o_orderkey") || col("l_suppkey") === col("o_custkey"))
    assert(!disjunctive.queryExecution.optimizedPlan.toString.contains("might_contain"),
      "no bloom probe may be injected for a disjunctive condition")
    // and the result equals the no-flag session's, row for row
    val plain = Tables.lineitem(spark, sf).select("l_orderkey", "l_suppkey", "l_returnflag")
      .join(Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 450000.0)
        .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey") || col("l_suppkey") === col("o_custkey"))
    assert(disjunctive.count() === plain.count())
  }

  test("AutoBloomPrune skips an unfiltered build side (IsNotNull-only filters don't count)") {
    val s = abpSession
    // orders is smaller than lineitem but carries no user predicate —
    // only the IsNotNull constraints InferFiltersFromConstraints injects.
    // A bloom over ALL its keys would admit everything and prune nothing.
    val joined = Tables.lineitem(s, sf)
      .join(Tables.orders(s, sf).select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"))
    assert(!joined.queryExecution.optimizedPlan.toString.contains("might_contain"),
      "no bloom may be built for an unfiltered dim")
  }

  test("AutoBloomPrune mirrors orientation: a selective smaller LEFT side prunes the right") {
    val s = abpSession
    val sel = Tables.orders(s, sf)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 450000.0)
      .select("o_orderkey")
    // build side on the LEFT this time — the round-9 rule only pruned
    // when the build side sat on the right
    val joined = sel.join(Tables.lineitem(s, sf), col("o_orderkey") === col("l_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        graft.functions.Det.dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("l_returnflag")
    val opt = joined.queryExecution.optimizedPlan.toString
    assert(opt.contains("might_contain"),
      s"the flipped-orientation join must still get the scan-side probe:\n$opt")
    // bit-identical to the hand-written q77 rollup
    val manual = graft.operators.RuntimeFilter.bloomPrunedRollup(spark, sf)
    assert(joined.collect().toSeq === manual.collect().toSeq)
  }

  test("AutoBloomPrune fires on LEFT SEMI (EXISTS) and NEVER on LEFT ANTI") {
    val s = abpSession
    import org.apache.spark.sql.functions.{col => c}
    val sel = Tables.orders(s, sf)
      .filter(c("o_orderpriority") === "1-URGENT" && c("o_totalprice") > 450000.0)
      .select("o_orderkey")
    val fact = Tables.lineitem(s, sf).select("l_orderkey", "l_returnflag")
    val semi = fact.join(sel, c("l_orderkey") === c("o_orderkey"), "left_semi")
    val semiOpt = semi.queryExecution.optimizedPlan.toString
    assert(semiOpt.contains("might_contain"),
      s"the EXISTS shape must get the semi-join-reduction probe:\n$semiOpt")
    // row parity with the rule off
    val plain = Tables.lineitem(spark, sf).select("l_orderkey", "l_returnflag")
      .join(Tables.orders(spark, sf)
        .filter(c("o_orderpriority") === "1-URGENT" && c("o_totalprice") > 450000.0)
        .select("o_orderkey"), c("l_orderkey") === c("o_orderkey"), "left_semi")
    assert(semi.count() === plain.count())
    // LEFT ANTI: pruning "might match" rows would drop exactly the rows
    // the anti join exists to KEEP — the rule must not touch it
    val anti = fact.join(sel, c("l_orderkey") === c("o_orderkey"), "left_anti")
    val antiOpt = anti.queryExecution.optimizedPlan.toString
    assert(!antiOpt.contains("might_contain"),
      s"a bloom probe on an anti join would drop its keepers:\n$antiOpt")
    val plainAnti = Tables.lineitem(spark, sf).select("l_orderkey", "l_returnflag")
      .join(Tables.orders(spark, sf)
        .filter(c("o_orderpriority") === "1-URGENT" && c("o_totalprice") > 450000.0)
        .select("o_orderkey"), c("l_orderkey") === c("o_orderkey"), "left_anti")
    assert(anti.count() === plainAnti.count())
  }

  test("AutoBloomPrune combines a two-key join into ONE combined-key probe") {
    val s = abpSession
    // the multi-fact two-key shape (user_key AND time_key): both equi
    // conjuncts span the same two sides, so the rule must inject a
    // single probe over xxhash64(k1, k2) — tighter than either key alone
    val sel = Tables.orders(s, sf)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 450000.0)
      .select("o_orderkey", "o_custkey")
    val joined = Tables.lineitem(s, sf)
      .select("l_orderkey", "l_suppkey", "l_returnflag", "l_extendedprice")
      .join(sel, col("l_orderkey") === col("o_orderkey") &&
        col("l_suppkey") === col("o_custkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag")
    val opt = joined.queryExecution.optimizedPlan.toString
    assert("might_contain".r.findAllIn(opt).length === 1,
      s"exactly one (combined) probe expected:\n$opt")
    assert("xxhash64\\(l_orderkey#\\d+L?, l_suppkey#\\d+L?".r.findFirstIn(opt).isDefined,
      s"the probe must hash BOTH fact keys together:\n$opt")
    assert("xxhash64\\(o_orderkey#\\d+L?, o_custkey#\\d+L?".r.findFirstIn(opt).isDefined,
      s"the bloom must be built over BOTH build keys together:\n$opt")
    // bit-identical to the no-flag session
    val plain = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_suppkey", "l_returnflag", "l_extendedprice")
      .join(Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 450000.0)
        .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey") && col("l_suppkey") === col("o_custkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag")
    assert(joined.collect().toSeq === plain.collect().toSeq)
  }

  test("AutoBloomPrune composes: two selective dims put two probes on the fact scan") {
    val s = abpSession
    val selOrders = Tables.orders(s, sf)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 450000.0)
      .select("o_orderkey")
    val selPart = Tables.part(s, sf)
      .filter(col("p_size") <= 5).select("p_partkey")
    val joined = Tables.lineitem(s, sf)
      .join(selOrders, col("l_orderkey") === col("o_orderkey"))
      .join(selPart, col("l_partkey") === col("p_partkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag")
    val opt = joined.queryExecution.optimizedPlan.toString
    // per-key idempotence guard: the l_orderkey probe must not block
    // the l_partkey probe — the fact scan carries BOTH (the semi-join-
    // reduction shape of a multi-dim star query)
    assert("might_contain".r.findAllIn(opt).length >= 2,
      s"both dims must prune the fact side:\n$opt")
    // and never stacks a duplicate probe on the SAME key
    assert(opt.split("xxhash64\\(l_orderkey").length - 1 <= 2, // probe + its bloom build ref
      s"the fixed point must not stack duplicate l_orderkey probes:\n$opt")
    // bit-identical to the no-flag session
    val plain = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 450000.0)
        .select("o_orderkey"), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.part(spark, sf).filter(col("p_size") <= 5).select("p_partkey"),
        col("l_partkey") === col("p_partkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag")
    assert(joined.collect().toSeq === plain.collect().toSeq)
  }

  test("q80: AQE splits the skewed join partition at runtime (skew=true)") {
    val df = graft.etl.Skew.aqeSkewJoinStats(spark, sf)
    val rows = df.collect() // materialize so the AQE final plan exists
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("skew=true"), s"the SMJ must be marked skew-optimized:\n$p")
    assert(p.contains("skewed"), s"the shuffle read must carry skew splits:\n$p")
    // the runtime re-plan is invisible in the result: same totals as the
    // plain (skew-blind) formulation on the caller's session
    val plain = Tables.events(spark, sf)
      .select(when(col("event_type") === "error", lit("error"))
        .otherwise(lit("hot")).as("k_class_src"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy(when(col("k_class_src") === "error", "fault").otherwise("bulk").as("k_class"))
      .agg(count(lit(1)).as("n_events"), sum(col("v")).cast("double").as("total_value"))
      .orderBy("k_class")
    assert(rows.toSeq === plain.collect().toSeq)
  }

  test("whole-stage codegen covers the aggregation pipeline") {
    // AQE prints codegen stage markers (`*(n)`) only in the finalized plan,
    // so execute first.
    val df = CoreQueries.pricingSummary(Tables.lineitem(spark, sf))
    df.collect()
    val p = plan(df)
    assert(p.contains("*("), s"expected codegen stage markers in final plan:\n$p")
  }
}
