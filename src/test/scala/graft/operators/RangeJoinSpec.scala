package graft.operators

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Binned range join: the rewrite must change the PLAN (nested-loop →
  * bin equi-join) and never the ROWS (parity with the naive predicate
  * join, at several bin widths). */
class RangeJoinSpec extends SparkSuite {

  private val sf = sfDir("0.001")

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).toString
  }

  test("the naive keyless range predicate plans a nested-loop join (the trap)") {
    val ev = Tables.events(spark, sf)
    val naive = ev.select(col("event_id"), col("ts"))
      .join(RangeJoin.purchaseWindows(ev),
        col("ts") >= col("w_start") && col("ts") < col("w_end"))
    val p = naive.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct"),
      s"expected the nested-loop trap in the naive plan:\n$p")
  }

  test("q88 binned form plans an equi-join on the bin — no nested loop, no cartesian") {
    val p = finalPlan(RangeJoin.pointInWindowRollup(Tables.events(spark, sf)))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"binned rewrite must not nested-loop:\n$p")
    assert(p.contains("__bin"), s"expected the bin equi-key in:\n$p")
  }

  test("q88 pairs == naive predicate join, row for row") {
    val ev = Tables.events(spark, sf)
    val pts = ev.select(col("event_id"), col("ts"))
    val wins = RangeJoin.purchaseWindows(ev)
    val binned = RangeJoin.pointInInterval(pts, "ts", wins, "w_start", "w_end")
      .select("event_id", "w_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val naive = pts.join(wins, col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .select("event_id", "w_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(binned.length === naive.length, "pair count must match the naive join")
    assert(binned.sorted.toSeq === naive.sorted.toSeq)
    assert(binned.nonEmpty, "fixture must exercise matches")
  }

  test("q89 overlap pairs == naive overlap join — the overlap-start residual dedups exactly") {
    val ev = Tables.events(spark, sf)
    val w = RangeJoin.purchaseWindows(ev)
    val e = RangeJoin.errorWindows(ev)
    val binned = RangeJoin.intervalOverlap(w, "w_start", "w_end", e, "e_start", "e_end")
      .select("w_id", "e_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val naive = w.join(e, col("w_start") < col("e_end") && col("e_start") < col("w_end"))
      .select("w_id", "e_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(binned.length === naive.length,
      "each overlapping pair must appear exactly once (no multi-bin duplicates)")
    assert(binned.sorted.toSeq === naive.sorted.toSeq)
    assert(binned.nonEmpty, "fixture must exercise overlaps")
  }

  test("bin width changes COST never ROWS: 1-minute, 10-minute, 1-day bins agree") {
    val ev = Tables.events(spark, sf)
    val pts = ev.select(col("event_id"), col("ts"))
    val wins = RangeJoin.purchaseWindows(ev)
    def pairs(w: Long) =
      RangeJoin.pointInInterval(pts, "ts", wins, "w_start", "w_end", w)
        .select("event_id", "w_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val minute = 60L * 1000 * 1000
    val base = pairs(10 * minute)
    assert(pairs(minute) === base)
    assert(pairs(24 * 60 * minute) === base)
    def overlaps(w: Long) =
      RangeJoin.intervalOverlap(wins, "w_start", "w_end",
        RangeJoin.errorWindows(ev), "e_start", "e_end", w)
        .select("w_id", "e_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val obase = overlaps(10 * minute)
    assert(overlaps(minute) === obase)
    assert(overlaps(24 * 60 * minute) === obase)
  }

  test("numeric domain: long points in long ranges (the IP-block shape)") {
    import spark.implicits._
    // CIDR-like blocks over an IP-as-long space; bin width smaller,
    // equal to, and larger than block sizes must all agree
    val pts = Seq(167772161L, 167772415L, 167772416L, 3232235777L, 42L)
      .toDF("ip").withColumn("pid", col("ip"))
    val blocks = Seq(
      (1L, 167772160L, 167772416L),   // 10.0.0.0/24 → [.0, .256)
      (2L, 3232235776L, 3232236032L), // 192.168.1.0/24
      (3L, 167772416L, 167772672L))   // 10.0.1.0/24
      .toDF("net", "lo", "hi")
    def run(w: Long) = RangeJoin.pointInInterval(pts, "ip", blocks, "lo", "hi", w)
      .select("pid", "net").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val expect = Seq((167772161L, 1L), (167772415L, 1L), (167772416L, 3L), (3232235777L, 2L))
    assert(run(64) === expect)
    assert(run(256) === expect)
    assert(run(100000) === expect)
  }

  test("fractional domain: the last touched bin is covered (sub-unit and boundary-crossing ends)") {
    import spark.implicits._
    // [2.5, 3.2) touches bin 3 at width 1 — the tight integer-domain
    // bound (floor(end)-1 = 2) would miss point 3.1
    val pts = Seq(2.6, 3.1, 3.2, 2.4).toDF("v").withColumn("pid", col("v"))
    val ivs = Seq((1L, 2.5, 3.2), (2L, 7.0, 8.0), (3L, 4.25, 4.75))
      .toDF("iid", "lo", "hi")
    val got = RangeJoin.pointInInterval(pts, "v", ivs, "lo", "hi", 1L)
      .select("pid", "iid").collect().map(r => (r.getDouble(0), r.getLong(1))).sorted.toSeq
    assert(got === Seq((2.6, 1L), (3.1, 1L))) // 3.2 excluded (half-open), 2.4 below
    // sub-unit interval entirely inside one bin still matches its points
    val got2 = RangeJoin.pointInInterval(Seq(4.5).toDF("v"), "v", ivs, "lo", "hi", 1L)
      .select("iid").collect().map(_.getLong(0)).toSeq
    assert(got2 === Seq(3L))
  }

  test("negative numeric domain: bins floor correctly below zero") {
    import spark.implicits._
    // pmod keeps bin ids floor-consistent across zero: [-250, -50) at
    // width 100 spans bins -3..-1; a point at -100 is inside
    val pts = Seq(-100L, -250L, -50L, 0L, -51L).toDF("v").withColumn("pid", col("v"))
    val ivs = Seq((1L, -250L, -50L), (2L, -25L, 25L)).toDF("iid", "lo", "hi")
    val got = RangeJoin.pointInInterval(pts, "v", ivs, "lo", "hi", 100L)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got === Seq((-250L, 1L), (-100L, 1L), (-51L, 1L), (0L, 2L)))
  }

  test("q94 salted bin join == unsalted, row for row, on the bursty window set") {
    val ev = Tables.events(spark, sf)
    val pts = ev.select(col("event_id"), col("ts"), col("value"))
    val wins = RangeJoin.skewedWindows(ev)
    // the fixture IS skewed: the hot bin carries ~half the windows
    val binCounts = wins
      .select((unix_micros(col("w_start")) / RangeJoin.DefaultBinMicros).cast("long").as("b"))
      .groupBy("b").count().collect().map(_.getLong(1))
    assert(binCounts.max.toDouble / binCounts.sum >= 0.4,
      s"hot bin must carry ~half the windows (got ${binCounts.max} of ${binCounts.sum})")
    val salted = RangeJoin.pointInIntervalSalted(pts, "ts", wins, "w_start", "w_end")
      .select("event_id", "w_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val plain = RangeJoin.pointInInterval(pts, "ts", wins, "w_start", "w_end")
      .select("event_id", "w_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(salted === plain, "salting must never change the pair set")
    assert(salted.nonEmpty, "fixture must exercise hot-bin matches")
    // plan: the join key is the composite (__bin, __salt)
    val p = finalPlan(RangeJoin.pointInIntervalSalted(pts, "ts", wins, "w_start", "w_end"))
    assert(p.contains("__salt"), s"expected the salt in the join key:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"salted rewrite must stay an equi-join:\n$p")
    // and the salt genuinely splits the hot bin's intervals into >1 group
    val saltSpread = wins
      .withColumn("__salt", pmod(xxhash64(wins.columns.map(col): _*), lit(8)))
      .filter(unix_micros(col("w_start")) / RangeJoin.DefaultBinMicros ===
        unix_micros(to_timestamp(lit("2024-01-15 12:00:00"))) / RangeJoin.DefaultBinMicros)
      .select("__salt").distinct().count()
    assert(saltSpread >= 6, s"hot bin must spread across salts, got $saltSpread of 8")
  }

  test("q100 auto path: salt APPLIED on the bursty fixture, ABSENT on the uniform one, width from the p95") {
    val ev = Tables.events(spark, sf)
    val pts = ev.select(col("event_id"), col("ts"), col("value"))

    // bursty windows (the q94 fixture): the stats pass must measure the
    // hot bin and pick the salted plan — and the rows must equal the
    // hand-picked salted variant's
    val skew = RangeJoin.skewedWindows(ev)
    // minFullRows = 0 disables the tiny cutoff and taskAbsorbBytes = 0
    // the absolute-volume demotion: these pins exercise the LADDER on
    // fixtures the cutoff/gate would (correctly) wave through; each
    // gate is pinned by its own test. The per-call ...AutoStats receipt
    // replaces the lastAutoRange read — race-free.
    val (auto, dec) = RangeJoin.pointInIntervalAutoStats(
      pts, "ts", skew, "w_start", "w_end", minFullRows = 0L, taskAbsorbBytes = 0L)
    val autoRows = auto.select("event_id", "w_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(dec.salted, s"auto must select a salted plan on the bursty fixture ($dec)")
    // measured on the EXPLODED join-key distribution (each window spans
    // ~1–2 bins at the auto width), so the burst's ~half-of-windows
    // reads as ~0.36 of exploded rows — still far above the threshold
    assert(dec.hotBinShare >= 0.3, s"measured hot-bin share must reflect the burst ($dec)")
    // ~half the join is hot (start bin + spill-over) → past the
    // cutover, so the ladder picks the GLOBAL salted exec — the partial
    // split would pay a second join for almost no avoided replication
    assert(dec.mode === "global", s"a burst owning ~half the join salts globally ($dec)")
    assert(dec.hotBins.size <= 2, s"the burst must flag at most 2 bins ($dec)")
    val hotBinOfBurst = spark.range(1)
      .select(floor(unix_micros(to_timestamp(lit("2024-01-15 12:00:00"))) / dec.binWidth)
        .cast("long"))
      .head().getLong(0)
    assert(dec.hotBins.contains(hotBinOfBurst),
      s"the flagged bins must include the burst instant's bin ($dec vs $hotBinOfBurst)")
    val hand = RangeJoin.pointInIntervalSalted(pts, "ts", skew, "w_start", "w_end")
      .select("event_id", "w_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(autoRows === hand, "auto-salted rows must equal the hand-picked salted variant")

    // uniform windows (the q88 fixture): no salt, width near the p95
    // window length (1–7 min windows → p95 within [6, 7] minutes)
    val uni = RangeJoin.purchaseWindows(ev)
    val (auto2, dec2) = RangeJoin.pointInIntervalAutoStats(
      pts, "ts", uni, "w_start", "w_end", minFullRows = 0L, taskAbsorbBytes = 0L)
    val auto2Rows = auto2.select("event_id", "w_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(!dec2.salted, s"auto must keep the plain plan on uniform windows ($dec2)")
    val minute = 60L * 1000 * 1000
    assert(dec2.binWidth >= 6 * minute && dec2.binWidth <= 7 * minute,
      s"auto width must track the p95 window length, got ${dec2.binWidth}")
    val plain = RangeJoin.pointInInterval(pts, "ts", uni, "w_start", "w_end")
      .select("event_id", "w_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(auto2Rows === plain, "auto-unsalted rows must equal the plain variant")

    // plan receipts: the chosen width appears literally in the plan
    assert(auto2.queryExecution.optimizedPlan.toString.contains(dec2.binWidth.toString),
      "the chosen width must be visible in the plan")
  }

  test("a THIN burst picks PARTIAL salting: only the hot bins' rows ride the salted branch") {
    val ev = Tables.events(spark, sf)
    val pts = ev.select(col("event_id"), col("ts"), col("value"))
    // a third of the windows collapse onto one instant as SHORT 1-minute
    // windows (single-bin at the ~7-min auto width): the hot bin's
    // exploded share lands ~0.24 — above the hot threshold (0.2), below
    // the global cutover (0.4) → partial
    val thin = ev.filter(col("event_type") === "purchase")
      .select(
        col("event_id").as("w_id"),
        when(col("event_id") % 3 === 0, lit(1))
          .otherwise((col("event_id") % 7) + 1).cast("int").as("w_len"),
        when(col("event_id") % 3 === 0, to_timestamp(lit("2024-01-15 12:00:00")))
          .otherwise(col("ts")).as("w_start"))
      .withColumn("w_end", col("w_start") + expr("make_dt_interval(0, 0, w_len, 0)"))
    // the sf0.001 fixture has only ~240 windows, so the 10% sample is
    // ~24 rows — the MinStatsRows fallback must kick in and redo the
    // histogram on the full frame (this test also covers that fallback)
    val (auto, dec) = RangeJoin.pointInIntervalAutoStats(
      pts, "ts", thin, "w_start", "w_end", minFullRows = 0L, taskAbsorbBytes = 0L)
    val autoRows = auto.select("event_id", "w_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(dec.mode === "partial", s"a thin burst must salt only its own bins ($dec)")
    assert(dec.hotBins.nonEmpty && dec.hotBins.size <= 2, s"thin burst flags 1-2 bins ($dec)")
    // row-identical to the plain join at the same width
    val plain = RangeJoin.pointInInterval(pts, "ts", thin, "w_start", "w_end", dec.binWidth)
      .select("event_id", "w_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(autoRows === plain, "partial salting must never change the pair set")
    assert(autoRows.nonEmpty)
    // round 14: partial is the ORIENTATION-ROUTED single join (the
    // routing lives in the salt expressions — cold bins ride (0, 0)),
    // not the old two-branch union that re-scanned both sides
    val p = auto.queryExecution.optimizedPlan.toString
    assert(p.contains("__salt"), s"expected the salted routing in:\n$p")
    assert(!p.contains("Union"), s"routed partial must be ONE join, not a union:\n$p")
  }

  test("an interval spanning more than MaxBinsPerInterval bins fails fast with an actionable message") {
    import spark.implicits._
    // one year at 1 µs bins ≈ 3e13 bins — unguarded this would try to
    // materialize an array beyond Spark's limit; the guard must raise
    // the configuration error instead
    val pts = Seq(5L).toDF("v").withColumn("pid", col("v"))
    val ivs = Seq((1L, 0L, RangeJoin.MaxBinsPerInterval * 10)).toDF("iid", "lo", "hi")
    val ex = intercept[Exception] {
      RangeJoin.pointInInterval(pts, "v", ivs, "lo", "hi", binWidth = 1L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("widen binWidth")),
      s"expected the actionable bin-cap error, got: $ex")
    // just under the cap still works (a wide-but-legal interval)
    val ok = RangeJoin.pointInInterval(pts, "v",
      Seq((1L, 0L, 1000L)).toDF("iid", "lo", "hi"), "lo", "hi", binWidth = 1L)
      .select("iid").collect().map(_.getLong(0)).toSeq
    assert(ok === Seq(1L))
  }

  test("empty and inverted intervals match nothing instead of erroring") {
    import spark.implicits._
    val pts = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("pid", "pt")
    val ivs = Seq(
      (1L, "2024-01-01 09:00:00", "2024-01-01 09:00:00"), // empty
      (2L, "2024-01-01 11:00:00", "2024-01-01 09:00:00"), // inverted
      (3L, "2024-01-01 09:00:00", "2024-01-01 11:00:00")) // real
      .toDF("iid", "s", "e")
      .select(col("iid"), col("s").cast("timestamp").as("s"), col("e").cast("timestamp").as("e"))
    val out = RangeJoin.pointInInterval(pts, "pt", ivs, "s", "e").collect()
    assert(out.map(_.getAs[Long]("iid")).toSeq === Seq(3L))
  }

  test("tiny cutoff: a small stats side skips the ladder, keeps the plain plan, and rows hold") {
    val ev = Tables.events(spark, sf)
    val pts = ev.select(col("event_id"), col("ts"), col("value"))
    // DEFAULT params on the bursty fixture: the sf0.001 window set is a
    // few hundred rows — far under TinyFullRows — so the engine's own
    // decision must be the tiny plain plan even though the data is
    // maximally skewed (at this size the skew cannot straggle; the
    // exploded side is broadcast-range)
    val skew = RangeJoin.skewedWindows(ev)
    val (auto, dec) = RangeJoin.pointInIntervalAutoStats(
      pts, "ts", skew, "w_start", "w_end")
    assert(dec.mode === "tiny", s"a sub-cutoff side must skip the ladder ($dec)")
    assert(!dec.salted && dec.hotBins.isEmpty, s"tiny mode carries no salt state ($dec)")
    val autoRows = auto.select("event_id", "w_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val plain = RangeJoin.pointInInterval(pts, "ts", skew, "w_start", "w_end", dec.binWidth)
      .select("event_id", "w_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(autoRows === plain && autoRows.nonEmpty,
      "tiny mode must be row-identical to the plain join at the same width")
    assert(!auto.queryExecution.optimizedPlan.toString.contains("__salt"),
      "tiny mode must plan no salt machinery")
    // the overlap ladder applies the same cutoff on the combined sides
    val (l, r) = RangeJoin.burstOverlapSides(ev)
    val (autoOv, decOv) = RangeJoin.intervalOverlapAutoStats(
      l, "w_start", "w_end", r, "e_start", "e_end")
    assert(decOv.mode === "tiny", s"sub-cutoff overlap sides must skip the ladder ($decOv)")
    val ovRows = autoOv.select("w_id", "e_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    val ovPlain = RangeJoin.intervalOverlap(
        l, "w_start", "w_end", r, "e_start", "e_end", decOv.binWidth)
      .select("w_id", "e_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(ovRows === ovPlain && ovRows.nonEmpty)
  }

  test("grid-salted interval overlap == plain overlap, row for row, and joins on the (bin, a, b) key") {
    val ev = Tables.events(spark, sf)
    val (l, r) = RangeJoin.burstOverlapSides(ev)
    val plain = RangeJoin.intervalOverlap(l, "w_start", "w_end", r, "e_start", "e_end")
      .select("w_id", "e_id").collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    val grid = RangeJoin.intervalOverlapSalted(l, "w_start", "w_end", r, "e_start", "e_end")
      .select("w_id", "e_id").collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(grid === plain, "the grid salt must never change the pair set")
    assert(grid.nonEmpty, "fixture must exercise overlaps (burst pairs at minimum)")
    val gridDf = RangeJoin.intervalOverlapSalted(l, "w_start", "w_end", r, "e_start", "e_end")
    val p = finalPlan(gridDf)
    assert(p.contains("__salt_a") && p.contains("__salt_b"),
      s"expected both grid axes in the join key:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"gridded rewrite must stay an equi-join:\n$p")
    // the grid genuinely spreads BOTH sides of the hot bin: each side's
    // hash axis lands its burst rows across >1 salt value
    def spread(side: org.apache.spark.sql.DataFrame, startCol: String): Long = side
      .withColumn("__sa", pmod(xxhash64(side.columns.map(col): _*),
        lit(RangeJoin.GridSaltDefault)))
      .filter(col(startCol) === to_timestamp(lit("2024-01-15 12:00:00")))
      .select("__sa").distinct().count()
    assert(spread(l, "w_start") >= 2, "left burst must spread across its hash axis")
    assert(spread(r, "e_start") >= 2, "right burst must spread across its hash axis")
  }

  test("q105 overlap ladder: GLOBAL on the two-sided burst, PLAIN on uniform sides, and either side's burst is seen") {
    val ev = Tables.events(spark, sf)
    // two-sided burst (the q105 fixture): both sliced window sets stack
    // half their rows on one instant → the hotter side's combined hot
    // share crosses the cutover → one gridded exec
    val (l, r) = RangeJoin.burstOverlapSides(ev)
    val (auto, dec) = RangeJoin.intervalOverlapAutoStats(
      l, "w_start", "w_end", r, "e_start", "e_end", minFullRows = 0L,
      taskAbsorbBytes = 0L)
    assert(dec.mode === "global", s"a two-sided burst must salt globally ($dec)")
    assert(dec.hotBinShare >= 0.3, s"measured share must reflect the burst ($dec)")
    val burstBin = spark.range(1)
      .select(floor(unix_micros(to_timestamp(lit("2024-01-15 12:00:00"))) / dec.binWidth)
        .cast("long")).head().getLong(0)
    assert(dec.hotBins.contains(burstBin),
      s"the flagged bins must include the burst instant's bin ($dec vs $burstBin)")
    val autoRows = auto.select("w_id", "e_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    val plain = RangeJoin.intervalOverlap(
        l, "w_start", "w_end", r, "e_start", "e_end", dec.binWidth)
      .select("w_id", "e_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(autoRows === plain && autoRows.nonEmpty,
      "the gridded auto plan must be row-identical to the plain overlap")

    // uniform sides (the q89 fixture): no hot bin → plain mode
    val w = RangeJoin.purchaseWindows(ev)
    val e = RangeJoin.errorWindows(ev)
    val (autoU, decU) = RangeJoin.intervalOverlapAutoStats(
      w, "w_start", "w_end", e, "e_start", "e_end", minFullRows = 0L,
      taskAbsorbBytes = 0L)
    assert(decU.mode === "plain", s"uniform sides must keep the plain plan ($decU)")
    val uRows = autoU.select("w_id", "e_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    val uPlain = RangeJoin.intervalOverlap(
        w, "w_start", "w_end", e, "e_start", "e_end", decU.binWidth)
      .select("w_id", "e_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(uRows === uPlain && uRows.nonEmpty)

    // ONE-SIDED burst on the RIGHT only: the left histogram alone could
    // never flag it — this is the two-sided-detection pin. The left
    // keeps its natural timestamps; the right re-anchors its WHOLE
    // slice onto the burst instant (all-burst, so the share is
    // unambiguously hot whatever the slice size).
    val rAll = ev.filter(col("event_type") === "error" && col("event_id") % 16 === 5)
      .select(
        col("event_id").as("e_id"),
        ((col("event_id") % 11) + 1).cast("int").as("e_len"),
        to_timestamp(lit("2024-01-15 12:00:00")).as("e_start"))
      .withColumn("e_end", col("e_start") + expr("make_dt_interval(0, 0, e_len, 0)"))
    val (autoR, decR) = RangeJoin.intervalOverlapAutoStats(
      w, "w_start", "w_end", rAll, "e_start", "e_end", minFullRows = 0L,
      taskAbsorbBytes = 0L)
    assert(decR.mode !== "plain",
      s"a burst on the right side alone must engage the ladder ($decR)")
    assert(decR.hotBins.contains(burstBin), s"the right burst's bin must be flagged ($decR)")
    val rRows = autoR.select("w_id", "e_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    val rPlain = RangeJoin.intervalOverlap(
        w, "w_start", "w_end", rAll, "e_start", "e_end", decR.binWidth)
      .select("w_id", "e_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(rRows === rPlain, "right-burst routing must never change the pair set")
  }

  test("overlap global gate reads the SHARED bins' share: disjoint one-sided piles stay PARTIAL") {
    // left piles a third of its windows on instant X and a third on a
    // DISJOINT instant Z; right piles a third on X only. Every hot bin
    // crosses the 0.2 flag, the left's hot SUM (~0.6) crosses the 0.4
    // cutover — but the SHARED bin (X) carries only ~a third of either
    // side, so global (which would grid Z's left-only pile and every
    // cold bin too) must NOT fire: Z is served by the partial form's
    // hash-the-left orientation with ZERO replication of the pile
    // itself. A per-side hot-sum gate — the pre-r13 form — would
    // escalate exactly this shape.
    val ev = Tables.events(spark, sf)
    val x = to_timestamp(lit("2024-01-15 12:00:00"))
    val z = to_timestamp(lit("2024-02-20 06:00:00"))
    val l = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("w_id"),
        ((col("event_id") % 7) + 1).cast("int").as("w_len"),
        when(col("event_id") % 3 === 0, x)
          .when(col("event_id") % 3 === 1, z)
          .otherwise(col("ts")).as("w_start"))
      .withColumn("w_end", col("w_start") + expr("make_dt_interval(0, 0, w_len, 0)"))
    val r = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("e_id"),
        ((col("event_id") % 11) + 1).cast("int").as("e_len"),
        when(col("event_id") % 3 === 0, x).otherwise(col("ts")).as("e_start"))
      .withColumn("e_end", col("e_start") + expr("make_dt_interval(0, 0, e_len, 0)"))
    val (auto, dec) = RangeJoin.intervalOverlapAutoStats(
      l, "w_start", "w_end", r, "e_start", "e_end", minFullRows = 0L,
      taskAbsorbBytes = 0L)
    assert(dec.mode === "partial",
      s"disjoint one-sided piles with a sub-cutover shared bin must stay partial ($dec)")
    def binOf(t: String) = spark.range(1)
      .select(floor(unix_micros(to_timestamp(lit(t))) / dec.binWidth).cast("long"))
      .head().getLong(0)
    assert(dec.hotBins.contains(binOf("2024-01-15 12:00:00")) &&
      dec.hotBins.contains(binOf("2024-02-20 06:00:00")),
      s"both piles' bins must be flagged ($dec)")
    val autoRows = auto.select("w_id", "e_id").collect()
      .map(p => (p.getLong(0), p.getLong(1))).sorted.toSeq
    val plain = RangeJoin.intervalOverlap(
        l, "w_start", "w_end", r, "e_start", "e_end", dec.binWidth)
      .select("w_id", "e_id").collect()
      .map(p => (p.getLong(0), p.getLong(1))).sorted.toSeq
    assert(autoRows === plain && autoRows.nonEmpty,
      "partial routing must be row-identical to the plain overlap")
  }

  test("PRE-HISTOGRAM gate: sides whose whole bytes fit the budget skip the histograms, receipted preGated (r16)") {
    val ev = Tables.events(spark, sf)
    // the same burst fixture the demote test measures: under the
    // DEFAULT budget its whole sides are kilobytes, so the gate must
    // answer from the p95/count aggregates alone — plain plan, no hot
    // receipts (the histograms never ran), preGated flag set
    val (l, r) = RangeJoin.burstOverlapSides(ev)
    val (auto, dec) = RangeJoin.intervalOverlapAutoStats(
      l, "w_start", "w_end", r, "e_start", "e_end", minFullRows = 0L)
    assert(dec.preGated && dec.mode === "plain" && !dec.salted,
      s"bounded-small sides must shortcut to plain ($dec)")
    assert(dec.hotBins.isEmpty && dec.demoted.isEmpty,
      s"no histogram receipts can exist — the pipelines were skipped ($dec)")
    val autoRows = auto.select("w_id", "e_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    val plain = RangeJoin.intervalOverlap(
        l, "w_start", "w_end", r, "e_start", "e_end", dec.binWidth)
      .select("w_id", "e_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(autoRows === plain && autoRows.nonEmpty,
      "the pre-gated plan is the plain overlap at the p95 width")

    // point-in-interval form: same shortcut, one extra cheap point
    // aggregate instead of two histogram pipelines
    val pts = ev.select(col("event_id"), col("ts"), col("value"))
    val wins = RangeJoin.purchaseWindows(ev)
    val (autoP, decP) = RangeJoin.pointInIntervalAutoStats(
      pts, "ts", wins, "w_start", "w_end", minFullRows = 0L)
    assert(decP.preGated && decP.mode === "plain",
      s"bounded-small point/interval sides must shortcut ($decP)")
    val pRows = autoP.select("event_id", "w_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    val pPlain = RangeJoin.pointInInterval(pts, "ts", wins, "w_start", "w_end",
        decP.binWidth)
      .select("event_id", "w_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(pRows === pPlain && pRows.nonEmpty)

    // the gate stands down when the budget is off (share-only mode
    // must keep its measured semantics)
    val (_, decOff) = RangeJoin.intervalOverlapAutoStats(
      l, "w_start", "w_end", r, "e_start", "e_end", minFullRows = 0L,
      taskAbsorbBytes = 0L)
    assert(!decOff.preGated, s"budget off → no pre-gate ($decOff)")
  }

  test("absolute-volume gate: a share-hot overlap bin whose pile fits one task DEMOTES to plain, receipted") {
    // the q105 two-sided burst with the stats ladder forced on but the
    // DEFAULT task budget active: the burst bins are unambiguously hot
    // by share, yet the whole fixture is kilobytes — the r13 both-hot
    // rung's lesson is that any split here is pure replication premium.
    // The router must keep the plain plan and say why (demoted bins).
    val ev = Tables.events(spark, sf)
    val (l, r) = RangeJoin.burstOverlapSides(ev)
    // preGateFactor = 0: the kilobyte fixture would otherwise take the
    // r16 pre-histogram shortcut — this test pins the MEASURED demote
    // receipt, so the histogram path is forced
    val (auto, dec) = RangeJoin.intervalOverlapAutoStats(
      l, "w_start", "w_end", r, "e_start", "e_end", minFullRows = 0L,
      preGateFactor = 0.0)
    assert(dec.mode === "plain" && !dec.preGated,
      s"an absorbable pile must not salt ($dec)")
    assert(dec.demoted.nonEmpty, s"the demotion must be receipted ($dec)")
    assert(dec.hotBins.nonEmpty, s"the share flags must still be visible ($dec)")
    val autoRows = auto.select("w_id", "e_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    val plain = RangeJoin.intervalOverlap(
        l, "w_start", "w_end", r, "e_start", "e_end", dec.binWidth)
      .select("w_id", "e_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(autoRows === plain && autoRows.nonEmpty)
    assert(!auto.queryExecution.optimizedPlan.toString.contains("__salt"),
      "a demoted plan must carry no salt machinery")
  }

  test("point-side histogram: a POINT burst routes to the point-splitting orientation (r13 verdict #3)") {
    // the q107 fixture: bursty points against uniform windows — the
    // interval-side histogram is blind here, and the one-sided interval
    // salt provably cannot spread a point pile (it replicates every
    // point across the salts). The router must flag the bin from the
    // POINT side and hash-split the points.
    val ev = Tables.events(spark, sf)
    val pts = RangeJoin.burstPoints(ev)
    val wins = RangeJoin.purchaseWindows(ev)
    val (auto, dec) = RangeJoin.pointInIntervalAutoStats(
      pts, "ts", wins, "w_start", "w_end", minFullRows = 0L, taskAbsorbBytes = 0L)
    assert(dec.mode === "partial", s"the point burst must engage the routed partial ($dec)")
    assert(dec.pointHotBins.nonEmpty,
      s"the burst bin must be flagged from the POINT side ($dec)")
    assert(dec.gridBins.isEmpty, s"the interval side is uniform — no grid ($dec)")
    val burstBin = spark.range(1)
      .select(floor(unix_micros(to_timestamp(lit("2024-01-15 12:00:00"))) / dec.binWidth)
        .cast("long")).head().getLong(0)
    assert(dec.pointHotBins.contains(burstBin),
      s"the flagged point bin must be the burst instant's ($dec vs $burstBin)")
    val autoRows = auto.select("event_id", "w_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    val plain = RangeJoin.pointInInterval(pts, "ts", wins, "w_start", "w_end", dec.binWidth)
      .select("event_id", "w_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(autoRows === plain && autoRows.nonEmpty,
      "point-side routing must never change the pair set")
    // the plan hash-splits the POINTS (salt_a) — the axis the one-sided
    // interval salt does not have
    val p = auto.queryExecution.optimizedPlan.toString
    assert(p.contains("__salt_a"), s"expected the point-hash axis in:\n$p")
  }

  test("absolute-volume gate: an ambiguous overlap bin splits the BIGGER side (r14)") {
    // each side's pile alone fits the budget, together they overflow:
    // the orientation must hash-split the BIGGER pile, because the
    // partial form replicates the OTHER side's bin rows across the
    // salts. Widths are 32 B/row on both sides; the 10% sample falls
    // back to the full frame (fixture < MinStatsRows), so the byte
    // arithmetic is exact.
    val W = 60000000L
    def winSide(idCol: String, sCol: String, eCol: String, hot: Int, cold: Int) = {
      val base = spark.range(hot + cold).select(
        col("id").as(idCol),
        when(col("id") < hot, to_timestamp(lit("2024-01-15 12:00:00")))
          .otherwise(timestamp_micros(
            unix_micros(to_timestamp(lit("2024-01-01 00:00:00"))) +
              col("id") * 100000000L)).as(sCol))
      base.withColumn(eCol, timestamp_micros(unix_micros(col(sCol)) + 1000000L))
    }
    def check(lHot: Int, lCold: Int, rHot: Int, rCold: Int): RangeJoin.AutoRangeStats = {
      val l = winSide("w_id", "w_start", "w_end", lHot, lCold)
      val r = winSide("e_id", "e_start", "e_end", rHot, rCold)
      val (auto, dec) = RangeJoin.intervalOverlapAutoStats(
        l, "w_start", "w_end", r, "e_start", "e_end",
        binWidth = Some(W), minFullRows = 0L, taskAbsorbBytes = 10000L)
      val autoRows = auto.select("w_id", "e_id").collect()
        .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
      val plain = RangeJoin.intervalOverlap(
          l, "w_start", "w_end", r, "e_start", "e_end", W)
        .select("w_id", "e_id").collect()
        .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
      assert(autoRows === plain && autoRows.nonEmpty,
        "ambiguous routing must never change the pair set")
      dec
    }
    // right pile bigger (9.6 kB vs 3.2 kB, budget 10 kB): split rights
    val rBig = check(lHot = 100, lCold = 200, rHot = 300, rCold = 500)
    assert(rBig.mode === "partial" && rBig.pointHotBins.nonEmpty &&
      rBig.gridBins.isEmpty,
      s"the bigger RIGHT pile must be the hashed side ($rBig)")
    // left pile bigger: split lefts (right-oriented list stays empty)
    val lBig = check(lHot = 300, lCold = 500, rHot = 100, rCold = 200)
    assert(lBig.mode === "partial" && lBig.pointHotBins.isEmpty &&
      lBig.gridBins.isEmpty && lBig.hotBins.nonEmpty,
      s"the bigger LEFT pile must be the hashed side ($lBig)")
  }

  test("absolute-volume gate: an ambiguous point-in-interval bin splits the BIGGER side (r14)") {
    // same contract on the point ladder: the interval orientation
    // replicates the bin's POINTS across the salts, the point
    // orientation the bin's INTERVALS — split whichever pile is
    // bigger. Point rows are 24 B, interval rows 32 B.
    val W = 60000000L
    def pts(hot: Int, cold: Int) = spark.range(hot + cold).select(
      col("id").as("event_id"),
      when(col("id") < hot, to_timestamp(lit("2024-01-15 12:00:00")))
        .otherwise(timestamp_micros(
          unix_micros(to_timestamp(lit("2024-01-01 00:00:00"))) +
            col("id") * 100000000L)).as("ts"))
    def wins(hot: Int, cold: Int) = {
      val base = spark.range(hot + cold).select(
        col("id").as("w_id"),
        when(col("id") < hot, to_timestamp(lit("2024-01-15 11:59:59")))
          .otherwise(timestamp_micros(
            unix_micros(to_timestamp(lit("2024-06-01 00:00:00"))) +
              col("id") * 100000000L)).as("w_start"))
      base.withColumn("w_end", timestamp_micros(unix_micros(col("w_start")) + 2000000L))
    }
    def check(pHot: Int, pCold: Int, iHot: Int, iCold: Int): RangeJoin.AutoRangeStats = {
      val p = pts(pHot, pCold); val w = wins(iHot, iCold)
      val (auto, dec) = RangeJoin.pointInIntervalAutoStats(
        p, "ts", w, "w_start", "w_end", binWidth = Some(W),
        minFullRows = 0L, taskAbsorbBytes = 10000L)
      val autoRows = auto.select("event_id", "w_id").collect()
        .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
      val plain = RangeJoin.pointInInterval(p, "ts", w, "w_start", "w_end", W)
        .select("event_id", "w_id").collect()
        .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
      assert(autoRows === plain && autoRows.nonEmpty,
        "ambiguous routing must never change the pair set")
      dec
    }
    // point pile bigger (400×24 = 9.6 kB vs 100×32 = 3.2 kB): split points
    val pBig = check(pHot = 400, pCold = 400, iHot = 100, iCold = 200)
    assert(pBig.mode === "partial" && pBig.pointHotBins.nonEmpty &&
      pBig.gridBins.isEmpty,
      s"the bigger POINT pile must be the hashed side ($pBig)")
    // interval pile bigger (300×32 = 9.6 kB vs 100×24 = 2.4 kB)
    val iBig = check(pHot = 100, pCold = 200, iHot = 300, iCold = 500)
    assert(iBig.mode === "partial" && iBig.pointHotBins.isEmpty &&
      iBig.gridBins.isEmpty && iBig.hotBins.nonEmpty,
      s"the bigger INTERVAL pile must be the hashed side ($iBig)")
  }

  test("STREAMING point side past the cutoff: stats fall back to interval-only share routing (r14, q91's 10x shape)") {
    // the stats pass runs ONCE at stream definition, where the point
    // side's distribution is every future micro-batch — unknowable by
    // construction, and a batch job on it throws. The ladder must plan
    // WITHOUT touching the streaming side: interval-only histogram,
    // share routing (no byte gate — the other pile is unmeasurable),
    // and the returned frame must still be a streaming frame.
    val ev = Tables.events(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_q91_shape").toString
    ev.select(col("event_id"), col("ts"), col("value")).write.mode("overwrite").parquet(dir)
    val staticPts = spark.read.parquet(dir)
    val streamPts = spark.readStream.schema(staticPts.schema).parquet(dir)
    // skewed windows: one burst bin hot on the INTERVAL side; force the
    // stats ladder on (minFullRows = 0) with the DEFAULT byte budget —
    // exactly the regime that threw before the fallback
    val wins = RangeJoin.skewedWindows(ev)
    val (auto, dec) = RangeJoin.pointInIntervalAutoStats(
      streamPts, "ts", wins, "w_start", "w_end", minFullRows = 0L)
    assert(auto.isStreaming, "the routed plan must stay a streaming frame")
    assert(dec.mode !== "tiny", s"the forced ladder must have engaged its stats ($dec)")
    assert(dec.demoted.isEmpty,
      s"no demotion on a pile whose point half is unmeasurable ($dec)")
    // drain one pass through a memory sink and compare rows to the
    // batch plain join at the same width
    val q = auto.writeStream.format("memory").queryName("q91_shape")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)
    val got = spark.table("q91_shape").select("event_id", "w_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    val want = RangeJoin.pointInInterval(staticPts, "ts", wins, "w_start", "w_end",
        dec.binWidth)
      .select("event_id", "w_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(got === want && got.nonEmpty,
      "stream-static routing must match the batch plain join row for row")
  }

  test("MEASURED width: a fat string column prices the overlap pile for real (r14)") {
    // left rows carry a 400-char payload: defaultSize prices them at
    // ~52 B (hot pile 300 rows → 16 kB with the right's → demote under
    // the 100 kB budget); measured width ~432 B prices the pile at
    // ~130 kB → the LEFT side alone overflows and must hash-split.
    val W = 60000000L
    def side(idCol: String, sCol: String, eCol: String, hot: Int, cold: Int,
             fat: Boolean) = {
      val base = spark.range(hot + cold).select(
        col("id").as(idCol),
        when(col("id") < hot, to_timestamp(lit("2024-01-15 12:00:00")))
          .otherwise(timestamp_micros(
            unix_micros(to_timestamp(lit("2024-01-01 00:00:00"))) +
              col("id") * 100000000L)).as(sCol))
        .withColumn(eCol, timestamp_micros(unix_micros(col(sCol)) + 1000000L))
      if (fat) base.withColumn("payload", repeat(lit("x"), 400)) else base
    }
    val l = side("w_id", "w_start", "w_end", hot = 300, cold = 500, fat = true)
    val r = side("e_id", "e_start", "e_end", hot = 100, cold = 200, fat = false)
    val (auto, dec) = RangeJoin.intervalOverlapAutoStats(
      l, "w_start", "w_end", r, "e_start", "e_end",
      binWidth = Some(W), minFullRows = 0L, taskAbsorbBytes = 100000L)
    assert(dec.mode === "partial" && dec.demoted.isEmpty,
      s"the fat left pile must split — defaultSize pricing would demote it ($dec)")
    assert(dec.pointHotBins.isEmpty && dec.gridBins.isEmpty,
      s"only the LEFT (fat) side overflows the budget ($dec)")
    val autoRows = auto.select("w_id", "e_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    val plain = RangeJoin.intervalOverlap(
        l, "w_start", "w_end", r, "e_start", "e_end", W)
      .select("w_id", "e_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(autoRows === plain && autoRows.nonEmpty)
  }

  test("STREAM-STATIC overlap and streaming-interval point joins degrade to the plain binned plan (r14)") {
    // the other two router entries the q91 lesson covers: a streaming
    // side cannot serve definition-time stats jobs, so the ladders
    // degrade to the (stream-static-safe) plain binned join instead of
    // throwing — width from the static side's p95 where one exists.
    import org.apache.spark.sql.streaming.Trigger
    val ev = Tables.events(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_ss_overlap").toString
    RangeJoin.purchaseWindows(ev).write.mode("overwrite").parquet(dir)
    val staticWins = spark.read.parquet(dir)
    val streamWins = spark.readStream.schema(staticWins.schema).parquet(dir)
    // overlap: streaming left vs static right — must plan (no batch
    // jobs on the stream), stay streaming, and match the batch rows
    val errWins = RangeJoin.errorWindows(ev)
    val (ov, ovDec) = RangeJoin.intervalOverlapAutoStats(
      streamWins, "w_start", "w_end", errWins, "e_start", "e_end")
    assert(ov.isStreaming && ovDec.mode === "stream-plain", s"($ovDec)")
    val q = ov.writeStream.format("memory").queryName("ss_overlap")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000L)
    val got = spark.table("ss_overlap").select("w_id", "e_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    val want = RangeJoin.intervalOverlap(
        staticWins, "w_start", "w_end", errWins, "e_start", "e_end", ovDec.binWidth)
      .select("w_id", "e_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(got === want && got.nonEmpty)
    // the width must have come from the measurable static side's p95,
    // not the hardcoded default
    assert(ovDec.binWidth !== RangeJoin.DefaultBinMicros,
      s"width should be the static side's p95 ($ovDec)")
    // point-in-interval with STREAMING INTERVALS: plain fallback at
    // the default width, streaming frame out
    val pts = ev.select(col("event_id"), col("ts"), col("value"))
    val (pj, pjDec) = RangeJoin.pointInIntervalAutoStats(
      pts, "ts", streamWins, "w_start", "w_end")
    assert(pj.isStreaming && pjDec.mode === "stream-plain", s"($pjDec)")
  }

  test("routed point-in-interval: grid bins spread BOTH sides; all three classes agree with plain") {
    // direct kernel pin: one bin hot in points only, one in intervals
    // only, one in both, plus cold bins — the routed single join must
    // be row-identical to the plain join in every class mix
    import spark.implicits._
    def t(m: Long) = m * 60000000L // minutes → µs as raw longs
    val pts = ((0 until 300).map(i => (i.toLong, t(10) + i % 3)) ++ // grid bin 1: many points
      (300 until 340).map(i => (i.toLong, t(70) + i % 5)) ++        // interval-hot bin 7: few points
      (400 until 600).map(i => (i.toLong, t(30) + i % 7)) ++        // point-hot bin 3: many points
      (340 until 400).map(i => (i.toLong, t(i % 200)))).toDF("pid", "v")
    val ivs = ((0 until 200).map(i => (1000L + i, t(10), t(12))) ++  // grid bin 1: many intervals
      (200 until 500).map(i => (1000L + i, t(70), t(71))) ++         // interval-hot bin 7
      (500 until 505).map(i => (1000L + i, t(30), t(32))) ++         // point-hot bin 3: few intervals
      (505 until 565).map(i => (1000L + i, t(i % 150), t(i % 150) + t(2)))).toDF("iid", "lo", "hi")
    val w = t(10)
    def bin(m: Long) = t(m) / w
    val routed = RangeJoin.pointInIntervalSaltedRouted(pts, "v", ivs, "lo", "hi",
        iHotBins = Seq(bin(70)), pHotBins = Seq(bin(30)), gridBins = Seq(bin(10)),
        binWidth = w)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val plain = RangeJoin.pointInInterval(pts, "v", ivs, "lo", "hi", w)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(routed === plain && routed.nonEmpty,
      "orientation routing must never change the pair set")
  }

  test("concurrent auto joins return independent per-call receipts (no clobber)") {
    // two auto calls with OPPOSITE expected decisions run concurrently;
    // each returned receipt must describe its own fixture — the
    // JVM-global lastAutoRange mirror cannot make this guarantee, which
    // is exactly why the specs read the per-call receipts
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val ev = Tables.events(spark, sf)
    val pts = ev.select(col("event_id"), col("ts"), col("value"))
    val skew = RangeJoin.skewedWindows(ev)
    val uni = RangeJoin.purchaseWindows(ev)
    val fSkew = Future(RangeJoin.pointInIntervalAutoStats(
      pts, "ts", skew, "w_start", "w_end", minFullRows = 0L, taskAbsorbBytes = 0L))
    val fUni = Future(RangeJoin.pointInIntervalAutoStats(
      pts, "ts", uni, "w_start", "w_end", minFullRows = 0L, taskAbsorbBytes = 0L))
    val (_, decSkew) = Await.result(fSkew, 120.seconds)
    val (_, decUni) = Await.result(fUni, 120.seconds)
    assert(decSkew.mode === "global", s"the bursty call's receipt must salt ($decSkew)")
    assert(decUni.mode === "plain", s"the uniform call's receipt must not ($decUni)")
  }

  /** (job group, job description, test tag) of every job `body` starts. */
  private def jobsOf(body: => Unit): Seq[(String, String, String)] =
    try jobsDuring(body).map(p => (p.getProperty("spark.jobGroup.id"),
      p.getProperty("spark.job.description"), p.getProperty("graft.test.tag")))
    finally spark.sparkContext.clearJobGroup()

  test("auto routers' stats jobs carry the caller's job group, description and local properties") {
    val sc = spark.sparkContext
    val ev = Tables.events(spark, sf)
    val pts = ev.select(col("event_id"), col("ts"), col("value"))
    val skew = RangeJoin.skewedWindows(ev)
    val (l, r) = RangeJoin.burstOverlapSides(ev)
    val evU = ev.select("event_id", "event_type", "user_id", "ts")
    val rightU = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("pid"))
    val routers: Seq[(String, () => Unit)] = Seq(
      "asofJoinAuto" -> (() => AsOfJoin.asofJoinAutoStats(evU, rightU, "user_id", "ts",
        Seq("pid"))),
      "pointInIntervalAuto" -> (() => RangeJoin.pointInIntervalAutoStats(
        pts, "ts", skew, "w_start", "w_end", minFullRows = 0L, taskAbsorbBytes = 0L)),
      "intervalOverlapAuto" -> (() => RangeJoin.intervalOverlapAutoStats(
        l, "w_start", "w_end", r, "e_start", "e_end", minFullRows = 0L,
        taskAbsorbBytes = 0L)))
    // a first round under another group: the stats pool's threads exist
    // (and remember that group) before the measured calls
    sc.setJobGroup("stale_group", "stale description")
    sc.setLocalProperty("graft.test.tag", "stale")
    routers.foreach(_._2())
    sc.setLocalProperty("graft.test.tag", null)
    sc.clearJobGroup()
    routers.foreach { case (name, run) =>
      val g = s"router_${name}_${System.nanoTime()}"
      val jobs = jobsOf {
        sc.setJobGroup(g, s"$name description")
        sc.setLocalProperty("graft.test.tag", name)
        try run() finally sc.setLocalProperty("graft.test.tag", null)
      }
      assert(jobs.nonEmpty, s"$name launched no stats job")
      assert(jobs.forall(_ == ((g, s"$name description", name))),
        s"$name: every stats job must carry the caller's group, description and tag: $jobs")
    }
  }

  test("cancelJobGroup reaches an auto router's stats pass in flight") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    // the overlap router runs every stats job on the pool; a sleeping
    // UDF holds each one open long enough for the cancel to land
    val slow = udf((x: Long) => { Thread.sleep(10); x })
    val left = spark.range(0, 200, 1, 2).select(slow(col("id")).as("s"))
      .select(col("s"), (col("s") + 5).as("e"))
    val right = spark.range(0, 200, 1, 2).select(col("id").as("s2"), (col("id") + 3).as("e2"))
    val g = s"router_cancel_${System.nanoTime()}"
    val cancelled = new java.util.concurrent.atomic.AtomicInteger(0)
    val canceller = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == g) {
          cancelled.incrementAndGet()
          sc.cancelJobGroup(g)
        }
    }
    sc.addSparkListener(canceller)
    try {
      sc.setJobGroup(g, "cancel me")
      val e = intercept[org.apache.spark.SparkException] {
        RangeJoin.intervalOverlapAutoStats(left, "s", "e", right, "s2", "e2",
          sampleFraction = 1.0, minFullRows = 0L, taskAbsorbBytes = 0L)
      }
      assert(e.getMessage.contains("cancel"), e.getMessage)
      assert(cancelled.get() > 0, "the cancelled job carried the caller's group")
    } finally {
      sc.removeSparkListener(canceller)
      sc.clearJobGroup()
    }
  }

  test("classifyPile (r15): hysteresis band, derived dims, and the priced both-overflow class") {
    import RangeJoin.{classifyPile, PileClass}
    val B = 10000L
    // under the budget: demote at 1× for replicating routers…
    assert(classifyPile(4000, 5000, B).cls === PileClass.Demote)
    // …but a FREE SplitB engages inside the hysteresis band (¾ B, B]
    // and still demotes under it
    val band = classifyPile(4000, 5000, B, splitBFree = true)
    assert(band.cls === PileClass.SplitB && band.premiumBytes === 0L, s"($band)")
    assert(classifyPile(3000, 4000, B, splitBFree = true).cls === PileClass.Demote)
    // one side alone overflows → split it at its derived fan-out,
    // premium = the other pile × (fan-out − 1)
    val d1 = classifyPile(25000, 2000, B)
    assert(d1.cls === PileClass.SplitA && d1.slicesA === 3 &&
      d1.premiumBytes === 4000L, s"($d1)")
    // ambiguous (each fits, together overflow) → split the bigger side
    assert(classifyPile(7000, 6000, B).cls === PileClass.SplitA)
    assert(classifyPile(6000, 7000, B).cls === PileClass.SplitB)
    // BOTH-OVERFLOW, replicating router: a modest pile pair demotes to
    // plain — the cheapest premium within the 4× cap (the 56M grid
    // rung's lesson, priced instead of escalating unconditionally)
    assert(classifyPile(12000, 12000, B).cls === PileClass.Demote)
    // both-overflow where plain is infeasible but a one-sided split
    // is: the cheaper premium wins over the grid
    val d2 = classifyPile(45000, 12000, B)
    assert(d2.cls === PileClass.SplitA && d2.slicesA === 5 &&
      d2.premiumBytes === 48000L, s"($d2)")
    // both-overflow with a FREE SplitB: zero-premium insurance
    // undercuts plain (tie on premium → smaller per-task pile)
    val d3 = classifyPile(12000, 16000, B, splitBFree = true)
    assert(d3.cls === PileClass.SplitB && d3.slicesB === 2 &&
      d3.premiumBytes === 0L, s"($d3)")
    // nothing fits the 4× cap → the grid's minimal per-task pile is
    // the last resort, dims derived per axis, premium priced
    val d4 = classifyPile(48000, 48000, B)
    assert(d4.cls === PileClass.Grid && d4.slicesA === 5 && d4.slicesB === 5 &&
      d4.premiumBytes === 48000L * 4 * 2, s"($d4)")
    // share-only mode (budget ≤ 0): legacy grid routing, no dims
    assert(classifyPile(1, 1, 0L).cls === PileClass.Grid)
  }

  test("measuredWidthCol (r15): container columns price at real size, not defaultSize's one-element guess") {
    import spark.implicits._
    val df = Seq((1L, Seq.fill(100)(1.0f), Map("a" -> "x" * 50), ("y" * 80, 7)))
      .toDF("id", "emb", "m", "s")
    def widthOf(cols: String*): Long =
      df.select(RangeJoin.measuredWidthCol(df, cols).as("w")).head().getLong(0)
    // fixed-width long: header 8 + 8
    assert(widthOf("id") === 16L)
    // array<float> of 100 elements: 8 header + 8 slot + 100 × 4 — the
    // embeddings shape; defaultSize would say 4
    assert(widthOf("emb") === 8L + 8L + 400L)
    // map and var-width struct: JSON-serialized length — at least the
    // payload characters, far above defaultSize's one-entry guess
    assert(widthOf("m") >= 8L + 50L, s"map priced ${widthOf("m")}")
    assert(widthOf("s") >= 8L + 80L, s"struct priced ${widthOf("s")}")
    // null containers price as empty, not as an error
    val nulls = Seq((1L, null: Seq[Float], null: Map[String, String]))
      .toDF("id", "emb", "m")
    val w = nulls.select(RangeJoin.measuredWidthCol(nulls, Seq("emb", "m")).as("w"))
      .head().getLong(0)
    assert(w === 8L + 8L + 0L)
  }

  test("both-overflow overlap: modest piles DEMOTE to plain under the priced rule (r15)") {
    // both bins' piles exceed the task budget, but together they sit
    // inside the 4× cap — r14 escalated this to the fixed 4×4 grid
    // unconditionally (the 56M rung paid 3–4× in most box phases);
    // the priced rule keeps plain and receipts the demotion
    val W = 60000000L
    def side(idCol: String, sCol: String, eCol: String, hot: Int, cold: Int) = {
      val base = spark.range(hot + cold).select(
        col("id").as(idCol),
        when(col("id") < hot, to_timestamp(lit("2024-01-15 12:00:00")))
          .otherwise(timestamp_micros(
            unix_micros(to_timestamp(lit("2024-01-01 00:00:00"))) +
              col("id") * 100000000L)).as(sCol))
      base.withColumn(eCol, timestamp_micros(unix_micros(col(sCol)) + 1000000L))
    }
    val l = side("w_id", "w_start", "w_end", hot = 400, cold = 600)
    val r = side("e_id", "e_start", "e_end", hot = 400, cold = 600)
    // piles: 400 × 32 B = 12.8 kB each, both past the 10 kB budget;
    // plain's one task takes 25.6 kB ≤ 40 kB cap at zero premium
    val (auto, dec) = RangeJoin.intervalOverlapAutoStats(
      l, "w_start", "w_end", r, "e_start", "e_end",
      binWidth = Some(W), minFullRows = 0L, taskAbsorbBytes = 10000L)
    assert(dec.mode === "plain" && dec.demoted.nonEmpty,
      s"a both-overflow pile inside the cap must demote, receipted ($dec)")
    assert(dec.premiumBytes === 0L && dec.slicesA === 0 && dec.slicesB === 0,
      s"a plain plan ships no replicas ($dec)")
    val autoRows = auto.select("w_id", "e_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    val plain = RangeJoin.intervalOverlap(
        l, "w_start", "w_end", r, "e_start", "e_end", W)
      .select("w_id", "e_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(autoRows === plain && autoRows.nonEmpty)
  }

  test("both-overflow overlap past the cap: the grid engages at DERIVED dims with a priced premium (r15)") {
    // each side's pile (1500 × 32 B = 48 kB) is past the 4× cap for
    // every non-grid candidate, so the grid is genuine insurance — at
    // ⌈48k/10k⌉ = 5 slices per axis (not the fixed 4), premium =
    // 48 kB × 4 extra copies per side
    val W = 60000000L
    def side(idCol: String, sCol: String, eCol: String, hot: Int, cold: Int) = {
      val base = spark.range(hot + cold).select(
        col("id").as(idCol),
        when(col("id") < hot, to_timestamp(lit("2024-01-15 12:00:00")))
          .otherwise(timestamp_micros(
            unix_micros(to_timestamp(lit("2024-01-01 00:00:00"))) +
              col("id") * 100000000L)).as(sCol))
      base.withColumn(eCol, timestamp_micros(unix_micros(col(sCol)) + 1000000L))
    }
    // hot share 1500/5500 ≈ 0.27 < GlobalSaltCutover → partial routing
    val l = side("w_id", "w_start", "w_end", hot = 1500, cold = 4000)
    val r = side("e_id", "e_start", "e_end", hot = 1500, cold = 4000)
    val (auto, dec) = RangeJoin.intervalOverlapAutoStats(
      l, "w_start", "w_end", r, "e_start", "e_end",
      binWidth = Some(W), minFullRows = 0L, taskAbsorbBytes = 10000L)
    assert(dec.mode === "partial" && dec.gridBins.nonEmpty && dec.demoted.isEmpty,
      s"piles past the cap must take the grid ($dec)")
    assert(dec.slicesA === 5 && dec.slicesB === 5,
      s"grid dims must be derived from the piles, ⌈48k/10k⌉ = 5 ($dec)")
    assert(dec.premiumBytes === 48000L * 4 * 2,
      s"the receipt must price the grid's replication ($dec)")
    val autoRows = auto.select("w_id", "e_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    val plain = RangeJoin.intervalOverlap(
        l, "w_start", "w_end", r, "e_start", "e_end", W)
      .select("w_id", "e_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(autoRows === plain && autoRows.nonEmpty,
      "the derived-dims grid must never change the pair set")
  }
}
