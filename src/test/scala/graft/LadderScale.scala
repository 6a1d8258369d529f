package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, RangeJoin}

/** Auto-ladder scale receipts (dev harness, test scope — the r13 twin of
  * ScaleSmoke/DocScale100, for VERDICT r12 item 7): the engine-selected
  * skew ladder's value claim is that its per-run stats premium buys
  * straggler insurance AT SCALE — so this harness measures, at 1× and
  * 10× amplified events, each auto path against its hand-picked
  * baseline, and prints the engine's own mode receipt next to the
  * timings:
  *
  *  - below the tiny cutoff the auto path must report mode=tiny and
  *    track the PLAIN cost (the r12 q88 stats toll erased);
  *  - once the stats side crosses the cutoff, the ladder must engage on
  *    the skewed fixtures (mode=global) and track the hand-salted
  *    baseline's cost — the premium amortized;
  *  - rows are compared auto-vs-baseline at every rung (count equality
  *    here; full row equality is RangeJoinSpec/AsOfJoinPlanSpec's job).
  *
  * The overlap ladder's 10× rung additionally forces the stats pass
  * (minFullRows = 0) on the burst fixture to exercise the grid-salted
  * global plan against the plain join at the same width — the regime
  * where both interval sets pile onto one bin and the one-key equi-join
  * would serialize the quadratic pair term on one partition.
  *
  * Amplification is ScaleSmoke's shifted-copy recipe on events only.
  * The copy offset is ≡ 0 mod lcm(32, 7, 11) = 2464, so EVERY
  * event_id-derived fixture column — q94's burst halves, q105's %16
  * slices and %32 burst flags, AND the %7 / %11 window lengths —
  * duplicates across copies exactly (a mod-32-only offset would keep
  * burst membership but shift the length distributions between
  * copies).
  *
  * Run: sbt "Test/runMain graft.LadderScale"   → tools/ladderscale CSV
  */
object LadderScale {

  // GRAFT_LADDER_COPIES (default 10): the amplification factor — the
  // DocScale100 protocol runs the fixture rungs at base sf0.001 with
  // copies=100 (100× duplication of every burst at sf0.1's absolute
  // volume), the standard receipts at base sf0.1 with copies=10
  private val Copies =
    sys.env.get("GRAFT_LADDER_COPIES").map(_.toInt).getOrElse(10)

  private def amplifyEvents(spark: SparkSession, base: String, out: String): String = {
    val raw = spark.read.parquet(s"$base/events.parquet")
    // 999_999_616 = 2464 × 405_844 — ≡ 0 mod 32, 7, and 11 (see the
    // scaladoc's exact-duplication argument)
    (0 until Copies).map { k =>
      raw.select(
        (col("event_id") + lit(k * 999999616L)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(k * 999999616L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _).write.parquet(s"$out/events.parquet")
    out
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cpus)

    val scratch = FileTree.deleteAtExit(java.nio.file.Files.createTempDirectory("graft_ladder10x"))
    val x10 = amplifyEvents(spark, base, scratch.toString)
    val rungs = Seq(1 -> base, Copies -> x10)

    // warm-up + min-of-N timed passes (GRAFT_LADDER_PASSES, default 1),
    // Bench's steady-state protocol — the synth rungs measure 10-second
    // joins inside a long-lived JVM where GC/page-cache state swings
    // single passes severalfold; the min is the reproducible number
    val passes = sys.env.get("GRAFT_LADDER_PASSES").map(_.toInt).getOrElse(1)
    def time(f: => DataFrame): (Double, Long) = {
      f.count(); CacheScope.releaseAll()
      var best = Double.MaxValue
      var n = 0L
      for (_ <- 1 to passes) {
        val t0 = System.nanoTime()
        n = f.count()
        CacheScope.releaseAll()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      (best, n)
    }

    // dev-only substring filter over family names (unset → all rungs)
    val onlyFam = sys.env.get("GRAFT_LADDER_ONLY")
    def enabled(family: String): Boolean = onlyFam.forall(family.contains)

    println("family,copies,baseline_sec,auto_sec,auto_mode,rows_match")
    def row(family: String, copies: Int, baseline: => DataFrame,
            auto: => DataFrame, mode: => String): Unit = if (enabled(family)) {
      val (bSec, bN) = time(baseline)
      val (aSec, aN) = time(auto)
      println(f"$family,$copies,$bSec%.2f,$aSec%.2f,$mode,${bN == aN}")
      Console.flush()
    }

    for ((c, dir) <- rungs) {
      val ev = Tables.events(spark, dir)
      // q94 (hand 1D salt) vs q100 (auto): the point-in-interval ladder
      row("range_q94_vs_q100", c,
        RangeJoin.skewedPointInWindowRollup(ev),
        RangeJoin.autoSkewedPointInWindowRollup(ev),
        RangeJoin.lastAutoRange.map(_.mode).getOrElse("?"))
      // q98 (hand salt) vs q101 (auto): the as-of ladder
      row("asof_q98_vs_q101", c,
        AsOfJoin.skewedAsOfRollup(ev),
        AsOfJoin.skewedAsOfRollup(ev, auto = true),
        AsOfJoin.lastAutoAsOf.map(_.mode).getOrElse("?"))
      // q106 (auto → rslice) vs the plain native merge on the same
      // right-heavy fixture: the router must report rslice and track
      // the plain cost (the fixture's hot pile is modest at local[32];
      // the straggler case is the synthesized rung below)
      row("asof_q106_rslice", c,
        AsOfJoin.rightHeavyAsOfRollup(ev, auto = false),
        AsOfJoin.rightHeavyAsOfRollup(ev),
        AsOfJoin.lastAutoAsOf.map(_.mode).getOrElse("?"))
      // q105's registered shape: plain overlap at the default width vs
      // the auto path — the engine must report tiny at BOTH rungs here
      // (the sliced sides stay under the cutoff through 10×)
      val (l, r) = RangeJoin.burstOverlapSides(ev)
      row("overlap_q105_registered", c,
        RangeJoin.intervalOverlap(l, "w_start", "w_end", r, "e_start", "e_end"),
        RangeJoin.intervalOverlapAuto(l, "w_start", "w_end", r, "e_start", "e_end"),
        RangeJoin.lastAutoRange.map(_.mode).getOrElse("?"))
    }
    // forced overlap ladder at 10×: stats on (minFullRows = 0) over the
    // burst fixture with the DEFAULT task budget — since r14 the
    // absolute-volume gate DEMOTES the burst bins here (kilobyte piles)
    // and the row measures the stats premium of a demoted decision;
    // the engaged grid is pinned share-routed in RangeJoinSpec and
    // measured at the synth rungs below
    if (enabled("overlap_forced_stats")) {
      val ev = Tables.events(spark, x10)
      val (l, r) = RangeJoin.burstOverlapSides(ev)
      var mode = "?"
      var width = RangeJoin.DefaultBinMicros
      def auto: DataFrame = {
        val (df, st) = RangeJoin.intervalOverlapAutoStats(
          l, "w_start", "w_end", r, "e_start", "e_end", minFullRows = 0L)
        mode = st.mode; width = st.binWidth
        df
      }
      val (aSec, aN) = time(auto)
      val (pSec, pN) = time(RangeJoin.intervalOverlap(
        l, "w_start", "w_end", r, "e_start", "e_end", width))
      println(f"overlap_forced_stats,${Copies},$pSec%.2f,$aSec%.2f,$mode,${pN == aN}")
      Console.flush()
    }
    // SYNTHESIZED at-scale overlap: the regime the tiny cutoff exists
    // to distinguish from the fixtures — 8M windows per side, written
    // to parquet (the production shape: the stats pass reads a sampled
    // PRUNED scan, not a recompute), far past broadcast range so the
    // bin equi-join genuinely shuffles. Each side piles 3/4 of its rows
    // onto its own burst instant (left at 12:00 Jan 15, right at 06:00
    // Jan 20 — separate instants keep the output linear while the
    // shuffle piles stay quadratic-shaped). Under the plain single-key
    // join each burst bin lands ~6M rows on ONE shuffle partition.
    // The engine runs the stats itself (est ~16M rows >> cutoff); with
    // the r14 absolute-volume gate the measured burst piles (~6M × 32 B
    // = 192 MB) sit UNDER the 256 MiB task budget, so the receipt is
    // mode=plain — the demotion is the decision being tested, and the
    // row prices it against the same-width plain join (pure stats
    // premium + run variance). Piles past the budget are the bothhot
    // rungs' job. Rows compared auto-vs-plain as everywhere else.
    if (enabled("overlap_synth_8Mx2")) {
      // shape shared with ABLadder via SynthRungs (one rung, one
      // definition): 75% burst per side, natural 100 s spread elsewhere
      val (l, r) = SynthRungs.overlapBurst8Mx2(spark, scratch.toString)
      var mode = "?"
      var width = RangeJoin.DefaultBinMicros
      def auto: DataFrame = {
        val (df, st) = RangeJoin.intervalOverlapAutoStats(
          l, "w_start", "w_end", r, "e_start", "e_end")
        mode = st.mode; width = st.binWidth
        df
      }
      val (aSec, aN) = time(auto)
      val (pSec, pN) = time(RangeJoin.intervalOverlap(
        l, "w_start", "w_end", r, "e_start", "e_end", width))
      println(f"overlap_synth_8Mx2,1,$pSec%.2f,$aSec%.2f,$mode,${pN == aN}")
      Console.flush()
    }
    // SYNTHESIZED right-heavy as-of: ONE key owns half of 16M right
    // rows (the million-quotes-one-symbol regime) against a 1M-row left
    // that touches the key sparsely — under the plain merge the hot
    // key's ENTIRE right pile shuffles to and sorts on ONE partition;
    // salting could only replicate that pile. The absolute-volume gate
    // reads this pile as 8M × 32 B = 256 MB — 4.7% INSIDE the 256 MiB
    // budget. r14 demoted it (mode=plain), surrendering the measured
    // ~0.8 s rslice win; since r15 the FREE time-slice engages from
    // ¾ × budget (it replicates nothing — its wrong-engage downside is
    // the stats premium alone), so the receipt is mode=rslice and the
    // rung must track-or-beat plain under the paired A/B protocol
    // (graft.ABLadder). Sides go through parquet like the overlap
    // synth — the stats pass reads a sampled pruned scan, the
    // production shape.
    if (enabled("asof_synth_righthot_16M")) {
      val (lSyn, rSyn) = SynthRungs.rightHot16M(spark, scratch.toString)
      var mode = "?"
      def auto: DataFrame = {
        val (df, st) = AsOfJoin.asofJoinAutoStats(lSyn, rSyn, "k", "t",
          Seq("pid"), tieBreak = Some("pid"))
        mode = st.mode
        df
      }
      val (aSec, aN) = time(auto)
      val (pSec, pN) = time(AsOfJoin.asofJoinNative(lSyn, rSyn, "k", "t",
        Seq("pid"), tieBreak = Some("pid"), broadcast = Some(false)))
      println(f"asof_synth_righthot_16M,1,$pSec%.2f,$aSec%.2f,$mode,${pN == aN}")
      Console.flush()
    }
    // SYNTHESIZED both-hot as-of: ONE key carries 30% of an 8M left
    // AND 50% of a 16M right — under the plain merge that partition
    // sorts ~10.4M rows. The left share sits in [0.2, 0.4) so the
    // router lands in the routed split (not the left-global
    // short-circuit). In r13 the share flags sent this to the 2-D grid
    // and paid its ×4 replication (12.58 s vs plain 4.39 s — the rung
    // that motivated the absolute-volume gate); since r14 the measured
    // piles (77 MB left / 256 MB right) put the key in the AMBIGUOUS
    // class (each fits a task, together they overflow) and the router
    // must split the BIGGER side — mode=rslice, no replication, the
    // r14 receipt is at-or-under plain wall-clock.
    if (enabled("asof_synth_bothhot")) {
      val hot = 777L
      val epoch = "to_timestamp('2024-01-01 00:00:00')"
      spark.range(16000000L).select(
          when(col("id") % 2 === 0, lit(hot))
            .otherwise(pmod(col("id"), lit(1000)) + 10000L).as("k"),
          expr(s"timestamp_micros(unix_micros($epoch) + id * 1000000)").as("t"),
          col("id").as("pid"))
        .write.parquet(s"$scratch/synth_bh_r.parquet")
      spark.range(8000000L).select(
          col("id").as("lid"),
          when(col("id") % 10 < 3, lit(hot))
            .otherwise(pmod(col("id"), lit(1000)) + 10000L).as("k"),
          expr(s"timestamp_micros(unix_micros($epoch) + id * 2000000)").as("t"))
        .write.parquet(s"$scratch/synth_bh_l.parquet")
      val lSyn = spark.read.parquet(s"$scratch/synth_bh_l.parquet")
      val rSyn = spark.read.parquet(s"$scratch/synth_bh_r.parquet")
      var mode = "?"
      def auto: DataFrame = {
        val (df, st) = AsOfJoin.asofJoinAutoStats(lSyn, rSyn, "k", "t",
          Seq("pid"), tieBreak = Some("pid"))
        mode = st.mode
        df
      }
      val (aSec, aN) = time(auto)
      val (pSec, pN) = time(AsOfJoin.asofJoinNative(lSyn, rSyn, "k", "t",
        Seq("pid"), tieBreak = Some("pid"), broadcast = Some(false)))
      println(f"asof_synth_bothhot_24M,1,$pSec%.2f,$aSec%.2f,$mode,${pN == aN}")
      Console.flush()
    }
    // SYNTHESIZED both-hot PAST the task budget on BOTH sides: hot
    // piles 9.6M×32 B = 307 MB left and 12M×32 B = 384 MB right at
    // 32M×24M rows, each past what one task may absorb. r14 escalated
    // this to the FIXED 4-way grid unconditionally — ~96M extra
    // shuffled rows whose wall-clock lost 3–4× to plain in most box
    // phases (tools/ladder_bothhot_repro_r14.csv). Since r15 the
    // both-overflow class is PRICED (RangeJoin.classifyPile): the
    // zero-premium time-slice's per-task pile (307 MB + 384/2 MB ≈
    // 499 MB) sits inside the 4×-budget cap, so the receipt is
    // mode=rslice with premiumBytes=0 — the grid engages only once no
    // replication-free candidate can bound the task (piles past
    // ~4 × 256 MiB), at dims derived ⌈pile/budget⌉ per axis. The rung
    // must beat both plain and the forced grid under the paired A/B
    // protocol (graft.ABLadder).
    if (enabled("asof_synth_bothhot_big")) {
      val (lSyn, rSyn) = SynthRungs.bothHotBig56M(spark, scratch.toString)
      var mode = "?"
      def auto: DataFrame = {
        val (df, st) = AsOfJoin.asofJoinAutoStats(lSyn, rSyn, "k", "t",
          Seq("pid"), tieBreak = Some("pid"))
        mode = st.mode
        df
      }
      val (aSec, aN) = time(auto)
      val (pSec, pN) = time(AsOfJoin.asofJoinNative(lSyn, rSyn, "k", "t",
        Seq("pid"), tieBreak = Some("pid"), broadcast = Some(false)))
      println(f"asof_synth_bothhot_big_56M,1,$pSec%.2f,$aSec%.2f,$mode,${pN == aN}")
    }
    spark.stop()
  }
}
