package graft

import org.apache.spark.sql.DataFrame

import graft.operators.AsOfJoin

/** PAIRED same-JVM A/B harness for plan-choice claims (r14 verdict #2).
  *
  * The box's documented drift — 1.30× on identical code across a day,
  * 1.35× median per-query swing, 3–10× on large shuffles in a long-lived
  * JVM — makes ANY cross-run wall-clock comparison of multi-second joins
  * unreliable: r14's 56M grid rung measured 5.35 s in one phase and
  * 27–43 s in others on byte-identical plans. The defense this harness
  * codifies: run the two variants INTERLEAVED inside one JVM phase
  * (A/B then B/A, alternating order each pair so neither variant owns
  * the warmer slot), difference WITHIN each pair, and read the PAIRED
  * deltas — the box phase cancels out of each pair, so the median
  * paired delta and the sign test survive drift that poisons min-of-N
  * protocols. A claim "X beats Y" is accepted only when the sign test
  * agrees (every-pair agreement at 3 pairs, p = 0.25 two-sided — the
  * affordable bar for 30 s runs; raise GRAFT_AB_PAIRS for tighter p).
  *
  * Run:  sbt "Test/runMain graft.ABLadder"      → CSV rows on stdout
  * Env:  GRAFT_AB_PAIRS (default 3), GRAFT_AB_ONLY (substring filter),
  *       GRAFT_AB_SCRATCH (reuse a fixture dir across invocations).
  *
  * Output: `pair` rows carry each interleaved measurement; `summary`
  * rows carry per-comparison medians, win/loss counts and the exact
  * two-sided binomial sign-test p-value. Rows-equal is asserted on
  * every run — an A/B whose variants disagree on rows is void. */
object ABLadder {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Exact two-sided binomial sign test: P(#losses ≤ min(w, l)) × 2
    * under p = 0.5, capped at 1. Ties (delta == 0) are dropped before
    * the call, per the standard sign-test treatment. */
  private def signTestP(wins: Int, losses: Int): Double = {
    val n = wins + losses
    if (n == 0) return 1.0
    val k = math.min(wins, losses)
    def comb(n: Int, r: Int): BigInt =
      (BigInt(1) to BigInt(r)).foldLeft(BigInt(1))((acc, i) =>
        acc * (n - i.toInt + 1) / i)
    val tail = (0 to k).map(comb(n, _)).sum
    val p = 2.0 * tail.toDouble / math.pow(2.0, n)
    math.min(1.0, p)
  }

  /** Wall-clock of the auto thunk's PLANNING phase (the stats jobs run
    * at plan-definition time) — set by instrumented thunks, read and
    * reset by [[runPaired]]'s timer so each pair row can split
    * stats-vs-join. Harness-local, single-threaded. */
  @volatile var lastPlanSec: Double = 0.0

  /** One paired comparison: `pairs` rounds of interleaved arms with the
    * order flipped on odd rounds; each arm is the MIN of
    * GRAFT_AB_RUNS_PER_ARM (default 2) back-to-back runs — the
    * per-pair delta stays within one box phase while a single-run
    * GC/page-cache spike (this box's 3–10× large-shuffle envelope
    * strikes individual RUNS, any variant — measured r15: 23–31 s
    * outliers on plans whose other runs read 5–9 s) cannot flip the
    * pair by itself. delta = aSec − bSec. */
  def runPaired(name: String, aName: String, a: () => DataFrame,
                bName: String, b: () => DataFrame, pairs: Int): Unit = {
    val runsPerArm = sys.env.get("GRAFT_AB_RUNS_PER_ARM").map(_.toInt).getOrElse(2)
    def once(f: () => DataFrame): (Double, Long, Double) = {
      lastPlanSec = 0.0
      val t0 = System.nanoTime()
      val n = f().count()
      CacheScope.releaseAll()
      ((System.nanoTime() - t0) / 1e9, n, lastPlanSec)
    }
    def arm(f: () => DataFrame): (Double, Long, Double) =
      (1 to runsPerArm).map(_ => once(f)).minBy(_._1)
    // one untimed warm-up of each variant: parquet footers, code cache
    val (_, nA0, _) = once(a); val (_, nB0, _) = once(b)
    require(nA0 == nB0, s"$name: variants disagree on rows ($nA0 vs $nB0) — A/B void")
    val deltas = (0 until pairs).map { i =>
      val ((aSec, nA, aPlan), (bSec, nB, bPlan)) =
        if (i % 2 == 0) { val x = arm(a); val y = arm(b); (x, y) }
        else { val y = arm(b); val x = arm(a); (x, y) }
      require(nA == nB, s"$name: variants disagree on rows ($nA vs $nB) — A/B void")
      println(f"pair,$name,$i,$aName,$aSec%.2f,$aPlan%.2f,$bName,$bSec%.2f," +
        f"$bPlan%.2f,${aSec - bSec}%.2f")
      Console.flush()
      aSec - bSec
    }
    val wins = deltas.count(_ < 0) // negative delta = A faster
    val losses = deltas.count(_ > 0)
    println(f"summary,$name,$aName,$bName,${median(deltas)}%.2f,$wins,$losses," +
      f"${signTestP(wins, losses)}%.3f")
    Console.flush()
  }

  def main(args: Array[String]): Unit = {
    val spark = Harness.session(Harness.cpus)
    val pairs = sys.env.get("GRAFT_AB_PAIRS").map(_.toInt).getOrElse(3)
    val only = sys.env.get("GRAFT_AB_ONLY")
    def enabled(n: String) = only.forall(n.contains)
    val scratch = sys.env.getOrElse("GRAFT_AB_SCRATCH",
      java.nio.file.Files.createTempDirectory("graft_ab").toString)
    println("row_kind,comparison,pair,a,a_sec,a_plan_sec,b,b_sec,b_plan_sec,delta_sec")
    println(s"# summary,comparison,a,b,median_delta,a_wins,a_losses,p_sign")
    Console.flush()

    // 16M right-hot (the r14 hysteresis rung): engine choice (now
    // rslice, engaged from ¾ budget) vs the plain native merge
    if (enabled("righthot_16M")) {
      val (l, r) = SynthRungs.rightHot16M(spark, scratch)
      var mode = "?"
      def auto() = {
        val t0 = System.nanoTime()
        val (df, st) = AsOfJoin.asofJoinAutoStats(l, r, "k", "t",
          Seq("pid"), tieBreak = Some("pid"))
        lastPlanSec = (System.nanoTime() - t0) / 1e9
        mode = st.mode; df
      }
      def plain() = AsOfJoin.asofJoinNative(l, r, "k", "t", Seq("pid"),
        tieBreak = Some("pid"), broadcast = Some(false))
      runPaired("righthot_16M_auto_vs_plain", "auto", () => auto(),
        "plain", () => plain(), pairs)
      println(s"# righthot_16M auto mode=$mode")
    }

    // 8M×2 demoted overlap (the r15 cold-path rung, r15 verdict #4):
    // auto — whose r16 PRE-HISTOGRAM gate answers from the p95/count
    // aggregates alone — vs plain at the same width. Done-bar from the
    // verdict: auto ≤ 1.1× plain.
    if (enabled("overlap_8Mx2")) {
      val (l, r) = SynthRungs.overlapBurst8Mx2(spark, scratch)
      var mode = "?"; var gated = false
      var width = graft.operators.RangeJoin.DefaultBinMicros
      def auto() = {
        val t0 = System.nanoTime()
        val (df, st) = graft.operators.RangeJoin.intervalOverlapAutoStats(
          l, "w_start", "w_end", r, "e_start", "e_end")
        lastPlanSec = (System.nanoTime() - t0) / 1e9
        mode = st.mode; gated = st.preGated; width = st.binWidth; df
      }
      def plain() = graft.operators.RangeJoin.intervalOverlap(
        l, "w_start", "w_end", r, "e_start", "e_end", width)
      runPaired("overlap_8Mx2_auto_vs_plain", "auto", () => auto(),
        "plain", () => plain(), pairs)
      println(s"# overlap_8Mx2 auto mode=$mode preGated=$gated")
      Console.flush()
    }

    // 56M both-hot (the r14 unpriced-grid rung): engine choice (now
    // priced — rslice at zero premium) vs plain, and vs the r14-style
    // FORCED grid (share-only routing classifies both-hot → grid)
    if (enabled("bothhot_56M")) {
      val (l, r) = SynthRungs.bothHotBig56M(spark, scratch)
      var mode = "?"
      def auto() = {
        val t0 = System.nanoTime()
        val (df, st) = AsOfJoin.asofJoinAutoStats(l, r, "k", "t",
          Seq("pid"), tieBreak = Some("pid"))
        lastPlanSec = (System.nanoTime() - t0) / 1e9
        mode = st.mode; df
      }
      def plain() = AsOfJoin.asofJoinNative(l, r, "k", "t", Seq("pid"),
        tieBreak = Some("pid"), broadcast = Some(false))
      def grid() = AsOfJoin.asofJoinAuto(l, r, "k", "t", Seq("pid"),
        tieBreak = Some("pid"), taskAbsorbBytes = 0L)
      runPaired("bothhot_56M_auto_vs_plain", "auto", () => auto(),
        "plain", () => plain(), pairs)
      println(s"# bothhot_56M auto mode=$mode")
      runPaired("bothhot_56M_auto_vs_grid", "auto", () => auto(),
        "grid", () => grid(), pairs)
    }
    spark.stop()
  }
}
