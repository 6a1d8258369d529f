package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join — for each left row, the most recent right row with
  * `rightTs <= leftTs` on the same key. Spark has no built-in; the naive
  * formulation (non-equi join + max) is a BroadcastNestedLoop trap.
  *
  * Two implementations, same semantics (AsOfJoinPlanSpec pins them
  * row-for-row, q48/q83/q84 pin all three shapes under ONE oracle SQL):
  *  - [[asofJoin]] — the scalable composition (brief preference (a)):
  *    union both sides with a side marker, then one `last_value(...,
  *    ignoreNulls)` window over (key, ts, marker) — a single hash shuffle
  *    on the key, linear in total rows, ties resolved right-before-left
  *    so a right row at exactly leftTs matches (DuckDB ASOF semantics).
  *  - [[asofJoinNative]] — the whole-operator path (brief preference
  *    (c), [[graft.plans.AsOfJoinNode]]): narrow per-side shuffles +
  *    streaming merge, or a broadcast index that never moves the fact
  *    side at all; the strategy picks like Spark's own JoinSelection.
  */
object AsOfJoin {

  /** `right` must be unique per (key, tsCol) — pre-dedup if not, or name a
    * `tieBreak` payload column: equal-timestamp right rows then resolve to
    * the greatest tieBreak value deterministically. Payload columns are
    * taken from `valueCols`.
    *
    * The payloads travel as ONE struct (null for left rows, non-null —
    * even when its fields are null — for right rows), and a single
    * `last(..., ignoreNulls)` picks the latest right ROW as a unit. A
    * per-column fill would let a NULL field in the matched right row leak
    * an older row's value, or stitch fields from different rows. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, tsCol: String,
               valueCols: Seq[String], tieBreak: Option[String] = None): DataFrame = {
    val leftTagged = left.withColumn("__side", lit(1))
    // Null keys never match under SQL ASOF equality, but Window.partitionBy
    // groups nulls together — filter null-key right rows so null-key left
    // rows correctly get a null payload.
    val rightTagged = right
      .filter(col(key).isNotNull)
      .select(col(key), col(tsCol), struct(valueCols.map(col): _*).as("__rv"))
      .withColumn("__side", lit(0))

    val orderCols = Seq(col(tsCol), col("__side")) ++
      tieBreak.map(c => col(s"__rv.$c"))
    val w = Window.partitionBy(key).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // unionByName(allowMissingColumns) null-fills each side's missing
    // columns (left's payload slot, right's carried left columns)
    leftTagged.unionByName(rightTagged, allowMissingColumns = true)
      .withColumn("__asof", last(col("__rv"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(left.columns.map(col) ++
        valueCols.map(c => col(s"__asof.$c").as(s"asof_$c")): _*)
  }

  /** The same as-of semantics through the native whole-operator path —
    * [[graft.plans.AsOfJoinNode]] planned by `AsOfJoinStrategy` into the
    * ordered-merge [[graft.plans.AsOfJoinExec]]. Versus the union-window
    * composition above: each side shuffles at its own row width (no
    * null-padded union schema), and the exec re-exposes the left side's
    * partitioning/ordering so a downstream `groupBy(key)` plans no
    * further exchange. Same contract: `right` unique per (key, ts) or
    * disambiguated by `tieBreak` (greatest wins); null-key / null-ts
    * right rows never match; a left row with a null key or ts gets a
    * null payload (SQL comparison semantics). */
  /** `direction`: "backward" (default; last right row at-or-before the
    * left ts — DuckDB ASOF), "forward" (first right row at-or-after,
    * pandas `merge_asof(direction="forward")`; equal-(key, ts) rows
    * resolve to the SMALLEST tie-break — the earliest next), or
    * "nearest" (closer of the two in ts distance, equal distance
    * preferring backward — the pandas convention; needs a
    * datetime/numeric ts domain). */
  def asofJoinNative(left: DataFrame, right: DataFrame, key: String, tsCol: String,
                     valueCols: Seq[String], tieBreak: Option[String] = None,
                     broadcast: Option[Boolean] = None,
                     direction: String = "backward"): DataFrame =
    asofJoinNativeKeys(left, right, Seq(key), tsCol, valueCols, tieBreak,
      broadcast, direction)

  /** Multi-key native as-of — the COMPOSITE-key form ([[AsOfJoinNode]]
    * carries Seq keys natively): a match requires equality on EVERY
    * key. Used directly for multi-attribute as-of (entity + region,
    * user + device) and by [[asofJoinSalted]], whose second key is the
    * skew salt. */
  def asofJoinNativeKeys(left: DataFrame, right: DataFrame, keys: Seq[String],
                         tsCol: String, valueCols: Seq[String],
                         tieBreak: Option[String] = None,
                         broadcast: Option[Boolean] = None,
                         direction: String = "backward"): DataFrame = {
    val dir = graft.plans.AsOfDir.of(direction)
    import org.apache.spark.sql.graft.PlanBridge
    val spark = graft.Tables.configure(left.sparkSession)
    // Align right key/ts types to the left side's (the union-window path
    // gets the same coercion implicitly from unionByName resolution).
    val keyAliases = keys.zipWithIndex.map { case (k, i) => k -> s"__asof_k$i" }
    val rightProj = right
      .filter(keys.map(col(_).isNotNull).reduce(_ && _) && col(tsCol).isNotNull)
      .select(keyAliases.map { case (k, a) =>
        col(k).cast(left.schema(k).dataType).as(a) } ++
        Seq(col(tsCol).cast(left.schema(tsCol).dataType).as("__asof_t")) ++
        valueCols.map(c => col(c).as(s"asof_$c")): _*)
    val lp = PlanBridge.analyzed(left)
    val rp = PlanBridge.analyzed(rightProj)
    def lAttr(n: String) = lp.output.find(_.name == n).getOrElse(
      sys.error(s"asofJoinNative: no column $n on the left side"))
    def rAttr(n: String) = rp.output.find(_.name == n).get
    val node = graft.plans.AsOfJoinNode(
      keys.map(lAttr), keyAliases.map { case (_, a) => rAttr(a) },
      lAttr(tsCol), rAttr("__asof_t"),
      tieBreak.map(c => rAttr(s"asof_$c")).toSeq,
      lp, rp, broadcastHint = broadcast, direction = dir)
    PlanBridge.ofRows(spark, node)
      .drop(keyAliases.map(_._2) :+ "__asof_t": _*)
  }

  /** SALTED as-of for a skewed key — the q49/q50 recipe applied to the
    * merge exec, which AQE's skew-join splitting does NOT cover (it
    * rewrites only Spark's own SMJ/SHJ): one hot key would otherwise
    * land its entire fact slice on one merge partition. Each left row
    * takes a deterministic salt (hash of the whole row), the right side
    * replicates onto every salt, and the native as-of runs on the
    * composite (key, salt) — a left with salt s still sees ALL of its
    * key's right rows (they exist at every salt), so results are
    * salt-invariant (AsOfJoinPlanSpec pins equality) while the hot
    * key's lefts spread across `saltBuckets` merge partitions. Cost:
    * right side ×saltBuckets in the shuffle — the standard
    * replicated-dim trade, sized like q50. */
  def asofJoinSalted(left: DataFrame, right: DataFrame, key: String, tsCol: String,
                     valueCols: Seq[String], tieBreak: Option[String] = None,
                     saltBuckets: Int = 8,
                     direction: String = "backward",
                     saltCols: Seq[String] = Nil): DataFrame = {
    // hash only hash-able columns (maps excluded) or the caller's pick —
    // see RangeJoin.saltHashCols; the salt just needs even spread, and a
    // (key, ts, unique-id) pick is cheaper than a wide payload hash
    val lS = left.withColumn("__asof_salt",
      pmod(xxhash64(RangeJoin.saltHashCols(left, saltCols): _*),
        lit(saltBuckets)).cast("int"))
    val rS = right.withColumn("__asof_salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    // broadcast=false pinned: salting exists for the shuffle-merge path
    // (a broadcast as-of has no skew problem — the fact never moves)
    asofJoinNativeKeys(lS, rS, Seq(key, "__asof_salt"), tsCol, valueCols,
        tieBreak, broadcast = Some(false), direction)
      .drop("__asof_salt")
  }

  /** Receipts of an [[asofJoinAuto]] decision. `mode`: "tiny" / "plain"
    * / "global" as in [[RangeJoin.AutoRangeStats]]; "partial" = only
    * left-only-hot keys (salted split); "rslice" = only
    * right-only-hot keys (time-sliced split); "grid" = only both-hot
    * keys (2-D salt × slice); "mixed" = more than one branch kind in
    * one routed plan. `hotKeyShare` / `rightHotShare` are the hottest
    * single key's share of the LEFT / RIGHT side respectively;
    * `hotKeys` is the union of both sides' hot lists, `slicedKeys` the
    * subset routed to the time-sliced branch, `griddedKeys` the subset
    * routed to the grid. `rightHotShare` is 0.0 when the right was
    * never sampled — tiny mode, or the left-global short-circuit (see
    * [[asofJoinAutoStats]]). */
  /** `demotedKeys` (round 14): keys flagged hot by SHARE whose
    * projected pile fit the task budget, so the router kept them on
    * the plain branch — the absolute-volume gate's receipt (empty when
    * `taskAbsorbBytes = 0` disables the gate). */
  /** Round 15 detail fields: `slicesA` the hash-salt fan-out the
    * engaged plan executes on the LEFT axis (salted keys and the
    * grid's salt axis — derived ⌈pile/budget⌉ when the byte gate is
    * on, the caller's `saltBuckets`/[[RangeJoin.GridSaltDefault]] in
    * share-only mode), `slicesB` the time-slice count (sliced + grid
    * keys), `premiumBytes` the plan's priced replication premium —
    * the projected extra shuffled bytes its splits ship at the
    * executed fan-outs (the time-slice ships none; salted/grid keys
    * ship their right pile × (fan-out − 1)). */
  final case class AutoAsOfStats(hotKeyShare: Double, salted: Boolean,
                                 hotKeys: Seq[Any] = Nil,
                                 mode: String = "plain",
                                 rightHotShare: Double = 0.0,
                                 slicedKeys: Seq[Any] = Nil,
                                 griddedKeys: Seq[Any] = Nil,
                                 demotedKeys: Seq[Any] = Nil,
                                 slicesA: Int = 0,
                                 slicesB: Int = 0,
                                 premiumBytes: Long = 0L)

  /** Mirror of the LAST auto decision in this JVM — debugging
    * convenience only; concurrent auto joins clobber it. Use
    * [[asofJoinAutoStats]] for the race-free per-call receipt. */
  @volatile var lastAutoAsOf: Option[AutoAsOfStats] = None

  /** Ceiling on the distinct right keys one [[asofJoinTimeSliced]] call
    * will compile boundary routing for — the boundary collect is one
    * row per key and the slice expression one when-branch per key, so
    * the bound keeps both driver-side metadata-sized. ⌈1/0.2⌉ = 5 keys
    * can be hot at once under the router's threshold; 64 leaves direct
    * callers generous headroom. */
  val MaxSliceKeys: Int = 64

  /** Slice count of the auto router's time-sliced branches — shared
    * between the routed split and the fused boundary-quantile pass
    * (the boundaries are per-slice quantiles, so the two must agree). */
  val SlicesDefault: Int = 8

  /** [[asofJoinSalted]] applied ONLY to the listed hot keys — the
    * per-key form, and the shape that matters at 100 TB: the global
    * variant replicates the WHOLE right side `saltBuckets`×, where a
    * hot entity only needs its own rights replicated (a handful of
    * rows' keys out of millions). As-of is per-key independent, so
    * splitting both sides by key membership and unioning the two joins
    * is row-identical by construction: hot keys run the composite
    * (key, salt) merge, everything else the plain native path. A left
    * row with a NULL key routes to the cold branch, where the native
    * exec gives it the null payload the contract requires. */
  def asofJoinSaltedPartial(left: DataFrame, right: DataFrame, key: String, tsCol: String,
                            valueCols: Seq[String], hotKeys: Seq[Any],
                            tieBreak: Option[String] = None,
                            saltBuckets: Int = 8,
                            direction: String = "backward",
                            saltCols: Seq[String] = Nil): DataFrame = {
    require(hotKeys.nonEmpty, "partial salting needs a non-empty hot-key list")
    asofJoinPartialRouted(left, right, key, tsCol, valueCols,
      saltedKeys = hotKeys, slicedKeys = Nil, tieBreak, saltBuckets, direction,
      saltCols)
  }

  /** TIME-SLICED as-of for a RIGHT-heavy key — the skew shape salting
    * cannot fix. [[asofJoinSalted]] splits the LEFT pile and replicates
    * the right, so when the right side alone dominates (millions of
    * quotes for one symbol against sparse trades) every salted merge
    * partition still sorts the whole right pile — ×saltBuckets the
    * total work for no straggler relief. Slicing splits the axis the
    * pile actually lives on: each key's TIME DOMAIN divides into
    * `slices` ranges at the key's own right-side quantiles (so the
    * right pile splits ~evenly by construction), both sides route to
    * the slice holding their timestamp, and the native as-of runs on
    * the composite (key, slice) — per-partition work falls from
    * O(|L_k| + |R_k|) to O(|L_k in slice| + |R_k|/slices).
    *
    * Exactness needs only BOUNDARY CARRY rows. slice(x) = #boundaries
    * ≤ x is monotone in x, so relative to a left row's slice every
    * right row in an earlier slice is strictly before its ts and every
    * right row in a later slice strictly after it. Hence:
    *
    *  - backward: a right row from an EARLIER slice can win only as
    *    that slice's LATEST row (all of an earlier slice's rows are
    *    candidates, and the exec picks the max) — each (key, slice)'s
    *    max-(ts, tieBreak) row therefore replicates into every later
    *    slice, and the true match is always present in the left row's
    *    group;
    *  - forward: the mirror — each slice's min-(ts, tieBreak) row
    *    replicates into every earlier slice;
    *  - nearest: both carries (the nearest pick is either the backward
    *    or the forward candidate, each covered by its own carry set).
    *
    * Carry volume is < slices² rows per key — metadata-scale against
    * the pile's ÷slices split. Replicating every slice maximum (not
    * just into the adjacent slice) also makes EMPTY slices harmless:
    * approximate quantile boundaries and duplicate-timestamp pile-ups
    * only move where the axis splits, never which rows are candidates
    * (AsOfJoinPlanSpec pins sliced ≡ plain on a duplicate-heavy fixture
    * in all three directions). A non-arithmetic ts domain (string) has
    * no magnitude: every row lands in slice 0 and the join degenerates
    * to the plain composite merge — correct, just unsplit.
    *
    * `saltBuckets > 1` adds the SALT AXIS for a key hot on BOTH sides —
    * the 2-D (salt × slice) grid, the as-of analog of
    * [[RangeJoin.intervalOverlapSalted]]'s grid: the left additionally
    * hash-splits across `saltBuckets` (robust even when the left pile
    * is a timestamp point-mass that slicing alone cannot spread), the
    * sliced right (carries included) replicates onto every salt — the
    * same replication [[asofJoinSalted]] already pays, now composed
    * with the ÷slices split of the pile itself — and the exec runs on
    * (key, salt, slice). Per-partition work falls to O(|L_k|/(A·S) +
    * |R_k|/S). Exactness composes the two arguments: within one salt
    * value the right side is the COMPLETE sliced-correct set (rights
    * exist at every salt), and the slice carries repeat per salt. */
  /** Slice magnitude of a ts column in the LEFT side's domain `ltype` —
    * the magnitude whose ordering must AGREE with the exec's ordering
    * of the ts column: the boundary-carry argument routes a row by
    * "#boundaries ≤ x", which is only sound when ≤ on the magnitude
    * matches ≤ on the column. Datetime domains embed exactly; numeric
    * domains truncate to long, which is monotone (x ≤ y ⇒ trunc(x) ≤
    * trunc(y)), so a coarser magnitude only merges adjacent slices,
    * never mis-routes across a boundary. Any OTHER domain (StringType
    * above all) orders lexicographically while a cast-to-long would
    * order numerically — a right row '88' sorts AFTER '9' in the exec
    * but lands in a LATER slice than it numerically, so its carry never
    * reaches '9''s slice and the true match silently vanishes (r13
    * ADVICE). Those domains get a null magnitude: every row degenerates
    * to slice 0 — the documented unsplit-but-correct contract. */
  private def sliceMagOf(ltype: org.apache.spark.sql.types.DataType)(c: Column): Column = {
    import org.apache.spark.sql.types.{ByteType, DateType, DecimalType, IntegerType,
      LongType, ShortType, TimestampType}
    ltype match {
      case TimestampType | DateType => tsMagnitude(ltype)(c.cast(ltype))
      // INTEGRAL numerics only (and decimals whose precision provably
      // fits a long): the cast is total and monotone, so slice routing
      // and the exec's ts ordering always agree. Fractional domains
      // (double/float) and wide decimals are NOT sliced — a value past
      // Long.MaxValue (or NaN) would null its OWN magnitude and strand
      // the row in slice 0 while the key's other rows carry real
      // boundaries, and backward carries only flow into later slices:
      // silent wrong rows. Those domains degrade to the documented
      // whole-key contract instead — every row slice 0, one unsplit
      // merge per key, correct-just-unsplit. (Decimal→long truncation
      // collapses fractional ties; truncation is monotone, so a
      // right's slice never lands AFTER its consumer's and the carry
      // covers the earlier-slice candidates.)
      case ByteType | ShortType | IntegerType | LongType => c.cast(ltype).cast(LongType)
      case d: DecimalType if d.precision <= 18 => c.cast(ltype).cast(LongType)
      case _ => lit(null).cast(LongType)
    }
  }

  /** Per-key slice boundaries for the time-sliced branches — the
    * caller's precomputed quantiles verbatim, or one sampled quantile
    * job over the (pre-filtered, hot-keys-only) right side with the
    * usual full-frame redo when the sample is noise-dominated. The
    * quantiles come from a SAMPLED scan because boundaries only steer
    * load balance; exactness is the carry argument — a skewed estimate
    * costs evenness, never rows. The result is bounded METADATA (≤ hot
    * keys × (slices−1) values), collected and COMPILED INTO the slice
    * expression as a literal when-chain: slice(x) = #boundaries ≤ x as
    * a codegen'd sum of comparisons (the first cut's boundary-array
    * broadcast join + `aggregate()` lambda was CodegenFallback and the
    * interpreted per-row lambda dominated the 16M-row rung). accuracy
    * 1000: a 0.1%-of-rank boundary error moves ~0.1% of the pile
    * between adjacent slices — irrelevant to balance, ~3× cheaper to
    * update than the stats passes' oracle-grade 10000. The MaxSliceKeys
    * bound keeps both the collect and the compiled CaseWhen
    * metadata-sized — a direct call on an un-prefiltered frame fails
    * fast instead of pulling every key's boundaries to the driver. */
  private def sliceBoundsFor(rBase: DataFrame, key: String, magOf: Column => Column,
                             tsCol: String, slices: Int,
                             boundsSampleFraction: Double,
                             precomputedBounds: Seq[(Any, Seq[Any])]): Seq[(Any, Seq[Any])] = {
    val boundRows: Seq[(Any, Seq[Any])] =
      if (precomputedBounds.nonEmpty) precomputedBounds
      else {
        val probs = array((1 until slices).map(i => lit(i.toDouble / slices)): _*)
        def quantiles(src: DataFrame) = src
          .groupBy(col(key).as("__bk"))
          .agg(percentile_approx(magOf(col(tsCol)), probs, lit(1000)).as("__bnds"),
            count(lit(1)).as("__n"))
          .limit(MaxSliceKeys + 1)
          .collect()
        val sampled = quantiles(
          if (boundsSampleFraction >= 1.0) rBase
          else rBase.sample(withReplacement = false, boundsSampleFraction, 42L))
        val rows =
          if (boundsSampleFraction < 1.0 &&
              sampled.map(_.getLong(2)).sum < RangeJoin.MinStatsRows) quantiles(rBase)
          else sampled
        rows.toSeq.map(r => (r.get(0), Option(r.getSeq[Any](1)).map(_.toSeq).orNull))
      }
    require(boundRows.length <= MaxSliceKeys,
      s"time-sliced as-of routing saw more than $MaxSliceKeys distinct right " +
        "keys — the boundary routing is compiled per key (one CaseWhen branch " +
        "each), so pre-filter to the hot keys (asofJoinAuto's router does " +
        "this) or raise MaxSliceKeys. The cap applies to the sliced and " +
        "gridded key lists COMBINED when routed in one plan")
    boundRows
  }

  /** slice(key, m) = #boundaries ≤ m for the key's compiled boundary
    * list; keys outside the list — and a null boundary array (every
    * magnitude in the key's group cast to null, e.g. a string ts
    * domain) — route to slice 0, the documented unsplit-but-correct
    * fallback. */
  private def sliceExprOf(boundRows: Seq[(Any, Seq[Any])])(
      keyCol: Column, m: Column): Column =
    boundRows.foldLeft(lit(0)) { case (acc, (k, bsRaw)) =>
      val bs = Option(bsRaw).getOrElse(Seq.empty).filter(_ != null)
      when(keyCol === lit(k),
        bs.map(b => when(m >= lit(b), 1).otherwise(0))
          .reduceOption(_ + _).getOrElse(lit(0))).otherwise(acc)
    }

  /** The sliced right side plus its BOUNDARY CARRY rows for
    * `direction`: per-(key, slice) extreme row via max_by/min_by over
    * the whole row, ordered by a (ts, tieBreak) struct — a PARTIAL
    * aggregate (map-side combine), deliberately not a window: the
    * window form shuffles and sorts the entire hot pile a second time
    * just to keep one row per slice (measured costing more than the
    * straggler it saves on the 16M rung). Struct comparison is
    * lexicographic and Spark orders a null field lowest, so a null
    * tie-break loses to any value — the same resolution as the exec's
    * greatest-tieBreak backward rule. Backward carries replicate into
    * every LATER slice, forward into every EARLIER one; nearest needs
    * both. */
  private def carriesFor(rS: DataFrame, key: String, tsCol: String,
                         tieBreak: Option[String], slices: Int,
                         direction: String): Seq[DataFrame] = {
    val needBack = direction != "forward"
    val needFwd = direction != "backward"
    def carry(back: Boolean): DataFrame = {
      val ordS = struct(col(tsCol) +: tieBreak.map(col).toSeq: _*)
      val rowS = struct(rS.columns.map(col): _*)
      val tops = rS.groupBy(col(key), col("__slice"))
        .agg((if (back) max_by(rowS, ordS) else min_by(rowS, ordS)).as("__top"))
        .select(rS.columns.map(c => col(s"__top.$c")): _*)
      if (back)
        tops.filter(col("__slice") < slices - 1)
          .withColumn("__slice", explode(sequence(col("__slice") + 1, lit(slices - 1))))
      else
        tops.filter(col("__slice") > 0)
          .withColumn("__slice", explode(sequence(lit(0), col("__slice") - 1)))
    }
    (if (needBack) Seq(carry(back = true)) else Nil) ++
      (if (needFwd) Seq(carry(back = false)) else Nil)
  }

  /** `precomputedBounds`: per-key slice boundaries (slice magnitudes,
    * ascending) already measured by the caller — the auto router passes
    * the quantiles it computed on its own cached right-side sample, so
    * the sliced join adds NO extra stats job (r13 verdict #5: the
    * boundary-quantile job previously re-sampled the right side the
    * histogram had just scanned). Empty → this call samples for itself. */
  def asofJoinTimeSliced(left: DataFrame, right: DataFrame, key: String, tsCol: String,
                         valueCols: Seq[String], tieBreak: Option[String] = None,
                         slices: Int = 8,
                         direction: String = "backward",
                         boundsSampleFraction: Double = RangeJoin.StatsSampleFraction,
                         saltBuckets: Int = 1,
                         saltCols: Seq[String] = Nil,
                         precomputedBounds: Seq[(Any, Seq[Any])] = Nil): DataFrame = {
    require(slices >= 2, "time slicing needs at least 2 slices")
    require(saltBuckets >= 1, "saltBuckets must be positive")
    val ltype = left.schema(tsCol).dataType
    def magOf(c: Column) = sliceMagOf(ltype)(c)
    val rBase = right
      .filter(col(key).isNotNull && col(tsCol).isNotNull)
      .withColumn(key, col(key).cast(left.schema(key).dataType))
    // Per-key boundaries at the RIGHT side's own quantiles — the pile
    // being split decides where it splits. The quantiles come from a
    // SAMPLED scan (boundaries only steer load balance; exactness is
    // the carry argument below — a skewed estimate costs evenness,
    // never rows), with the usual full-frame redo when the sample is
    // noise-dominated. The result is bounded METADATA — ≤ the caller's
    // hot-key count × (slices−1) values — so it is collected and
    // COMPILED INTO the slice expression as a literal when-chain:
    // slice(x) = #boundaries ≤ x as a codegen'd sum of comparisons. The
    // first cut computed slices via a boundary-array broadcast join +
    // `aggregate()` lambda; higher-order functions are CodegenFallback,
    // and the interpreted per-row lambda dominated the whole join on
    // the 16M-row LadderScale rung.
    // accuracy 1000: a 0.1%-of-rank boundary error moves ~0.1% of the
    // pile between adjacent slices — irrelevant to balance, and the
    // sketch is ~3× cheaper to update than the oracle-grade 10000 the
    // stats passes use elsewhere (measured on the 64M-row probe)
    // the limit bounds the collect AND the compiled when-chain: one row
    // per distinct key is only metadata when the caller pre-filtered to
    // a hot-key set (the auto router's contract, ≤ ⌈1/threshold⌉ keys);
    // a direct call on an un-prefiltered frame fails fast below instead
    // of pulling every key's boundaries to the driver and compiling an
    // arbitrarily deep CaseWhen
    val boundRows: Seq[(Any, Seq[Any])] = sliceBoundsFor(rBase, key, magOf(_),
      tsCol, slices, boundsSampleFraction, precomputedBounds)
    // a key with no sampled right rows (or a null-ts left) routes to
    // slice 0, where the exec hands it the same null payload the plain
    // path would
    val l2 = left.withColumn("__slice",
      sliceExprOf(boundRows)(col(key), magOf(col(tsCol))))
    val rS = rBase.withColumn("__slice",
      sliceExprOf(boundRows)(col(key), magOf(col(tsCol))))
    val rAll = (Seq(rS) ++ carriesFor(rS, key, tsCol, tieBreak, slices, direction))
      .reduce(_ unionByName _)
    if (saltBuckets <= 1)
      asofJoinNativeKeys(l2, rAll, Seq(key, "__slice"), tsCol, valueCols,
          tieBreak, broadcast = Some(false), direction)
        .drop("__slice")
    else {
      val lG = l2.withColumn("__asof_salt",
        pmod(xxhash64(RangeJoin.saltHashCols(left, saltCols): _*),
          lit(saltBuckets)).cast("int"))
      val rG = rAll.withColumn("__asof_salt",
        explode(sequence(lit(0), lit(saltBuckets - 1))))
      asofJoinNativeKeys(lG, rG, Seq(key, "__asof_salt", "__slice"), tsCol,
          valueCols, tieBreak, broadcast = Some(false), direction)
        .drop("__slice", "__asof_salt")
    }
  }

  /** The PARTIAL split with per-key ROUTING by which side is hot — the
    * as-of mirror of [[RangeJoin.intervalOverlapSaltedPartial]]'s
    * orientation argument: splitting must act on the side(s) the pile
    * actually lives on.
    *
    *  - `saltedKeys` (hot on the LEFT only): composite (key, salt)
    *    merge — the key's lefts split ÷saltBuckets, its rights
    *    replicate (cheap: a left-only-hot key's right side is small);
    *  - `slicedKeys` (hot ONLY on the right): composite (key, slice)
    *    merge over the key's time axis ([[asofJoinTimeSliced]]) — the
    *    right pile splits ÷slices with boundary carry rows only, the
    *    one form that shrinks a right-dominated sort;
    *  - `griddedKeys` (hot on BOTH sides): the 2-D (salt × slice) grid
    *    ([[asofJoinTimeSliced]] with `saltBuckets > 1`) — the left
    *    pile hash-splits ÷salt (point-mass-proof), the right pile
    *    slices ÷slices, per-partition work O(|L_k|/(A·S) + |R_k|/S)
    *    for the same ×A right replication the salt already paid;
    *  - everything else: the plain native path (null-key lefts ride
    *    here for their contractual null payload).
    *
    * The classes partition the key space, and as-of is per-key
    * independent, so per-key behavior is exactly its class's behavior.
    *
    * ONE exec, not a branch union (r15): the r14 form unioned four
    * per-class joins, and each branch re-scanned BOTH inputs (an
    * engaged plan paid up to #classes× the scan and shuffle of the
    * plain join — the exact cost the overlap router's salt-expression
    * routing was built to avoid, per its own scaladoc). The routing
    * now lives in the (salt, slice) EXPRESSIONS on a single composite
    * (key, salt, slice) merge: each side is scanned once, shuffled
    * once; only the boundary-carry aggregate re-reads the right side,
    * filtered to the sliced/grid keys (the same aggregate the sliced
    * branch always ran). Per class the composite key degenerates to
    * exactly the old branch's key — cold (key, 0, 0), salted
    * (key, hash, 0) with rights replicated across the salt, sliced
    * (key, 0, slice) with carries, grid (key, hash, slice) with both —
    * and keys are part of the join key, so rows of different classes
    * never meet: the single exec is row-identical to the old union
    * (AsOfJoinPlanSpec pins auto ≡ plain on every class mix, including
    * the four-class "mixed" fixture). Null-key lefts route to (0, 0)
    * where the exec hands them the contractual null payload. */
  def asofJoinPartialRouted(left: DataFrame, right: DataFrame, key: String, tsCol: String,
                            valueCols: Seq[String],
                            saltedKeys: Seq[Any], slicedKeys: Seq[Any],
                            tieBreak: Option[String] = None,
                            saltBuckets: Int = 8,
                            direction: String = "backward",
                            saltCols: Seq[String] = Nil,
                            griddedKeys: Seq[Any] = Nil,
                            slices: Int = 8,
                            precomputedBounds: Seq[(Any, Seq[Any])] = Nil,
                            gridSaltBuckets: Int = RangeJoin.GridSaltDefault): DataFrame = {
    require(saltedKeys.nonEmpty || slicedKeys.nonEmpty || griddedKeys.nonEmpty,
      "partial routing needs at least one hot-key list")
    // `slices` and `saltBuckets` stay DISTINCT knobs: the first sizes
    // the time axis (sliced + grid classes), the second the salted
    // class's hash axis; the grid's own hash axis is `gridSaltBuckets`
    // (the auto router passes its derived ⌈pile/budget⌉ fan-out). A
    // salt-only call never builds the time axis, so `slices` is only
    // validated when some key actually routes on it.
    val boundKeys = slicedKeys ++ griddedKeys
    require(boundKeys.isEmpty || slices >= 2, "time slicing needs at least 2 slices")
    val ltype = left.schema(tsCol).dataType
    def magOf(c: Column) = sliceMagOf(ltype)(c)
    def isIn(keys: Seq[Any])(c: Column) =
      if (keys.isEmpty) lit(false) else c.isin(keys: _*)
    // right key aligned to the left's key domain so the compiled
    // per-key literals compare identically on both sides
    val rBase = right.withColumn(key, col(key).cast(left.schema(key).dataType))
    // precomputed boundaries are used verbatim for the keys they cover;
    // keys they DON'T cover get their own sampled quantiles (r15
    // review: a partially-covering list must not silently strand the
    // uncovered keys' piles in slice 0 — the old per-branch form
    // sampled for the uncovered branch, and so does this)
    val boundRows: Seq[(Any, Seq[Any])] =
      if (boundKeys.isEmpty) Nil
      else {
        val covered = precomputedBounds.filter { case (k, _) => boundKeys.contains(k) }
        val missing = boundKeys.filterNot(covered.map(_._1).toSet)
        covered ++ (if (missing.isEmpty) Nil
        else sliceBoundsFor(
          rBase.filter(isIn(missing)(col(key)) && col(tsCol).isNotNull),
          key, magOf(_), tsCol, slices, RangeJoin.StatsSampleFraction, Nil))
      }
    // an axis nobody routes on is DROPPED from the plan entirely — an
    // rslice-only plan joins on (key, slice) with zero salt machinery,
    // a salt-only plan on (key, salt) with zero slice machinery (the
    // spec pins both shapes)
    val saltAxis = saltedKeys.nonEmpty || griddedKeys.nonEmpty
    val sliceAxis = boundKeys.nonEmpty
    val hash = xxhash64(RangeJoin.saltHashCols(left, saltCols): _*)
    def withSlice(df: DataFrame): DataFrame =
      if (!sliceAxis) df
      else df.withColumn("__slice",
        sliceExprOf(boundRows)(col(key), magOf(col(tsCol))))
    val l2 = {
      val l1 = withSlice(left)
      if (!saltAxis) l1
      else l1.withColumn("__asof_salt",
        when(isIn(saltedKeys)(col(key)), pmod(hash, lit(saltBuckets)).cast("int"))
          .when(isIn(griddedKeys)(col(key)), pmod(hash, lit(gridSaltBuckets)).cast("int"))
          .otherwise(lit(0)))
    }
    val rS = withSlice(rBase)
    // carries only exist for the sliced/grid keys — the aggregate runs
    // on that filtered slice of the right, exactly as the old sliced
    // branch did
    val carries =
      if (!sliceAxis) Nil
      else carriesFor(rS.filter(isIn(boundKeys)(col(key)) && col(tsCol).isNotNull),
        key, tsCol, tieBreak, slices, direction)
    def spread(n: Int) = sequence(lit(0), lit(n - 1))
    val one = array(lit(0))
    val rUnion = (Seq(rS) ++ carries).reduce(_ unionByName _)
    val r2 =
      if (!saltAxis) rUnion
      else rUnion.withColumn("__asof_salt", explode(
        when(isIn(saltedKeys)(col(key)), spread(saltBuckets))
          .when(isIn(griddedKeys)(col(key)), spread(gridSaltBuckets))
          .otherwise(one)))
    val joinKeys = Seq(key) ++
      (if (saltAxis) Seq("__asof_salt") else Nil) ++
      (if (sliceAxis) Seq("__slice") else Nil)
    asofJoinNativeKeys(l2, r2, joinKeys, tsCol,
        valueCols, tieBreak, broadcast = Some(false), direction)
      .drop(joinKeys.drop(1): _*)
  }


  /** ENGINE-SELECTED skew handling for the native as-of (round 12,
    * closing q98's "caller must know their key is hot" gap; round 13
    * adds the RIGHT side's histogram, the tiny cutoff, and the
    * orientation-routed split): sampled histograms over BOTH sides'
    * key columns flag the keys whose share crosses `hotShareThreshold`
    * on either side — a right-heavy key (millions of quotes for one
    * symbol against uniform trades) skews the same merge partitions,
    * and a left-only histogram cannot see it. Hot keys then route BY
    * ORIENTATION ([[asofJoinPartialRouted]]): left-only-hot keys take
    * the salted composite-(key, salt) merge (splits the left pile);
    * right-only-hot keys take the time-sliced composite-(key, slice)
    * merge ([[asofJoinTimeSliced]] — splits the right pile, the form
    * salting cannot provide: a salt would replicate a right-dominated
    * pile ×saltBuckets with every partition still sorting all of it);
    * keys hot on BOTH sides take the 2-D (salt × slice) grid, which
    * splits both piles at the salt's existing replication budget.
    * Uniform keys keep the plain native path with the strategy free to
    * pick broadcast vs merge from its own stats; a fact side under
    * [[RangeJoin.TinyFullRows]] skips the stats entirely (mode "tiny" —
    * at that size the merge cannot straggle and the broadcast path is
    * in play anyway). Results are identical in every regime
    * (AsOfJoinPlanSpec pins auto ≡ salted ≡ sliced ≡ unsalted); the
    * decision is mirrored in [[lastAutoAsOf]] (use
    * [[asofJoinAutoStats]] for the race-free per-call receipt). The
    * stats passes read ONE pruned column per side — the q08-watermark
    * scalar-collect pattern, bounded metadata, never data. */
  def asofJoinAuto(left: DataFrame, right: DataFrame, key: String, tsCol: String,
                   valueCols: Seq[String], tieBreak: Option[String] = None,
                   saltBuckets: Int = 8,
                   direction: String = "backward",
                   hotShareThreshold: Double = RangeJoin.HotShareThreshold,
                   sampleFraction: Double = RangeJoin.StatsSampleFraction,
                   minFullRows: Long = RangeJoin.TinyFullRows,
                   taskAbsorbBytes: Long = RangeJoin.TaskAbsorbBytes): DataFrame = {
    val (df, stats) = asofJoinAutoStats(left, right, key, tsCol, valueCols,
      tieBreak, saltBuckets, direction, hotShareThreshold, sampleFraction,
      minFullRows, taskAbsorbBytes)
    lastAutoAsOf = Some(stats)
    df
  }

  /** [[asofJoinAuto]] returning its per-call decision receipt. The
    * global-vs-partial cutover reads the LEFT (fact) side's combined
    * hot share: global salting replicates the WHOLE right side, which
    * only pays when most of the fact rides the salted branch anyway; a
    * key hot ONLY on the right therefore takes the partial split, where
    * just that key's rights replicate. */
  def asofJoinAutoStats(left: DataFrame, right: DataFrame, key: String, tsCol: String,
                        valueCols: Seq[String], tieBreak: Option[String] = None,
                        saltBuckets: Int = 8,
                        direction: String = "backward",
                        hotShareThreshold: Double = RangeJoin.HotShareThreshold,
                        sampleFraction: Double = RangeJoin.StatsSampleFraction,
                        minFullRows: Long = RangeJoin.TinyFullRows,
                        taskAbsorbBytes: Long = RangeJoin.TaskAbsorbBytes)
      : (DataFrame, AutoAsOfStats) = {
    // STREAM-STATIC guard (r14, the q91 lesson applied to this router):
    // the stats pass runs batch jobs at plan-definition time, which a
    // streaming input cannot serve — and its distribution IS every
    // future micro-batch, unknowable then by construction. A streaming
    // FACT against a static right takes the broadcast-index form (the
    // q85 production shape: the index builds once per micro-batch
    // epoch from the static side, the fact never shuffles — there is
    // no merge-sort straggler for a salt to fix). A streaming RIGHT
    // has no stats-time distribution to route on at all — fail fast
    // with the fix, as the bin-cap and boundary guards do.
    if (left.isStreaming || right.isStreaming) {
      require(!right.isStreaming,
        "asofJoinAuto: the right (history) side must be static — a streaming " +
          "right has no distribution at stats time; use AsOfStream " +
          "(flatMapGroupsWithState) for stream-stream as-of, as q92 does")
      return (asofJoinNative(left, right, key, tsCol, valueCols, tieBreak,
        broadcast = Some(true), direction),
        AutoAsOfStats(0.0, salted = false, Nil, "stream-broadcast"))
    }
    val ltype = left.schema(tsCol).dataType
    // RIGHT-side stats pipeline — ONE sampled (key, slice-magnitude)
    // cache feeds the two-sided tiny cutoff's count, the right
    // histogram, AND the sliced branches' boundary quantiles (r13
    // verdict #5: the boundary job previously re-sampled the right
    // side the histogram had just scanned — q106 paid both). Launched
    // as a Future BEFORE the left histogram runs on this thread: the
    // sides' sampled scans are independent until classification, so
    // the stats phase costs max(sides), not sum — on q106's fixture
    // the five sequential kilobyte-scale jobs were pure scheduling
    // floor. The one regime where the right scan is wasted work is the
    // left-global short-circuit (the r13 skip) — there the wall clock
    // is unchanged (the scan ran in parallel) and the uniformly salted
    // join about to run dwarfs one sampled pruned scan.
    // on the stats pool, under this thread's job group and op tag — see
    // RangeJoin.statsFuture
    val rightSide = RangeJoin.statsFuture(right) {
      def build(frac: Double): DataFrame = {
        // __w: the measured width of what the right actually SHIPS into
        // the exec (key+ts+payload) — string payloads priced at their
        // real octet length, not defaultSize's 20 B (RangeJoin
        // .measuredWidthCol; the mean rides the histogram's aggregate)
        val shipped = (Seq(key, tsCol) ++ valueCols ++ tieBreak.toSeq).distinct
        val base = right
          .select(col(key).cast(left.schema(key).dataType).as("__k"),
            sliceMagOf(ltype)(col(tsCol)).as("__m"),
            RangeJoin.measuredWidthCol(right, shipped).as("__w"))
          .filter(col("__k").isNotNull)
        val s = if (frac >= 1.0) base
                else base.sample(withReplacement = false, frac, 42L)
        graft.CacheScope.manage(s.persist())
      }
      val c0 = build(sampleFraction)
      val s0 = RangeJoin.hotValuesFromKeys(c0, hotShareThreshold)
      // noise-dominated sample → the cache swaps to the full frame, so
      // the boundary quantiles below read the same rows the histogram
      // decided on
      if (sampleFraction < 1.0 && s0.sampledRows < RangeJoin.MinStatsRows) {
        c0.unpersist(false)
        val c1 = build(1.0)
        (RangeJoin.hotValuesFromKeys(c1, hotShareThreshold), c1, 1.0)
      } else (s0, c0, sampleFraction)
    }
    def awaitRight(): (RangeJoin.HotStats, DataFrame, Double) =
      RangeJoin.await(rightSide)
    // sampled key column of the fact side (on THIS thread, concurrent
    // with the right pipeline): the tiny-cutoff count and the hot-key
    // histogram share one pruned sampled scan, and the count rides the
    // histogram's FIRST aggregate (earlyExitBelow). No persist:
    // hotValuesFromKeys scans this frame exactly once (its per-key
    // counts are what it caches), so a cache here would be write-only.
    val lBase = left.select(col(key).as("__k"),
        RangeJoin.measuredWidthCol(left, left.columns.toSeq).as("__w"))
      .filter(col("__k").isNotNull)
    val lSample =
      if (sampleFraction >= 1.0) lBase
      else lBase.sample(withReplacement = false, sampleFraction, 42L)
    // the cutoff translated into the sample's row domain
    val cutoffSampled =
      if (sampleFraction >= 1.0) minFullRows
      else math.round(minFullRows * sampleFraction)
    val lStats0 = RangeJoin.hotValuesFromKeys(lSample, hotShareThreshold,
      earlyExitBelow = cutoffSampled)
    def estFullOf(sampled: Long, fraction: Double): Long =
      if (fraction >= 1.0) sampled else math.round(sampled / fraction)
    val estFull = estFullOf(lStats0.sampledRows, sampleFraction)
    // The cutoff reads BOTH sides (r13 ADVICE): the merge sorts each
    // key's LEFT+RIGHT pile together, so a sub-cutoff fact against a
    // huge right side with a right-hot key still straggles — exactly
    // the shape the rslice branch exists for. The right count rides
    // the histogram pipeline's own sampledRows.
    if (estFull < minFullRows &&
        estFull + estFullOf(awaitRight()._1.sampledRows, awaitRight()._3) < minFullRows)
      return (asofJoinNative(left, right, key, tsCol, valueCols, tieBreak,
        broadcast = None, direction),
        AutoAsOfStats(0.0, salted = false, Nil, "tiny"))
    // tiny sample → noise-dominated estimate → redo on the full frame;
    // an early-exited pass (left sub-cutoff, right big) never collected
    // hot values, so it redoes too — the left IS tiny there, so the
    // full-frame pass costs next to nothing
    val (lStats, lFraction) =
      if (sampleFraction < 1.0 && lStats0.sampledRows < RangeJoin.MinStatsRows)
        (RangeJoin.hotValuesFromKeys(lBase, hotShareThreshold), 1.0)
      else if (estFull < minFullRows)
        (RangeJoin.hotValuesFromKeys(lSample, hotShareThreshold), sampleFraction)
      else (lStats0, sampleFraction)
    val lTotal = estFullOf(lStats.sampledRows, lFraction)
    // MEASURED widths where the sampled pipelines saw rows (string
    // payloads at real octet length — defaultSize's 20 B/string would
    // underprice a fat document column 10-100× and demote terabyte
    // piles at scale); schema fallback on empty samples. The right
    // prices only key + ts + payload — what survives its projection
    // into the exec ([[asofJoinNativeKeys]]).
    val lWidth =
      if (lStats.avgWidth > 0) math.round(lStats.avgWidth)
      else RangeJoin.estRowBytes(left)
    def fits(b: Long) = taskAbsorbBytes > 0L && b <= taskAbsorbBytes
    val lHotBytes = lStats.hotShares.map(s => math.round(s * lTotal) * lWidth)
    // GLOBAL short-circuit: once the left's combined hot share crosses
    // the cutover AND at least one left pile exceeds the task budget,
    // the plan is one uniformly salted merge whatever the right adds
    // (the hot list is unused in global mode). When every left pile is
    // absorbable (r13 verdict #1), share alone no longer justifies
    // replicating the whole right ×salt: fall through to the per-key
    // classification, which weighs actual bytes and may demote all the
    // way to plain. The short-circuit does NOT await the right
    // pipeline (r14: awaiting put its ~0.2 s persist+histogram on
    // q101's critical path, where r13 never ran a right scan at all):
    // its kilobyte-scale jobs drain in the background long before the
    // caller's action — and the cache release behind it — complete,
    // and a Spark unpersist racing a reader is safe regardless (the
    // reader recomputes).
    val leftGlobalShare = lStats.hot.nonEmpty &&
      lStats.hotSumShare >= RangeJoin.GlobalSaltCutover
    if (leftGlobalShare &&
        (taskAbsorbBytes <= 0L || lHotBytes.exists(_ > taskAbsorbBytes))) {
      // the short-circuit returns without consuming the right pipeline,
      // whose persist may land AFTER the caller's CacheScope.releaseAll()
      // and stay pinned in executor storage (r14 ADVICE): unpersist the
      // pipeline's own cache the moment it completes — a reader racing
      // the unpersist just recomputes, and the frame is never read here
      rightSide.thenAccept { case (_, cached, _) => cached.unpersist(false); () }
      // receipt dims: the global form salts at saltBuckets (known
      // without the right pipeline). premiumBytes = whole right side
      // × (saltBuckets − 1) — priced OPPORTUNISTICALLY from the right
      // pipeline only if it already finished (the short-circuit's
      // whole point is not to await it; an unpriced 0 is the
      // documented fallback, never a blocking stats job).
      val rightDone = rightSide.isDone && !rightSide.isCompletedExceptionally
      val rPremium = Option.when(rightDone)(rightSide.join()).map {
        case (rs, _, rFrac) =>
          val total = if (rFrac >= 1.0) rs.sampledRows
            else math.round(rs.sampledRows / rFrac)
          val w = if (rs.avgWidth > 0) math.round(rs.avgWidth)
            else RangeJoin.estRowBytesOf(right,
              (Seq(key, tsCol) ++ valueCols ++ tieBreak.toSeq).distinct)
          total * w * (saltBuckets - 1)
      }.getOrElse(0L)
      return (asofJoinSalted(left, right, key, tsCol, valueCols, tieBreak,
        saltBuckets, direction),
        AutoAsOfStats(lStats.maxShare, salted = true, lStats.hot, "global",
          slicesA = saltBuckets, premiumBytes = rPremium))
    }
    val (rStats, rCached, rFraction) = awaitRight()
    val rTotal = estFullOf(rStats.sampledRows, rFraction)
    val rWidth =
      if (rStats.avgWidth > 0) math.round(rStats.avgWidth)
      else RangeJoin.estRowBytesOf(right,
        (Seq(key, tsCol) ++ valueCols ++ tieBreak.toSeq).distinct)
    val hot = (lStats.hot ++ rStats.hot).distinct
    // ORIENTATION + ABSOLUTE-VOLUME routed ladder (r13 verdict #1):
    // share flags say WHICH keys to inspect; projected pile bytes
    // (est rows × row width vs the task budget) decide what each key
    // actually needs. Splitting acts on the side whose pile exceeds a
    // task — LEFT pile → the salt (splits lefts, replicates the key's
    // small rights), RIGHT pile → the time-sliced merge (splits the
    // pile along its own time quantiles), BOTH → the 2-D (salt ×
    // slice) grid, NEITHER → plain (demoted: one task absorbs the
    // whole pile cheaper than any split's replication premium — the
    // 24M both-hot rung paid 2.9× for the grid where plain's straggler
    // sorts in ~2 s). For a key flagged on one side only, the other
    // side's pile is bounded above by threshold × that side's total
    // (it was NOT flagged), so the demote test stays conservative.
    // taskAbsorbBytes = 0 disables the gate: classification is then
    // share-only — both-hot → grid, left-only → salt, right-only →
    // slice, the r13 behavior forced-mode pins rely on.
    val lBytesOf = lStats.hot.zip(lStats.hotShares)
      .map { case (k, s) => k -> math.round(s * lTotal) * lWidth }.toMap
    val rBytesOf = rStats.hot.zip(rStats.hotShares)
      .map { case (k, s) => k -> math.round(s * rTotal) * rWidth }.toMap
    val lUpper = math.round(hotShareThreshold * lTotal) * lWidth
    val rUpper = math.round(hotShareThreshold * rTotal) * rWidth
    val saltB = Seq.newBuilder[Any]; val sliceB = Seq.newBuilder[Any]
    val gridB = Seq.newBuilder[Any]; val demoteB = Seq.newBuilder[Any]
    // derived fan-outs for the r15 priced receipt and execution:
    // saltFan the salted branch's hash axis, gridFan the grid branch's
    // salt axis (each the MAX of its keys' ⌈pile/budget⌉ needs),
    // sliceFan the time axis (free — floored at SlicesDefault below)
    var saltFan = 0; var sliceFan = 0; var gridFan = 0
    // the time-sliced split is FREE (no replication): it engages from
    // FreeSplitEngageFactor × budget instead of 1× (r14 verdict #4 —
    // the 16M rung priced 4.7% inside the budget and surrendered a
    // measured ~0.8 s rslice win); the replicating salt keeps 1×
    val freeEngageAt =
      math.round(RangeJoin.FreeSplitEngageFactor * taskAbsorbBytes)
    hot.foreach { k =>
      (lBytesOf.get(k), rBytesOf.get(k)) match {
        case (Some(lB), Some(rB)) =>
          // the shared decision rule ([[RangeJoin.classifyPile]]),
          // splitBFree = the right split is the free time-slice: split
          // what exceeds a task; both-overflow PRICED at derived dims
          // (r15); ambiguous (each fits alone, together they overflow)
          // splits the BIGGER side — the salt always splits the left
          // (random hash), the slice always splits the right
          // (quantiles of its own data)
          val d = RangeJoin.classifyPile(lB, rB, taskAbsorbBytes,
            splitBFree = true)
          val gateOn = taskAbsorbBytes > 0L // share-only dims stay legacy
          d.cls match {
            case RangeJoin.PileClass.Demote => demoteB += k
            case RangeJoin.PileClass.Grid =>
              gridB += k
              if (gateOn) {
                gridFan = math.max(gridFan, d.slicesA)
                sliceFan = math.max(sliceFan, d.slicesB)
              }
            case RangeJoin.PileClass.SplitA => // left splits
              saltB += k
              if (gateOn) saltFan = math.max(saltFan, d.slicesA)
            case RangeJoin.PileClass.SplitB => // right splits
              sliceB += k
              if (gateOn) sliceFan = math.max(sliceFan, d.slicesB)
          }
        case (Some(lB), None) =>
          if (fits(lB + rUpper)) demoteB += k
          else {
            saltB += k
            if (taskAbsorbBytes > 0L)
              saltFan = math.max(saltFan,
                RangeJoin.slicesFor(lB, taskAbsorbBytes))
          }
        case (None, Some(rB)) =>
          if (taskAbsorbBytes > 0L && rB + lUpper <= freeEngageAt) demoteB += k
          else {
            sliceB += k
            if (taskAbsorbBytes > 0L)
              sliceFan = math.max(sliceFan,
                RangeJoin.slicesFor(rB, taskAbsorbBytes))
          }
        case _ => ()
      }
    }
    val saltOnlyKeys = saltB.result(); val sliceOnlyKeys = sliceB.result()
    val gridKeys = gridB.result(); val demotedKeys = demoteB.result()
    // executed fan-outs: derived where the gate priced the piles, the
    // legacy defaults otherwise; the free time axis keeps its
    // SlicesDefault floor (over-splitting it costs only boundary rows)
    val saltUse = if (saltFan > 0) saltFan else saltBuckets
    val gridSaltUse = if (gridFan > 0) gridFan else RangeJoin.GridSaltDefault
    val slicesUse = math.max(SlicesDefault, sliceFan)
    val mode =
      if (hot.isEmpty || (saltOnlyKeys.isEmpty && sliceOnlyKeys.isEmpty &&
        gridKeys.isEmpty)) "plain" // demotedKeys in the receipt tell why
      else {
        val kinds = Seq(saltOnlyKeys.nonEmpty, sliceOnlyKeys.nonEmpty,
          gridKeys.nonEmpty).count(identity)
        if (kinds > 1) "mixed"
        else if (sliceOnlyKeys.nonEmpty) "rslice"
        else if (gridKeys.nonEmpty) "grid"
        else "partial"
      }
    // fused boundary quantiles for the right-splitting branches, from
    // the SAME cached sample the histogram read — the sliced join then
    // runs zero stats jobs of its own (r13 verdict #5)
    val boundKeys = sliceOnlyKeys ++ gridKeys
    val bounds: Seq[(Any, Seq[Any])] =
      if (boundKeys.isEmpty) Nil
      else {
        val probs = array((1 until slicesUse)
          .map(i => lit(i.toDouble / slicesUse)): _*)
        rCached.filter(col("__k").isin(boundKeys: _*))
          .groupBy("__k")
          .agg(percentile_approx(col("__m"), probs, lit(1000)).as("__bnds"))
          .collect().toSeq
          .map(r => (r.get(0), Option(r.getSeq[Any](1)).map(_.toSeq).orNull))
      }
    val df = mode match {
      case "plain" =>
        asofJoinNative(left, right, key, tsCol, valueCols, tieBreak,
          broadcast = None, direction)
      case _ =>
        asofJoinPartialRouted(left, right, key, tsCol, valueCols,
          saltOnlyKeys, sliceOnlyKeys, tieBreak, saltUse, direction,
          griddedKeys = gridKeys, slices = slicesUse,
          precomputedBounds = bounds, gridSaltBuckets = gridSaltUse)
    }
    // priced premium at the executed fan-outs: the time-slice ships no
    // replicas; a salted key ships its RIGHT pile ×(saltUse−1) (bounded
    // by rUpper when the right side never flagged it — the same bound
    // the demote test used); a grid key its right pile ×(gridSaltUse−1)
    val premium =
      if (mode == "plain") 0L
      else saltOnlyKeys.map(k =>
        rBytesOf.getOrElse(k, rUpper) * (saltUse - 1)).sum +
        gridKeys.map(k => rBytesOf.getOrElse(k, rUpper) * (gridSaltUse - 1)).sum
    val (recA, recB) = mode match {
      case "plain" => (0, 0)
      case _ => (
        math.max(if (saltOnlyKeys.nonEmpty) saltUse else 0,
          if (gridKeys.nonEmpty) gridSaltUse else 0),
        if (sliceOnlyKeys.nonEmpty || gridKeys.nonEmpty) slicesUse else 0)
    }
    (df, AutoAsOfStats(lStats.maxShare, mode != "plain", hot, mode,
      rStats.maxShare, sliceOnlyKeys, gridKeys, demotedKeys,
      recA, recB, premium))
  }

  /** Ts-domain magnitude for distance arithmetic: timestamps in
    * microseconds, dates in days, numerics as-is (the right ts was cast
    * to the left's type by [[asofJoinNative]]). */
  private def tsMagnitude(tsType: org.apache.spark.sql.types.DataType)(
      c: Column): Column = {
    import org.apache.spark.sql.types.{DateType, TimestampType}
    tsType match {
      case TimestampType => unix_micros(c)
      case DateType => datediff(c, to_date(lit("1970-01-01")))
      case _ => c.cast("long")
    }
  }

  /** As-of with a TOLERANCE bound (pandas `merge_asof(tolerance=...)`):
    * the match is kept only when its distance is within `tolerance`
    * units of the ts domain (µs for timestamps, days for dates); a
    * match beyond it becomes a null payload — it does NOT fall back to
    * another row. Sound for all three directions as a post-pick
    * null-out, which is why it composes with the physical execs
    * unchanged: backward/forward by monotonicity (any other candidate
    * is farther), and NEAREST because the pick MINIMIZES |distance| —
    * if even the minimum exceeds the bound, no row on either side can
    * be inside it. */
  def asofJoinTolerance(left: DataFrame, right: DataFrame, key: String, tsCol: String,
                        valueCols: Seq[String], tolerance: Long,
                        tieBreak: Option[String] = None,
                        broadcast: Option[Boolean] = None,
                        direction: String = "backward"): DataFrame = {
    val vcols = (valueCols :+ tsCol).distinct
    val j = asofJoinNative(left, right, key, tsCol, vcols, tieBreak, broadcast, direction)
    val mag = tsMagnitude(left.schema(tsCol).dataType) _
    val dist = direction match {
      case "forward" => mag(col(s"asof_$tsCol")) - mag(col(tsCol))
      case "nearest" => abs(mag(col(s"asof_$tsCol")) - mag(col(tsCol)))
      case _ => mag(col(tsCol)) - mag(col(s"asof_$tsCol"))
    }
    val keep = col(s"asof_$tsCol").isNotNull && dist <= tolerance
    val sel = left.columns.toSeq.map(col) ++ valueCols.map(c =>
      when(keep, col(s"asof_$c")).as(s"asof_$c"))
    j.select(sel: _*)
  }

  /** NEAREST as-of (pandas `merge_asof(direction="nearest")`): for each
    * left row, the right row with the same key minimizing |rightTs −
    * leftTs|; an equal-distance tie prefers the at-or-before (backward)
    * row; within equal (key, ts) right rows the backward candidate
    * resolves to the greatest tie-break, the forward one to the
    * smallest. Null left key/ts → null payload.
    *
    * Native since round 11: ONE pass of the physical exec —
    * [[graft.plans.AsOfMergeState]] tracks the backward candidate and
    * reads its un-consumed cursor as the forward candidate, so the
    * ordered merge resolves nearest at the same O(|L|+|R|) cost as a
    * single directional pass ([[graft.plans.AsOfBroadcastLookup]] does
    * two binary probes per row); the previous backward-then-forward
    * two-exec composition paid the shuffle/probe machinery twice. */
  def asofJoinNearest(left: DataFrame, right: DataFrame, key: String, tsCol: String,
                      valueCols: Seq[String], tieBreak: Option[String] = None,
                      broadcast: Option[Boolean] = None): DataFrame =
    asofJoinNative(left, right, key, tsCol, valueCols, tieBreak, broadcast, "nearest")

  /** Events enriched with each user's most recent ORDER at event time —
    * the cross-table as-of (q37 is the events-only self variant). Left
    * rows keep a null payload when no order precedes them; same-date
    * orders resolve to the greatest order key. `native` picks the
    * merge-exec path over the union-window composition. */
  /** `native = None` → union-window composition; `Some(bcast)` → the
    * native exec with the broadcast decision pinned (`Some(false)` =
    * shuffle-merge, `Some(true)` = broadcast index) or left to the
    * strategy's stats when the hint inside is None. */
  def asofEnrich(events: DataFrame, orders: DataFrame,
                 native: Option[Option[Boolean]] = None): DataFrame = {
    val right = orders.select(
      col("o_custkey").as("user_id"), col("o_orderdate").as("ts"),
      col("o_orderkey").as("okey"), col("o_totalprice").as("oprice"))
    val ev = events.select("event_id", "event_type", "user_id", "ts")
    val joinedDf = native match {
      case None => asofJoin(ev, right, "user_id", "ts", Seq("okey", "oprice"), Some("okey"))
      case Some(b) => asofJoinNative(ev, right, "user_id", "ts",
        Seq("okey", "oprice"), Some("okey"), broadcast = b)
    }
    joinedDf.select(col("event_id"), col("event_type"),
      col("asof_okey").as("asof_orderkey"),
      col("asof_oprice").as("asof_price"))
  }

  /** q48 — as-of rollup per event type: match rate and matched-price
    * mass. The oracle states the same semantics as the inequality join +
    * rank DuckDB can afford at fixture scale — agreeing outputs prove
    * the union-window shape implements the declarative as-of exactly. */
  def asofRollup(events: DataFrame, orders: DataFrame,
                 native: Option[Option[Boolean]] = None): DataFrame =
    asofEnrich(events, orders, native)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("asof_orderkey").isNotNull, 1).otherwise(0)).as("matched_events"),
        graft.functions.Det.dsum(col("asof_price")).as("asof_price_sum"))
      // nulls-last to match the oracle engine's ORDER BY default
      .orderBy(col("event_type").asc_nulls_last)

  private[graft] val q48Sql =
    s"""WITH m AS (
       |  SELECT e.event_id, e.event_type, o.o_orderkey, o.o_totalprice,
       |         row_number() OVER (PARTITION BY e.event_id
       |                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
       |  FROM events e LEFT JOIN orders o
       |    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
       |SELECT event_type, count(*) AS n_events,
       |  cast(sum(CASE WHEN o_orderkey IS NOT NULL THEN 1 ELSE 0 END) as bigint) AS matched_events,
       |  ${graft.functions.Det.sqlDsum("o_totalprice")} AS asof_price_sum
       |FROM m WHERE rn = 1
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The q98 fixture shape: half of all user ids remapped to ONE hot
    * key — the bursty-entity regime where a plain merge as-of lands
    * half the fact on one partition. */
  private def skewedEvents(events: DataFrame): DataFrame =
    events.select(col("event_id"), col("event_type"),
      when(col("user_id") % 2 === 0, lit(1234567L))
        .otherwise(col("user_id")).as("user_id"),
      col("ts"), col("value"))

  /** q98 — SALTED as-of on the hot-key fixture: each event attributed
    * to the hot-or-normal user's most recent purchase within 30
    * minutes, through [[asofJoinSalted]]'s composite (key, salt) merge.
    * The tolerance bound keeps the declarative oracle's join finite on
    * the hot key (a purchase more than 30 min back attributes nothing,
    * exactly like q90); results are salt-invariant
    * (AsOfJoinPlanSpec pins salted ≡ unsalted row-for-row here). */
  def skewedAsOfRollup(events: DataFrame, auto: Boolean = false): DataFrame = {
    val ev = skewedEvents(events)
    val right = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("event_id").as("pid"), col("value").as("pval"))
    val lhs = ev.select("event_id", "event_type", "user_id", "ts")
    // q98 pins the hand-picked salted merge (the measured baseline);
    // q101 routes through the stats pass, which measures the ~50% hot
    // key and selects the same salted plan itself. taskAbsorbBytes = 0
    // pins the ENGAGED path at fixture scale (the registered query's
    // job is to keep the salted plan under the driver's oracle; with
    // the default budget the fixture's ~MB-scale pile would correctly
    // demote to plain — the decision LadderScale's default-budget rungs
    // receipt instead).
    val j =
      if (auto) asofJoinAuto(lhs, right, "user_id", "ts",
        Seq("pid", "pval", "ts"), tieBreak = Some("pid"), taskAbsorbBytes = 0L)
      else asofJoinSalted(lhs, right, "user_id", "ts",
        Seq("pid", "pval", "ts"), tieBreak = Some("pid"))
    // the q90 post-pick tolerance null-out, inline over the salted pick
    val keep = col("asof_ts").isNotNull &&
      (unix_micros(col("ts")) - unix_micros(col("asof_ts"))) <= 30L * 60 * 1000000L
    j.select(col("event_type"),
        when(keep, col("asof_pid")).as("asof_pid"),
        when(keep, col("asof_pval")).as("asof_pval"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("asof_pid").isNotNull, 1).otherwise(0)).as("attributed_events"),
        graft.functions.Det.dsum(col("asof_pval")).as("attributed_value"))
      .orderBy(col("event_type").asc_nulls_last)
  }

  private val q98Sql =
    s"""WITH e2 AS (
       |  SELECT event_id, event_type,
       |         CASE WHEN user_id % 2 = 0 THEN 1234567 ELSE user_id END AS user_id,
       |         ts, value
       |  FROM events),
       |p AS (
       |  SELECT user_id, ts, event_id AS pid, value AS pval
       |  FROM e2 WHERE event_type = 'purchase'),
       |m AS (
       |  SELECT e.event_id, e.event_type, p.pid, p.pval,
       |         row_number() OVER (PARTITION BY e.event_id
       |                            ORDER BY p.ts DESC, p.pid DESC) AS rn
       |  FROM e2 e LEFT JOIN p
       |    ON p.user_id = e.user_id AND p.ts <= e.ts
       |   AND p.ts >= e.ts - INTERVAL 30 MINUTE)
       |SELECT event_type, count(*) AS n_events,
       |  cast(sum(CASE WHEN pid IS NOT NULL THEN 1 ELSE 0 END) as bigint) AS attributed_events,
       |  ${graft.functions.Det.sqlDsum("pval")} AS attributed_value
       |FROM m WHERE rn = 1
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The q106 fixture: a RIGHT-heavy key — half of all PURCHASES (the
    * right side) remapped onto one key while the left keeps its natural
    * key spread, with a thin 1-in-211 left slice remapped so the hot
    * pile has real consumers (the million-quotes-one-symbol shape). The
    * left histogram reads uniform (~0.5% max share), the right reads
    * ~50% on the hot key, so [[asofJoinAuto]] routes the key to the
    * TIME-SLICED branch (mode "rslice" — AsOfJoinPlanSpec pins the
    * receipt): the right pile splits ÷slices at its own quantiles
    * instead of replicating ×saltBuckets onto every salted partition.
    * Same post-pick 30-minute tolerance null-out and rollup as q98; the
    * oracle states the identical program declaratively. */
  def rightHeavyAsOfRollup(events: DataFrame, auto: Boolean = true): DataFrame = {
    val hotKey = lit(1234567L)
    val lhs = events.select(col("event_id"), col("event_type"),
      when(col("user_id") % 211 === 0, hotKey).otherwise(col("user_id")).as("user_id"),
      col("ts"))
    val right = events.filter(col("event_type") === "purchase")
      .select(
        when(col("user_id") % 2 === 0, hotKey).otherwise(col("user_id")).as("user_id"),
        col("ts"), col("event_id").as("pid"), col("value").as("pval"))
    // auto = false is the LadderScale baseline: the plain native merge
    // on the identical fixture, so the rslice premium/win is a measured
    // number at every rung. minFullRows = 0 and taskAbsorbBytes = 0
    // pin the ENGAGED rslice path at fixture scale (same rationale as
    // q101: the registered query keeps the sliced plan under the
    // driver's oracle; the default budget would correctly demote the
    // fixture's small pile to plain).
    val j =
      if (auto) asofJoinAuto(lhs, right, "user_id", "ts", Seq("pid", "pval", "ts"),
        tieBreak = Some("pid"), minFullRows = 0L, taskAbsorbBytes = 0L)
      else asofJoinNative(lhs, right, "user_id", "ts", Seq("pid", "pval", "ts"),
        tieBreak = Some("pid"), broadcast = Some(false))
    val keep = col("asof_ts").isNotNull &&
      (unix_micros(col("ts")) - unix_micros(col("asof_ts"))) <= 30L * 60 * 1000000L
    j.select(col("event_type"),
        when(keep, col("asof_pid")).as("asof_pid"),
        when(keep, col("asof_pval")).as("asof_pval"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("asof_pid").isNotNull, 1).otherwise(0)).as("attributed_events"),
        graft.functions.Det.dsum(col("asof_pval")).as("attributed_value"))
      .orderBy(col("event_type").asc_nulls_last)
  }

  private val q106Sql =
    s"""WITH e2 AS (
       |  SELECT event_id, event_type,
       |         CASE WHEN user_id % 211 = 0 THEN 1234567 ELSE user_id END AS user_id,
       |         ts
       |  FROM events),
       |p AS (
       |  SELECT CASE WHEN user_id % 2 = 0 THEN 1234567 ELSE user_id END AS user_id,
       |         ts, event_id AS pid, value AS pval
       |  FROM events WHERE event_type = 'purchase'),
       |m AS (
       |  SELECT e.event_id, e.event_type, p.pid, p.pval,
       |         row_number() OVER (PARTITION BY e.event_id
       |                            ORDER BY p.ts DESC, p.pid DESC) AS rn
       |  FROM e2 e LEFT JOIN p
       |    ON p.user_id = e.user_id AND p.ts <= e.ts
       |   AND p.ts >= e.ts - INTERVAL 30 MINUTE)
       |SELECT event_type, count(*) AS n_events,
       |  cast(sum(CASE WHEN pid IS NOT NULL THEN 1 ELSE 0 END) as bigint) AS attributed_events,
       |  ${graft.functions.Det.sqlDsum("pval")} AS attributed_value
       |FROM m WHERE rn = 1
       |GROUP BY 1 ORDER BY 1""".stripMargin

  def all: Seq[graft.Q] = Seq(
    graft.Q("q98_asof_skew_salted", (s, d) =>
      skewedAsOfRollup(graft.Tables.events(s, d)), Some(q98Sql)),
    graft.Q("q101_asof_auto_salt", (s, d) =>
      skewedAsOfRollup(graft.Tables.events(s, d), auto = true), Some(q98Sql)),
    graft.Q("q106_asof_rslice_auto", (s, d) =>
      rightHeavyAsOfRollup(graft.Tables.events(s, d)), Some(q106Sql)),
    graft.Q("q48_asof_join", (s, d) =>
      asofRollup(graft.Tables.events(s, d), graft.Tables.orders(s, d)), Some(q48Sql)),
    // Same oracle SQL as q48 on purpose: all three physical shapes —
    // union-window composition (q48), shuffle-merge exec (q83), and the
    // stats-selected broadcast-index exec (q84, orders is dim-sized at
    // fixture scale) — must state the SAME declarative as-of.
    graft.Q("q83_asof_native", (s, d) =>
      asofRollup(graft.Tables.events(s, d), graft.Tables.orders(s, d),
        native = Some(Some(false))), Some(q48Sql)),
    graft.Q("q84_asof_broadcast", (s, d) =>
      asofRollup(graft.Tables.events(s, d), graft.Tables.orders(s, d),
        native = Some(None)), Some(q48Sql)),
    graft.Q("q86_asof_forward", (s, d) =>
      forwardRollup(graft.Tables.events(s, d), graft.Tables.orders(s, d)),
      Some(q86Sql)),
    graft.Q("q87_asof_nearest", (s, d) =>
      nearestRollup(graft.Tables.events(s, d), graft.Tables.orders(s, d)),
      Some(q87Sql)),
    graft.Q("q90_asof_tolerance", (s, d) =>
      toleranceRollup(graft.Tables.events(s, d)), Some(q90Sql)))

  /** q90 — backward as-of with a 30-MINUTE TOLERANCE, events self
    * as-of: each event attributed to the same user's most recent
    * PURCHASE, but only when it happened within the last 30 minutes —
    * a stale purchase becomes a null payload, not a fallback (the
    * nearest-prior row IS the only candidate; anything else is
    * farther). The oracle states the same program as a bounded BETWEEN
    * join + rank: any other prior row is even farther back, so
    * bounding the join and null-ing the pick are identical. */
  def toleranceRollup(events: DataFrame): DataFrame = {
    val right = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("event_id").as("pid"), col("value").as("pval"))
    asofJoinTolerance(events.select("event_id", "event_type", "user_id", "ts"),
        right, "user_id", "ts", Seq("pid", "pval"),
        tolerance = 30L * 60 * 1000000L, tieBreak = Some("pid"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("asof_pid").isNotNull, 1).otherwise(0)).as("attributed_events"),
        graft.functions.Det.dsum(col("asof_pval")).as("attributed_value"))
      .orderBy(col("event_type").asc_nulls_last)
  }

  private[graft] val q90Sql =
    s"""WITH p AS (
       |  SELECT user_id, ts, event_id AS pid, value AS pval
       |  FROM events WHERE event_type = 'purchase'),
       |m AS (
       |  SELECT e.event_id, e.event_type, p.pid, p.pval,
       |         row_number() OVER (PARTITION BY e.event_id
       |                            ORDER BY p.ts DESC, p.pid DESC) AS rn
       |  FROM events e LEFT JOIN p
       |    ON p.user_id = e.user_id AND p.ts <= e.ts
       |   AND p.ts >= e.ts - INTERVAL 30 MINUTE)
       |SELECT event_type, count(*) AS n_events,
       |  cast(sum(CASE WHEN pid IS NOT NULL THEN 1 ELSE 0 END) as bigint) AS attributed_events,
       |  ${graft.functions.Det.sqlDsum("pval")} AS attributed_value
       |FROM m WHERE rn = 1
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q87 — NEAREST as-of: each event matched to the user's closest
    * order in time, either side (sensor/label time-alignment); distance
    * ties prefer the at-or-before order, equal-date duplicates resolve
    * per-direction (greatest key backward, smallest forward). The
    * oracle declares the same choice as a rank over ALL the user's
    * orders: |distance| asc, backward-before-forward, then the
    * per-direction key order via a sign flip. */
  def nearestRollup(events: DataFrame, orders: DataFrame): DataFrame = {
    val right = orders.select(
      col("o_custkey").as("user_id"), col("o_orderdate").as("ts"),
      col("o_orderkey").as("okey"), col("o_totalprice").as("oprice"))
    asofJoinNearest(events.select("event_id", "event_type", "user_id", "ts"),
        right, "user_id", "ts", Seq("okey", "oprice"), tieBreak = Some("okey"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("asof_okey").isNotNull, 1).otherwise(0)).as("matched_events"),
        graft.functions.Det.dsum(col("asof_oprice")).as("asof_price_sum"))
      .orderBy(col("event_type").asc_nulls_last)
  }

  private[graft] val q87Sql =
    s"""WITH m AS (
       |  SELECT e.event_id, e.event_type, o.o_orderkey, o.o_totalprice,
       |         row_number() OVER (PARTITION BY e.event_id
       |            ORDER BY abs(epoch_us(o.o_orderdate) - epoch_us(e.ts)) ASC,
       |                     CASE WHEN o.o_orderdate <= e.ts THEN 0 ELSE 1 END ASC,
       |                     CASE WHEN o.o_orderdate <= e.ts
       |                          THEN -o.o_orderkey ELSE o.o_orderkey END ASC) AS rn
       |  FROM events e LEFT JOIN orders o
       |    ON o.o_custkey = e.user_id AND e.ts IS NOT NULL)
       |SELECT event_type, count(*) AS n_events,
       |  cast(sum(CASE WHEN o_orderkey IS NOT NULL THEN 1 ELSE 0 END) as bigint) AS matched_events,
       |  ${graft.functions.Det.sqlDsum("o_totalprice")} AS asof_price_sum
       |FROM m WHERE rn = 1
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q86 — FORWARD as-of: each event matched to the user's FIRST order
    * at-or-after the event (next-purchase attribution); equal-date
    * orders resolve to the smallest order key. Same rollup shape as
    * q48, declared independently in the oracle via `>=` + ascending
    * rank. */
  def forwardRollup(events: DataFrame, orders: DataFrame): DataFrame = {
    val right = orders.select(
      col("o_custkey").as("user_id"), col("o_orderdate").as("ts"),
      col("o_orderkey").as("okey"), col("o_totalprice").as("oprice"))
    asofJoinNative(events.select("event_id", "event_type", "user_id", "ts"),
        right, "user_id", "ts", Seq("okey", "oprice"), tieBreak = Some("okey"),
        direction = "forward")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("asof_okey").isNotNull, 1).otherwise(0)).as("matched_events"),
        graft.functions.Det.dsum(col("asof_oprice")).as("asof_price_sum"))
      .orderBy(col("event_type").asc_nulls_last)
  }

  private[graft] val q86Sql =
    s"""WITH m AS (
       |  SELECT e.event_id, e.event_type, o.o_orderkey, o.o_totalprice,
       |         row_number() OVER (PARTITION BY e.event_id
       |                            ORDER BY o.o_orderdate ASC, o.o_orderkey ASC) AS rn
       |  FROM events e LEFT JOIN orders o
       |    ON o.o_custkey = e.user_id AND o.o_orderdate >= e.ts)
       |SELECT event_type, count(*) AS n_events,
       |  cast(sum(CASE WHEN o_orderkey IS NOT NULL THEN 1 ELSE 0 END) as bigint) AS matched_events,
       |  ${graft.functions.Det.sqlDsum("o_totalprice")} AS asof_price_sum
       |FROM m WHERE rn = 1
       |GROUP BY 1 ORDER BY 1""".stripMargin
}
