package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import graft.etl.{Dedup, Merge, Quality}
import graft.operators.SurfaceQueries

/** ScalaCheck properties over randomly generated event frames (SURVEY §5
  * invariants). Kept to 10 cases per property — each case runs real Spark
  * jobs. */
object PropertySpec extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = SparkSuite.session
  import spark.implicits._

  private val genEvent: Gen[(Long, Timestamp, Long, String, Double)] = for {
    id <- Gen.choose(0L, 50L)
    t <- Gen.choose(0L, 100000L)
    user <- Gen.choose(0L, 5L)
    typ <- Gen.oneOf("view", "click", "purchase", "error")
    v <- Gen.choose(-10.0, 400.0)
  } yield (id, new Timestamp(1704067200000L + t * 1000), user, typ, v)

  private val genEvents = Gen.nonEmptyListOf(genEvent)

  private def toDF(rows: List[(Long, Timestamp, Long, String, Double)]) =
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")

  /** ONE brute-force as-of reference for every property below:
    * `cands` = (ts-millis, rid) of the left row's key; backward = last
    * at-or-before (greatest rid on ties), forward = first at-or-after
    * (smallest rid), nearest = closer side, distance ties backward. */
  private def bruteAsOfPick(dir: String, cands: Seq[(Long, Long)], t: Long): Option[Long] = {
    val bw = cands.filter(_._1 <= t).sorted.lastOption
    val fw = cands.filter(_._1 >= t).sorted.headOption
    dir match {
      case "backward" => bw.map(_._2)
      case "forward" => fw.map(_._2)
      case _ => (bw, fw) match {
        case (Some(b), Some(f)) =>
          if (t - b._1 <= f._1 - t) Some(b._2) else Some(f._2)
        case (b, f) => b.map(_._2).orElse(f.map(_._2))
      }
    }
  }

  property("dedup is idempotent and keys become unique") =
    Prop.forAll(genEvents) { rows =>
      val df = toDF(rows)
      val once = Dedup.keepLatest(df, Seq("event_id"), Seq(col("ts"), col("value")))
      val twice = Dedup.keepLatest(once, Seq("event_id"), Seq(col("ts"), col("value")))
      val o = once.collect().toSet
      o == twice.collect().toSet &&
        once.groupBy("event_id").count().filter(col("count") > 1).count() == 0L
    }

  property("merge upsert: result keys = target ∪ source; source rows win") =
    Prop.forAll(genEvents, genEvents) { (t, s) =>
      val target = Dedup.keepLatest(toDF(t), Seq("event_id"), Seq(col("ts"), col("value")))
      val source = Dedup.keepLatest(toDF(s), Seq("event_id"), Seq(col("ts"), col("value")))
      val merged = Merge.upsert(target, source, Seq("event_id"))
      val keys = merged.select("event_id").as[Long].collect().toSet
      val expected = target.select("event_id").as[Long].collect().toSet ++
        source.select("event_id").as[Long].collect().toSet
      val srcRows = source.collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
      val mergedRows = merged.collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
      keys == expected && srcRows.forall { case (k, v) => mergedRows(k) == v }
    }

  property("quality score ∈ [0,1] and score==1 ⟺ valid") =
    Prop.forAll(genEvents) { rows =>
      val rules = Seq(
        Quality.Rule("neg", col("value") < 0),
        Quality.Rule("big", col("value") > 300))
      val v = Quality.validate(toDF(rows), rules)
        .select("_dq_score", "_dq_valid").collect()
      v.forall { r =>
        val s = r.getDouble(0)
        s >= 0.0 && s <= 1.0 && (s == 1.0) == r.getBoolean(1)
      }
    }

  // All three physical shapes — union-window composition, shuffle-merge
  // exec, broadcast-index exec — against one brute-force reference, on
  // the same random frames (duplicate (key, ts) groups, tie-breaks, and
  // no-match lefts all arise at these generator ranges).
  for ((label, joinFn) <- Seq[(String,
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =>
        org.apache.spark.sql.DataFrame)](
    "composition" -> ((l, r) => graft.operators.AsOfJoin
      .asofJoin(l, r, "user_id", "ts", Seq("rid", "rv"), tieBreak = Some("rid"))),
    "merge-exec" -> ((l, r) => graft.operators.AsOfJoin
      .asofJoinNative(l, r, "user_id", "ts", Seq("rid", "rv"),
        tieBreak = Some("rid"), broadcast = Some(false))),
    "broadcast-exec" -> ((l, r) => graft.operators.AsOfJoin
      .asofJoinNative(l, r, "user_id", "ts", Seq("rid", "rv"),
        tieBreak = Some("rid"), broadcast = Some(true)))))
  property(s"as-of join [$label] matches the brute-force reference on random data") =
    Prop.forAll(genEvents, genEvents) { (l, r) =>
      val left = toDF(l)
      // right side: (key=user_id, ts, payload=value); tie-break on event_id
      val right = toDF(r).select(
        col("user_id"), col("ts"), col("event_id").as("rid"), col("value").as("rv"))
      val got = joinFn(left, right)
        .select("event_id", "ts", "user_id", "asof_rid").collect()
        .map(x => (x.getAs[Long]("event_id"), x.getAs[Timestamp]("ts"), x.getAs[Long]("user_id")) ->
          Option(x.getAs[java.lang.Long]("asof_rid")).map(_.toLong)).toMap
      val rightRows = r.map(t => (t._3, t._2.getTime, t._1)) // (key, ts, rid)
      l.forall { e =>
        val expected = bruteAsOfPick("backward",
          rightRows.filter(_._1 == e._3).map(x => (x._2, x._3)), e._2.getTime)
        got((e._1, e._2, e._3)) == expected
      }
    }

  // Forward direction: FIRST right row at-or-after, smallest tie-break.
  for ((label, mode) <- Seq("merge-exec" -> Some(false), "broadcast-exec" -> Some(true)))
  property(s"forward as-of [$label] matches the brute-force reference on random data") =
    Prop.forAll(genEvents, genEvents) { (l, r) =>
      val left = toDF(l)
      val right = toDF(r).select(
        col("user_id"), col("ts"), col("event_id").as("rid"), col("value").as("rv"))
      val got = graft.operators.AsOfJoin
        .asofJoinNative(left, right, "user_id", "ts", Seq("rid", "rv"),
          tieBreak = Some("rid"), broadcast = mode, direction = "forward")
        .select("event_id", "ts", "user_id", "asof_rid").collect()
        .map(x => (x.getAs[Long]("event_id"), x.getAs[Timestamp]("ts"), x.getAs[Long]("user_id")) ->
          Option(x.getAs[java.lang.Long]("asof_rid")).map(_.toLong)).toMap
      val rightRows = r.map(t => (t._3, t._2.getTime, t._1)) // (key, ts, rid)
      l.forall { e =>
        val expected = bruteAsOfPick("forward",
          rightRows.filter(_._1 == e._3).map(x => (x._2, x._3)), e._2.getTime)
        got((e._1, e._2, e._3)) == expected
      }
    }

  // Nearest direction: minimal |rts - lts|, ties prefer backward; the
  // per-direction tie-breaks (greatest rid backward, smallest forward)
  // inherited from the two composed passes.
  for ((label, mode) <- Seq("merge-exec" -> Some(false), "broadcast-exec" -> Some(true)))
  property(s"nearest as-of [$label] matches the brute-force reference on random data") =
    Prop.forAll(genEvents, genEvents) { (l, r) =>
      val left = toDF(l)
      val right = toDF(r).select(
        col("user_id"), col("ts"), col("event_id").as("rid"), col("value").as("rv"))
      val got = graft.operators.AsOfJoin
        .asofJoinNearest(left, right, "user_id", "ts", Seq("rid", "rv"),
          tieBreak = Some("rid"), broadcast = mode)
        .select("event_id", "ts", "user_id", "asof_rid").collect()
        .map(x => (x.getAs[Long]("event_id"), x.getAs[Timestamp]("ts"), x.getAs[Long]("user_id")) ->
          Option(x.getAs[java.lang.Long]("asof_rid")).map(_.toLong)).toMap
      val rightRows = r.map(t => (t._3, t._2.getTime, t._1)) // (key, ts, rid)
      l.forall { e =>
        val expected = bruteAsOfPick("nearest",
          rightRows.filter(_._1 == e._3).map(x => (x._2, x._3)), e._2.getTime)
        got((e._1, e._2, e._3)) == expected
      }
    }

  // Time slicing must be invisible to results on ANY data — random
  // frames carry duplicate timestamps, keys present on only one side,
  // and (at slices=4 over ≤6 keys × ≤ a handful of rows each) empty
  // slices galore, so the boundary-carry construction is exercised at
  // every edge; the sliced pick must equal the brute-force reference
  // in all three directions, with and without the 2-D grid's salt axis.
  for {
    dir <- Seq("backward", "forward", "nearest")
    (form, salt) <- Seq("sliced" -> 1, "grid" -> 2)
  } property(s"time-$form as-of [$dir] matches the brute-force reference on random data") =
    Prop.forAll(genEvents, genEvents) { (l, r) =>
      val left = toDF(l)
      val right = toDF(r).select(
        col("user_id"), col("ts"), col("event_id").as("rid"), col("value").as("rv"))
      val got = graft.operators.AsOfJoin
        .asofJoinTimeSliced(left, right, "user_id", "ts", Seq("rid", "rv"),
          tieBreak = Some("rid"), slices = 4, direction = dir, saltBuckets = salt)
        .select("event_id", "ts", "user_id", "asof_rid").collect()
        .map(x => (x.getAs[Long]("event_id"), x.getAs[Timestamp]("ts"), x.getAs[Long]("user_id")) ->
          Option(x.getAs[java.lang.Long]("asof_rid")).map(_.toLong)).toMap
      val rightRows = r.map(t => (t._3, t._2.getTime, t._1)) // (key, ts, rid)
      l.forall { e =>
        val expected = bruteAsOfPick(dir,
          rightRows.filter(_._1 == e._3).map(x => (x._2, x._3)), e._2.getTime)
        got((e._1, e._2, e._3)) == expected
      }
    }

  // Salting must be invisible to results on ANY data, not just the q94
  // fixture: the salted pair set equals the brute-force predicate
  // evaluation (hence the unsalted join) at a stress bin width.
  property("salted point-in-interval == brute force on random data") =
    Prop.forAll(genEvents, genEvents) { (p, iv) =>
      val pts = toDF(p).select(col("event_id").as("pid"), col("ts").as("pt"))
      val ivs = toDF(iv).select(col("event_id").as("iid"), col("ts").as("s"),
        (col("ts") + expr("make_dt_interval(0, 0, cast(event_id % 5 as int), 0)")).as("e"))
      val got = graft.operators.RangeJoin
        .pointInIntervalSalted(pts, "pt", ivs, "s", "e", binWidth = 1000000L, saltBuckets = 4)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
      val expected = (for {
        pr <- p
        ir <- iv
        s = ir._2.getTime
        e = s + (ir._1 % 5) * 60000L
        if pr._2.getTime >= s && pr._2.getTime < e
      } yield (pr._1, ir._1))
      // exact multiset equality: salting must not duplicate a pair either
      got.sorted.toSeq == expected.sorted.toSeq
    }

  // Binned range join: pair sets must equal the brute-force predicate
  // evaluation at any bin width (1 s here — far smaller than interval
  // lengths, maximizing multi-bin replication and the dedup risk).
  property("binned point-in-interval == brute force at a stress bin width") =
    Prop.forAll(genEvents, genEvents) { (p, iv) =>
      val pts = toDF(p).select(col("event_id").as("pid"), col("ts").as("pt"))
      val ivs = toDF(iv).select(col("event_id").as("iid"), col("ts").as("s"),
        (col("ts") + expr("make_dt_interval(0, 0, cast(event_id % 5 as int), 0)")).as("e"))
      val got = graft.operators.RangeJoin
        .pointInInterval(pts, "pt", ivs, "s", "e", binWidth = 1000000L)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = (for {
        pr <- p
        ir <- iv
        s = ir._2.getTime
        e = s + (ir._1 % 5) * 60000L
        if pr._2.getTime >= s && pr._2.getTime < e
      } yield (pr._1, ir._1)).toSet
      got == expected
    }

  property("binned interval overlap == brute force at a stress bin width") =
    Prop.forAll(genEvents, genEvents) { (a, b) =>
      def ivs(rows: List[(Long, Timestamp, Long, String, Double)], m: Int, idc: String) =
        toDF(rows).select(col("event_id").as(idc), col("ts").as(s"${idc}_s"),
          (col("ts") + expr(s"make_dt_interval(0, 0, cast(event_id % $m + 1 as int), 0)"))
            .as(s"${idc}_e"))
      val got = graft.operators.RangeJoin
        .intervalOverlap(ivs(a, 5, "aid"), "aid_s", "aid_e",
          ivs(b, 7, "bid"), "bid_s", "bid_e", binWidth = 1000000L)
        .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = (for {
        ar <- a; br <- b
        as = ar._2.getTime; ae = as + (ar._1 % 5 + 1) * 60000L
        bs = br._2.getTime; be = bs + (br._1 % 7 + 1) * 60000L
        if as < be && bs < ae
      } yield (ar._1, br._1)).toSet
      got == expected
    }

  property("CDF quartile selection ≡ built-in exact percentile, bit-for-bit") =
    Prop.forAll(Gen.nonEmptyListOf(for {
      g <- Gen.oneOf("a", "b", "c")
      v <- Gen.choose(-1000.0, 1000.0)
    } yield (g, v))) { rows =>
      val df = rows.toDF("g", "v")
      val cdf = SurfaceQueries.exactQuartilesCdf(df, "g", "v")
        .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      val ref = df.groupBy("g").agg(
          expr("percentile(v, 0.25)").as("q1"), expr("percentile(v, 0.75)").as("q3"))
        .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      cdf == ref
    }

  property("gap sessionization conserves events, durations ≥ gap") =
    Prop.forAll(genEvents) { rows =>
      val df = toDF(rows)
      val sessions = SurfaceQueries.sessionizeGaps(df).collect()
      val total = sessions.map(_.getAs[Long]("n_events")).sum
      total == rows.size &&
        sessions.forall { s =>
          s.getAs[Long]("session_end_s") - s.getAs[Long]("session_start_s") >= 7200L
        }
    }

  // ---- MGState (the Misra–Gries buffer behind misra_gries) ---------------
  // Pure-JVM properties, no Spark jobs: random streams, random capacities,
  // random partition/merge trees — the three MG guarantees the engine
  // builds on. Zipfian-ish key draw so heavy hitters actually exist.

  private val genStream: Gen[(List[String], Int)] = for {
    n <- Gen.choose(50, 4000)
    cap <- Gen.choose(2, 40)
    keys <- Gen.listOfN(n, Gen.frequency(
      (8, Gen.oneOf("H0", "H1")),
      (3, Gen.oneOf("w0", "w1", "w2", "w3", "w4")),
      (3, Gen.choose(0, 100000).map("t" + _))))
  } yield (keys, cap)

  private def mgOf(keys: Seq[String], cap: Int): graft.plans.MGState = {
    val s = new graft.plans.MGState(cap)
    keys.foreach(s.add(_, 1L))
    s
  }
  private def live(s: graft.plans.MGState): Map[String, Long] =
    (0 until s.size).map(i => s.keys(i) -> s.vals(i)).toMap

  property("MG: superset guarantee + lower bounds, any single-pass stream") =
    Prop.forAll(genStream) { case (keys, cap) =>
      val truth = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = keys.size.toLong
      val sk = live(mgOf(keys, cap))
      val heavy = truth.filter { case (_, c) => c * cap > n }.keySet
      heavy.subsetOf(sk.keySet) &&
        sk.forall { case (k, lower) => lower >= 1L && lower <= truth(k) } &&
        sk.size <= cap - 1
    }

  /** The snapshot store as a PURE FOLD: any chain of MERGE epochs must
    * read back exactly last-writer-wins per key (batches key-distinct,
    * like the sink's per-batch dedup), with every intermediate epoch
    * still time-traveling to its own prefix fold. Partitioning by
    * event_type makes cross-batch type changes exercise MOVED-partition
    * keys organically. Each trial runs real merges — kept to 2 batches. */
  // one scratch root for ALL snapshot-chain trials, deleted on JVM exit
  // (a per-trial createTempDirectory with no hook would leak ten parquet
  // stores per suite run)
  private lazy val snapPropRoot: java.nio.file.Path =
    FileTree.deleteAtExit(java.nio.file.Files.createTempDirectory("graft_prop_snap"))

  property("snapshot store: a MERGE chain ≡ the last-writer fold; every epoch time-travels to its prefix") = {
    val genBatch = Gen.nonEmptyListOf(genEvent).map(_.distinctBy(_._1).take(12))
    Prop.forAllNoShrink(genBatch, genBatch) { (b1, b2) =>
      val store = snapPropRoot.resolve(
        java.util.UUID.randomUUID().toString.take(8)).toString + "/s"
      def model(bs: List[List[(Long, Timestamp, Long, String, Double)]]) =
        bs.foldLeft(Map.empty[Long, (Timestamp, Long, String, Double)]) {
          (m, b) => m ++ b.map(r => r._1 -> ((r._2, r._3, r._4, r._5)))
        }
      def stored(asOf: Option[Long]) =
        graft.etl.SnapshotMerge.read(spark, store, asOf).collect()
          .map(r => r.getAs[Long]("event_id") ->
            ((r.getAs[Timestamp]("ts"), r.getAs[Long]("user_id"),
              r.getAs[String]("event_type"), r.getAs[Double]("value")))).toMap
      val batches = List(b1, b2)
      val epochs = batches.map(b =>
        graft.etl.SnapshotMerge.upsert(spark, store, toDF(b),
          Seq("event_id"), "event_type"))
      epochs == List(1L, 2L) &&
        stored(None) == model(batches) &&
        stored(Some(1L)) == model(batches.take(1))
    }
  }

  /** The STREAMED medallion chain as a pure fold (r16): any random
    * chain of upstream mutations — keyed MERGE, predicate DELETE,
    * predicate UPDATE, compaction — drained through the
    * SnapshotStream source into changeApplySink must leave the
    * downstream store EQUAL to the upstream snapshot at every drain
    * point, and a compaction must not burn a downstream epoch (its
    * dataChange=false manifest plans to a zero-row batch). Partitioning
    * by event_type makes update/delete churn exercise emptied and
    * multi-partition rewrites organically. */
  property("snapshot stream chain: random mutations (merge/delete/update/compact) converge downstream at every drain") = {
    val genBatch = Gen.nonEmptyListOf(genEvent).map(_.distinctBy(_._1).take(10))
    val genOp = for {
      k <- Gen.choose(0, 3)
      b <- genBatch
      x <- Gen.choose(-10.0, 400.0)
    } yield (k, b, x)
    Prop.forAllNoShrink(genBatch, Gen.listOfN(2, genOp)) { (b0, ops) =>
      import graft.etl.SnapshotMerge
      val root = snapPropRoot.resolve(java.util.UUID.randomUUID().toString.take(8))
      val up = root.resolve("up").toString
      val down = root.resolve("down").toString
      SnapshotMerge.upsert(spark, up, toDF(b0), Seq("event_id"), "event_type")
      val q = graft.streaming.Streams.changeApplySink(
        spark.readStream.format(graft.streaming.SnapshotStream.Format)
          .option("path", up).load(),
        down, root.resolve("ckpt").toString, Seq("event_id"), "event_type").start()
      def state(store: String) = SnapshotMerge.read(spark, store).collect()
        .map(r => r.getAs[Long]("event_id") ->
          ((r.getAs[Timestamp]("ts"), r.getAs[Long]("user_id"),
            r.getAs[String]("event_type"), r.getAs[Double]("value")))).toMap
      try {
        q.processAllAvailable()
        var ok = state(down) == state(up)
        ops.foreach { case (k, b, x) =>
          val downEpochs = SnapshotMerge.committedEpochs(spark, down)
          k match {
            case 0 => SnapshotMerge.upsert(spark, up, toDF(b),
              Seq("event_id"), "event_type")
            case 1 => SnapshotMerge.deleteWhere(spark, up, col("value") > x)
            case 2 => SnapshotMerge.updateWhere(spark, up, col("value") <= x,
              Map("value" -> (col("value") + lit(1.0))))
            case 3 => SnapshotMerge.compact(spark, up, maxFilesPerPartition = 0)
          }
          q.processAllAvailable()
          ok = ok && state(down) == state(up)
          if (k == 3) // compaction must not burn a downstream epoch
            ok = ok && SnapshotMerge.committedEpochs(spark, down) == downEpochs
        }
        ok
      } finally q.stop()
    }
  }

  property("MG: guarantees survive arbitrary partitioning + merge trees") =
    Prop.forAll(genStream, Gen.choose(2, 9)) { case ((keys, cap), parts) =>
      val truth = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = keys.size.toLong
      // split round-robin into `parts` partial summaries, merge left-fold
      val partials = keys.zipWithIndex.groupBy(_._2 % parts).values
        .map(chunk => mgOf(chunk.map(_._1), cap)).toList
      val merged = partials.reduce { (a, b) =>
        (0 until b.size).foreach(i => a.add(b.keys(i), b.vals(i))); a
      }
      val sk = live(merged)
      val heavy = truth.filter { case (_, c) => c * cap > n }.keySet
      heavy.subsetOf(sk.keySet) &&
        sk.forall { case (k, lower) => lower >= 1L && lower <= truth(k) } &&
        sk.size <= cap - 1
    }

}
