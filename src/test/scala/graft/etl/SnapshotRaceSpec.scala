package graft.etl

import graft.SparkSuite
import graft.sources.CommitMarker
import org.apache.spark.sql.functions._

/** Real-THREAD races on one snapshot store (r16 verdict #6): the commit
  * protocol is proven for deterministic single-point injections
  * (SnapshotMergeSpec) — this spec runs compact ∥ deleteWhere ∥ upsert
  * as genuinely concurrent driver threads, each retrying on the protocol's abort
  * exception, and checks the only outcomes the protocol promises:
  * every committed epoch chain is dense, every loser aborts cleanly
  * (no torn state, no leaked staging/version dirs), all three
  * operations eventually land, the final state is the serial outcome
  * (the three ops commute by construction: the delete predicate and the
  * upsert key range are disjoint, compact changes no logical row), and
  * a live downstream stream converges to it exactly. */
class SnapshotRaceSpec extends SparkSuite {

  import spark.implicits._

  test("compact ∥ deleteWhere ∥ upsert: losers abort and retry to convergence; a live downstream stream stays exact") {
    val root = java.nio.file.Files.createTempDirectory("graft_snaprace").toString
    val store = s"$root/store"
    val downstream = s"$root/down"
    // bootstrap: keys 0..99 over 4 partitions, range-split and laid out
    // as a pre-binning publish wrote them, so every partition is
    // fragmented enough for compact to have real work
    LegacyStore.fragmented(spark, store,
      spark.range(0, 100)
        .select(col("id"), concat(lit("v"), col("id")).as("v"),
          concat(lit("d"), col("id") % 4).as("day"), col("id").as("ts"))
        .repartitionByRange(8, col("id")), "day")

    val q = graft.streaming.Streams.changeApplySink(
      spark.readStream.format(graft.streaming.SnapshotStream.Format)
        .option("path", store).load(),
      downstream, s"$root/ckpt", Seq("id"), "day").start()

    // each racer retries the WHOLE operation on the protocol's abort
    // signal (a stale-base manifest race); anything else fails the spec
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val aborts = new java.util.concurrent.atomic.AtomicInteger(0)
    def racer(name: String)(op: => Unit): Thread = {
      val t = new Thread(() => {
        var done = false
        var tries = 0
        while (!done && tries < 50) {
          tries += 1
          attempts.incrementAndGet()
          try { op; done = true }
          catch {
            case _: CommitMarker.ConcurrentWriteException =>
              aborts.incrementAndGet()
              Thread.sleep(20)
            case e: Throwable =>
              failures.add(new RuntimeException(s"$name: unexpected", e))
              done = true
          }
        }
        if (!done) failures.add(new RuntimeException(s"$name: never converged"))
      }, name)
      t.start(); t
    }
    try {
      val threads = Seq(
        racer("upsert") {
          SnapshotMerge.upsert(spark, store,
            spark.range(100, 150)
              .select(col("id"), concat(lit("n"), col("id")).as("v"),
                concat(lit("d"), col("id") % 4).as("day"), col("id").as("ts")),
            Seq("id"), "day")
        },
        racer("delete") {
          SnapshotMerge.deleteWhere(spark, store, col("id") < 25)
        },
        racer("compact") {
          SnapshotMerge.compact(spark, store, maxFilesPerPartition = 0)
        })
      threads.foreach(_.join(120000))
      assert(threads.forall(!_.isAlive), "racers must terminate")
      assert(failures.isEmpty,
        s"losers must abort ONLY via the protocol: ${failures.peek()}")
      q.processAllAvailable()
    } finally q.stop()

    // all three landed: the serial outcome (the ops commute — disjoint
    // delete predicate / insert key range, logically-neutral compact)
    val state = SnapshotMerge.read(spark, store).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    val expected =
      (25L until 100L).map(i => i -> s"v$i").toMap ++
        (100L until 150L).map(i => i -> s"n$i").toMap
    assert(state === expected, "final state must be the serial outcome")
    // the logical chain is dense — no epoch lost or duplicated
    val epochs = SnapshotMerge.committedEpochs(spark, store)
    assert(epochs === (1L to epochs.length), s"dense chain: $epochs")
    // clean aborts: no staging leftovers anywhere near the store
    val parent = new java.io.File(store).getParentFile
    assert(!parent.listFiles().exists(_.getName.contains("__staging")),
      s"staging must be cleaned: ${parent.listFiles().map(_.getName).toSeq}")
    // the live stream converged to the exact final state
    val down = SnapshotMerge.read(spark, downstream).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(down === expected,
      "the downstream store must equal the upstream final state")
    // the race was real at least once in expectation — not asserted
    // hard (a lucky serial schedule is legal), just recorded
    info(s"attempts=${attempts.get} protocol_aborts=${aborts.get} epochs=${epochs.length}")
  }

  /** restore ∥ vacuum ∥ merge as REAL threads (r17 verdict #4: the
    * restore-vs-vacuum TOCTOU was proven only through the deterministic
    * `restorePostCommitHook` seam). The vacuum runs with a short-but-
    * honest grace (1.5 s ≫ one sweep pass over this store), so the
    * documented protocol applies: the restore's grace-re-stamp puts its
    * target dirs back under the same umbrella every in-flight publish
    * enjoys. Every terminal outcome must be one of:
    *
    *  - restore INTACT (returned Some): the tip reads exactly the
    *    target-epoch state;
    *  - loud PRE-COMMIT refusal (target manifest or data vacuumed
    *    first): nothing committed, the tip reads the pre-restore state;
    *  - the loud MID-COMMIT failure, repaired or with the prescribed
    *    manual repair (near-unreachable under an honest grace — the
    *    deterministic seam tests own this arm's details; here it is
    *    accepted and repaired if it ever fires).
    *
    * The merge thread re-sends CONTENT-IDENTICAL rows (epoch 2's own
    * delta), so whatever interleaving wins, the final logical state is
    * exactly one of two known values — while its commits both slide the
    * vacuum keep-window past the restore target (the pressure that
    * makes the race real) and race the restore's tip gate. A live
    * downstream stream must converge to the final state in every
    * non-wedged outcome. */
  test("restore ∥ vacuum ∥ merge: every outcome is restore-intact or a documented loud failure; the tip stays readable and a live stream converges") {
    (1 to 3).foreach { iter =>
      val root = java.nio.file.Files.createTempDirectory("graft_restorerace").toString
      val store = s"$root/store"
      val downstream = s"$root/down"
      def batch(tag: String, ids: Range) =
        spark.range(ids.start, ids.end)
          .select(col("id"), concat(lit(tag), col("id")).as("v"),
            concat(lit("d"), col("id") % 4).as("day"), col("id").as("ts"))
      // epoch 1: a0..a99 over 4 partitions; epoch 2 (the restore
      // target): b50..b59; epoch 3: c60..c69 — both spanning all 4
      // partitions, so every merge supersedes every partition version
      SnapshotMerge.upsert(spark, store,
        batch("a", 0 until 100).repartitionByRange(4, col("id")), Seq("id"), "day")
      SnapshotMerge.upsert(spark, store, batch("b", 50 until 60), Seq("id"), "day")
      SnapshotMerge.upsert(spark, store, batch("c", 60 until 70), Seq("id"), "day")
      val e2State = (0L until 100L).map(i =>
        i -> (if (i >= 50 && i < 60) s"b$i" else s"a$i")).toMap
      val e3State = e2State ++ (60L until 70L).map(i => i -> s"c$i")

      val q = graft.streaming.Streams.changeApplySink(
        spark.readStream.format(graft.streaming.SnapshotStream.Format)
          .option("path", store).load(),
        downstream, s"$root/ckpt", Seq("id"), "day").start()
      q.processAllAvailable()

      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      @volatile var outcome: Either[Throwable, Option[Long]] = null
      def thread(name: String)(body: => Unit): Thread = {
        val t = new Thread(() => {
          try body catch { case e: Throwable =>
            failures.add(new RuntimeException(s"$name: unexpected", e)) }
        }, name)
        t.start(); t
      }
      val merger = thread("merger") {
        (1 to 8).foreach { _ =>
          // content-identical re-send: burns epochs (sliding the keep
          // window past the target) without changing the logical state;
          // losing a commit race is the protocol working, not a failure
          try SnapshotMerge.upsert(spark, store,
            batch("b", 50 until 60), Seq("id"), "day")
          catch { case _: CommitMarker.ConcurrentWriteException => () }
          Thread.sleep(120)
        }
      }
      val vacuumer = thread("vacuumer") {
        (1 to 45).foreach { i =>
          SnapshotMerge.vacuum(spark, store, keep = 4, graceMs = 1500L,
            sweepOrphans = i % 3 == 0)
          Thread.sleep(60)
        }
      }
      val restorer = thread("restorer") {
        // iteration-varied start: early → the restore usually wins;
        // late → the keep window has slid past the target and the
        // vacuumed-refusal arms become reachable
        Thread.sleep(if (iter == 3) 5500L else 800L * iter)
        var done = false
        var tries = 0
        while (!done && tries < 60) {
          tries += 1
          try { outcome = Right(SnapshotMerge.restoreTo(spark, store, 2L)); done = true }
          catch {
            case _: CommitMarker.ConcurrentWriteException => Thread.sleep(50)
            case e: IllegalArgumentException
                if e.getMessage.contains("manifest is gone") =>
              outcome = Left(e); done = true
            case e: IllegalStateException
                if e.getMessage.contains("was vacuumed") ||
                  e.getMessage.contains("mid-commit") =>
              outcome = Left(e); done = true
          }
        }
        if (!done) failures.add(new RuntimeException("restorer: never terminal"))
      }
      Seq(merger, vacuumer, restorer).foreach(_.join(180000))
      assert(Seq(merger, vacuumer, restorer).forall(!_.isAlive),
        "racers must terminate")
      assert(failures.isEmpty,
        s"only documented outcomes are legal: ${failures.peek()}")
      assert(outcome != null, "the restorer must reach a terminal outcome")

      val wedgedArm = outcome.left.exists(_.getMessage.contains("did not land"))
      val expected = outcome match {
        case Right(Some(_)) => e2State // restore intact (merges are no-ops on it)
        case Right(None) =>
          fail("the tip can never equal the target mid-race"); e2State
        case Left(e) if e.getMessage.contains("did not land") =>
          // the documented manual repair, with the race stopped
          val m = "restoreTo\\((\\d+)\\)".r.findFirstMatchIn(e.getMessage)
          assert(m.isDefined, s"the wedged message must prescribe the repair: $e")
          SnapshotMerge.restoreTo(spark, store, m.get.group(1).toLong)
          e3State
        case Left(_) => e3State // repaired mid-commit, or loud pre-commit refusal
      }
      val state = SnapshotMerge.read(spark, store).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
      assert(state === expected, s"iter $iter outcome=$outcome")
      // the tip is structurally sound: every referenced dir exists, the
      // committed chain is a contiguous suffix (the tipEpoch invariant)
      val tip = SnapshotMerge.latestSnapshot(spark, store).get
      tip.parts.foreach { case (n, v) =>
        assert(new java.io.File(store, s"$n/__e=$v").isDirectory,
          s"tip epoch ${tip.epoch} references a missing dir $n/__e=$v")
      }
      val epochs = SnapshotMerge.committedEpochs(spark, store)
      assert(epochs === (epochs.head to epochs.last), s"contiguous: $epochs")
      // the live stream converged exactly — except across a WEDGED tip
      // (reads of swept data fail loudly by design), or when the
      // stream's OWN replay epoch outlived keep=4 under a load stall:
      // that kill is the documented loud retention outcome, not a race
      // defect (r18 review — classify it instead of flaking)
      def retentionKilled(e: Throwable): Boolean = {
        var c: Throwable = e
        while (c != null) {
          if (Option(c.getMessage).exists(_.contains("no longer committed")))
            return true
          c = c.getCause
        }
        false
      }
      try {
        if (!wedgedArm) {
          q.processAllAvailable()
          val down = SnapshotMerge.read(spark, downstream).collect()
            .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
          assert(down === state,
            s"iter $iter: the downstream store must equal the final state")
        }
      } catch {
        case e: Throwable if retentionKilled(e) =>
          info(s"iter $iter: stream killed by retention (documented loud outcome)")
      } finally q.stop()
      info(s"iter $iter outcome=" + (outcome match {
        case Right(e) => s"restored@$e"
        case Left(e) => e.getMessage.take(80)
      }) + s" epochs=${epochs.mkString(",")}")
    }
  }

  /** dry-run vacuum ∥ real vacuum ∥ writes (r18 verdict #5): the serial
    * spec pins dry ⊆ real, but the one historical dry-run WRITE — the
    * emptied-parent delete removed in r18's second review — was only
    * reachable when a CONCURRENT real vacuum emptied a parent
    * mid-dry-run. This spec races live dry runs (both planning modes)
    * against a real per-trigger-style vacuum and a writer, watching
    * [[SnapshotMerge.vacuumWriteHook]] — the single funnel every real
    * vacuum mutation passes through — and asserts the dry thread
    * performs ZERO filesystem write ops under any interleaving. A dry
    * run losing a manifest mid-parse to the real sweep surfaces as
    * FileNotFoundException (advisory plan, loud outcome) — tolerated,
    * counted, and still write-free. */
  test("dry-run vacuum ∥ real vacuum ∥ upserts: the dry thread performs ZERO filesystem write ops under interleaving") {
    val root = java.nio.file.Files.createTempDirectory("graft_dryrace").toString
    val store = s"$root/store"
    SnapshotMerge.upsert(spark, store,
      spark.range(0, 40)
        .select(col("id"), concat(lit("v"), col("id")).as("v"),
          concat(lit("d"), col("id") % 4).as("day"), col("id").as("ts")),
      Seq("id"), "day")
    val writeThreads = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    SnapshotMerge.vacuumWriteHook = _ =>
      { writeThreads.add(Thread.currentThread().getName); () }
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val dryReports = new java.util.concurrent.atomic.AtomicInteger(0)
    val dryRaces = new java.util.concurrent.atomic.AtomicInteger(0)
    try {
      val dry = new Thread(() => {
        var i = 0
        while (!stop.get()) {
          i += 1
          try {
            if (SnapshotMerge.vacuum(spark, store, keep = 1, graceMs = -1000L,
              sweepOrphans = i % 2 == 0, dryRun = true).nonEmpty)
              dryReports.incrementAndGet()
          } catch {
            // the real sweep took a dropped manifest between this dry
            // run's listing and its parse — a loud advisory failure,
            // never a write
            case _: java.io.FileNotFoundException =>
              dryRaces.incrementAndGet()
            case e: Throwable =>
              failures.add(new RuntimeException("dry-runner: unexpected", e))
          }
          Thread.sleep(i % 7)
        }
      }, "dry-runner")
      val churn = new Thread(() => {
        try {
          (1 to 12).foreach { i =>
            SnapshotMerge.upsert(spark, store,
              spark.range(i * 3, i * 3 + 3)
                .select(col("id"), concat(lit(s"u$i-"), col("id")).as("v"),
                  concat(lit("d"), col("id") % 4).as("day"), col("id").as("ts")),
              Seq("id"), "day")
            SnapshotMerge.vacuum(spark, store, keep = 1, graceMs = -1000L,
              sweepOrphans = i % 3 == 0)
            Thread.sleep(i % 5)
          }
        } catch { case e: Throwable =>
          failures.add(new RuntimeException("churn: unexpected", e)) }
      }, "churn")
      dry.start(); churn.start()
      churn.join(120000)
      stop.set(true)
      dry.join(120000)
      assert(!dry.isAlive && !churn.isAlive, "racers must terminate")
      assert(failures.isEmpty, s"unexpected failure: ${failures.peek()}")
      val writers = writeThreads.toArray(Array.empty[String]).toSet
      assert(!writers.contains("dry-runner"),
        s"a DRY run performed a real filesystem write (writers: $writers)")
      assert(writers.contains("churn"),
        "the real vacuum must actually have written (else the race was vacuous)")
      assert(dryReports.get() > 0,
        "dry runs must have planned real deletions while racing")
      info(s"dry_reports=${dryReports.get} dry_mid-parse_races=${dryRaces.get} " +
        s"real_write_ops=${writeThreads.size}")
    } finally SnapshotMerge.vacuumWriteHook = _ => ()
  }
}
