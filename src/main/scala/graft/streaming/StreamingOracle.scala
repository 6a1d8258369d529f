package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.functions.Det.{dsum, sqlDsum}

/** Structured Streaming EXECUTION under the DuckDB oracle gate.
  *
  * Streaming operators elsewhere in graft/streaming are spec-gated —
  * DuckDB cannot watch a stream. But a BOUNDED stream has a well-defined
  * final on-storage result once every micro-batch has committed, and for
  * each gate here that final result is provably invariant to how the file
  * source slices the input into triggers:
  *
  *  - q68 (Complete mode): the aggregation state folds the whole input
  *    regardless of micro-batch boundaries; decimal-routed sums make the
  *    fold order-independent.
  *  - q69 (Update mode): the funnel state machine is monotone — the
  *    final per-user state is the per-column MIN over all emissions.
  *  - q70 (Append + dropDuplicates): WHICH duplicate survives depends on
  *    arrival order, so the gate aggregates to the order-invariant
  *    surface (kept docs per language).
  *  - q72 (Append + watermark): arrival order is PINNED by file
  *    modification times, so exactly which rows are late — and which
  *    windows finalize — is deterministic and oracle-computable.
  *  - q73 (Append + session windows): in-day-order arrival makes the
  *    streaming session merge reproduce the batch session partition
  *    exactly (see [[streamingSessionRollup]]).
  *
  * Every gate runs the full production machinery: file-stream source,
  * trigger-bounded micro-batches, stateful operators on a checkpointed
  * state store (q72 on ROCKSDB — the 100 TB backend where state must
  * spill to disk; the rest on the in-memory provider, see
  * [[gateSession]]'s provider-split rationale), and a CHECKPOINTED FILE
  * SINK (reference: real_time_streaming.py:203-211's checkpointed file
  * output). Complete/Update-mode results go through
  * `foreachBatch` parquet writes (the documented pattern for those modes
  * — the parquet sink itself is append-only); append-mode results go
  * through the production S5 sink ([[Streams.parquetSink]]). No result
  * ever materializes driver-side.
  *
  * Harness sizing: `maxFilesPerTrigger` is derived from the source's
  * actual file count so each gate runs ~2 micro-batches (the multi-batch
  * proof needs >1; more just multiplies the per-trigger round), and the
  * gates run with 2 shuffle/state partitions instead of the session's
  * 32 — at fixture scale per-batch cost is the per-trigger fixed round
  * (job scheduling + offset/commit logs + sink commit), not state
  * volume. Both are run-time configs, not semantics: at production
  * scale you raise them (more state partitions = more parallelism,
  * smaller per-store footprint). The sizing lives on a cloned gate
  * session ([[gateSession]]), never on the caller's — see the method
  * doc. */
object StreamingOracle {

  private val runId = new AtomicInteger(0)

  // ---- scratch management -------------------------------------------------

  // Per-run directories only: every fixture a run merely READS (ordered
  // slices, the docs copy, the maintenance and l55 stores) is a
  // graft.GateFixture, built once per (JVM, sfDir).
  private lazy val scratchRoot: Path =
    graft.FileTree.deleteAtExit(Files.createTempDirectory("graft_stream_oracle"))

  // Each invocation gets a FRESH checkpoint + sink dir (so re-runs
  // genuinely re-execute the stream). A previous invocation's dir is NOT
  // deleted eagerly: the gate returns a lazy DataFrame over its sink,
  // and deleting on the next invocation would invalidate a still-held
  // earlier result at its first re-collection. Retired dirs are removed
  // by the scratch-root shutdown hook instead — each is checkpoint
  // metadata plus a kilobyte-scale result table, so a bench session's
  // accumulation is bounded and tiny.
  private def freshRunDir(gate: String): Path = {
    val p = scratchRoot.resolve(s"${gate}_${runId.incrementAndGet()}")
    Files.createDirectories(p)
    p
  }

  // ---- gate harness -------------------------------------------------------

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val ChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
  /** The session a gate's stream runs on: a memoized per-(caller,
    * provider) CLONE. `SparkSession.newSession` shares the SparkContext,
    * catalog, and cache but owns an independent SQLConf, so the gate
    * sizing (2 shuffle/state partitions) and the state
    * provider are set ONCE on the clone and never touch the caller's
    * session — nothing to save/restore, nothing a concurrent query on
    * the caller's session can observe, and concurrent gates cannot race
    * on shared conf. The clone starts from the context's INITIAL SQL
    * conf, so the caller's runtime conf (time zone, parquet nanos
    * handling, ANSI flags, …) is folded in first; only the gate knobs
    * diverge.
    *
    * State provider split (round 11, attacking the measured
    * ~0.7–1.0 s/trigger commit floor): q72 — the gate whose PROPERTY is
    * watermark lateness/eviction through the production state backend —
    * stays on RocksDB with changelog checkpointing, and StreamingSpec
    * keeps asserting the provider from its run's metrics. The other
    * stateful gates prove OPERATOR semantics (agg/funnel/dedup/session/
    * join state machines), which are provider-agnostic by Spark's
    * StateStore contract; they run the default in-memory
    * HDFS-backed provider, whose per-batch commit is a delta-file write
    * instead of a RocksDB open+changelog round — the floor's dominant
    * term at fixture scale. At production scale every gate's conf is a
    * run-time knob; nothing in the operators changes.
    *
    * Two shuffle/state partitions is run-time sizing, not semantics:
    * results are partition-count invariant by the StateStore contract,
    * which StreamingSpec pins. The SnapshotStream gates (q112, q116–q118)
    * run on the in-memory clone too. */
  private[streaming] def gateSession(spark: SparkSession,
                                     rocksDb: Boolean = false): SparkSession =
    graft.SessionClones.cloned(
      s"stream-gate-${if (rocksDb) "rocks" else "mem"}", spark) { s =>
      s.conf.set("spark.sql.shuffle.partitions", "2")
      // GateReceipt sums over recentProgress, which Spark caps at 100
      // entries by default — raise it so a many-trigger gate's receipt
      // never silently under-reports (r15 review; gates run 2–4
      // triggers today, this is posture)
      s.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
      if (rocksDb) {
        s.conf.set(ProviderKey, RocksDbProvider)
        // changelog checkpointing is RocksDB's production posture at
        // scale AND the cheap one at fixture scale: each commit uploads
        // the batch's delta instead of a full snapshot (measured ~20%
        // off the gate's wall here); recovery replays the changelog
        s.conf.set(ChangelogKey, "true")
      }
    }

  /** Per-gate trigger counts from the last run's own progress metrics
    * (distinct batch ids). The streaming block's cost is ~linear in
    * TRIGGER COUNT (measured round 11: ~0.48 s start + ~0.25 s/trigger
    * commit bookkeeping), so StreamingSpec pins each gate's count and
    * the block total against a budget — a refactor that quietly adds
    * triggers fails the suite instead of silently regrowing the block. */
  private[streaming] val triggerCounts =
    new java.util.concurrent.ConcurrentHashMap[String, Int]()

  /** State-store physics of one gate's last run (r14 verdict #6 — the
    * streaming tier's receipt, the way the batch tier prints decision +
    * plan facts): trigger count, total input rows, the FINAL state-store
    * row count (what the watermark horizon holds at the end), rows
    * written to state across the run, and rows the watermark DROPPED as
    * too late — the number that proves late data actually exercised the
    * eviction contract. `stateOperators` counts the stateful operators
    * in the plan (0 = the gate is stateless-per-batch, e.g. a
    * foreachBatch MERGE). All values come from the engine's own
    * StreamingQueryProgress, not from re-derivation. */
  final case class GateReceipt(gate: String, triggers: Int, inputRows: Long,
                               stateOperators: Int, stateRowsFinal: Long,
                               stateRowsUpdated: Long, lateRowsDropped: Long)

  /** Last-run receipts per gate (JVM-global mirror, same contract as
    * [[triggerCounts]]): populated by every [[record]], read by the
    * StreamAudit main that prints PLAN_AUDIT's streaming section. */
  private[graft] val gateReceipts =
    new java.util.concurrent.ConcurrentHashMap[String, GateReceipt]()

  /** The state-store providers each gate's last run released in
    * [[record]] — the spec hook proving none of them stays loaded. */
  private[graft] val releasedProviders = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[org.apache.spark.sql.execution.streaming.state.StateStoreProviderId]]()

  /** Start the gate's stream, drain it, stop it; [[record]] it under
    * `gate`. */
  private def drain(gate: String)(start: => StreamingQuery): StreamingQuery = {
    val q = start
    try q.processAllAvailable() finally q.stop()
    record(gate, q)
    q
  }

  /** Record a gate's trigger count and state-store receipt from its
    * STOPPED streams' progress (several streams when the gate restarts
    * its stream), then unload their state-store providers: a finished
    * gate's state would otherwise stay loaded, rows and all, until
    * Spark's maintenance pass notices the run is gone. */
  private[streaming] def record(gate: String, qs: StreamingQuery*): Unit = {
    val providers = qs.flatMap(org.apache.spark.sql.graft.StateBridge.providers)
    org.apache.spark.sql.graft.StateBridge.unload(providers)
    releasedProviders.put(gate, providers)
    val prog = qs.flatMap(_.recentProgress)
    val triggers = prog.map(_.batchId).distinct.length
    val lastWithState = prog.reverse.find(_.stateOperators.nonEmpty)
    triggerCounts.put(gate, triggers)
    gateReceipts.put(gate, GateReceipt(
      gate,
      triggers = triggers,
      inputRows = prog.filter(_.numInputRows > 0).map(_.numInputRows).sum,
      stateOperators = lastWithState.map(_.stateOperators.length).getOrElse(0),
      stateRowsFinal = lastWithState.toSeq
        .flatMap(_.stateOperators.map(_.numRowsTotal)).sum,
      stateRowsUpdated = prog.flatMap(_.stateOperators.map(_.numRowsUpdated)).sum,
      lateRowsDropped = prog.flatMap(
        _.stateOperators.map(_.numRowsDroppedByWatermark)).sum))
  }

  // Per-directory (schema, fileCount) memo — not a GateFixture: it
  // builds nothing, it caches reads of a directory. The gate layouts are
  // written once per JVM and never change, so the batch reads that
  // mftFor and sourceOver need (a footer for the schema, a listing for
  // the file count) happen once per dir instead of twice per gate
  // invocation — part of the shared fixed block all six gates pay.
  private val dirMeta = new java.util.concurrent.ConcurrentHashMap[
    String, (org.apache.spark.sql.types.StructType, Int)]()
  private def metaOf(spark: SparkSession, dir: String)
      : (org.apache.spark.sql.types.StructType, Int) =
    dirMeta.computeIfAbsent(dir, { _ =>
      val df = spark.read.parquet(dir)
      (df.schema, df.inputFiles.length)
    })

  /** Files-per-trigger that slices `dir` into ~`targetBatches`
    * micro-batches whatever the layout's file count is. Two batches by
    * default: every multi-batch exactness property the gates prove
    * (state carried ACROSS batches) needs ≥2 data-carrying triggers and
    * nothing needs three — each extra trigger costs a full
    * per-partition RocksDB open/commit round, the dominant term of the
    * gates' fixed block (the order-sensitive gates q72–q74 pin their
    * own explicit mft=1 slicing instead). */
  private[streaming] def mftFor(spark: SparkSession, dir: String,
                                targetBatches: Int = 2): Int = {
    val n = metaOf(spark, dir)._2
    math.max(1, math.ceil(n.toDouble / targetBatches).toInt)
  }

  private def sourceOver(spark: SparkSession, dir: String, mft: Int,
                         fileGlob: Option[String] = None): DataFrame = {
    val reader = spark.readStream
      .schema(metaOf(spark, dir)._1)
      .option("maxFilesPerTrigger", mft.toString)
      .option("basePath", dir)
    fileGlob.foreach(g => reader.option("pathGlobFilter", g))
    reader.parquet(dir)
  }

  // ---- q68: Complete-mode windowed rollup ---------------------------------

  /** q68 — 5-minute windowed rollup per event type, computed BY THE
    * STREAMING ENGINE over the y/m/d-partitioned copy of `events`
    * ([[graft.sources.PartitionedLayout.partitionedEvents]]) and
    * persisted through a checkpointed `foreachBatch` parquet write (each
    * Complete-mode batch overwrites the result table — the documented
    * file-sink shape for Complete mode; reference:
    * real_time_streaming.py:155-211). */
  def streamingWindowRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.sources.PartitionedLayout.partitionedEventsDir(spark, sfDir)
    val gs = gateSession(spark)
    val run = freshRunDir("q68")
    val result = run.resolve("result").toString
    val agg = sourceOver(gs, dir, mftFor(gs, dir))
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .select(unix_timestamp(col("window.start")).as("bucket_start"),
        col("event_type"), col("n"), col("total_value"))
    drain("q68") {
      agg.writeStream
        .outputMode("complete")
        .option("checkpointLocation", run.resolve("checkpoint").toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("overwrite").parquet(result)
        }
        .start()
    }
    spark.read.parquet(result)
      .orderBy(col("bucket_start"), col("event_type").asc_nulls_last)
  }

  private val q68Sql =
    s"""SELECT cast(floor(epoch(ts) / 300) * 300 as bigint) AS bucket_start,
       |       event_type, count(*) AS n, ${sqlDsum("value")} AS total_value
       |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q69: Update-mode stateful funnel -----------------------------------

  /** q69 — the stateful funnel across REAL micro-batches, under q58's
    * oracle. The Update-mode stream re-emits a user's (t1, t2, t3)
    * whenever a batch touches them; the funnel's monotonicity (every
    * step threshold only ever DECREASES once defined, and never reverts
    * to null — proven by FunnelSpec's property test) means the FINAL
    * state per user is simply the per-column MIN over all emissions. So:
    * stream the partitioned copy in arbitrary file order, append every
    * emission to a checkpointed parquet sink (the Update-mode
    * `foreachBatch` changelog pattern), fold the emissions FROM STORAGE,
    * and roll up to q58's summary — hash equality with the batch window
    * formulation proves the state machine is exact under any micro-batch
    * slicing the source produces. */
  def streamingFunnelSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.sources.PartitionedLayout.partitionedEventsDir(spark, sfDir)
    val gs = gateSession(spark)
    import gs.implicits._
    val run = freshRunDir("q69")
    val result = run.resolve("result").toString
    val src = sourceOver(gs, dir, mftFor(gs, dir))
      .select(col("user_id"), col("event_type"), unix_timestamp(col("ts")).as("ts_s"))
      .as[Funnel.FunnelEvent]
    drain("q69") {
      Funnel.streamingFunnel(gs, src)
        .toDF()
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", run.resolve("checkpoint").toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(result)
        }
        .start()
    }
    val perUser = spark.read.parquet(result)
      .groupBy("user_id")
      .agg(min(col("t1")).as("t1"), min(col("t2")).as("t2"), min(col("t3")).as("t3"))
    graft.operators.FunnelQueries.funnelSummary(perUser)
  }

  // ---- q70: streaming dedup -----------------------------------------------

  /** q70 — STREAMING corpus dedup under the oracle: `documents` arrives
    * as ten separate files streamed across several triggers, and the
    * streaming `dropDuplicates` state machine keeps the first
    * (lang, text-hash) occurrence it sees. WHICH row survives depends on
    * arrival order, so the gate aggregates to the order-INVARIANT
    * surface — kept docs per language = distinct (lang, hash) pairs —
    * which must hash-match DuckDB computing the same from the flat
    * fixture (the streaming twin of l01's exact-dedup arithmetic;
    * reference analog: the content-hash dedup in Streams.corpusIngest).
    * The survivors land in the PRODUCTION checkpointed parquet sink
    * (S5); the rollup reads them back from storage. */
  def streamingDedupStats(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.GateFixture.cached("graft_stream_docs", sfDir) { root =>
      val out = root.resolve("docs").toString
      graft.Tables.documents(spark, sfDir)
        .select("doc_id", "text", "lang")
        .repartition(10, col("doc_id"))
        .write.mode("overwrite").parquet(out)
      out
    }
    val gs = gateSession(spark)
    val run = freshRunDir("q70")
    val result = run.resolve("result").toString
    // project to (lang, text_hash) BEFORE the stateful dedup: the state
    // and the sink then carry two small strings per kept doc, not the
    // full document text
    val deduped = sourceOver(gs, dir, mftFor(gs, dir))
      .select(col("lang"),
        md5(lower(regexp_replace(trim(col("text")), "\\s+", " "))).as("text_hash"))
      .dropDuplicates("lang", "text_hash")
    drain("q70") {
      Streams.parquetSink(deduped, result,
        run.resolve("checkpoint").toString, triggerMs = 0).start()
    }
    spark.read.parquet(result)
      .groupBy("lang").agg(count(lit(1)).as("kept_docs"))
      .orderBy(col("lang").asc_nulls_last)
  }

  private val q70Sql =
    """SELECT lang, count(DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))) AS kept_docs
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** q97 — BOUNDED-STATE streaming dedup: `dropDuplicatesWithinWatermark`
    * keeps first-seen (user_id, event_type) rows while their state lives
    * only until the watermark passes `eventTime + delay` — the operator
    * that fixes q70's honest 100 TB weakness (plain `dropDuplicates`
    * state grows forever). Under the oracle the gate runs a 60-day
    * window — beyond the fixture's 30-day span, so no state can expire
    * and the kept set provably equals plain distinct-first (the
    * order-invariant surface: distinct users per event type, which
    * DuckDB recomputes declaratively). The BOUNDED behavior itself —
    * expired keys re-admitting and `numRowsRemoved > 0` eviction — is
    * pinned by StreamingSpec with a short-window MemoryStream where
    * arrival is fully controlled (an expiry boundary inside this
    * layout's day-file batches would make results depend on batch
    * geometry, which is exactly what an oracle row must not do). */
  def streamingDedupTtl(spark: SparkSession, sfDir: String): DataFrame = {
    val gs = gateSession(spark)
    val dir = inOrderEventsDir(gs, sfDir)
    val run = freshRunDir("q97")
    val result = run.resolve("result").toString
    // user_id >= 0 excludes the layout's sentinel flush row (user −1) —
    // a layout artifact, not fixture data the oracle sees
    val deduped = sourceOver(gs, dir, mft = 1)
      .filter(col("user_id").isNotNull && col("ts").isNotNull && col("user_id") >= 0)
      .withWatermark("ts", "60 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select("user_id", "event_type")
    drain("q97") {
      Streams.parquetSink(deduped, result,
        run.resolve("checkpoint").toString, triggerMs = 0).start()
    }
    spark.read.parquet(result)
      .groupBy("event_type")
      .agg(count(lit(1)).as("first_seen_users"))
      .orderBy(col("event_type").asc_nulls_last)
  }

  private val q97Sql =
    """SELECT event_type, count(DISTINCT user_id) AS first_seen_users
      |FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- ordered event layouts (q72/q73) ------------------------------------

  // Arbitrary fixed epoch for the slice modification times — only the
  // ORDER matters (the file source processes oldest-first), never the
  // wall clock.
  private val SliceEpochMs = 1700000000000L

  /** Write `slices` as single parquet files `000.parquet, 001.parquet,
    * …` whose ascending modification times pin the file source's
    * processing order (oldest-first is the source's documented default).
    * A GateFixture per (layout, sfDir) — the layout is a pure function of
    * the read-only fixture — so `slices` is evaluated only by the one
    * build. */
  private def orderedSliceDir(layout: String, sfDir: String,
                              slices: => Seq[DataFrame]): String =
    graft.GateFixture.cached(s"graft_stream_slices_$layout", sfDir) { root =>
      val dir = Files.createDirectories(root.resolve("slices"))
      val tmp = root.resolve("tmp")
      slices.zipWithIndex.foreach { case (df, i) =>
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val listing = Files.list(tmp)
        val part =
          try listing.filter(p => p.getFileName.toString.startsWith("part-"))
            .findFirst().orElseThrow()
          finally listing.close()
        val dst = dir.resolve(f"$i%03d.parquet")
        Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
        dst.toFile.setLastModified(SliceEpochMs + i * 60000L)
        graft.FileTree.delete(tmp)
      }
      dir.toString
    }

  private def eventCols(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.events(spark, sfDir)
      .select("event_id", "user_id", "event_type", "value", "ts")

  private def daySlice(ev: DataFrame, lo: Int, hi: Int): DataFrame =
    ev.filter(dayofmonth(col("ts")).between(lo, hi))

  /** One sentinel row far past the fixture's 30-day January span: its
    * arrival pushes the watermark beyond every real window so append
    * mode flushes them, while its OWN window/session can never finalize
    * (the watermark stops `delay` short of it) — so it is structurally
    * absent from the sink and the oracle never has to model it. */
  private def sentinel(spark: SparkSession, userId: Long): DataFrame =
    spark.range(1).select(
      lit(-1L).as("event_id"), lit(userId).as("user_id"),
      lit("view").as("event_type"), lit(0.0).as("value"),
      to_timestamp(lit("2024-03-01 00:00:00")).as("ts"))

  /** The fully in-day-order layout (days 1–15 / days 16–30 + sentinel)
    * shared by q73, q74, q92 and q93 — the exactness arguments rest on
    * in-order arrival, and the memo writes it once per (JVM, sfDir).
    *
    * TWO files, not three (round 11, trigger-floor cut): the sentinel
    * rides at the END of the second slice instead of its own file. Every
    * in-order argument is about DATA order, and the sentinel (2024-03-01)
    * is beyond day 30, so the slice stays internally ordered; each gate
    * still proves ≥2 data-carrying micro-batches with cross-batch state
    * (batch 1's rights/sessions meet batch 2's rows), and the engine's
    * final no-data batch still does watermark finalization — one fewer
    * ~0.4 s trigger round per gate on three gates. q74's inner join
    * ignores the sentinel by construction (user −1 is partnerless), so
    * it no longer needs a file-glob to exclude it. */
  private def inOrderEventsDir(spark: SparkSession, sfDir: String): String =
    orderedSliceDir("inorder2", sfDir, {
      val ev = eventCols(spark, sfDir)
      Seq(daySlice(ev, 1, 15), daySlice(ev, 16, 31).unionByName(sentinel(spark, -1L)))
    })

  /** Per-run stats of the last q72 execution, read by StreamingSpec to
    * assert the semantics the final table alone cannot show: that ≥1
    * window finalized BEFORE the last batch and ≥1 late row was dropped
    * by the watermark. */
  @volatile private[streaming] var lastLateStats: Option[LateStats] = None
  private[streaming] final case class LateStats(
      droppedByWatermark: Long, emittingBatches: Int, usedRocksDb: Boolean)

  // ---- q72: append-mode watermark finalization ----------------------------

  /** q72 — the reference's ACTUAL streaming contract under the oracle:
    * `withWatermark` + `outputMode("append")` (real_time_streaming.py:
    * 204-211) — a window is emitted to the sink exactly once, when the
    * watermark passes its end, and late rows are dropped. Append-mode
    * results depend on ARRIVAL ORDER, so the gate pins it: the fixture
    * is sliced into on-time files (days 6–15, then 16–30), a LATE TAIL
    * (days 1–5 — weeks behind the watermark by the time it arrives, so
    * unambiguously dropped), and the sentinel flush row, processed
    * oldest-modtime-first at one file per trigger. The final sink —
    * written by the production S5 checkpointed parquet sink — must
    * hash-match DuckDB aggregating ONLY the watermark-surviving rows
    * (day ≥ 6). The 10-minute delay matches the production pipelines
    * (Streams.userActivity5m); the day-16 boundary row can never be
    * late because day 15's max event time trails day 16 by under the
    * delay. TWO on-time batches before the tail are load-bearing, not
    * decoration: the engine applies the late-row filter with the
    * watermark as of the PREVIOUS batch's planning (one batch behind
    * the value its progress reports), so a tail arriving in the second
    * batch would be filtered against a still-unset watermark and
    * silently admitted — observed empirically; the extra batch makes
    * the drop deterministic under the lag. */
  def streamingLateWindowRollup(spark: SparkSession, sfDir: String): DataFrame = {
    // late tail + sentinel share the third file (round 11): the drop
    // decision is per-row against the previous batch's watermark — the
    // day-30 watermark planned after batch 1 — so co-arrival with the
    // sentinel changes nothing about which rows are late, and one
    // RocksDB trigger round drops out; the two on-time batches ahead of
    // the tail (the load-bearing lag protection) keep their own files
    val dir = orderedSliceDir("q72v2", sfDir, {
      val ev = eventCols(spark, sfDir)
      Seq(daySlice(ev, 6, 15), daySlice(ev, 16, 31),
        daySlice(ev, 1, 5).unionByName(sentinel(spark, -1L)))
    })
    // q72 is THE production-state-backend gate: RocksDB + changelog
    // checkpointing stay on, and StreamingSpec asserts the provider
    // from this run's own metrics (see gateSession's provider split)
    val gs = gateSession(spark, rocksDb = true)
    val run = freshRunDir("q72")
    val result = run.resolve("result").toString
    val agg = sourceOver(gs, dir, mft = 1)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .select(unix_timestamp(col("window.start")).as("bucket_start"),
        col("event_type"), col("n"), col("total_value"))
    val q = drain("q72") {
      Streams.parquetSink(agg, result,
        run.resolve("checkpoint").toString, triggerMs = 0).start()
    }
    val progress = q.recentProgress
    lastLateStats = Some(LateStats(
      droppedByWatermark =
        progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum,
      // the file sink does not report numOutputRows; in append-mode
      // aggregation a window is EMITTED exactly when its state row is
      // evicted, so batches with numRowsRemoved > 0 are emitting batches
      emittingBatches =
        progress.count(_.stateOperators.exists(_.numRowsRemoved > 0)),
      usedRocksDb = progress.flatMap(_.stateOperators).exists { op =>
        val it = op.customMetrics.keySet().iterator()
        var found = false
        while (it.hasNext && !found) found = it.next().startsWith("rocksdb")
        found
      }))
    spark.read.parquet(result)
      .orderBy(col("bucket_start"), col("event_type").asc_nulls_last)
  }

  private val q72Sql =
    s"""SELECT cast(floor(epoch(ts) / 300) * 300 as bigint) AS bucket_start,
       |       event_type, count(*) AS n, ${sqlDsum("value")} AS total_value
       |FROM events WHERE day(ts) >= 6
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q73: streaming session windows -------------------------------------

  /** q73 — `session_window` aggregation EXECUTED BY THE STREAMING ENGINE
    * in append mode, under q35's batch oracle. The fixture streams in
    * day order (days 1–15, then 16–30 + sentinel), which makes the
    * incremental session merge provably exact: a session is evicted and
    * emitted only when the watermark passes its end, and at that point
    * no in-order future row can extend it — any such row's timestamp
    * exceeds the watermark, hence exceeds session end, hence is beyond
    * the merge gap. So the emitted sessions are exactly the batch
    * session partition (q34 ≡ q35 ≡ this), row for row, and the sink —
    * the production S5 checkpointed parquet sink — hash-matches the
    * gaps-and-islands SQL. Closes the last stateful operator family
    * (sessionization) without a streaming-execution oracle row. */
  def streamingSessionRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = inOrderEventsDir(spark, sfDir)
    val gs = gateSession(spark)
    val run = freshRunDir("q73")
    val result = run.resolve("result").toString
    val agg = Sessionize.sessionWindowRollup(sourceOver(gs, dir, mft = 1), "2 hours")
    drain("q73") {
      Streams.parquetSink(agg, result,
        run.resolve("checkpoint").toString, triggerMs = 0).start()
    }
    spark.read.parquet(result)
      .orderBy(col("user_id"), col("session_start_s"))
  }

  // ---- q74: stream-stream interval join -----------------------------------

  /** q74 — the STREAM-STREAM interval join (click attribution) under the
    * oracle: views and clicks are two separate file-stream sources over
    * the same in-day-order layout as q73 (one file per trigger keeps the
    * two sources' batches in lockstep), joined through the production
    * operator [[Streams.clickAttribution]] — both sides watermarked 1
    * hour, the join time-bounded in both directions so state expires.
    * An INNER stream-stream join emits each qualifying pair exactly once
    * as its second leg arrives, so the final sink is the full pair set
    * PROVIDED eviction never beats a partner's arrival — and in-day
    * order it can't: only a view within 30 minutes of a day boundary has
    * partners in the next file, and the watermark trails that boundary
    * by the full 1-hour delay, so such a view is still in state when its
    * clicks arrive. Hence the sink hash-matches DuckDB's declarative
    * interval self-join over the flat fixture (exact to the microsecond:
    * the fixture's timestamps are µs-aligned, so the ns→µs read path
    * cannot flip a boundary comparison). The shared layout's sentinel
    * row (riding at the end of the second slice) is harmless here: an
    * inner join needs no watermark flush, and the sentinel user (−1) is
    * partnerless by construction, so it joins to nothing. */
  def streamingClickAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = inOrderEventsDir(spark, sfDir)
    val gs = gateSession(spark)
    val run = freshRunDir("q74")
    val result = run.resolve("result").toString
    // two separate sources on purpose: the single-source self-join
    // variant was measured SLOWER (3.0 s vs 2.4 s controlled — the
    // shared scan feeds both join sides through one stage and loses
    // the per-side filter-pushdown parallelism), so each side keeps
    // its own file-stream source; mft=1 keeps their batches in lockstep
    val views = sourceOver(gs, dir, mft = 1)
      .filter(col("event_type") === "view")
    val clicks = sourceOver(gs, dir, mft = 1)
      .filter(col("event_type") === "click")
    val joined = Streams.clickAttribution(views, clicks)
      .select(col("user_id"), col("view_id"), col("click_id"),
        unix_timestamp(col("view_ts")).as("view_ts_s"),
        unix_timestamp(col("click_ts")).as("click_ts_s"))
    drain("q74") {
      Streams.parquetSink(joined, result,
        run.resolve("checkpoint").toString, triggerMs = 0).start()
    }
    spark.read.parquet(result).orderBy("view_id", "click_id")
  }

  private val q74Sql =
    """WITH v AS (SELECT user_id, event_id AS view_id, ts FROM events WHERE event_type = 'view'),
      |c AS (SELECT user_id, event_id AS click_id, ts FROM events WHERE event_type = 'click')
      |SELECT v.user_id, view_id, click_id,
      |  cast(floor(epoch(v.ts)) as bigint) AS view_ts_s,
      |  cast(floor(epoch(c.ts)) as bigint) AS click_ts_s
      |FROM v JOIN c ON v.user_id = c.user_id
      | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
      |ORDER BY view_id, click_id""".stripMargin

  // ---- q85: stream-static broadcast as-of enrichment ----------------------

  /** q85 — the round-10 native operator INSIDE the streaming engine:
    * events arrive in real micro-batches while the `orders` dim stays
    * static, and every batch's plan runs `BroadcastAsOfJoinExec` — the
    * custom strategy is consulted by the incremental planner exactly
    * like Spark's own. Zero stream-side shuffles, zero state store:
    * as-of enrichment is per-row against a static dim, so micro-batch
    * slicing CANNOT change results — proven by appending each batch's
    * enriched rows to a checkpointed parquet sink, rolling up FROM
    * STORAGE to q48's summary, and hash-matching the same batch oracle
    * (q48Sql) all three batch shapes already share. */
  def streamingAsOfEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.sources.PartitionedLayout.partitionedEventsDir(spark, sfDir)
    val gs = gateSession(spark)
    val run = freshRunDir("q85")
    val result = run.resolve("result").toString
    val src = sourceOver(gs, dir, mftFor(gs, dir))
      .select("event_id", "event_type", "user_id", "ts")
    val dim = graft.Tables.orders(gs, sfDir).select(
      col("o_custkey").as("user_id"), col("o_orderdate").as("ts"),
      col("o_orderkey").as("okey"), col("o_totalprice").as("oprice"))
    val enriched = graft.operators.AsOfJoin.asofJoinNative(
      src, dim, "user_id", "ts", Seq("okey", "oprice"),
      tieBreak = Some("okey"), broadcast = Some(true))
    drain("q85") {
      enriched.writeStream
        .outputMode("append")
        .option("checkpointLocation", run.resolve("checkpoint").toString)
        .format("parquet").option("path", result)
        .start()
    }
    spark.read.parquet(result)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("asof_okey").isNotNull, 1).otherwise(0)).as("matched_events"),
        dsum(col("asof_oprice")).as("asof_price_sum"))
      .orderBy(col("event_type").asc_nulls_last)
  }

  // ---- q91: stream-static binned range join ------------------------------

  /** q91 — the keyless RANGE JOIN inside the streaming engine: events
    * stream in micro-batches and land in any purchase window that
    * contains them. The naive range predicate would be a per-batch
    * nested loop; [[graft.operators.RangeJoin.pointInInterval]] makes
    * it a stream-static EQUI join on the time bin (static side carries
    * the exploded bins), with the exact containment residual inside the
    * batch plan. Per-row against a static interval set — no state, no
    * watermark — so micro-batch slicing cannot change results: each
    * batch's matches append to a checkpointed parquet sink and the
    * rollup runs FROM STORAGE under q88's oracle. */
  def streamingRangeAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.sources.PartitionedLayout.partitionedEventsDir(spark, sfDir)
    val gs = gateSession(spark)
    val run = freshRunDir("q91")
    val result = run.resolve("result").toString
    val src = sourceOver(gs, dir, mftFor(gs, dir))
      .select("event_id", "ts", "value")
    val wins = graft.operators.RangeJoin.purchaseWindows(
      graft.Tables.events(gs, sfDir))
    // auto width/salt: the stats pass runs ONCE at stream definition
    // over the STATIC interval side (batch jobs on the driver), then
    // every micro-batch reuses the chosen width; the uniform window set
    // keeps the unsalted plan
    val joined = graft.operators.RangeJoin.pointInIntervalAuto(
      src, "ts", wins, "w_start", "w_end")
    drain("q91") {
      joined.writeStream
        .outputMode("append")
        .option("checkpointLocation", run.resolve("checkpoint").toString)
        .format("parquet").option("path", result)
        .start()
    }
    spark.read.parquet(result)
      .groupBy("w_len")
      .agg(
        count(lit(1)).as("n_hits"),
        countDistinct(col("w_id")).as("windows_hit"),
        dsum(col("value")).as("value_sum"))
      .orderBy("w_len")
  }

  // ---- q92: stream-stream as-of (flatMapGroupsWithState) -----------------

  /** q92 — STREAM-STREAM backward as-of through the engine: every
    * non-purchase event (left side) matched to the same user's latest
    * purchase at-or-before it (right side), BOTH sides arriving in the
    * same micro-batches as one union-tagged keyed stream resolved by
    * [[AsOfStream]]'s watermark-exact `flatMapGroupsWithState` state
    * machine — buffered lefts finalize exactly once when the watermark
    * passes them, right history is dominance-pruned to the watermark
    * horizon. The in-day-order layout (q73/q74's) makes arrival
    * deterministic and drop-free; its sentinel pushes the final
    * watermark past every real event, so ALL real lefts finalize (the
    * sentinel itself structurally cannot and is absent from the sink).
    * Matches append to a checkpointed parquet sink; the rollup runs
    * FROM STORAGE and hash-matches DuckDB's declarative as-of — the
    * stream-stream twin of q85's stream-static enrichment. */
  def streamingStreamAsOf(spark: SparkSession, sfDir: String): DataFrame = {
    val gs = gateSession(spark)
    val dir = inOrderEventsDir(gs, sfDir)
    val run = freshRunDir("q92")
    val result = run.resolve("result").toString
    import gs.implicits._
    // null key/ts rows are excluded SYMMETRICALLY here and in q92Sql's
    // CTEs: AsOfInput encodes key as a primitive Long (a null would
    // throw at encode time) and the in-order layout's day slicing drops
    // null-ts rows — the explicit filter makes the exclusion the
    // operator's contract instead of a fixture accident
    val tagged = sourceOver(gs, dir, 1)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(
        col("user_id").as("key"), col("ts"),
        (col("event_type") === "purchase").as("isRight"),
        col("event_id").as("id"),
        coalesce(col("value"), lit(0.0)).as("payload"))
      .as[AsOfStream.AsOfInput]
    // 45-day horizon: finite (idle keys evict, the production posture)
    // yet past the fixture's 30-day span, so results stay batch-exact
    val matches = AsOfStream.asofStream(tagged, "30 seconds",
      horizonUs = 45L * 86400 * 1000000L)
    drain("q92") {
      matches.toDF().writeStream
        .outputMode("append")
        .option("checkpointLocation", run.resolve("checkpoint").toString)
        .format("parquet").option("path", result)
        .start()
    }
    spark.read.parquet(result)
      .groupBy((col("key") % 10).as("bucket"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("asof_id").isNotNull, 1).otherwise(0)).as("matched"),
        dsum(col("asof_payload")).as("payload_sum"))
      .orderBy("bucket")
  }

  /** q93 — FORWARD stream-stream as-of with a 30-minute tolerance:
    * every non-purchase event attributed to the same user's FIRST
    * purchase within the next 30 minutes (q74's interval join keeps ALL
    * pairs in the window; this keeps the first). The tolerance is what
    * makes forward streaming finite-state: a left finalizes exactly
    * when the watermark passes `lts + 30min`, and the right history
    * drops everything below the oldest buffered left. Same layout,
    * sink, and from-storage rollup protocol as q92. */
  def streamingStreamAsOfForward(spark: SparkSession, sfDir: String): DataFrame = {
    val gs = gateSession(spark)
    val dir = inOrderEventsDir(gs, sfDir)
    val run = freshRunDir("q93")
    val result = run.resolve("result").toString
    import gs.implicits._
    // same symmetric null-exclusion contract as q92 (see there)
    val tagged = sourceOver(gs, dir, 1)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(
        col("user_id").as("key"), col("ts"),
        (col("event_type") === "purchase").as("isRight"),
        col("event_id").as("id"),
        coalesce(col("value"), lit(0.0)).as("payload"))
      .as[AsOfStream.AsOfInput]
    val matches = AsOfStream.asofStreamForward(tagged, "30 seconds",
      toleranceUs = 30L * 60 * 1000000L)
    drain("q93") {
      matches.toDF().writeStream
        .outputMode("append")
        .option("checkpointLocation", run.resolve("checkpoint").toString)
        .format("parquet").option("path", result)
        .start()
    }
    spark.read.parquet(result)
      .groupBy((col("key") % 10).as("bucket"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("asof_id").isNotNull, 1).otherwise(0)).as("matched"),
        dsum(col("asof_payload")).as("payload_sum"))
      .orderBy("bucket")
  }

  /** q95 — NEAREST stream-stream as-of, 30-minute tolerance: every
    * non-purchase event matched to the same user's closest purchase in
    * EITHER direction within the bound (q92 looks only back, q93 only
    * forward; this takes whichever is nearer, ties to the at-or-before
    * side). Two-sided bounded state — rights below
    * `min(watermark, oldest left) − tolerance` drop, lefts finalize
    * when the watermark passes `lts + tolerance`. Same layout, sink,
    * and from-storage rollup protocol as q92/q93. */
  def streamingStreamAsOfNearest(spark: SparkSession, sfDir: String): DataFrame = {
    val gs = gateSession(spark)
    val dir = inOrderEventsDir(gs, sfDir)
    val run = freshRunDir("q95")
    val result = run.resolve("result").toString
    import gs.implicits._
    val tagged = sourceOver(gs, dir, 1)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(
        col("user_id").as("key"), col("ts"),
        (col("event_type") === "purchase").as("isRight"),
        col("event_id").as("id"),
        coalesce(col("value"), lit(0.0)).as("payload"))
      .as[AsOfStream.AsOfInput]
    val matches = AsOfStream.asofStreamNearest(tagged, "30 seconds",
      toleranceUs = 30L * 60 * 1000000L)
    drain("q95") {
      matches.toDF().writeStream
        .outputMode("append")
        .option("checkpointLocation", run.resolve("checkpoint").toString)
        .format("parquet").option("path", result)
        .start()
    }
    spark.read.parquet(result)
      .groupBy((col("key") % 10).as("bucket"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("asof_id").isNotNull, 1).otherwise(0)).as("matched"),
        dsum(col("asof_payload")).as("payload_sum"))
      .orderBy("bucket")
  }

  private val q95Sql =
    s"""WITH p AS (
       |  SELECT user_id, ts, event_id AS rid, value AS rv
       |  FROM events
       |  WHERE event_type = 'purchase' AND user_id IS NOT NULL AND ts IS NOT NULL),
       |l AS (
       |  SELECT user_id, ts, event_id AS lid
       |  FROM events
       |  WHERE event_type <> 'purchase' AND user_id IS NOT NULL AND ts IS NOT NULL),
       |m AS (
       |  SELECT l.user_id, l.lid, p.rid, p.rv,
       |         row_number() OVER (PARTITION BY l.lid
       |            ORDER BY abs(epoch_us(p.ts) - epoch_us(l.ts)) ASC,
       |                     CASE WHEN p.ts <= l.ts THEN 0 ELSE 1 END ASC,
       |                     CASE WHEN p.ts <= l.ts THEN -p.rid ELSE p.rid END ASC) AS rn
       |  FROM l LEFT JOIN p
       |    ON p.user_id = l.user_id
       |   AND p.ts >= l.ts - INTERVAL 30 MINUTE
       |   AND p.ts <= l.ts + INTERVAL 30 MINUTE)
       |SELECT cast(user_id % 10 as bigint) AS bucket,
       |  count(*) AS n_events,
       |  cast(sum(CASE WHEN rid IS NOT NULL THEN 1 ELSE 0 END) as bigint) AS matched,
       |  ${graft.functions.Det.sqlDsum("rv")} AS payload_sum
       |FROM m WHERE rn = 1
       |GROUP BY 1 ORDER BY 1""".stripMargin

  private val q93Sql =
    s"""WITH p AS (
       |  SELECT user_id, ts, event_id AS rid, value AS rv
       |  FROM events
       |  WHERE event_type = 'purchase' AND user_id IS NOT NULL AND ts IS NOT NULL),
       |l AS (
       |  SELECT user_id, ts, event_id AS lid
       |  FROM events
       |  WHERE event_type <> 'purchase' AND user_id IS NOT NULL AND ts IS NOT NULL),
       |m AS (
       |  SELECT l.user_id, l.lid, p.rid, p.rv,
       |         row_number() OVER (PARTITION BY l.lid
       |                            ORDER BY p.ts ASC, p.rid ASC) AS rn
       |  FROM l LEFT JOIN p
       |    ON p.user_id = l.user_id AND p.ts >= l.ts
       |   AND p.ts <= l.ts + INTERVAL 30 MINUTE)
       |SELECT cast(user_id % 10 as bigint) AS bucket,
       |  count(*) AS n_events,
       |  cast(sum(CASE WHEN rid IS NOT NULL THEN 1 ELSE 0 END) as bigint) AS matched,
       |  ${graft.functions.Det.sqlDsum("rv")} AS payload_sum
       |FROM m WHERE rn = 1
       |GROUP BY 1 ORDER BY 1""".stripMargin

  private val q92Sql =
    s"""WITH p AS (
       |  SELECT user_id, ts, event_id AS rid, value AS rv
       |  FROM events
       |  WHERE event_type = 'purchase' AND user_id IS NOT NULL AND ts IS NOT NULL),
       |l AS (
       |  SELECT user_id, ts, event_id AS lid
       |  FROM events
       |  WHERE event_type <> 'purchase' AND user_id IS NOT NULL AND ts IS NOT NULL),
       |m AS (
       |  SELECT l.user_id, l.lid, p.rid, p.rv,
       |         row_number() OVER (PARTITION BY l.lid
       |                            ORDER BY p.ts DESC, p.rid DESC) AS rn
       |  FROM l LEFT JOIN p
       |    ON p.user_id = l.user_id AND p.ts <= l.ts)
       |SELECT cast(user_id % 10 as bigint) AS bucket,
       |  count(*) AS n_events,
       |  cast(sum(CASE WHEN rid IS NOT NULL THEN 1 ELSE 0 END) as bigint) AS matched,
       |  ${graft.functions.Det.sqlDsum("rv")} AS payload_sum
       |FROM m WHERE rn = 1
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q102 + q104: consolidated store-maintenance stream -----------------

  /** ONE stream maintains BOTH maintenance stores — q102's per-day HLL
    * sketch table and q104's per-day quantile histogram — with a single
    * `foreachBatch` applying both merges per trigger. The two gates
    * previously ran the identical scaffold (bounded file stream over
    * the partitioned-events layout → foreachBatch → snapshot MERGE →
    * store contract) twice, and the streaming block's cost is
    * ~linear in trigger count (~0.48 s start + ~0.25 s/trigger commit
    * bookkeeping), so the duplicate stream was pure commit-protocol
    * floor: consolidating halves the maintenance triggers without
    * weakening either contract — each store's stream ≡ batch pin
    * compares the SAME store contents as before. A GateFixture per
    * (JVM, sfDir) like the l55 seed store: whichever gate runs first pays
    * the stream, the other reads its store — the exact sharing a
    * production deployment gets from maintaining n stores off one topic
    * subscription instead of n. Returns (sketch store, histogram store). */
  private[graft] def maintainedStores(spark: SparkSession, sfDir: String): (String, String) =
    graft.GateFixture.cached("graft_stream_maint", sfDir) { run =>
      val dir = graft.sources.PartitionedLayout.partitionedEventsDir(spark, sfDir)
      val gs = gateSession(spark)
      val sketchStore = run.resolve("sketch_store").toString
      val histStore = run.resolve("hist_store").toString
      val src = sourceOver(gs, dir, mftFor(gs, dir))
        .select(to_date(col("ts")).as("day"), col("user_id"), col("value"))
      drain("q102+q104") {
        src.writeStream
          .option("checkpointLocation", run.resolve("checkpoint").toString)
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            // both merges read the batch — cache it for the trigger
            val b = batch.persist()
            try {
              mergeSketchBatch(b.select("day", "user_id"), sketchStore)
              mergeHistogramBatch(
                b.filter(col("value").isNotNull).select("day", "value"),
                batchId, histStore)
            } finally { b.unpersist(); () }
          }
          .start()
      }
      (sketchStore, histStore)
    }

  /** q102 — q96's PRODUCTION TWIN: the per-day HLL sketch table
    * maintained INCREMENTALLY by the streaming engine instead of
    * rebuilt in batch (one shared stream with q104 — see
    * [[maintainedStores]]). Each trigger aggregates the BATCH's per-day
    * partial sketches (`hll_sketch_agg` over just the batch rows) and
    * upserts them into the stored parquet table by day — an existing
    * day's row merges via `hll_union_agg` (HLL union keeps the
    * per-register max, so union-of-partials ≡ one sketch over all
    * values, whatever the micro-batch slicing), a new day inserts. The
    * upsert is a [[graft.etl.SnapshotMerge]] commit: a batch touching k
    * days rewrites k day-partitions, never the table — at 100 TB each
    * trigger's write cost tracks the trigger's data, which is the whole
    * point of maintaining the sketch store incrementally. The
    * registered surface answers q96's exact weekly question FROM THE
    * STREAM-MAINTAINED STORE under q96's own oracle; PlanSpec
    * additionally pins stream-maintained ≡ batch-built per-week
    * estimates exactly. */
  def streamingSketchMaintain(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.PartitionedLayout.weeklySketchContract(spark, sfDir,
      graft.etl.SnapshotMerge.read(spark, maintainedStores(spark, sfDir)._1))

  /** The store's committed rows, or None before its first commit. The
    * tip probe ignores anything a crashed trigger left behind: files
    * outside a manifest are never read. */
  private def committedStore(sp: SparkSession, store: String): Option[DataFrame] =
    graft.etl.SnapshotMerge.tipEpoch(sp, store)
      .map(e => graft.etl.SnapshotMerge.read(sp, store, Some(e)))

  /** One q102 trigger's merge. Replay-safe end to end: the HLL union is
    * a per-register MAX — idempotent — so a replayed batch's partials
    * re-land the same registers, and a crashed first trigger leaves no
    * manifest, so its retry bootstraps the store from scratch. */
  private[graft] def mergeSketchBatch(batch: DataFrame, store: String): Unit = {
    val sp = batch.sparkSession
    val batchSketches = batch.groupBy("day")
      .agg(hll_sketch_agg(col("user_id")).as("sketch"))
    // pre-merge the touched days' stored sketches with the batch
    // partials, then MERGE by day: upsert replaces matched day rows
    // with the unioned sketch
    val merged = committedStore(sp, store).fold(batchSketches) { stored =>
      stored.join(batchSketches.select("day").distinct(), Seq("day"), "left_semi")
        .select(col("day"), col("sketch"))
        .unionByName(batchSketches)
        .groupBy("day").agg(hll_union_agg(col("sketch")).as("sketch"))
    }
    graft.etl.SnapshotMerge.upsert(sp, store, merged, Seq("day"), "day")
  }

  // ---- q104: streaming quantile-histogram maintenance ---------------------

  /** q104 — q103's PRODUCTION TWIN, and the strongest contract in the
    * maintenance family (one shared stream with q102 — see
    * [[maintainedStores]]): each trigger's `foreachBatch` computes the
    * BATCH's per-day partial histograms (count per (day, bucket) over
    * just the batch rows) and MERGEs them into the stored table by day
    * — existing days sum counts elementwise, new days insert — through
    * a [[graft.etl.SnapshotMerge]] commit. Where q102's stream≡batch
    * claim is estimate-for-estimate (HLL register max), here the merge
    * is EXACT integer addition, so the stream-maintained store equals
    * the batch build row for row under any slicing, and the registered
    * surface answers q103's weekly quantiles FROM THE STREAM-MAINTAINED
    * STORE under q103's own hash-exact oracle. */
  def streamingHistogramMaintain(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.PartitionedLayout.weeklyQuantilesFromStore(
      graft.etl.SnapshotMerge.read(spark, maintainedStores(spark, sfDir)._2))

  /** One q104 trigger's merge, REPLAY-IDEMPOTENT via the documented
    * foreachBatch recipe: the batch id rides the store as a per-day
    * transaction version (`src_batch` — after merging day d at batch N,
    * every row of d carries N), and a replayed batch skips the days it
    * already merged. Count addition is NOT idempotent on its own —
    * unlike q102's HLL register-max, re-adding a replayed batch's
    * partials would double-count — so the guard is load-bearing, and
    * PlanSpec replays a batch through this method to pin the store
    * byte-identical. A crashed first trigger leaves no manifest, so its
    * retry bootstraps the store instead of merging into half-written
    * data. */
  private[graft] def mergeHistogramBatch(batch: DataFrame, batchId: Long,
                                         store: String): Unit = {
    val sp = batch.sparkSession
    val batchHist = batch
      .groupBy(col("day"),
        graft.sources.PartitionedLayout.histBucket(col("value")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("src_batch", lit(batchId))
      .persist()
    try {
      // days this batch has NOT yet merged: touched days minus those
      // whose stored txn version already carries this batch id. Both
      // lists are bounded METADATA (≤ the batch's distinct days — the
      // same sanctioned class as SnapshotMerge's touched-partition
      // collect); materializing them as literals keeps the merge plan
      // flat — the first cut threaded these sets through joins, and
      // every action inside the upsert re-evaluated that tree with its
      // full-store scans (~2 s/trigger, bench-measured). As literals,
      // `day isin (...)` prunes the store read to the touched
      // day-partitions — the read-side twin of the partition-pruned
      // rewrite.
      val stored = committedStore(sp, store)
      val touchedDays = batchHist.select("day").distinct()
        .collect().map(_.getDate(0)).toSeq
      val applied = stored.fold(Set.empty[java.sql.Date]) { st =>
        st.filter(col("day").isin(touchedDays: _*))
          .groupBy("day").agg(max(col("src_batch")).as("mx"))
          .filter(col("mx") >= batchId)
          .select("day").collect().map(_.getDate(0)).toSet
      }
      val unapplied = touchedDays.filterNot(applied)
      if (unapplied.nonEmpty) {
        val dayIn = col("day").isin(unapplied: _*)
        // pre-merge the unapplied days' stored rows with the batch
        // partials (elementwise count addition), then MERGE by day: a
        // trigger touching k days rewrites k day-partitions
        val merged = stored.fold(batchHist) { st =>
          st.filter(dayIn)
            .select(col("day"), col("bucket"), col("cnt"), col("src_batch"))
            .unionByName(batchHist.filter(dayIn))
            .groupBy("day", "bucket")
            .agg(sum(col("cnt")).as("cnt"), max(col("src_batch")).as("src_batch"))
        }
        graft.etl.SnapshotMerge.upsert(sp, store, merged, Seq("day"), "day")
      }
    } finally { batchHist.unpersist(); () }
  }

  // ---- l55: streaming incremental near-dup dedup --------------------------

  /** l55 — l35's PRODUCTION TWIN: incremental MinHash-LSH dedup
    * maintained BY THE STREAMING ENGINE. The corpus side sits in a
    * persisted signature + band store (the store l35 assumes
    * precomputed, made durable as two parquet tables); the batch slice
    * (doc_id % 10 = 7) arrives in doc_id-ordered micro-batches. Each
    * trigger's `foreachBatch` computes the BATCH's signatures
    * (`minhash_md5`, one map-side pass over just the batch), probes the
    * store one-sidedly ([[graft.llm.TextDedup.incrementalStreamStep]] —
    * corpus–corpus pairs are never generated), appends its dropped ids
    * to the result store, and appends its own signatures + band rows to
    * the index stores so later batches dedup against it.
    *
    * Registered under the l55 oracle — l35's chain with the bucket cap
    * stated in ARRIVAL order (the one tie-break an incremental system
    * can honor without future knowledge; identical to l35's whenever no
    * bucket overflows the cap, true of every fixture —
    * `graft.BucketCheck`): the union of per-batch drops equals the
    * batch-at-once answer exactly in EVERY regime by the rank-finality
    * argument at [[graft.llm.TextDedup.incrementalStreamStep]]; LlmSpec
    * pins that equality at a cap tight enough to bind. Per-trigger cost
    * tracks
    * the batch and its touched buckets; at 100 TB the two index stores
    * are bucketed on their join keys (the q62 layout) so the probe is a
    * pruned read — a store-layout choice, not semantics. Trigger
    * retries are safe by construction: see the per-batch-subdir comment
    * on the foreachBatch below. */
  def streamingIncrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, sfDir)
    def isBatchId(c: org.apache.spark.sql.Column) = c % 10 === 7
    // the arriving slice, split in doc_id order across two files —
    // within-file order is irrelevant (the within-batch rule is the
    // pid < bid arithmetic, not arrival order inside a trigger)
    val dir = orderedSliceDir("l55", sfDir, {
      val slice = docs.filter(isBatchId(col("doc_id"))).select("doc_id", "text")
      val r = slice.agg(max(col("doc_id"))).head()
      require(!r.isNullAt(0), s"l55: no doc_id % 10 = 7 slice in $sfDir documents")
      val cut = r.getLong(0) / 2
      Seq(slice.filter(col("doc_id") <= cut), slice.filter(col("doc_id") > cut))
    })
    // The maintained DROPPED store — like the q102/q104 maintenance
    // stores (see maintainedStores) — is a GateFixture per (JVM,
    // sfDir): the store is a pure function of the read-only fixture
    // (deterministic ordered slicing, deterministic per-batch steps),
    // so whichever caller runs first
    // pays the stream and every later call reads its store — the
    // sharing a production deployment gets from ONE subscription
    // maintaining the dedup index, instead of re-ingesting the topic
    // per consumer. l55 cannot share the q102/q104 stream itself: that
    // subscription reads the partitioned EVENTS topic, this one the
    // ordered DOCUMENTS slice — different sources, so memoization is
    // the consolidation that exists here.
    val droppedStoreShared = graft.GateFixture.cached("graft_stream_l55_dropped", sfDir) { run =>
      val gs = gateSession(spark)
      // The SEED store — the corpus side's signatures + band rows — is a
      // pure function of the read-only fixture (it IS the "precomputed
      // signature store" l35 assumes a production pipeline maintains), so
      // it is written once per (JVM, sfDir) like the ordered layouts and
      // NOT re-ingested per run: the gate times the streaming maintenance,
      // not the store build — the same documented ingest-excluded timing
      // as q96's sketch table. Per-run mutations go to OVERLAY dirs (the
      // stream's appends), and every store read spans seed ∪ overlay.
      val (seedSigs, seedBands) = graft.GateFixture.cached("graft_stream_l55_seed", sfDir) { base =>
        val sigD = base.resolve("sigs").toString
        val bandD = base.resolve("bands").toString
        val corpusSigs = graft.llm.SigStore.portable(spark, sfDir)
          .filter(!isBatchId(col("doc_id")))
        corpusSigs.write.parquet(sigD)
        graft.llm.TextDedup.portableBandRows(corpusSigs).write.parquet(bandD)
        (sigD, bandD)
      }
      val sigOverlay = run.resolve("sig_overlay").toString
      val bandOverlay = run.resolve("band_overlay").toString
      val droppedStore = run.resolve("dropped").toString
      // schema-bearing empty init: the final rollup reads the dropped
      // store even if no batch dropped anything
      spark.range(0).select(col("id").as("doc_id")).write.parquet(s"$droppedStore/init")
      drain("l55") {
        sourceOver(gs, dir, mftFor(gs, dir))
          .writeStream
          .option("checkpointLocation", run.resolve("checkpoint").toString)
          // REPLAY-IDEMPOTENT without a transaction ledger: every write
          // goes to a per-batch subdir in Overwrite mode, and every read
          // spans the seed plus STRICTLY EARLIER batches' subdirs — so a
          // retried trigger recomputes from exactly the inputs its first
          // attempt saw and overwrites its own subdirs with identical
          // content. Plain appends here would double rows under replay:
          // duplicate dropped ids would inflate the rollup join, and
          // duplicate band rows would shift the bucket-cap ranks.
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val sp = batch.sparkSession
            graft.plans.GraftExtensions.register(sp)
            val priorSigs = seedSigs +: (0L until batchId).map(k => s"$sigOverlay/b$k")
            val priorBands = seedBands +: (0L until batchId).map(k => s"$bandOverlay/b$k")
            val batchSigs = graft.llm.TextDedup.withPortableSignatures(batch).persist()
            val batchBands = graft.llm.TextDedup.portableBandRows(batchSigs).persist()
            try {
              graft.llm.TextDedup.incrementalStreamStep(
                  batchSigs, batchBands,
                  sp.read.parquet(priorSigs: _*),
                  sp.read.parquet(priorBands: _*))
                .write.mode("overwrite").parquet(s"$droppedStore/b$batchId")
              // overlay writes AFTER the probe has materialized: later
              // batches see this batch; this batch never probes itself
              // through the store
              batchSigs.write.mode("overwrite").parquet(s"$sigOverlay/b$batchId")
              batchBands.write.mode("overwrite").parquet(s"$bandOverlay/b$batchId")
            } finally { batchSigs.unpersist(); batchBands.unpersist(); () }
          }
          .start()
      }
      droppedStore
    }
    val dropped = spark.read.option("recursiveFileLookup", "true")
      .parquet(droppedStoreShared).withColumn("dr", lit(1))
    docs.filter(isBatchId(col("doc_id")))
      .join(dropped, Seq("doc_id"), "left_outer")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("batch_docs"),
        sum(coalesce(col("dr"), lit(0))).as("dropped_docs"))
      .withColumn("kept_docs", col("batch_docs") - col("dropped_docs"))
      .orderBy("lang")
  }

  def all: Seq[graft.Q] = Seq(
    graft.Q("l55_streaming_incremental_dedup", (s, d) => streamingIncrementalDedup(s, d),
      Some(graft.llm.TextDedup.l55Sql)),
    graft.Q("q102_streaming_sketch_maintain", (s, d) => streamingSketchMaintain(s, d),
      Some(graft.sources.PartitionedLayout.q96Sql)),
    graft.Q("q104_streaming_histogram_maintain", (s, d) => streamingHistogramMaintain(s, d),
      Some(graft.sources.PartitionedLayout.q103Sql)),
    graft.Q("q68_streaming_window_rollup", (s, d) => streamingWindowRollup(s, d), Some(q68Sql)),
    graft.Q("q69_streaming_funnel", (s, d) => streamingFunnelSummary(s, d),
      Some(graft.operators.FunnelQueries.q58Sql)),
    graft.Q("q70_streaming_dedup", (s, d) => streamingDedupStats(s, d), Some(q70Sql)),
    graft.Q("q72_streaming_late_data", (s, d) => streamingLateWindowRollup(s, d), Some(q72Sql)),
    graft.Q("q73_streaming_session_window", (s, d) => streamingSessionRollup(s, d),
      Some(graft.operators.SurfaceQueries.q35Sql)),
    graft.Q("q74_streaming_stream_join", (s, d) => streamingClickAttribution(s, d),
      Some(q74Sql)),
    graft.Q("q85_streaming_asof_enrich", (s, d) => streamingAsOfEnrich(s, d),
      Some(graft.operators.AsOfJoin.q48Sql)),
    graft.Q("q91_streaming_range_join", (s, d) => streamingRangeAttribution(s, d),
      Some(graft.operators.RangeJoin.q88Sql)),
    graft.Q("q92_streaming_stream_asof", (s, d) => streamingStreamAsOf(s, d),
      Some(q92Sql)),
    graft.Q("q93_streaming_forward_asof", (s, d) => streamingStreamAsOfForward(s, d),
      Some(q93Sql)),
    graft.Q("q95_streaming_nearest_asof", (s, d) => streamingStreamAsOfNearest(s, d),
      Some(q95Sql)),
    graft.Q("q97_streaming_dedup_ttl", (s, d) => streamingDedupTtl(s, d),
      Some(q97Sql)))
}
