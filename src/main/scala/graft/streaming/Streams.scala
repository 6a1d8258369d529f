package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming layer (SURVEY.md §2.9; reference:
  * real_time_streaming.py:98-415).
  *
  * The reference's Kafka topics are replaced by file-stream sources (no
  * Kafka connector jar in this env — semantics-preserving: every
  * downstream query reads the stream as a table). Stages are decoupled
  * through storage exactly like the reference's Delta hops: each stage's
  * parquet sink directory is the next stage's streaming source.
  *
  * Streaming aggregates use `approx_count_distinct` (HLL): exact distinct
  * is unsupported under incremental state — the one place a sketch is
  * required (SURVEY §7.5.1). The batch replays in graft.operators use
  * exact distincts and carry the DuckDB oracles.
  */
object Streams {

  /** S2 — rate-limited streaming file source
    * (reference: real_time_streaming.py:226-230). When no explicit rate
    * is given, 50 files per trigger. */
  def fileStreamSource(spark: SparkSession, dir: String, schema: StructType,
                       maxFilesPerTrigger: Int = -1): DataFrame = {
    val rate = if (maxFilesPerTrigger > 0) maxFilesPerTrigger else 50
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", rate)
      .parquet(dir)
  }

  /** A1 streaming — 5-minute tumbling user-activity aggregation with a
    * 10-minute watermark (reference: real_time_streaming.py:273-298). */
  def userActivity5m(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        approx_count_distinct(col("event_type")).as("approx_uniq_types"),
        avg(col("value")).as("avg_value"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("purchases"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("user_id"), col("n_events"), col("approx_uniq_types"),
        col("avg_value"), col("purchases"))

  /** A2 streaming — 10-minute content-popularity aggregation
    * (reference: real_time_streaming.py:315-345). */
  def contentPopularity10m(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id")).as("approx_uniq_users"),
        avg(col("value")).as("avg_value"),
        max(col("value")).as("max_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("approx_uniq_users"),
        col("avg_value"), col("max_value"))

  /** A3 streaming — 1-minute anomaly aggregation + when-cascade classifier
    * + non-normal filter (reference: real_time_streaming.py:379-415). */
  def anomaly1m(events: DataFrame,
                highActivity: Long = 100, highErrors: Long = 5): DataFrame =
    events
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1).otherwise(0)).as("n_errors"))
      .withColumn("anomaly_type",
        when(col("n_events") >= highActivity, "high_activity")
          .when(col("n_errors") >= highErrors, "high_errors")
          .otherwise("normal"))
      .filter(col("anomaly_type") =!= "normal")
      .select(
        col("window.start").as("window_start"),
        col("user_id"), col("n_events"), col("n_errors"), col("anomaly_type"))

  /** Streaming exactly-once-per-key dedup: `dropDuplicates` with a
    * watermark bounds the dedup state to the watermark horizon — the
    * scale-correct ingest guard (unbounded streaming dedup state is a
    * slow OOM; the reference dedups only in batch, etl_framework.py:251).
    * Key should include the event-time column so state expires. */
  def dedupStream(events: DataFrame, idCol: String, tsCol: String = "ts",
                  watermark: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark).dropDuplicates(idCol, tsCol)

  /** Streaming corpus ingestion — the streaming front door of the batch
    * dedup/quality tiers (l01/l12): exact dedup on the NORMALIZED content
    * hash (whitespace-collapse + lowercase, the l01 definition — not the
    * doc id, so re-submissions under new ids are still dropped), then the
    * l12 length/diversity quality score as a routing flag. Emits the
    * surviving docs with (text_hash, quality_ok); callers fan out to
    * bronze/quarantine sinks exactly like the event-side taxonomy split.
    *
    * State boundedness: plain `dropDuplicates(hash)` would keep one state
    * entry per distinct text FOREVER (the watermark only evicts dedup
    * state when the event-time column is part of the key set);
    * `dropDuplicatesWithinWatermark` is the operator built for exactly
    * this — content-keyed dedup whose state expires at the watermark
    * horizon, trading eternal exactness for bounded memory (a re-submit
    * arriving later than the horizon is re-admitted; the batch tiers
    * catch those). */
  def corpusIngest(docs: DataFrame, tsCol: String = "ingest_ts",
                   watermark: String = "1 hour"): DataFrame = {
    val words = split(col("text"), " ")
    docs
      .withWatermark(tsCol, watermark)
      .withColumn("text_hash", md5(lower(regexp_replace(trim(col("text")), "\\s+", " "))))
      .dropDuplicatesWithinWatermark("text_hash")
      .withColumn("quality_score",
        least(lit(1.0), length(col("text")).cast("double") / 500.0) * 0.5 +
          (size(array_distinct(words)).cast("double") / size(words)) * 0.5)
      .withColumn("quality_ok", col("quality_score") >= 0.35)
  }

  /** S5 — checkpointed append parquet sink, time-partitioned
    * (reference: real_time_streaming.py:203-211). */
  def parquetSink(df: DataFrame, path: String, checkpoint: String,
                  triggerMs: Long = 1000, partitionBy: Seq[String] = Nil): DataStreamWriter[org.apache.spark.sql.Row] = {
    val w = df.writeStream
      .format("parquet")
      .outputMode("append")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(triggerMs))
    if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w
  }

  /** Stream-static dim enrichment: the streaming fact left-joined to a
    * batch dimension. The static side is re-planned every micro-batch
    * (so a slowly-changing dim read from storage stays current without
    * restarting the query) and broadcast — the stream never shuffles for
    * the join, which is the only viable shape for a per-batch join at
    * production rates. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
                    keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left_outer")

  /** Stream-stream interval join — the click-attribution shape: each
    * view matches the same user's clicks landing within `lag` AFTER it.
    * Both sides are watermarked and the join condition is time-bounded
    * in both directions, so Spark can expire join state (an unbounded
    * stream-stream join buffers forever — the condition IS the state
    * bound). Output carries both event times for downstream windowing. */
  def clickAttribution(views: DataFrame, clicks: DataFrame,
                       lag: String = "30 minutes",
                       watermark: String = "1 hour"): DataFrame =
    views.withWatermark("ts", watermark).alias("v")
      .join(clicks.withWatermark("ts", watermark).alias("c"),
        expr(s"""v.user_id = c.user_id AND
                 c.ts >= v.ts AND c.ts <= v.ts + interval $lag"""))
      .select(col("v.user_id").as("user_id"),
        col("v.event_id").as("view_id"), col("c.event_id").as("click_id"),
        col("v.ts").as("view_ts"), col("c.ts").as("click_ts"))

  /** foreachBatch MERGE sink — the streaming upsert into a keyed
    * [[graft.etl.SnapshotMerge]] store (the lakehouse "streaming MERGE
    * INTO"): each micro-batch is first deduped to one row per key (last
    * writer within the batch wins, by the event-time column) and then
    * upserted as one manifest epoch, so downstream readers always see a
    * complete snapshot and can time-travel the stream's history up to
    * the vacuum retention.
    *
    * The manifest is the single commit authority: an empty store
    * bootstraps through the same MERGE path, and a half-written first
    * epoch is an uncommitted manifest no reader or later writer ever
    * consults. Replay stays idempotent per key: a re-run batch
    * re-upserts the same deduped rows, landing a new epoch with
    * identical logical content — which is what makes foreachBatch
    * exactly-once-per-key under at-least-once delivery.
    *
    * One pass per trigger: the deduplicated batch is persisted once and
    * released in a `finally`, so the emptiness probe, the upsert's
    * touched-partition collect and its write all read that one
    * materialization — the file scan, the dedup state and `keepLatest`
    * run once per trigger, not once per action.
    *
    * `vacuumKeep` bounds the history a LONG-RUNNING stream accrues: one
    * epoch per trigger means manifests and superseded partition
    * versions grow with trigger count, and the store-root listing every
    * commit performs grows with them — unbounded retention turns the
    * O(live partitions) manifest design into O(all triggers ever)
    * metadata. After each commit the sink vacuums to the newest
    * `vacuumKeep` epochs (readers pinned further back than the
    * retention lose isolation — the Delta VACUUM trade, here sized in
    * triggers). */
  def snapshotMergeSink(stream: DataFrame, targetDir: String, checkpoint: String,
                        keys: Seq[String], tsCol: String,
                        partitionCol: String,
                        vacuumKeep: Int = 24,
                        vacuumGraceMs: Long = 10 * 60 * 1000L,
                        orphanSweepEvery: Int = 100): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // every action re-executes an unpersisted lineage (one pass
        // per trigger, see above)
        val latest = graft.etl.Dedup.keepLatest(batch, keys, Seq(col(tsCol))).persist()
        try {
          // an empty trigger (restart bookkeeping) must not burn an epoch
          if (!latest.isEmpty) {
            val epoch = graft.etl.SnapshotMerge.upsert(
              spark, targetDir, latest, keys, partitionCol)
            // manifest-driven sweep per trigger: its cost scales with what
            // the trigger superseded, not with table width; every
            // `orphanSweepEvery`-th COMMITTED EPOCH also runs the
            // full-walk pass — crashed publishes leave orphan version dirs
            // no manifest references, and a sink that never walks would
            // grow them unbounded over a long stream's crash history. The
            // cadence keys on the store's own epoch number (durable,
            // monotone), NOT a process counter: a crash-prone deployment
            // restarting every few triggers would reset an in-memory
            // counter forever (r16 review #2).
            graft.etl.SnapshotMerge.vacuum(spark, targetDir, vacuumKeep, vacuumGraceMs,
              sweepOrphans = orphanSweepEvery > 0 && epoch % orphanSweepEvery == 0)
          }
        } finally { latest.unpersist(); () }
        ()
      }

  /** Medallion CHAINING sink: applies a [[SnapshotStreamSource]] change
    * feed into a downstream snapshot store — the stage-to-stage hop the
    * reference drives with `readStream.format("delta")` → MERGE
    * (real_time_streaming.py:226-230 feeding its silver/gold merges).
    *
    * Apply semantics per net batch:
    *  - `insert` AND `update_postimage` rows upsert by key — updates
    *    and partition moves included (the old-row `delete`/preimage is
    *    implied by the key overwrite), so the sink composes with both
    *    the default delete+insert stream and the keyed
    *    `.option("keys", ...)` stream;
    *  - `delete` rows whose key has NO insert in the same batch are
    *    TRUE deletions (the upstream ran [[graft.etl.SnapshotMerge
    *    .deleteWhere]] — e.g. an erasure); without applying them the
    *    downstream would retain erased rows forever. Inserts and
    *    deletions land in ONE committed epoch
    *    ([[graft.etl.SnapshotMerge.applyChanges]]) so no downstream
    *    epoch ever exposes a state no upstream snapshot held.
    *
    * So: stream WITH deletes (the default) when the upstream may ever
    * run predicate deletes. `.option("withDeletes", "false")` remains
    * the cheaper pairing — it drops the delete rows inside the source's
    * batch plan (a sink-side filter cannot: the source seals each
    * batch plan) — and is EXACT for upsert-only upstreams, where every
    * delete is key-implied.
    *
    * A compaction upstream produces a ZERO-row batch (the source skips
    * `dataChange=false` epochs at planning time), which must not burn
    * a downstream epoch — hence the emptiness guards, same as
    * [[snapshotMergeSink]]'s. Replay safety: a recovered batch
    * re-applies the same net rows — idempotent per key. Vacuum cadence
    * matches [[snapshotMergeSink]]: manifest-driven per trigger, full
    * orphan walk keyed on the store's own epoch number.
    *
    * `epochLineage` upstreams compose too: a batch carrying several
    * `_commit_epoch` values is PER-COMMIT changes, not a net diff, so
    * the sink applies it as one slice per epoch, ascending — netting it
    * would resurrect a key inserted-then-deleted inside one recovery
    * batch and upsert duplicate postimages of a twice-updated key. */
  def changeApplySink(stream: DataFrame, targetDir: String, checkpoint: String,
                      keys: Seq[String], partitionCol: String,
                      vacuumKeep: Int = 24,
                      vacuumGraceMs: Long = 10 * 60 * 1000L,
                      orphanSweepEvery: Int = 100): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // the sealed batch's lineage (the upstream diff) re-executes on
        // every action — cache it so the emptiness probes and the apply
        // read ONE materialization, not three diff runs per trigger
        batch.persist()
        try {
          val meta = Seq("_change_type", "_commit_epoch")
          // returns the committed downstream epoch (-1 = nothing landed);
          // vacuum runs ONCE per foreachBatch call, after the last slice
          // — a lineage recovery batch spanning N epochs was running N
          // manifest-listing sweeps per trigger (r18 ADVICE)
          def applySlice(slice: DataFrame): Long = {
            // a keys-mode upstream classifies updates as pre/post image
            // pairs: the POSTIMAGE is the row to land (a keyed upsert),
            // the preimage is superseded by it — dropping postimages
            // here would silently diverge the downstream on every update
            // (r17 review)
            val ins = slice.filter(
              col("_change_type").isin("insert", "update_postimage")).drop(meta: _*)
            val dels = slice.filter(col("_change_type") === "delete").drop(meta: _*)
            // withDeletes=false streams ship no delete rows: probing dels
            // FIRST keeps the common no-delete trigger free of the keyed
            // anti-join and the extra manifest read (r16 review)
            val hasDeletes = !dels.isEmpty
            val hasInserts = !ins.isEmpty
            if (!hasInserts && !hasDeletes) -1L
            else {
              val keyCols = keys.map(col)
              // keys with a delete and no insert in the same NET slice are
              // true deletions (an updated/moved key re-lands as an insert)
              val epoch: Long =
                if (hasDeletes &&
                    graft.etl.SnapshotMerge.latestSnapshot(spark, targetDir).nonEmpty) {
                  val gone = dels.select(keyCols: _*).distinct()
                    .join(ins.select(keyCols: _*).distinct(), keys, "left_anti")
                  // ONE commit per net slice (r16 review): a delete-then-
                  // upsert pair would publish an intermediate downstream
                  // epoch whose state no upstream snapshot ever held —
                  // visible to read(asOf) and second-hop chains
                  graft.etl.SnapshotMerge.applyChanges(
                    spark, targetDir, ins, gone, keys, partitionCol)
                } else if (hasInserts)
                  graft.etl.SnapshotMerge.upsert(spark, targetDir, ins, keys, partitionCol)
                else -1L // deletes against a store that does not exist yet
              epoch
            }
          }
          // NET batches carry ONE commit epoch and apply whole (the fast
          // path: a single cheap agg probe on the cached batch). An
          // epochLineage feed carries PER-COMMIT changes — netting them
          // here would resurrect a key inserted-then-deleted within one
          // recovery batch and upsert duplicate postimages of a
          // twice-updated key (r18 review); per-epoch slices are each
          // net one-change-per-key diffs, applied ascending, so every
          // downstream commit reproduces a TRUE upstream snapshot.
          val bounds = batch.agg(
            min(col("_commit_epoch")), max(col("_commit_epoch"))).collect()(0)
          val committed: Seq[Long] =
            (if (bounds.isNullAt(0) || bounds.getLong(0) == bounds.getLong(1))
               Seq(applySlice(batch))
             else
               batch.select("_commit_epoch").distinct().collect()
                 .map(_.getLong(0)).sorted.toSeq
                 .map(e => applySlice(batch.filter(col("_commit_epoch") === e)))
            ).filter(_ > 0)
          // ONE vacuum per trigger, after the final slice (r18 ADVICE):
          // retention is a property of the trigger's END state — the
          // per-slice sweeps only re-listed manifests N times to delete
          // what one pass at the end deletes anyway. The orphan cadence
          // still fires iff any epoch this trigger landed on hit it.
          if (committed.nonEmpty)
            graft.etl.SnapshotMerge.vacuum(spark, targetDir, vacuumKeep, vacuumGraceMs,
              sweepOrphans = orphanSweepEvery > 0 &&
                committed.exists(_ % orphanSweepEvery == 0))
        } finally { batch.unpersist(); () }
        ()
      }
}
