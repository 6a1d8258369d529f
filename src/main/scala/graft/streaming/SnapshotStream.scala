package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession, SQLContext}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.etl.SnapshotMerge

/** Structured Streaming SOURCE over the [[SnapshotMerge]] store — the
  * managed-table streaming read the reference chains its medallion
  * stages with (`spark.readStream.format("delta")`,
  * real_time_streaming.py:226-230, 267-270, 373-376; r15 verdict item
  * #1, the one parity seam left).
  *
  * WHY a raw file-stream cannot sit on the snapshot store: the S2
  * substitution tails a directory of immutable files, which is exact
  * for append-only layouts — but a MERGE store rewrites whole
  * partitions per epoch ([[SnapshotMerge.upsert]]) and `compact()`
  * rewrites files with NO logical change. A file-stream over it would
  * double-read every compacted row and emit torn mid-publish states.
  * The manifest log is the correct source: offsets ARE committed
  * epochs, and each micro-batch emits the NET change rows between the
  * last processed epoch and the tip — `changes()`'s algebra
  * ([[SnapshotMerge.changes]]), restricted by the manifests to the
  * partitions a data-changing epoch actually touched.
  *
  * Semantics per batch (offset range `(fromE, toE]`):
  *  - first batch from a fresh checkpoint = the full `fromE`-less
  *    snapshot as `insert` rows (Delta's initial-snapshot behavior);
  *  - subsequent batches = net row diff, `insert` + (optionally)
  *    `delete` tagged, exactly once per committed epoch range — a
  *    restart replays the SAME `(start, end]` range from the
  *    checkpoint and `changes()` is a pure function of the two
  *    manifests, so recovery is deterministic;
  *  - compaction epochs (`dataChange=false` manifests) are SKIPPED at
  *    PLANNING time: a pure-compact range nets zero rows without
  *    reading one data file — the property that lets OPTIMIZE run
  *    under a live downstream stream (Delta marks those commits
  *    `dataChange=false` for the same reason);
  *  - a MERGE-updated key arrives as `delete`(old row) +
  *    `insert`(new row); with `withDeletes=false` only the inserts
  *    flow — lossless for a KEYED downstream apply, because this
  *    store's only mutation is keyed upsert (a key never vanishes
  *    without re-landing somewhere, so inserts carry the full final
  *    state per key).
  *
  * Scale posture: offset discovery is one manifest-directory listing
  * per poll; batch planning reads O(epochs in range) manifests —
  * metadata, never data; the data cost of a batch is the diff of the
  * CHANGED partitions only (manifest-pruned, the q111 property). The
  * `maxEpochsPerTrigger` option bounds a backlogged stream's per-batch
  * range. Retention contract: the manifests and version dirs of every
  * unprocessed epoch must outlive the stream's checkpoint lag —
  * size [[SnapshotMerge.vacuum]]'s `keep` to the reader window (the
  * Delta `delta.logRetentionDuration` trade, here in epochs).
  *
  * Schema is PINNED at stream start (the tip manifest's schema +
  * `_change_type` string + `_commit_epoch` long). Additive evolution
  * mid-stream keeps flowing (new columns are projected away until a
  * restart repins); drops and type changes cannot happen (the store
  * refuses them at merge time).
  */
class SnapshotStreamProvider extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-snapshot"

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), SnapshotStream.streamSchema(
      SnapshotStream.pinnedStoreSchema(sqlContext.sparkSession, parameters)))

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source =
    new SnapshotStreamSource(sqlContext.sparkSession, parameters, Some(metadataPath))
}

object SnapshotStream {
  /** `readStream.format(Format)` — the provider's fully-qualified name
    * (no service registry file in this build; Spark resolves class
    * names directly). */
  val Format: String = classOf[SnapshotStreamProvider].getName

  // ------------------------------------------------------------------
  // q112 — the medallion hop end-to-end under the driver's oracle: an
  // upstream snapshot store mutates (bootstrap → MERGE → compact →
  // MERGE) WHILE a streaming query reads its change feed through this
  // source and applies it into a downstream snapshot store
  // (Streams.changeApplySink — the reference's
  // readStream.format("delta") → MERGE chain,
  // real_time_streaming.py:226-230). The registered result is the
  // DOWNSTREAM store's final state rolled up per day; the oracle
  // recomputes the same three-state fold declaratively in DuckDB —
  // equality proves the source emitted exactly the net changes (the
  // compact epoch included, which must contribute zero rows).
  // Built once per (JVM, sfDir): the pipeline is a pure function of
  // the events fixture.
  // ------------------------------------------------------------------

  private def q112Downstream(spark: SparkSession, sfDir: String): String =
    graft.GateFixture.cached("graft_snapstream_q112", sfDir) { root =>
      val gs = StreamingOracle.gateSession(spark)
      val a = root.resolve("bronze").toString
      val b = root.resolve("silver").toString
      val ev = graft.Tables.events(gs, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
          to_date(col("ts")).cast("string").as("day"))
      // epoch 1: bootstrap = ids %10 < 7
      SnapshotMerge.upsert(gs, a, ev.filter(col("event_id") % 10 < 7),
        Seq("event_id"), "day")
      // withDeletes=false is EXACT here because this upstream only
      // upserts (no deleteWhere in the fixture): every net change
      // re-lands as an insert per key, and the option drops delete
      // rows inside the batch plan — the cheaper pairing
      // changeApplySink's doc scopes to upsert-only upstreams
      val q = Streams.changeApplySink(
        gs.readStream.format(Format).option("path", a)
          .option("withDeletes", "false").load(),
        b, root.resolve("ckpt").toString, Seq("event_id"), "day").start()
      try {
        q.processAllAvailable() // initial snapshot flows downstream
        // epoch 2: %10 ∈ {5,6,8} — 5,6 matched (+1000; 6 also MOVES
        // day+1), 8 inserts
        SnapshotMerge.upsert(gs, a,
          ev.filter(col("event_id") % 10 === 5 || col("event_id") % 10 === 6 ||
              col("event_id") % 10 === 8)
            .withColumn("value", col("value") + lit(1000.0))
            .withColumn("day",
              when(col("event_id") % 10 === 6,
                date_add(col("day").cast("date"), 1).cast("string"))
                .otherwise(col("day"))),
          Seq("event_id"), "day")
        q.processAllAvailable()
        // epoch 3: pure compaction mid-stream — MUST stream zero rows
        SnapshotMerge.compact(gs, a, maxFilesPerPartition = 0)
        q.processAllAvailable()
        // epoch 4: %10 ∈ {0,9} — 0 matched (×2), 9 inserts (×2)
        SnapshotMerge.upsert(gs, a,
          ev.filter(col("event_id") % 10 === 0 || col("event_id") % 10 === 9)
            .withColumn("value", col("value") * lit(2.0)),
          Seq("event_id"), "day")
        q.processAllAvailable()
      } finally q.stop()
      StreamingOracle.record("q112", q)
      b
    }

  /** q112 — per-day rollup of the DOWNSTREAM store after the streamed
    * medallion hop (bootstrap + 2 merges + 1 compact upstream). */
  def snapshotChainRollup(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Det.dsum
    SnapshotMerge.read(spark, q112Downstream(spark, sfDir))
      .groupBy("day")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy(col("day").asc_nulls_last)
  }

  private val q112Sql = {
    val dsum = graft.functions.Det.sqlDsum _
    s"""WITH ev AS (
       |  SELECT event_id, user_id, event_type, value,
       |         cast(cast(ts AS date) AS varchar) AS day
       |  FROM events),
       |v0 AS (SELECT * FROM ev WHERE event_id % 10 < 7),
       |u1 AS (
       |  SELECT event_id, user_id, event_type, value + 1000.0 AS value,
       |         CASE WHEN event_id % 10 = 6
       |              THEN cast(cast(day AS date) + INTERVAL 1 DAY AS date)::varchar
       |              ELSE day END AS day
       |  FROM ev WHERE event_id % 10 IN (5, 6, 8)),
       |s1 AS (
       |  SELECT * FROM v0 WHERE event_id NOT IN (SELECT event_id FROM u1)
       |  UNION ALL SELECT * FROM u1),
       |u2 AS (
       |  SELECT event_id, user_id, event_type, value * 2.0 AS value, day
       |  FROM ev WHERE event_id % 10 IN (0, 9)),
       |s2 AS (
       |  SELECT * FROM s1 WHERE event_id NOT IN (SELECT event_id FROM u2)
       |  UNION ALL SELECT * FROM u2)
       |SELECT day, count(*) AS n, ${dsum("value")} AS total_value
       |FROM s2 GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------------------------
  // q116 — the KEYED streaming mode under the oracle: a stream with
  // .option("keys", "event_id") reads an upstream store through four
  // mutations (bootstrap → two MERGEs — one key updated TWICE, one
  // moving partition — → predicate DELETE) into an append-only feed,
  // and the registered query RECONSTRUCTS the upstream final state
  // from the update PAIRS alone: value = insert value + Σ(postimage −
  // preimage), day = the last postimage's day. The delta algebra is
  // wrong under any misclassification (a pre/post swapped, paired, or
  // dropped row changes the sum), so hash-equality against the
  // oracle's declarative fold proves the per-batch pairing exact —
  // the downstream-consumer property Delta CDF streaming sells.
  // Values are floor()ed to integer-valued doubles so every +1000/×2
  // and every telescoped delta is EXACT in binary FP on both engines.
  // ------------------------------------------------------------------

  private def q116Feed(spark: SparkSession, sfDir: String): String =
    graft.GateFixture.cached("graft_snapkeyed_q116", sfDir) { root =>
      val gs = StreamingOracle.gateSession(spark)
      val up = root.resolve("upstream").toString
      val feed = root.resolve("feed").toString
      val ev = graft.Tables.events(gs, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          floor(col("value")).cast("double").as("value"),
          to_date(col("ts")).cast("string").as("day"))
      // epoch 1: bootstrap = ids %10 < 7
      SnapshotMerge.upsert(gs, up, ev.filter(col("event_id") % 10 < 7),
        Seq("event_id"), "day")
      val q = gs.readStream.format(Format).option("path", up)
        .option("keys", "event_id").load()
        .writeStream
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .foreachBatch { (b: DataFrame, _: Long) =>
          if (!b.isEmpty) b.write.mode("append").parquet(feed)
        }
        .start()
      try {
        q.processAllAvailable() // initial snapshot: all inserts
        // epoch 2: %10 ∈ {5,6,8} — 5,6 update (+1000; 6 MOVES day+1),
        // 8 inserts
        SnapshotMerge.upsert(gs, up,
          ev.filter(col("event_id") % 10 === 5 || col("event_id") % 10 === 6 ||
              col("event_id") % 10 === 8)
            .withColumn("value", col("value") + lit(1000.0))
            .withColumn("day",
              when(col("event_id") % 10 === 6,
                date_add(col("day").cast("date"), 1).cast("string"))
                .otherwise(col("day"))),
          Seq("event_id"), "day")
        q.processAllAvailable()
        // epoch 3: %10 ∈ {0,5,9} — 0 updates, 5 updates a SECOND time
        // (its preimage is epoch 2's postimage), 9 inserts
        SnapshotMerge.upsert(gs, up,
          ev.filter(col("event_id") % 10 === 0 || col("event_id") % 10 === 5 ||
              col("event_id") % 10 === 9)
            .withColumn("value", col("value") * lit(2.0)),
          Seq("event_id"), "day")
        q.processAllAvailable()
        // epoch 4: predicate DELETE — pure delete rows in keyed mode
        SnapshotMerge.deleteWhere(gs, up, col("event_id") % 10 === 4)
        q.processAllAvailable()
      } finally q.stop()
      StreamingOracle.record("q116", q)
      feed
    }

  /** q116 — the upstream final state reconstructed from the keyed
    * feed's change types alone, rolled up per day. */
  def snapshotKeyedStreamRollup(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Det.dsum
    val feed = spark.read.parquet(q116Feed(spark, sfDir))
    val deletedKeys = feed.filter(col("_change_type") === "delete")
      .select("event_id").distinct()
    val base = feed.filter(col("_change_type") === "insert")
    val upd = feed.filter(
      col("_change_type").isin("update_preimage", "update_postimage"))
    val deltas = upd.groupBy("event_id").agg(
      dsum(when(col("_change_type") === "update_postimage", col("value"))
        .otherwise(-col("value"))).as("vdelta"))
    val lastPost = upd.filter(col("_change_type") === "update_postimage")
      .groupBy("event_id")
      .agg(max_by(col("day"), col("_commit_epoch")).as("last_day"))
    base.join(deletedKeys, Seq("event_id"), "left_anti")
      .join(deltas, Seq("event_id"), "left_outer")
      .join(lastPost, Seq("event_id"), "left_outer")
      .select(coalesce(col("last_day"), col("day")).as("day"),
        (col("value") + coalesce(col("vdelta"), lit(0.0))).as("value"))
      .groupBy("day")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy(col("day").asc_nulls_last)
  }

  private val q116Sql = {
    val dsum = graft.functions.Det.sqlDsum _
    s"""WITH ev AS (
       |  SELECT event_id, user_id, event_type, floor(value) AS value,
       |         cast(cast(ts AS date) AS varchar) AS day
       |  FROM events),
       |v0 AS (SELECT * FROM ev WHERE event_id % 10 < 7),
       |u1 AS (
       |  SELECT event_id, user_id, event_type, value + 1000.0 AS value,
       |         CASE WHEN event_id % 10 = 6
       |              THEN cast(cast(day AS date) + INTERVAL 1 DAY AS date)::varchar
       |              ELSE day END AS day
       |  FROM ev WHERE event_id % 10 IN (5, 6, 8)),
       |s1 AS (
       |  SELECT * FROM v0 WHERE event_id NOT IN (SELECT event_id FROM u1)
       |  UNION ALL SELECT * FROM u1),
       |u2 AS (
       |  SELECT event_id, user_id, event_type, value * 2.0 AS value, day
       |  FROM ev WHERE event_id % 10 IN (0, 5, 9)),
       |s2 AS (
       |  SELECT * FROM s1 WHERE event_id NOT IN (SELECT event_id FROM u2)
       |  UNION ALL SELECT * FROM u2),
       |s3 AS (SELECT * FROM s2 WHERE event_id % 10 <> 4)
       |SELECT day, count(*) AS n, ${dsum("value")} AS total_value
       |FROM s3 GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------------------------
  // q117 — PER-EPOCH LINEAGE under the oracle (Delta CDF
  // `_commit_version` streaming parity, r17 verdict #2): a stream with
  // .option("epochLineage", "true") consumes the initial snapshot,
  // stops, the upstream commits a ≥3-epoch backlog (merge → compact →
  // merge), and the RESTARTED stream covers the whole backlog in ONE
  // batch whose rows each carry the epoch they actually committed at.
  // The registered rollup groups by (_change_type, _commit_epoch, day)
  // — a row attributed to the wrong epoch, a compact epoch leaking
  // rows, or a net-mode collapse (everything stamped range-end) all
  // shift the rollup — and the oracle replays the same per-epoch
  // EXCEPT ALL diffs declaratively in DuckDB.
  // ------------------------------------------------------------------

  private def q117Feed(spark: SparkSession, sfDir: String): String =
    graft.GateFixture.cached("graft_snaplineage_q117", sfDir) { root =>
      val gs = StreamingOracle.gateSession(spark)
      val up = root.resolve("upstream").toString
      val feed = root.resolve("feed").toString
      val ev = graft.Tables.events(gs, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
          to_date(col("ts")).cast("string").as("day"))
      // epoch 1: bootstrap = ids %10 < 7
      SnapshotMerge.upsert(gs, up, ev.filter(col("event_id") % 10 < 7),
        Seq("event_id"), "day")
      def start() = gs.readStream.format(Format).option("path", up)
        .option("epochLineage", "true").load()
        .writeStream
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .foreachBatch { (b: DataFrame, _: Long) =>
          if (!b.isEmpty) b.write.mode("append").parquet(feed)
        }
        .start()
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop() // initial snapshot @1
      // BACKLOG while no stream runs — the multi-epoch batch lineage
      // exists for. epoch 2: %10 ∈ {5,6,8} (5,6 update +1000; 6 MOVES
      // day+1; 8 inserts); epoch 3: pure compaction (must contribute
      // zero rows at its OWN epoch); epoch 4: %10 ∈ {0,9} ×2
      SnapshotMerge.upsert(gs, up,
        ev.filter(col("event_id") % 10 === 5 || col("event_id") % 10 === 6 ||
            col("event_id") % 10 === 8)
          .withColumn("value", col("value") + lit(1000.0))
          .withColumn("day",
            when(col("event_id") % 10 === 6,
              date_add(col("day").cast("date"), 1).cast("string"))
              .otherwise(col("day"))),
        Seq("event_id"), "day")
      val ce = SnapshotMerge.compact(gs, up, maxFilesPerPartition = 0)
      // the oracle pins epoch NUMBERS: the compact must burn exactly one
      // (near-uniform row widths → a single density group at gated SFs)
      require(ce.contains(3L), s"compact must commit exactly epoch 3: $ce")
      SnapshotMerge.upsert(gs, up,
        ev.filter(col("event_id") % 10 === 0 || col("event_id") % 10 === 9)
          .withColumn("value", col("value") * lit(2.0)),
        Seq("event_id"), "day")
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      // the ≥3-epoch backlog must have planned as ONE batch — the gate
      // is about multi-epoch lineage, not one-epoch triggers
      val withRows = q2.recentProgress.filter(_.numInputRows > 0)
      require(withRows.length == 1,
        s"the backlog must arrive as one batch, got ${withRows.length}")
      StreamingOracle.record("q117", q1, q2)
      feed
    }

  /** q117 — the lineage feed rolled up per (change type, COMMIT EPOCH,
    * day): exact only if every row of the one backlog batch carries the
    * epoch it truly committed at. */
  def snapshotLineageRollup(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Det.dsum
    spark.read.parquet(q117Feed(spark, sfDir))
      .groupBy("_change_type", "_commit_epoch", "day")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy(col("_change_type"), col("_commit_epoch"),
        col("day").asc_nulls_last)
  }

  private val q117Sql = {
    val dsum = graft.functions.Det.sqlDsum _
    s"""WITH ev AS (
       |  SELECT event_id, user_id, event_type, value,
       |         cast(cast(ts AS date) AS varchar) AS day
       |  FROM events),
       |v0 AS (SELECT * FROM ev WHERE event_id % 10 < 7),
       |u1 AS (
       |  SELECT event_id, user_id, event_type, value + 1000.0 AS value,
       |         CASE WHEN event_id % 10 = 6
       |              THEN cast(cast(day AS date) + INTERVAL 1 DAY AS date)::varchar
       |              ELSE day END AS day
       |  FROM ev WHERE event_id % 10 IN (5, 6, 8)),
       |s1 AS (
       |  SELECT * FROM v0 WHERE event_id NOT IN (SELECT event_id FROM u1)
       |  UNION ALL SELECT * FROM u1),
       |u2 AS (
       |  SELECT event_id, user_id, event_type, value * 2.0 AS value, day
       |  FROM ev WHERE event_id % 10 IN (0, 9)),
       |s2 AS (
       |  SELECT * FROM s1 WHERE event_id NOT IN (SELECT event_id FROM u2)
       |  UNION ALL SELECT * FROM u2),
       |feed AS (
       |  SELECT 'insert' AS _change_type, cast(1 AS bigint) AS _commit_epoch,
       |         day, value FROM v0
       |  UNION ALL SELECT 'insert', cast(2 AS bigint), day, value
       |  FROM (SELECT * FROM s1 EXCEPT ALL SELECT * FROM v0)
       |  UNION ALL SELECT 'delete', cast(2 AS bigint), day, value
       |  FROM (SELECT * FROM v0 EXCEPT ALL SELECT * FROM s1)
       |  UNION ALL SELECT 'insert', cast(4 AS bigint), day, value
       |  FROM (SELECT * FROM s2 EXCEPT ALL SELECT * FROM s1)
       |  UNION ALL SELECT 'delete', cast(4 AS bigint), day, value
       |  FROM (SELECT * FROM s1 EXCEPT ALL SELECT * FROM s2))
       |SELECT _change_type, _commit_epoch, day, count(*) AS n,
       |       ${dsum("value")} AS total_value
       |FROM feed GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  }

  // ------------------------------------------------------------------
  // q118 — MID-STREAM ADDITIVE SCHEMA EVOLUTION under the oracle (r17
  // verdict #3: the documented contract — "new columns are projected
  // away until a restart repins" — had no gate). An upstream widening
  // merge lands WHILE a pinned stream applies changes downstream: the
  // pre-restart batch must flow WITHOUT the new column (the downstream
  // store must not widen), the restarted stream repins and surfaces it
  // (the downstream widens through the sink's own additive-evolution
  // path), and the final downstream state is deterministic: the new
  // column is non-null exactly for the keys whose last change flowed
  // AFTER the restart. The oracle folds that rule declaratively.
  // ------------------------------------------------------------------

  private def q118Downstream(spark: SparkSession, sfDir: String): String =
    graft.GateFixture.cached("graft_snapevolve_q118", sfDir) { root =>
      val gs = StreamingOracle.gateSession(spark)
      val up = root.resolve("upstream").toString
      val down = root.resolve("silver").toString
      val ev = graft.Tables.events(gs, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
          to_date(col("ts")).cast("string").as("day"))
      // epoch 1: bootstrap = ids %10 < 7 (no `score` column yet)
      SnapshotMerge.upsert(gs, up, ev.filter(col("event_id") % 10 < 7),
        Seq("event_id"), "day")
      def start() = Streams.changeApplySink(
        gs.readStream.format(Format).option("path", up).load(),
        down, root.resolve("ckpt").toString, Seq("event_id"), "day").start()
      val q1 = start() // pins the score-less schema
      try {
        q1.processAllAvailable()
        // epoch 2: WIDENING merge — adds `score` (floor of the original
        // value) and updates value for %10 ∈ {5,6}
        SnapshotMerge.upsert(gs, up,
          ev.filter(col("event_id") % 10 === 5 || col("event_id") % 10 === 6)
            .withColumn("score", floor(col("value")).cast("double"))
            .withColumn("value", col("value") + lit(1000.0)),
          Seq("event_id"), "day")
        q1.processAllAvailable()
        // the documented contract, asserted mid-stream: the pinned
        // stream projected the new column away, so the downstream store
        // must NOT have widened
        require(!SnapshotMerge.latestSnapshot(gs, down).get
          .schema.fieldNames.contains("score"),
          "pre-restart batches must carry the pinned schema")
      } finally q1.stop()
      val q2 = start() // repins: the source schema now carries `score`
      try {
        // epoch 3: %10 ∈ {0,5} — value ×2, score = floor(value)·3
        SnapshotMerge.upsert(gs, up,
          ev.filter(col("event_id") % 10 === 0 || col("event_id") % 10 === 5)
            .withColumn("score", (floor(col("value")) * lit(3.0)).cast("double"))
            .withColumn("value", col("value") * lit(2.0)),
          Seq("event_id"), "day")
        q2.processAllAvailable()
        require(SnapshotMerge.latestSnapshot(gs, down).get
          .schema.fieldNames.contains("score"),
          "the restarted stream must surface the evolved column")
      } finally q2.stop()
      // the pre-restart loss is REAL and bounded to pre-restart keys:
      // upstream holds epoch-2 scores for %10=6, downstream must not
      require(SnapshotMerge.read(gs, up)
        .filter(col("event_id") % 10 === 6 && col("score").isNotNull)
        .count() > 0, "upstream must hold the epoch-2 scores")
      require(SnapshotMerge.read(gs, down)
        .filter(col("event_id") % 10 === 6 && col("score").isNotNull)
        .count() == 0L,
        "epoch-2 scores flowed before the restart and must not be downstream")
      StreamingOracle.record("q118", q1, q2)
      down
    }

  /** q118 — the downstream store after a mid-stream widening: per-day
    * rollup of value AND of the evolved column, whose population is
    * exactly the keys re-touched after the restart. */
  def snapshotEvolveRollup(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Det.dsum
    SnapshotMerge.read(spark, q118Downstream(spark, sfDir))
      .groupBy("day")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"),
        count(col("score")).as("n_scored"),
        dsum(coalesce(col("score"), lit(0.0))).as("total_score"))
      .orderBy(col("day").asc_nulls_last)
  }

  private val q118Sql = {
    val dsum = graft.functions.Det.sqlDsum _
    s"""WITH ev AS (
       |  SELECT event_id, user_id, event_type, value,
       |         cast(cast(ts AS date) AS varchar) AS day
       |  FROM events),
       |f AS (
       |  SELECT event_id, day,
       |         CASE WHEN event_id % 10 IN (0, 5) THEN value * 2.0
       |              WHEN event_id % 10 = 6 THEN value + 1000.0
       |              ELSE value END AS value,
       |         CASE WHEN event_id % 10 IN (0, 5)
       |              THEN floor(value) * cast(3.0 AS double)
       |              ELSE NULL END AS score
       |  FROM ev WHERE event_id % 10 < 7)
       |SELECT day, count(*) AS n, ${dsum("value")} AS total_value,
       |       cast(count(score) AS bigint) AS n_scored,
       |       ${dsum("coalesce(score, cast(0 as double))")} AS total_score
       |FROM f GROUP BY 1 ORDER BY 1""".stripMargin
  }

  def all: Seq[graft.Q] = Seq(
    graft.Q("q112_snapshot_stream_chain",
      (s, d) => snapshotChainRollup(s, d), Some(q112Sql)),
    graft.Q("q116_snapshot_stream_keyed",
      (s, d) => snapshotKeyedStreamRollup(s, d), Some(q116Sql)),
    graft.Q("q117_snapshot_stream_lineage",
      (s, d) => snapshotLineageRollup(s, d), Some(q117Sql)),
    graft.Q("q118_snapshot_stream_evolve",
      (s, d) => snapshotEvolveRollup(s, d), Some(q118Sql)))

  private[streaming] def storeOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "snapshot stream needs .option(\"path\", <store>) — the SnapshotMerge store root"))

  /** The store's logical schema at stream start: the TIP manifest's.
    * An empty store cannot start a stream (no schema to pin) — same
    * contract as streaming from a not-yet-created Delta table. */
  private[streaming] def pinnedStoreSchema(
      spark: SparkSession, parameters: Map[String, String]): StructType = {
    val store = storeOf(parameters)
    SnapshotMerge.latestSnapshot(spark, store).map(_.schema).getOrElse(
      throw new IllegalStateException(
        s"no committed snapshot at $store — bootstrap the store (one " +
          "upsert) before streaming from it"))
  }

  /** Default `maxEpochsPerTrigger` when `epochLineage=true` and the
    * operator set no explicit pacing (r18 verdict #2): a lineage batch
    * plans one manifest-pruned union branch PER EPOCH, so the default
    * unbounded pacing would let a stream recovering a 10⁴-epoch backlog
    * plan a 10⁴-way union in its first trigger — driver-side analysis
    * cost and plan size O(backlog). 64 keeps the plan a bounded,
    * codegen-friendly width while recovering a day-scale backlog (at
    * 30 s triggers, ~2880 epochs/day → 45 triggers) in minutes; net
    * mode keeps its unbounded default because it plans ONE diff
    * whatever the range. */
  val DefaultLineageEpochsPerTrigger: Long = 64L

  /** The source's output schema: the store schema plus `_change_type`
    * and `_commit_epoch`. In the default NET mode `_commit_epoch` is
    * the BATCH-END epoch of the net diff — every row of a multi-epoch
    * batch (backlog, or `maxEpochsPerTrigger > 1`) carries the
    * range-end epoch; read it as "the snapshot this row's state is
    * current as of". With `.option("epochLineage", "true")` it IS the
    * per-row commit provenance Delta CDF's `_commit_version` gives:
    * each row carries the epoch of the commit that produced it, proven
    * per-epoch-exact by q117's oracle. */
  private[streaming] def streamSchema(storeSchema: StructType): StructType =
    storeSchema.add("_change_type", StringType, nullable = false)
      .add("_commit_epoch", LongType, nullable = false)
}

class SnapshotStreamSource(
    spark: SparkSession,
    parameters: Map[String, String],
    metadataPath: Option[String] = None) extends Source {

  private val store = SnapshotStream.storeOf(parameters)
  private val withDeletes =
    parameters.getOrElse("withDeletes", "true").toBoolean
  /** `.option("keys", "a,b")` — Delta CDF streaming parity: each batch
    * classifies its net diff per key, so an updated key arrives as an
    * `update_preimage`/`update_postimage` PAIR instead of
    * delete+insert (the [[SnapshotMerge.changesKeyed]] algebra; same
    * key-uniqueness contract). The initial snapshot is still all
    * `insert`. Keys mode needs both diff sides — it refuses
    * `withDeletes=false`. */
  private val keyCols: Option[Seq[String]] =
    parameters.get("keys").map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
  require(keyCols.forall(_.nonEmpty), "keys option must name at least one column")
  require(keyCols.isEmpty || withDeletes,
    "keys mode classifies BOTH diff sides — it cannot combine with withDeletes=false")
  /** `.option("epochLineage", "true")` — Delta CDF `_commit_version`
    * parity (r17 verdict #2): a multi-epoch batch (backlog recovery, or
    * `maxEpochsPerTrigger > 1`) plans as a UNION of per-epoch diffs,
    * each row stamped with the epoch it actually committed at, instead
    * of one net diff stamped with the range end. Costs O(epochs in
    * range) manifest reads and diff plans per batch — each sub-diff is
    * still manifest-pruned to its OWN epoch's changed partitions, and
    * `dataChange=false` epochs still plan to nothing — and, unlike the
    * net mode, emits intermediate states a back-and-forth key passed
    * through (exactly Delta CDF's per-commit semantics: changes are per
    * commit, never netted across commits). A lineage batch plans ONE
    * union branch per epoch, so an unbounded recovery batch would plan
    * an O(backlog)-way union — when `maxEpochsPerTrigger` is unset,
    * lineage mode defaults it to
    * [[SnapshotStream.DefaultLineageEpochsPerTrigger]] (r18 verdict
    * #2; README "Retention sizing" states the pairing rule); set it
    * explicitly to trade recovery latency against plan width. */
  private val epochLineage =
    parameters.getOrElse("epochLineage", "false").toBoolean
  private val maxEpochsPerTrigger =
    parameters.get("maxEpochsPerTrigger").map(_.toLong)
      .getOrElse(
        if (epochLineage) SnapshotStream.DefaultLineageEpochsPerTrigger
        else Long.MaxValue)
  require(maxEpochsPerTrigger >= 1, "maxEpochsPerTrigger must be >= 1")

  private val paced = maxEpochsPerTrigger != Long.MaxValue

  private val pinned: StructType =
    SnapshotStream.pinnedStoreSchema(spark, parameters)
  keyCols.foreach(_.foreach(k =>
    require(pinned.fieldNames.contains(k),
      s"keys option names $k, not a store column " +
        s"(have: ${pinned.fieldNames.mkString(", ")})")))
  override val schema: StructType = SnapshotStream.streamSchema(pinned)

  // Last offset this source HANDED OUT — the pacing floor. The engine's
  // checkpoint, not this field, is the processed truth; pacing only
  // bounds how far PAST it a batch may reach. A paced source persists
  // the floor under the stream's own metadata dir so a RESTART against
  // a backlogged store does not hand the uncapped tip to the first
  // poll (the one batch pacing exists to bound); getBatch also seeds it
  // from every range the engine replays. A stale/lost floor file only
  // widens one batch — never skips data, because the engine pairs each
  // offered end with its own committed start.
  //
  // DELIBERATE EXEMPTION: a FRESH stream's first batch is the INITIAL
  // SNAPSHOT (fromE = None → the whole table at the tip) — the same
  // unpaced first batch Delta's source takes. Capping the first offset
  // would not shrink it (a snapshot at ANY epoch is roughly the whole
  // table) and could pin the stream to a vacuumed epoch; pacing
  // governs the epoch RANGE of every batch after the floor seeds.
  @volatile private var lastPolled: Option[Long] =
    if (paced) readPacingFloor() else None

  private def pacingFloorPath: Option[Path] =
    metadataPath.map(m => new Path(m, "graft_pacing_floor"))

  // the shared pointer-file contract (graft.sources.PointerFile): tmp +
  // rename-overwrite so a crash never leaves an EMPTY floor that reads
  // back as "no floor" — the exact unbounded recovery batch the file
  // exists to prevent; best-effort, because pacing is not truth
  private def readPacingFloor(): Option[Long] =
    pacingFloorPath.flatMap(p => graft.sources.PointerFile.read(spark, p))

  private def writePacingFloor(v: Long): Unit =
    pacingFloorPath.foreach(p => graft.sources.PointerFile.write(spark, p, v))

  private def advanceFloor(v: Long): Unit = {
    if (lastPolled.forall(_ < v)) {
      lastPolled = Some(v)
      if (paced) writePacingFloor(v)
    }
  }

  override def getOffset: Option[OffsetV1] = {
    // O(1) per poll: the commit-maintained tip pointer, double-probed
    // and falling back to the listing when stale (r16 verdict #4 — a
    // year-old store at 30 s triggers holds ~10⁶ manifests; listing
    // them EVERY poll was the one unbounded per-trigger cost left)
    val tip = SnapshotMerge.tipEpoch(spark, store)
    val capped = (tip, lastPolled) match {
      case (Some(t), Some(l)) if t - l > maxEpochsPerTrigger =>
        Some(math.max(l + maxEpochsPerTrigger, 1L))
      // never OFFER below the floor: the floor is a lower bound on what
      // the engine may hold, and an end below the engine's committed
      // start is the inverted range getBatch fails loudly on — a tip
      // reading below the floor (a stale pointer surviving both probes
      // after a mid-chain vacuum hole) offers "no new data" instead
      case (Some(t), Some(l)) if t < l => Some(l)
      case (t, _) => t
    }
    capped.foreach(advanceFloor)
    capped.map(LongOffset(_))
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val toE = epochOf(end)
    val fromE = start.map(epochOf)
    // recovery replays re-seed the pacing floor — from the range END and
    // from the engine-held START: a floor file whose write failed before
    // a crash can read BELOW the engine's committed offset, and seeding
    // from the start is what heals it (the floor may never sit below an
    // offset the engine is known to hold)
    advanceFloor(math.max(fromE.getOrElse(0L), toE))
    // an inverted range means getOffset offered an end BEHIND the
    // engine's committed start (stale floor after a failed write +
    // crash): planning it would silently net zero rows, regress the
    // checkpoint, and re-deliver the range to non-idempotent sinks on
    // the next poll. Fail loudly instead — the advanceFloor above has
    // already re-seeded (and persisted) the true floor, so the restart
    // proceeds from the correct offset
    require(fromE.forall(_ <= toE),
      s"snapshot stream offset range inverted: start=${fromE.get} > end=$toE " +
        s"for $store — the pacing floor regressed behind the engine's " +
        "committed offset (a floor persisted before a crash was stale); " +
        "the floor has been re-seeded from the committed offset, restart " +
        "the stream")
    // two existence probes, not an O(total epochs) listing — getBatch's
    // planning cost must not grow with the store's lifetime history
    (fromE.toSeq :+ toE).foreach { e =>
      require(SnapshotMerge.isCommitted(spark, store, e),
        s"epoch $e of $store is no longer committed (vacuumed?) — the " +
          "store's retention must cover the stream's checkpoint lag; " +
          "raise vacuum(keep) past the longest recovery window " +
          SnapshotMerge.RetentionRunbook)
    }
    val batch = fromE match {
      case None => // initial snapshot: everything at toE is an insert
        SnapshotMerge.read(spark, store, Some(toE))
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_epoch", lit(toE))
      case Some(f) if epochLineage =>
        // per-epoch lineage: one diff per epoch in the range, each
        // stamped with its TRUE commit epoch. Lineage cannot be
        // reconstructed across a vacuumed hole — every epoch in the
        // range must still be committed, not just the endpoints
        val es = (f + 1) to toE
        es.foreach { e =>
          require(SnapshotMerge.isCommitted(spark, store, e),
            s"epoch $e of $store is no longer committed (vacuumed?) — " +
              s"epochLineage reconstructs per-epoch provenance and " +
              s"needs EVERY epoch in ($f, $toE] retained; raise " +
              "vacuum(keep) past the stream's checkpoint lag " +
              SnapshotMerge.RetentionRunbook)
        }
        // each manifest parsed ONCE for the whole batch (r18 review),
        // consecutive pairs diffed directly
        val snaps = (f to toE).map(e => SnapshotMerge.snapshot(spark, store, e))
        snaps.sliding(2).flatMap {
          case Seq(a, b) =>
            // a compaction epoch contributes no logical change: skip its
            // (empty) diff plan instead of unioning a dead branch
            if (!b.dataChange) None
            else Some(SnapshotMerge
              .streamingChangesAdjacent(spark, store, a, b, withDeletes, keyCols)
              .withColumn("_commit_epoch", lit(b.epoch)))
          case _ => None
        }.reduceOption(
          // allowMissingColumns: a range spanning an additive widening
          // has sub-diffs with different column sets — pre-widening
          // rows read the new column as null, exactly what the widened
          // store itself answers for them (r18 review: the strict union
          // threw and wedged the stream on the replayed range)
          _.unionByName(_, allowMissingColumns = true)).getOrElse {
          // an all-compaction range: the correctly-shaped empty batch
          SnapshotMerge.streamingChangesAdjacent(
            spark, store, snaps.last, snaps.last.copy(dataChange = false),
            withDeletes, keyCols)
            .withColumn("_commit_epoch", lit(toE))
        }
      case Some(f) =>
        SnapshotMerge.streamingChanges(spark, store, f, toE, withDeletes, keyCols)
          .withColumn("_commit_epoch", lit(toE))
    }
    asStreamingFrame(toPinned(batch))
  }

  /** Project any batch onto the PINNED output schema: columns the store
    * grew after the pin are dropped (the documented mid-stream
    * contract), and pinned columns a batch lacks surface as nulls —
    * which happens when the pin is NEWER than the batch's epochs (a
    * paced or lineage restart replaying pre-widening history through a
    * post-widening pin; the strict select threw AnalysisException and
    * wedged the stream on its own replayed range — r18 review). Null is
    * exactly what the widened store answers for those rows itself. */
  private def toPinned(batch: DataFrame): DataFrame = {
    val padded = schema.fields.foldLeft(batch) { (d, f) =>
      if (d.columns.contains(f.name)) d
      else d.withColumn(f.name, lit(null).cast(f.dataType))
    }
    padded.select(schema.fieldNames.toIndexedSeq.map(col): _*)
  }

  /** The v1-source contract requires the returned frame's plan to BE
    * streaming, but its INTERNALS must stay a batch plan — marking the
    * parquet leaves streaming would make `IncrementalExecution` plan
    * the diff's aggregates as STATEFUL streaming aggregates (state
    * stores accumulating across triggers — wrong results). The
    * `LogicalRDD(isStreaming = true)` barrier gives both: the node
    * reports streaming to the engine while its RDD lineage executes
    * the already-planned batch diff (the same shape `MemoryStream`
    * returns its batches with). */
  private def asStreamingFrame(df: DataFrame): DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qe = df.queryExecution
    org.apache.spark.sql.graft.PlanBridge.ofRows(spark,
      LogicalRDD(qe.analyzed.output, qe.toRdd, isStreaming = true)(cs))
  }

  private def epochOf(o: OffsetV1): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.trim.toLong // SerializedOffset from the checkpoint
  }

  /** The engine's completion callback doubles as the floor's durable
    * refresh: after every committed batch the persisted pacing floor is
    * re-written at (at least) the committed offset — UNCONDITIONALLY,
    * not just when the in-memory floor advances, because the case this
    * heals is precisely "the in-memory floor is current but its file
    * write failed during getOffset"; without the re-write that stale
    * file survives until a crash turns it into an inverted restart
    * range. */
  override def commit(end: OffsetV1): Unit = {
    val e = epochOf(end)
    advanceFloor(e)
    if (paced) writePacingFloor(math.max(lastPolled.getOrElse(e), e))
  }
  override def stop(): Unit = ()
}
