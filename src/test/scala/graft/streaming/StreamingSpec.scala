package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSuite

class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowed agg emits finalized windows in append mode; late rows are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")

    val query = Streams.userActivity5m(events)
      .writeStream.format("memory").queryName("ua5m").outputMode("append").start()
    try {
      // batch 1: three events in window [10:00,10:05), one at 10:20 that
      // advances the watermark to 10:10 and finalizes the first window
      input.addData(
        (1L, ts("2024-01-01 10:00:30"), 1L, "view", 10.0),
        (2L, ts("2024-01-01 10:01:00"), 1L, "purchase", 20.0),
        (3L, ts("2024-01-01 10:02:00"), 2L, "view", 5.0),
        (4L, ts("2024-01-01 10:20:00"), 1L, "view", 1.0))
      query.processAllAvailable()
      input.addData((5L, ts("2024-01-01 10:21:00"), 1L, "view", 2.0))
      query.processAllAvailable()

      val emitted = spark.table("ua5m")
      val w1 = emitted.filter($"window_start" === ts("2024-01-01 10:00:00")).collect()
      assert(w1.map(_.getAs[Long]("user_id")).toSet === Set(1L, 2L))
      val u1 = w1.find(_.getAs[Long]("user_id") == 1L).get
      assert(u1.getAs[Long]("n_events") === 2)
      assert(u1.getAs[Long]("purchases") === 1)

      // late arrival: far behind the 10:10 watermark → dropped
      input.addData((6L, ts("2024-01-01 10:00:45"), 1L, "view", 99.0))
      // advance watermark far enough (10:21 + 10min margin) to close [10:20,10:25)
      input.addData((7L, ts("2024-01-01 10:40:00"), 3L, "view", 1.0))
      query.processAllAvailable()
      val w1After = spark.table("ua5m")
        .filter($"window_start" === ts("2024-01-01 10:00:00") && $"user_id" === 1)
        .collect()
      assert(w1After.length === 1, "late row must not re-emit or grow the closed window")
      assert(w1After.head.getAs[Long]("n_events") === 2)

      val w2 = spark.table("ua5m").filter($"window_start" === ts("2024-01-01 10:20:00"))
      assert(w2.count() === 1) // user 1: events at 10:20 and 10:21
      assert(w2.head().getAs[Long]("n_events") === 2)
    } finally query.stop()
  }

  test("content popularity stream aggregates 10-minute windows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val query = Streams.contentPopularity10m(events)
      .writeStream.format("memory").queryName("cp10m").outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:01:00"), 1L, "view", 10.0),
        (2L, ts("2024-01-01 10:05:00"), 2L, "view", 30.0),
        (3L, ts("2024-01-01 10:07:00"), 1L, "purchase", 99.0),
        (4L, ts("2024-01-01 10:45:00"), 3L, "view", 1.0)) // watermark push
      query.processAllAvailable()
      val rows = spark.table("cp10m")
        .filter($"window_start" === ts("2024-01-01 10:00:00")).collect()
      val view = rows.find(_.getAs[String]("event_type") == "view").get
      assert(view.getAs[Long]("n_events") === 2)
      assert(view.getAs[Double]("max_value") === 30.0)
      assert(view.getAs[Long]("approx_uniq_users") === 2)
    } finally query.stop()
  }

  test("anomaly stream classifies and filters non-normal windows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val query = Streams.anomaly1m(events, highActivity = 3, highErrors = 2)
      .writeStream.format("memory").queryName("anom1m").outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:01"), 1L, "view", 1.0),
        (2L, ts("2024-01-01 10:00:02"), 1L, "view", 1.0),
        (3L, ts("2024-01-01 10:00:03"), 1L, "view", 1.0),
        (4L, ts("2024-01-01 10:00:04"), 2L, "error", 1.0),
        (5L, ts("2024-01-01 10:00:05"), 2L, "error", 1.0),
        (6L, ts("2024-01-01 10:00:06"), 3L, "view", 1.0),
        (7L, ts("2024-01-01 10:30:00"), 9L, "view", 1.0)) // watermark push
      query.processAllAvailable()
      val rows = spark.table("anom1m").collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[String]("anomaly_type")).toMap
      assert(rows === Map(1L -> "high_activity", 2L -> "high_errors"))
    } finally query.stop()
  }

  test("streaming dedup drops cross-batch duplicates within the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.dedupStream(events, "event_id")
      .writeStream.format("memory").queryName("dedup_stream").outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0),
        (2L, ts("2024-01-01 10:01:00"), 1L, "view", 2.0))
      q.processAllAvailable()
      // same ids again in a later batch → dropped by streaming state
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0),
        (3L, ts("2024-01-01 10:02:00"), 2L, "view", 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("event_id").collect().map(_.getLong(0))
      assert(ids.length === ids.distinct.length)
      assert(ids.toSet === Set(1L, 2L, 3L))
    } finally q.stop()
  }

  test("streaming corpus ingest: content-hash dedup across batches + quality routing") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String, Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "lang", "ingest_ts")
    val q = Streams.corpusIngest(docs)
      .writeStream.format("memory").queryName("corpus_ingest").outputMode("append").start()
    try {
      val good = (1 to 120).map(i => s"word$i").mkString(" ") // long + diverse
      val spam = Seq.fill(60)("buy").mkString(" ")            // diversity 1/60
      input.addData(
        (1L, good, "en", ts("2024-01-01 10:00:00")),
        (2L, spam, "en", ts("2024-01-01 10:00:30")))
      q.processAllAvailable()
      // same TEXT under a NEW doc_id in a later batch → content-hash state drops it
      input.addData(
        (3L, good, "en", ts("2024-01-01 10:01:00")),
        (4L, "fresh short text here", "en", ts("2024-01-01 10:01:30")))
      q.processAllAvailable()
      val rows = spark.table("corpus_ingest")
        .select("doc_id", "quality_ok").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(rows.keySet === Set(1L, 2L, 4L), "doc 3 re-submits doc 1's text and must be dropped")
      assert(rows(1L), "long diverse text passes the gate")
      assert(!rows(2L), "repeated-token spam fails the gate")
    } finally q.stop()
  }

  test("corpus ingest state expires at the watermark horizon (bounded, not eternal)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String, Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "lang", "ingest_ts")
    val q = Streams.corpusIngest(docs) // 1-hour horizon
      .writeStream.format("memory").queryName("corpus_expiry").outputMode("append").start()
    try {
      val text = (1 to 120).map(i => s"word$i").mkString(" ")
      input.addData((1L, text, "en", ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // advance event time far past the horizon → doc 1's hash state evicts
      input.addData((2L, "unrelated fresh content entirely", "en", ts("2024-01-01 14:00:00")))
      q.processAllAvailable()
      // the same TEXT hours later must be RE-ADMITTED: bounded state trades
      // eternal exactness for memory; the batch tiers catch long-range dups
      input.addData((3L, text, "en", ts("2024-01-01 14:30:00")))
      q.processAllAvailable()
      val ids = spark.table("corpus_expiry").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L, 2L, 3L),
        s"expired content hash must not block a late re-submit: got $ids")
    } finally q.stop()
  }

  test("two-hop chained streams: raw → bronze dir → windowed agg (storage-decoupled DAG)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_chain").toString
    val ev = graft.Tables.events(spark, sfDir("0.001"))
    ev.write.parquet(s"$tmp/raw")

    // hop 1: raw → bronze (projection + derived column), its sink dir is
    // hop 2's source — the reference's Delta-hop chaining shape
    val raw = Streams.fileStreamSource(spark, s"$tmp/raw", ev.schema, 5)
    val bronze = raw.filter(col("event_type").isNotNull)
      .withColumn("value_minutes", col("value") / 60.0)
    val q1 = Streams.parquetSink(bronze, s"$tmp/bronze", s"$tmp/chk1", 100).start()
    try q1.processAllAvailable() finally q1.stop()
    val bronzeSchema = spark.read.parquet(s"$tmp/bronze").schema

    val q2 = Streams.parquetSink(
      Streams.userActivity5m(Streams.fileStreamSource(spark, s"$tmp/bronze", bronzeSchema, 5)),
      s"$tmp/agg", s"$tmp/chk2", 100).start()
    try q2.processAllAvailable() finally q2.stop()

    val agg = spark.read.parquet(s"$tmp/agg")
    assert(agg.count() > 0, "finalized windows must flow through the chained hop")
    assert(agg.columns.contains("approx_uniq_types"))
  }

  test("stream-static enrichment joins the dim per micro-batch without shuffling the stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val query = Streams.enrichWithDim(events, dim, Seq("user_id"))
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0),
        (2L, ts("2024-01-01 10:00:10"), 2L, "view", 2.0),
        (3L, ts("2024-01-01 10:00:20"), 9L, "view", 3.0)) // no dim row
      query.processAllAvailable()
      val got = spark.table("enriched").collect()
        .map(r => r.getAs[Long]("event_id") -> Option(r.getAs[String]("tier"))).toMap
      assert(got(1L).contains("gold") && got(2L).contains("basic"))
      assert(got(3L).isEmpty, "left join must keep unmatched stream rows")
    } finally query.stop()
  }

  test("stream-stream attribution joins clicks within the lag window only") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val clicks = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val query = Streams.clickAttribution(
        views.toDF().toDF(cols: _*), clicks.toDF().toDF(cols: _*))
      .writeStream.format("memory").queryName("attr").outputMode("append").start()
    try {
      views.addData((1L, ts("2024-01-01 10:00:00"), 7L, "view", 0.0))
      clicks.addData(
        (2L, ts("2024-01-01 10:10:00"), 7L, "click", 0.0), // within 30 min
        (3L, ts("2024-01-01 11:10:00"), 7L, "click", 0.0), // past the lag
        (4L, ts("2024-01-01 10:05:00"), 8L, "click", 0.0)) // other user
      query.processAllAvailable()
      val pairs = spark.table("attr").collect()
        .map(r => (r.getAs[Long]("view_id"), r.getAs[Long]("click_id")))
      assert(pairs.toSet === Set((1L, 2L)),
        s"only the in-window same-user click may attribute, got ${pairs.mkString(",")}")
    } finally query.stop()
  }

  test("file-stream source → checkpointed parquet sink round-trips all rows") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val src = s"$tmp/src"; val out = s"$tmp/out"; val chk = s"$tmp/chk"
    val data = (1 to 100).map(i =>
      (i.toLong, ts(f"2024-01-01 10:${i % 60}%02d:00"), i.toLong % 7, "view", i.toDouble))
    data.take(50).toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(src)
    data.drop(50).toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("append").parquet(src)

    val schema = spark.read.parquet(src).schema
    val stream = Streams.fileStreamSource(spark, src, schema, maxFilesPerTrigger = 2)
    val query = Streams.parquetSink(stream, out, chk, triggerMs = 100).start()
    try {
      query.processAllAvailable()
      assert(spark.read.parquet(out).count() === 100)
    } finally query.stop()
  }

  test("the streaming-oracle gates really slice the source into multiple data-carrying micro-batches") {
    import org.apache.spark.sql.functions._
    // same source shape + trigger sizing as StreamingOracle's gates: the
    // y/m/d-partitioned copy at the gates' derived maxFilesPerTrigger —
    // the exactness claim of q68/q69 rests on >1 micro-batch actually
    // occurring under that sizing
    val sf = sfDir("0.001")
    val dir = graft.sources.PartitionedLayout.partitionedEventsDir(spark, sf)
    val mft = StreamingOracle.mftFor(spark, dir)
    val schema = spark.read.parquet(dir).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", mft.toString).option("basePath", dir).parquet(dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val q = src.writeStream.format("memory").queryName("wm_batches")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches >= 2,
        s"expected the day-directories to arrive across several triggers at mft=$mft, got $dataBatches")
    } finally q.stop()
  }

  test("q72: append mode finalizes windows early, drops the late tail, and runs on RocksDB") {
    import org.apache.spark.sql.functions._
    import graft.functions.Det.dsum
    val sf = sfDir("0.001")
    val got = StreamingOracle.streamingLateWindowRollup(spark, sf).collect()

    // the final sink must equal the batch aggregate over ONLY the
    // watermark-surviving rows (days ≥ 6 — the late tail is days 1–5)
    val want = graft.Tables.events(spark, sf)
      .filter(dayofmonth(col("ts")) >= 6)
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .select(unix_timestamp(col("window.start")).as("bucket_start"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy(col("bucket_start"), col("event_type").asc_nulls_last)
      .collect()
    assert(got.toSeq === want.toSeq,
      "append-mode sink must hold exactly the finalized windows over on-time rows")

    // semantics the final table alone cannot show, read off the run's
    // progress: late rows really were dropped by the watermark, ≥1
    // window finalized BEFORE the flush batch, and the state machine ran
    // on the RocksDB provider
    val stats = StreamingOracle.lastLateStats.get
    assert(stats.droppedByWatermark > 0, "the day-1–5 tail must be watermark-dropped")
    assert(stats.emittingBatches >= 2,
      s"windows must finalize across ≥2 batches (early + flush), got ${stats.emittingBatches}")
    assert(stats.usedRocksDb, "the gate must run on the RocksDB state store")
  }

  test("q73: streaming session windows reproduce the batch session partition exactly") {
    val sf = sfDir("0.001")
    val got = StreamingOracle.streamingSessionRollup(spark, sf).collect()
    val want = Sessionize.sessionWindowRollup(graft.Tables.events(spark, sf), "2 hours")
      .collect()
    assert(got.toSeq === want.toSeq,
      "in-day-order streaming must close exactly the batch sessions, sentinel withheld")
  }

  test("q74: the stream-stream interval join emits exactly the batch pair set") {
    import org.apache.spark.sql.functions._
    val sf = sfDir("0.001")
    val got = StreamingOracle.streamingClickAttribution(spark, sf).collect()
    val ev = graft.Tables.events(spark, sf)
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("vts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), col("event_id").as("click_id"), col("ts").as("cts"))
    val want = v.join(c, col("user_id") === col("c_uid") &&
        col("cts") >= col("vts") && col("cts") <= col("vts") + expr("interval 30 minutes"))
      .select(col("user_id"), col("view_id"), col("click_id"),
        unix_timestamp(col("vts")).as("view_ts_s"),
        unix_timestamp(col("cts")).as("click_ts_s"))
      .orderBy("view_id", "click_id")
      .collect()
    assert(want.nonEmpty, "fixture must contain qualifying view→click pairs")
    assert(got.toSeq === want.toSeq,
      "inner stream-stream join must surface every qualifying pair exactly once")
  }

  test("q85: the custom broadcast as-of exec plans inside micro-batches and equals q48") {
    import org.apache.spark.sql.functions._
    val sf = sfDir("0.001")
    // the gate itself (multi-batch source, checkpointed sink, rollup)
    val got = StreamingOracle.streamingAsOfEnrich(spark, sf).collect()
    val want = graft.operators.AsOfJoin.asofRollup(
      graft.Tables.events(spark, sf), graft.Tables.orders(spark, sf)).collect()
    assert(got.toSeq === want.toSeq,
      "micro-batched as-of enrichment must equal the batch rollup exactly")

    // and the per-batch physical plan really runs BroadcastAsOfJoinExec
    // with no stream-side exchange (memory sink; same source shape)
    val dir = graft.sources.PartitionedLayout.partitionedEventsDir(spark, sf)
    val schema = spark.read.parquet(dir).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", StreamingOracle.mftFor(spark, dir).toString)
      .option("basePath", dir).parquet(dir)
      .select("event_id", "event_type", "user_id", "ts")
    val dim = graft.Tables.orders(spark, sf).select(
      col("o_custkey").as("user_id"), col("o_orderdate").as("ts"),
      col("o_orderkey").as("okey"))
    val enriched = graft.operators.AsOfJoin.asofJoinNative(
      src, dim, "user_id", "ts", Seq("okey"), tieBreak = Some("okey"),
      broadcast = Some(true))
    // receipt for the constant-term claim (SCALING_r10's fixed-dim
    // control): across N micro-batches over an UNCHANGED static dim,
    // the executor-side index is built at most once — Spark re-plans
    // and re-broadcasts the static side each batch (fresh broadcast
    // id), and the content-reuse path must serve the existing index
    // instead of re-sorting the dim per trigger
    val builds0 = graft.plans.BroadcastAsOfJoinExec.indexBuilds.get()
    val reuses0 = graft.plans.BroadcastAsOfJoinExec.indexContentReuses.get()
    val q = enriched.writeStream.format("memory").queryName("asof_stream_plan")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val baos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(baos)) { q.explain() }
      val p = baos.toString
      assert(p.contains("BroadcastAsOfJoin"),
        s"expected the broadcast as-of exec in the micro-batch plan:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"the stream side must not shuffle:\n$p")
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches >= 2,
        s"as-of enrichment must be proven across >1 micro-batch, got $dataBatches")
      val builds = graft.plans.BroadcastAsOfJoinExec.indexBuilds.get() - builds0
      val reuses = graft.plans.BroadcastAsOfJoinExec.indexContentReuses.get() - reuses0
      assert(builds <= 1,
        s"static dim unchanged across $dataBatches batches must build the index ≤1 time, built $builds")
      // ≥1, not ==dataBatches: if a future Spark reuses the broadcast
      // itself across batches, the id-keyed fast path absorbs the rest
      assert(builds + reuses >= 1,
        s"the run must resolve an index (builds=$builds reuses=$reuses batches=$dataBatches)")
    } finally q.stop()
  }

  test("q97's operator: dropDuplicatesWithinWatermark bounds state — expired keys re-admit") {
    // the receipt the oracle row cannot carry: with a SHORT window, a
    // duplicate inside the window drops, the state row EVICTS once the
    // watermark passes eventTime + delay (numRowsRemoved > 0), and a
    // re-occurrence after expiry is KEPT AGAIN — bounded state, unlike
    // plain dropDuplicates whose keys live forever
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val deduped = input.toDF().toDF("k", "ts")
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("k")
    val name = s"ttl_dedup_${System.nanoTime()}"
    val q = deduped.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      input.addData((1L, ts("2024-01-01 00:00:00")), (1L, ts("2024-01-01 00:00:05")))
      q.processAllAvailable() // first kept, in-window dup dropped
      input.addData((2L, ts("2024-01-01 00:10:00"))) // watermark leaps past expiry
      q.processAllAvailable()
      input.addData((1L, ts("2024-01-01 00:11:00"))) // k=1 state expired -> re-admitted
      q.processAllAvailable()
      input.addData((9L, ts("2024-01-01 00:30:00")))
      q.processAllAvailable()
      val rows = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString)).sorted.toSeq
      assert(rows.count(_._1 == 1L) === 2,
        s"k=1 must be kept once per expiry window, got $rows")
      assert(!rows.exists(_ == (1L, "2024-01-01 00:00:05.0")),
        s"the in-window duplicate must drop: $rows")
      val removed = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsRemoved).sum
      assert(removed > 0, "expired dedup state must be evicted, not retained forever")
    } finally q.stop()
  }

  test("q97 unloads its state-store providers once it returns; a re-run answers the same") {
    val sf = sfDir("0.001")
    val first = StreamingOracle.streamingDedupTtl(spark, sf).collect().toSeq
    def released = StreamingOracle.releasedProviders.get("q97")
    assert(released.nonEmpty, "q97's stateful dedup must name the providers its run loaded")
    released.foreach(id => assert(!org.apache.spark.sql.graft.StateBridge.isLoaded(id),
      s"$id stays loaded after q97 returned"))
    val again = StreamingOracle.streamingDedupTtl(spark, sf).collect().toSeq
    assert(again === first, "a re-run after the unload must answer the same")
    released.foreach(id => assert(!org.apache.spark.sql.graft.StateBridge.isLoaded(id)))
  }

  test("l55: the streamed store-maintained dedup equals the l35 batch rollup") {
    // end-to-end through the REAL gate (ordered file source, 2 triggers,
    // store seed + per-batch probe/append): the final rollup must equal
    // incrementalDedup's batch-at-once answer row for row. The capped
    // and slicing-invariance arguments are pinned separately in LlmSpec;
    // this is the full-machinery integration equality.
    val sf = sfDir("0.001")
    val streamed = StreamingOracle.streamingIncrementalDedup(spark, sf)
      .collect().toSeq
    val batch = graft.llm.TextDedup.incrementalDedup(
      graft.Tables.documents(spark, sf)).collect().toSeq
    assert(streamed === batch)
    assert(streamed.exists(_.getAs[Long]("dropped_docs") > 0),
      "the fixture slice must actually drop something")
  }

  test("trigger budget: every streaming gate stays within its pinned micro-batch count") {
    // The streaming block's cost is ~linear in trigger count (~0.48 s
    // start + ~0.25 s/trigger commit bookkeeping, measured round 11), so
    // the budget below IS the block's floor contract: a gate or refactor
    // that quietly adds triggers fails here instead of silently
    // regrowing the bench block. Budgets are the measured round-12
    // counts (distinct batch ids from each run's own progress metrics),
    // scale-invariant by construction (mftFor targets 2 data batches
    // whatever the layout's file count; the ordered layouts pin their
    // slicing explicitly).
    val sf = sfDir("0.001")
    // q102+q104 share ONE maintenance stream since round 13 (both
    // stores merge per trigger — see StreamingOracle.maintainedStores),
    // so the pair's budget is one stream's 2 triggers, not 2×2
    val budget = Map(
      "q68" -> 2, "q69" -> 2, "q70" -> 2, "q72" -> 4, "q73" -> 3,
      "q74" -> 3, "q85" -> 2, "q91" -> 2, "q92" -> 3, "q93" -> 3,
      "q95" -> 3, "q97" -> 3, "q102+q104" -> 2, "l55" -> 2)
    val run: Map[String, () => Unit] = Map(
      "q68" -> (() => StreamingOracle.streamingWindowRollup(spark, sf)),
      "q69" -> (() => StreamingOracle.streamingFunnelSummary(spark, sf)),
      "q70" -> (() => StreamingOracle.streamingDedupStats(spark, sf)),
      "q72" -> (() => StreamingOracle.streamingLateWindowRollup(spark, sf)),
      "q73" -> (() => StreamingOracle.streamingSessionRollup(spark, sf)),
      "q74" -> (() => StreamingOracle.streamingClickAttribution(spark, sf)),
      "q85" -> (() => StreamingOracle.streamingAsOfEnrich(spark, sf)),
      "q91" -> (() => StreamingOracle.streamingRangeAttribution(spark, sf)),
      "q92" -> (() => StreamingOracle.streamingStreamAsOf(spark, sf)),
      "q93" -> (() => StreamingOracle.streamingStreamAsOfForward(spark, sf)),
      "q95" -> (() => StreamingOracle.streamingStreamAsOfNearest(spark, sf)),
      "q97" -> (() => StreamingOracle.streamingDedupTtl(spark, sf)),
      "q102+q104" -> (() => StreamingOracle.streamingSketchMaintain(spark, sf)),
      "l55" -> (() => StreamingOracle.streamingIncrementalDedup(spark, sf)))
    // the stream executes inside each gate function (drain records the
    // count); earlier tests may have populated some gates already
    budget.keys.toSeq.sorted.foreach { g =>
      if (!StreamingOracle.triggerCounts.containsKey(g)) run(g)()
    }
    budget.toSeq.sortBy(_._1).foreach { case (g, b) =>
      val got = StreamingOracle.triggerCounts.get(g)
      assert(got <= b,
        s"$g ran $got triggers against a budget of $b - each extra trigger " +
          "regrows the streaming block by ~0.25 s; if intentional, re-measure " +
          "and move the budget WITH a PLANS note")
    }
    val total = budget.keys.map(StreamingOracle.triggerCounts.get(_)).sum
    assert(total <= budget.values.sum,
      s"streaming block total $total exceeds the ${budget.values.sum}-trigger budget")
  }

  test("snapshot merge sink: each trigger commits an epoch, replay converges, mid-stream readers see whole snapshots") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_snapsink").toString
    val table = s"$tmp/table"
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("day", to_date(col("ts")))
    val query = Streams.snapshotMergeSink(events, table, s"$tmp/chk",
      keys = Seq("event_id"), tsCol = "ts", partitionCol = "day",
      vacuumKeep = 2, vacuumGraceMs = -1000L).start()
    try {
      // trigger 1: an empty store bootstraps through the same merge path
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0),
        (2L, ts("2024-01-01 10:01:00"), 2L, "view", 2.0))
      query.processAllAvailable()
      assert(graft.etl.SnapshotMerge.committedEpochs(spark, table) === Seq(1L))
      // a reader pins epoch 1 here — it must survive the next publish
      val pinned = graft.etl.SnapshotMerge.read(spark, table)
      // trigger 2: update key 1 (and MOVE its day partition), insert 3;
      // within-batch duplicate of key 3 — latest ts wins
      input.addData(
        (1L, ts("2024-01-02 09:00:00"), 1L, "view", 10.0),
        (3L, ts("2024-01-02 09:01:00"), 3L, "view", 3.0),
        (3L, ts("2024-01-02 09:02:00"), 3L, "view", 33.0))
      query.processAllAvailable()
      assert(graft.etl.SnapshotMerge.committedEpochs(spark, table) === Seq(1L, 2L))
      val now = graft.etl.SnapshotMerge.read(spark, table).collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("value")).toMap
      assert(now === Map(1L -> 10.0, 2L -> 2.0, 3L -> 33.0))
      // snapshot isolation across the stream's publish: the pinned frame
      // still reads epoch 1 bit-exact, although key 1 left its old day
      // partition
      assert(pinned.collect().map(_.getAs[Long]("event_id")).sorted.toSeq === Seq(1L, 2L))
      // trigger 3: an at-least-once REPLAY of trigger 2's rows — a new
      // epoch with IDENTICAL logical content (exactly-once per key), and
      // the sink's own vacuum now enforces the 2-epoch retention
      input.addData(
        (1L, ts("2024-01-02 09:00:00"), 1L, "view", 10.0),
        (3L, ts("2024-01-02 09:02:00"), 3L, "view", 33.0))
      query.processAllAvailable()
      val replayed = graft.etl.SnapshotMerge.read(spark, table).collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("value")).toMap
      assert(replayed === now, "a replayed batch must converge, not diverge")
      assert(graft.etl.SnapshotMerge.committedEpochs(spark, table) === Seq(2L, 3L),
        "the sink's vacuum must bound history to vacuumKeep epochs")
      // inside the retention the stream's history still time-travels
      assert(graft.etl.SnapshotMerge.read(spark, table, Some(2L)).count() === 3L)
    } finally query.stop()
  }

  test("snapshot merge sink evaluates each trigger's micro-batch lineage once") {
    // a pass-through in the source lineage counts every row it sees; the
    // sink persists the deduplicated batch, so its emptiness probe, the
    // upsert's touched-partition collect and the write read one
    // materialization and the count equals the rows released
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sinkonce").toString
    val table = s"$tmp/table"
    val seen = spark.sparkContext.longAccumulator("sink_lineage_rows")
    val pass = udf { (id: Long) => seen.add(1); id }.asNondeterministic()
    val input = MemoryStream[(Long, Timestamp, Double)]
    val events = input.toDF().toDF("event_id", "ts", "value")
      .withColumn("event_id", pass(col("event_id")))
      .withColumn("day", to_date(col("ts")).cast("string"))
    val query = Streams.snapshotMergeSink(events, table, s"$tmp/chk",
      keys = Seq("event_id"), tsCol = "ts", partitionCol = "day").start()
    try {
      val first = (1L to 50L).map(i =>
        (i, ts(s"2024-01-0${1 + i % 3} 10:00:00"), i.toDouble))
      input.addData(first: _*)
      query.processAllAvailable()
      // a second trigger updates ten keys and inserts thirty
      val second = (41L to 80L).map(i =>
        (i, ts(s"2024-01-0${1 + i % 3} 11:00:00"), 10.0 * i))
      input.addData(second: _*)
      query.processAllAvailable()
      assert(seen.value === (first.length + second.length).toLong,
        "each released row must pass the lineage exactly once")
      val got = graft.etl.SnapshotMerge.read(spark, table).collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("value")).toMap
      assert(got === (1L to 40L).map(i => i -> i.toDouble).toMap ++
        (41L to 80L).map(i => i -> 10.0 * i).toMap)
    } finally query.stop()
  }
}
