package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.etl.SnapshotMerge

/** The streaming MERGE ingest workload. Seeded `EventGen.videoSessions`
  * events, cut in event-time order into files of `PerFile` events, are
  * released by one generator thread into a watched directory at `Rate`
  * events/s (a seeded share of files is released a second time, as an
  * at-least-once replay). The pipeline under test is
  * `fileStreamSource -> dedupStream -> snapshotMergeSink`, keyed on
  * `event_id` and partitioned by day; one reader thread meanwhile runs a
  * closed loop of snapshot reads and change-feed reads. */
object Ingest {
  val Rate = 1000
  val PerFile = 100
  val ReplayShare = 0.1
  val WarmFiles = 6
  val Keys = Seq("event_id")
  val TsCol = "event_timestamp"

  final case class Release(name: String, src: String, replay: Boolean, dueMs: Long,
                           var at: Long = -1L)

  def run(spark: SparkSession, a: Main.Args): Map[String, Any] = {
    val root = s"${a.out}/ingest"
    val staging = s"$root/staging"
    val nFiles = math.ceil(a.seconds * Rate / PerFile).toInt
    val period = 1000L * PerFile / Rate

    // inputs: generate, order by event time, cut into files
    val tInputs = Main.now()
    val nEvents = (nFiles + WarmFiles) * PerFile
    val events = graft.gen.EventGen.videoSessions(spark, nEvents / 11 + 1, 8, a.seed)
    val schema = events.schema
    Files.createDirectories(Paths.get(staging))
    events.orderBy(col(TsCol), col("event_id")).limit(nEvents).collect()
      .grouped(PerFile).zipWithIndex.foreach { case (rows, i) =>
        writeParquet(spark, schema, rows, f"$staging/f-$i%05d.parquet")
      }
    val inputsS = (Main.now() - tInputs) / 1000.0

    // schedule: file i (after the warm-up files) at i * period; a replay of
    // a seeded share of files 3..12 slots later, between two first releases
    val rnd = new scala.util.Random(a.seed * 31 + 7)
    val first = (0 until nFiles).map { i =>
      val f = f"f-${i + WarmFiles}%05d.parquet"
      Release(f, f, replay = false, i * period)
    }
    val replays = (0 until nFiles).flatMap { i =>
      val slot = i + 3 + rnd.nextInt(10)
      if (rnd.nextDouble() < ReplayShare && slot < nFiles)
        Some(Release(f"r-${i + WarmFiles}%05d.parquet", first(i).name, replay = true,
          slot * period + period / 2))
      else None
    }
    val schedule = (first ++ replays).sortBy(_.dueMs)

    // untimed cold warm-up: the stream starts and commits the warm-up
    // files in two triggers (two epochs), and the reader runs once, so the
    // window opens on a running stream with a change feed to read
    val tWarm = Main.now()
    val watch = s"$root/watch"
    val store = s"$root/store"
    Files.createDirectories(Paths.get(watch))
    spark.sparkContext.setLocalProperty(Trace.OpKey, "stream")
    val q = pipeline(spark, watch, store, s"$root/ckpt", schema)
    spark.sparkContext.setLocalProperty(Trace.OpKey, null)
    (0 until WarmFiles).grouped(WarmFiles / 2).foreach { g =>
      g.foreach(i => release(f"$staging/f-$i%05d.parquet", watch, f"f-$i%05d.parquet"))
      q.processAllAvailable()
    }
    val startRows = readOp(spark, store)
    changesOp(spark, store)
    val warmupS = (Main.now() - tWarm) / 1000.0
    val heapWarm = Main.liveHeapMb()
    Trace.enabled = a.trace
    val setupEnd = Main.now()
    val windowMs = (a.seconds * 1000).toLong
    val tEnd = setupEnd + windowMs

    val generator = new Thread(() => {
      schedule.foreach { r =>
        val wait = setupEnd + r.dueMs - Main.now()
        if (wait > 0) Thread.sleep(wait)
        release(s"$staging/${r.src}", watch, r.name)
        r.at = Main.now()
      }
    }, "perfbench-generator")

    // one reader op = a rollup of the tip snapshot, then the change feed
    // between the two newest epochs
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val reader = new Thread(() => {
      var seq = 0
      var lastTotal = 0L
      while (Main.now() < tEnd) {
        seq += 1
        spark.sparkContext.setLocalProperty(Trace.OpKey, s"r$seq")
        val t0 = Main.now()
        var tRead = -1L
        val res: Either[String, Long] =
          try {
            val n = readOp(spark, store)
            tRead = Main.now()
            changesOp(spark, store)
            Right(n)
          } catch { case e: Throwable => Left(Main.errMsg(e)) }
        val t1 = Main.now()
        // the store only grows: a read that sees fewer rows than an
        // earlier one lost committed data
        val err = res match {
          case Right(n) if n < lastTotal => Some(s"read $n rows after $lastTotal")
          case Right(n) => lastTotal = n; None
          case Left(e) => Some(e)
        }
        reads.add(Map("start" -> t0, "read_end" -> (if (tRead < 0) t1 else tRead), "end" -> t1,
          "ok" -> err.isEmpty, "error" -> err, "rows" -> res.toOption))
      }
    }, "perfbench-reader")

    generator.start(); reader.start()
    generator.join(); reader.join()
    val windowEnd = Main.now()
    // committed at the tip when the window closes
    val tip = SnapshotMerge.latestSnapshot(spark, store)
    val tipRows = tip.map(s => SnapshotMerge.read(spark, store, Some(s.epoch)).count()).getOrElse(0L)
    Trace.enabled = false

    // drain, then check the store against keepLatest over every release;
    // the heap is read with the stream idle, not mid-trigger
    val drainErr = try { q.processAllAvailable(); None }
      catch { case e: Throwable => Some(Main.errMsg(e)) }
    val heapEnd = Main.liveHeapMb()
    val storageBytes = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
    q.stop()
    def logOffset(json: String): Long =
      if (json == null) -1L
      else new com.fasterxml.jackson.databind.ObjectMapper().readTree(json).path("logOffset").asLong(-1L)
    val progress = q.recentProgress.toSeq.map { p =>
      Map("batch" -> p.batchId,
        "src_start" -> logOffset(p.sources.head.startOffset),
        "src_end" -> logOffset(p.sources.head.endOffset),
        "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "duration_ms" -> Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
        "rows" -> p.numInputRows)
    }
    val expectedDf = withDay(spark.read.schema(schema).parquet(watch))
    val expected = graft.etl.Dedup.keepLatest(expectedDf, Keys, Seq(col(TsCol)))
    val got = SnapshotMerge.read(spark, store)
    val (gotN, gotH) = Main.digest(got)
    val (expN, expH) = Main.digest(expected.select(got.columns.map(col).toIndexedSeq: _*))

    val snaps = SnapshotMerge.committedEpochs(spark, store).map(SnapshotMerge.snapshot(spark, store, _))
    val tipSnap = snaps.last
    val filesPerCommit = snaps.map(s => s.parts.collect {
      case (p, e) if e == s.epoch => s.stats.get(p).map(_.files).getOrElse(0)
    }.sum.toDouble)
    val liveBytes = tipSnap.stats.values.map(_.bytes).sum
    val diskBytes = Files.walk(Paths.get(store)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith("."))
      .map(Files.size).sum
    val inputBytes = schedule.map(r => Files.size(Paths.get(s"$watch/${r.name}"))).sum

    Map("workload" -> "ingest", "setup_end" -> setupEnd, "window_end" -> windowEnd,
      "inputs_s" -> inputsS, "warmup_s" -> warmupS,
      "heap_mb" -> Seq(heapWarm, heapEnd), "storage_bytes" -> storageBytes,
      "releases" -> schedule.map(r => Map("name" -> r.name, "replay" -> r.replay,
        "due" -> (setupEnd + r.dueMs), "at" -> r.at)),
      "file_batches" -> fileBatches(s"$root/ckpt"),
      "progress_all" -> progress, "reads" -> reads.asScala.toSeq,
      "start_rows" -> startRows, "tip_rows" -> tipRows, "tip_epoch" -> tip.map(_.epoch),
      "drain_error" -> drainErr,
      "final" -> Map("ok" -> (gotN == expN && gotH == expH), "rows" -> gotN,
        "expected_rows" -> expN),
      "store" -> Map("commits" -> tipSnap.epoch, "files_per_commit" -> filesPerCommit,
        "live_bytes" -> liveBytes, "disk_bytes" -> diskBytes, "input_bytes" -> inputBytes),
      "jobs" -> Trace.jobRecords, "stages" -> Trace.stageRecords,
      "tasks" -> Trace.taskRecords, "qes" -> Trace.qeRecords,
      "progress" -> Trace.progressRecords, "trace_callback_ms" -> Trace.callbackNs.get / 1e6)
  }

  private def withDay(df: DataFrame): DataFrame =
    df.withColumn("day", to_date(col(TsCol)).cast("string"))

  private def pipeline(spark: SparkSession, watch: String, store: String, ckpt: String,
                       schema: StructType): StreamingQuery = {
    val src = graft.streaming.Streams.fileStreamSource(spark, watch, schema)
    val deduped = graft.streaming.Streams.dedupStream(withDay(src), "event_id", TsCol)
    graft.streaming.Streams.snapshotMergeSink(deduped, store, ckpt, Keys, TsCol, "day").start()
  }

  /** One parquet file of `rows`, written without a Spark job. */
  private def writeParquet(spark: SparkSession, schema: StructType, rows: Seq[Row], file: String): Unit = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation => L, MessageType, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val fields = schema.fields.toSeq.map { f =>
      f.dataType match {
        case StringType => Types.optional(BINARY).as(L.stringType()).named(f.name)
        case IntegerType => Types.optional(INT32).named(f.name)
        case LongType => Types.optional(INT64).named(f.name)
        case DoubleType => Types.optional(DOUBLE).named(f.name)
        case TimestampType =>
          Types.optional(INT64).as(L.timestampType(true, L.TimeUnit.MICROS)).named(f.name)
        case t => throw new IllegalArgumentException(s"unsupported column type $t")
      }
    }
    val pq = new MessageType("event", fields: _*)
    val factory = new org.apache.parquet.example.data.simple.SimpleGroupFactory(pq)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file)).withType(pq)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach { r =>
      val g = factory.newGroup()
      schema.fields.indices.filterNot(r.isNullAt).foreach { i =>
        val name = schema.fields(i).name
        r.get(i) match {
          case v: String => g.append(name, v)
          case v: java.lang.Integer => g.append(name, v.intValue)
          case v: java.lang.Long => g.append(name, v.longValue)
          case v: java.lang.Double => g.append(name, v.doubleValue)
          case v: java.sql.Timestamp =>
            g.append(name, org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(v))
          case v => throw new IllegalArgumentException(s"unsupported value $v")
        }
      }
      w.write(g)
    } finally w.close()
  }

  /** Copy under a hidden name, then rename into place: the stream sees a
    * whole file or none. */
  private def release(src: String, watch: String, name: String): Unit = {
    val tmp = Paths.get(s"$watch/.$name.tmp")
    Files.copy(Paths.get(src), tmp)
    Files.move(tmp, Paths.get(s"$watch/$name"), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Per-day rollup of the tip snapshot; returns the total row count. */
  def readOp(spark: SparkSession, store: String): Long =
    SnapshotMerge.read(spark, store).groupBy("day")
      .agg(count(lit(1)).as("n"), sum(col("playback_position")).as("pos"))
      .collect().map(_.getLong(1)).sum

  /** Change feed between the two newest epochs; returns its row count. */
  def changesOp(spark: SparkSession, store: String): Long = {
    val epochs = SnapshotMerge.committedEpochs(spark, store).takeRight(2)
    SnapshotMerge.changes(spark, store, epochs.head, epochs.last).count()
  }

  /** The batch that took each file, from the file source's metadata log. */
  private def fileBatches(ckpt: String): Seq[Map[String, Any]] = {
    val dir = Paths.get(s"$ckpt/sources/0")
    if (!Files.isDirectory(dir)) Nil
    else {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      Files.list(dir).iterator().asScala.toSeq
        .filter(p => !p.getFileName.toString.startsWith("."))
        .flatMap(p => Files.readAllLines(p).asScala.drop(1))
        .filter(_.startsWith("{"))
        .map { line =>
          val n = mapper.readTree(line)
          Map("name" -> Paths.get(new java.net.URI(n.get("path").asText())).getFileName.toString,
            "batch" -> n.get("batchId").asLong)
        }.distinct
    }
  }
}
