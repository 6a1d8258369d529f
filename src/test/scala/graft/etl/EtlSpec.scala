package graft.etl

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.SparkSuite

class EtlSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def ev(id: Long, t: String, user: Long, typ: String, value: Double) =
    (id, ts(t), user, typ, value)

  private lazy val events = Seq(
    ev(1, "2024-01-01 10:00:00", 1, "view", 10.0),
    ev(2, "2024-01-01 10:01:00", 1, "view", 20.0),
    ev(3, "2024-01-01 10:02:00", 1, "purchase", 30.0),
    ev(4, "2024-01-01 11:00:00", 2, "error", 5.0),
    ev(5, "2024-01-01 11:30:00", 2, "view", 15.0)
  ).toDF("event_id", "ts", "user_id", "event_type", "value")

  // ---- W1 dedup ----

  test("keepLatest keeps the newest row per key with deterministic tie-break") {
    val dups = events.union(
      Seq(ev(6, "2024-01-01 10:05:00", 1, "view", 99.0)).toDF(events.columns.toIndexedSeq: _*))
    val out = Dedup.keepLatest(dups, Seq("user_id", "event_type"), Seq(col("ts"), col("event_id")))
    val viewRow = out.filter($"user_id" === 1 && $"event_type" === "view").collect()
    assert(viewRow.length === 1)
    assert(viewRow.head.getAs[Double]("value") === 99.0)
  }

  test("keepLatest is idempotent") {
    val once = Dedup.keepLatest(events, Seq("user_id"), Seq(col("ts"), col("event_id")))
    val twice = Dedup.keepLatest(once, Seq("user_id"), Seq(col("ts"), col("event_id")))
    assert(once.collect().toSet === twice.collect().toSet)
  }

  // ---- A4/W2 sessions ----

  test("rollup: completion_rate in [0,1], duration >= 0, engagement formula") {
    val out = Sessions.rollup(events, "user_id").collect()
    out.foreach { r =>
      val cr = r.getAs[Double]("completion_rate")
      assert(cr >= 0.0 && cr <= 1.0)
      assert(r.getAs[Double]("session_duration_min") >= 0.0)
      val es = r.getAs[Double]("engagement_score")
      assert(es === r.getAs[Long]("n_events") * 0.3 + r.getAs[Long]("uniq_types") * 0.7)
    }
  }

  test("enrich attaches identical session stats to every event of the session") {
    val out = Sessions.enrich(events, "user_id")
    val u1 = out.filter($"user_id" === 1).select("session_events", "session_duration_s")
      .distinct().collect()
    assert(u1.length === 1)
    assert(u1.head.getLong(0) === 3L)
    assert(u1.head.getLong(1) === 120L)
  }

  // ---- S7/S8 merge ----

  test("upsert replaces matched keys and inserts unmatched") {
    val target = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "tag", "v")
    val source = Seq((2L, "B", 20.0), (3L, "c", 3.0)).toDF("id", "tag", "v")
    val out = Merge.upsert(target, source, Seq("id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(out === Set((1L, "a", 1.0), (2L, "B", 20.0), (3L, "c", 3.0)))
  }

  test("upsert is idempotent for identical source") {
    val target = Seq((1L, "a"), (2L, "b")).toDF("id", "tag")
    val source = Seq((2L, "B")).toDF("id", "tag")
    val once = Merge.upsert(target, source, Seq("id"))
    val twice = Merge.upsert(once, source, Seq("id"))
    assert(once.collect().toSet === twice.collect().toSet)
  }

  test("delete keeps null-predicate rows (SQL DELETE semantics)") {
    val df = Seq((1L, Some("x")), (2L, None), (3L, Some("y")))
      .toDF("id", "tag")
    val out = Merge.delete(df, $"tag" === "x").select("id").as[Long].collect().toSet
    assert(out === Set(2L, 3L))
  }

  test("update rewrites only matching rows") {
    val df = Seq((1L, 10.0), (2L, 200.0)).toDF("id", "v")
    val out = Merge.update(df, $"v" > 100, Map("v" -> lit(0.0)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(out === Set((1L, 10.0), (2L, 0.0)))
  }

  // ---- P15/A7 incremental ----

  test("incremental read: empty target means full source; else strictly newer rows") {
    val empty = events.filter(lit(false))
    assert(Incremental.newRows(events, empty, "ts").count() === events.count())
    val target = events.filter($"ts" < lit("2024-01-01 11:00:00").cast("timestamp"))
    val fresh = Incremental.newRows(events, target, "ts")
    assert(fresh.select("event_id").as[Long].collect().toSet === Set(4L, 5L))
  }

  // ---- P11/P12 quality ----

  test("quality rules produce flags, score, and a clean/quarantine split") {
    val rules = Seq(
      Quality.Rule("neg", $"value" < 0),
      Quality.Rule("no_user", $"user_id".isNull))
    val df = Seq((Some(1L), 5.0), (None, -1.0), (Some(2L), -3.0))
      .toDF("user_id", "value")
    val validated = Quality.validate(df, rules)
    val (clean, quarantined) = Quality.quarantine(validated)
    assert(clean.count() === 1)
    assert(quarantined.count() === 2)
    val worst = validated.filter($"user_id".isNull).head()
    assert(worst.getAs[String]("_dq_errors") === "neg,no_user")
    assert(worst.getAs[Double]("_dq_score") === 0.0)
  }

  test("validate with no rules scores 1.0, not NaN") {
    val df = Seq((1L, 5.0)).toDF("user_id", "value")
    val row = Quality.validate(df, Seq.empty).head()
    assert(row.getAs[Boolean]("_dq_valid"))
    assert(row.getAs[Double]("_dq_score") === 1.0)
    assert(row.getAs[String]("_dq_errors") === "")
  }

  test("quarantineWithContext attaches the DLQ error envelope") {
    val rules = Seq(Quality.Rule("neg", $"value" < 0))
    val df = Seq((1L, 5.0), (2L, -1.0)).toDF("user_id", "value")
    val (clean, dlq) = Quality.quarantineWithContext(Quality.validate(df, rules), "events_raw")
    assert(clean.count() === 1)
    assert(!clean.columns.contains("_dlq_source"), "clean side carries no DLQ envelope")
    val bad = dlq.head()
    assert(bad.getAs[Seq[String]]("_dlq_error_tags") === Seq("neg"))
    assert(bad.getAs[String]("_dlq_source") === "events_raw")
    assert(bad.getAs[java.sql.Timestamp]("_dlq_quarantined_at") != null)
  }

  test("rulesFromSchema derives required-field and enum-domain rules") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", StringType, nullable = false),
      StructField("tier", StringType, nullable = true)))
    val rules = Quality.rulesFromSchema(schema, Map("tier" -> Seq("free", "premium")))
    assert(rules.map(_.tag) === Seq("null_event_id", "domain_tier"))
    val df = Seq(
      (Some("e1"), Some("free")),     // clean
      (None, Some("premium")),        // null required
      (Some("e3"), Some("platinum")), // out of domain
      (Some("e4"), None)              // null optional: NOT a domain violation
    ).toDF("event_id", "tier")
    val v = Quality.validate(df, rules).select("_dq_errors").as[String].collect()
    assert(v === Seq("", "null_event_id", "domain_tier", ""))
  }

  // ---- S9 maintenance ----

  test("compactAndCluster produces the requested file count, sorted within files") {
    val df = (1 to 1000).map(i => (i.toLong, (1000 - i).toLong)).toDF("k", "v")
    val out = Maintenance.compactAndCluster(df.repartition(13), Seq("v"), 4)
    assert(out.rdd.getNumPartitions === 4)
    // rows inside each partition are sorted by the cluster key
    val sortedWithin = out.rdd.mapPartitions { it =>
      val vs = it.map(_.getAs[Long]("v")).toSeq
      Iterator(vs == vs.sorted)
    }.collect()
    assert(sortedWithin.forall(identity))
  }

  test("clustering enables data skipping: a range scan prunes files and row groups") {
    // The POINT of rewriteClustered (the Z-ORDER analog): after the
    // rewrite, parquet min/max stats let a range filter skip most of the
    // table. Before: round-robin layout → every file spans the full key
    // range → nothing skips. After: repartitionByRange → ≤2 of 8 files
    // intersect a 10% key range.
    val dir = java.nio.file.Files.createTempDirectory("graft_skip").toString + "/t"
    (1 to 8000).map(i => ((i * 2654435761L) % 8000, i.toLong)) // scrambled key order
      .toDF("k", "payload")
      .repartition(8).write.parquet(dir)

    def parquetFiles = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet"))
    def intersectingFiles(lo: Long, hi: Long): Int = parquetFiles.count { f =>
      val mm = spark.read.parquet(f.getAbsolutePath)
        .agg(min(col("k")), max(col("k"))).head()
      mm.getLong(0) <= hi && mm.getLong(1) >= lo
    }
    def scannedRows(lo: Long, hi: Long): Long = {
      val q = spark.read.parquet(dir).filter(col("k") >= lo && col("k") <= hi)
      q.collect()
      // with pushed parquet filters, the scan only emits rows from row
      // groups whose stats intersect the range — the direct runtime
      // measure of data skipping
      q.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics("numOutputRows").value).sum
    }

    val (lo, hi) = (3000L, 3799L) // a 10% slice of the key domain
    val filesBefore = intersectingFiles(lo, hi)
    val rowsBefore = scannedRows(lo, hi)
    assert(filesBefore === 8, "round-robin layout: every file spans the range")

    Maintenance.rewriteClustered(spark, dir, Seq("k"), 8)

    val filesAfter = intersectingFiles(lo, hi)
    val rowsAfter = scannedRows(lo, hi)
    assert(filesAfter < filesBefore,
      s"clustered layout must prune files: $filesAfter vs $filesBefore of 8")
    assert(filesAfter <= 2, s"a 10% range should hit ≤2 of 8 range-partitioned files, got $filesAfter")
    assert(rowsAfter < rowsBefore,
      s"scan must emit fewer rows via row-group skipping: $rowsAfter vs $rowsBefore")
    // identical results either way — skipping is purely physical
    assert(spark.read.parquet(dir).filter(col("k") >= lo && col("k") <= hi).count() === 800)
  }

  test("q75: the registered clustered rollup skips — scan emits a small fraction") {
    // the receipt behind the q75 oracle row: the CORRECTNESS gate proves
    // the clustered rewrite preserves results; this pins that the scan
    // over it actually SKIPS (pushed (event_type, value) predicates vs
    // the per-file/row-group stats the rewrite tightened)
    val q = graft.sources.PartitionedLayout.clusteredRollup(spark, sfDir("0.001"))
    q.collect()
    // the aggregate plan runs under AQE: unwrap adaptive/query-stage
    // nodes to reach the parquet scan's runtime metric
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scanRows(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => scanRows(a.executedPlan)
      case qs: QueryStageExec       => scanRows(qs.plan)
      case s: FileSourceScanExec    => s.metrics("numOutputRows").value
      case other                    => other.children.map(scanRows).sum
    }
    val scanned = scanRows(q.queryExecution.executedPlan)
    val total = spark.read.parquet(
      graft.sources.PartitionedLayout.clusteredEventsDir(spark, sfDir("0.001"))).count()
    assert(scanned <= total * 2 / 5,
      s"clustered scan must skip most of the table: emitted $scanned of $total rows")
  }
}
