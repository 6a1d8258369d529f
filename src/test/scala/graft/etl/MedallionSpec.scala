package graft.etl

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.SparkSuite

class MedallionSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("batch medallion: raw → bronze (validated+deduped) → silver → gold on disk") {
    val root = java.nio.file.Files.createTempDirectory("graft_medallion").toString
    val layout = Medallion.Layout(root)
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 10.0),
      (1L, ts("2024-01-01 10:00:05"), 1L, "view", 11.0),   // dup event_id, later → survives
      (2L, ts("2024-01-01 10:01:00"), 1L, "purchase", 20.0),
      (3L, ts("2024-01-02 09:00:00"), 2L, "view", -5.0),   // invalid: neg value → quarantine
      (4L, ts("2024-01-02 09:30:00"), 2L, "click", 7.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")

    val counts = Medallion.runBatch(spark, events, layout)
    assert(counts("raw") === 5)
    assert(counts("quarantine") === 1)

    // quarantine rows carry the DLQ error-context envelope
    val dlq = spark.read.parquet(layout.quarantine).head()
    assert(dlq.getAs[Seq[String]]("_dlq_error_tags") === Seq("neg_value"))
    assert(dlq.getAs[String]("_dlq_source") === "events_raw")
    assert(dlq.getAs[java.sql.Timestamp]("_dlq_quarantined_at") != null)
    assert(counts("bronze") === 3) // 5 - 1 invalid - 1 dup
    assert(counts("silver_sessions") === 2) // (user1, d1), (user2, d2)
    assert(counts("gold_daily") === 2)

    // dedup kept the later version of event 1
    val bronze = spark.read.parquet(layout.bronze)
    assert(bronze.filter($"event_id" === 1L).head().getAs[Double]("value") === 11.0)

    // raw layer is time-partitioned (partition pruning source)
    assert(new java.io.File(s"${layout.raw}/year=2024/month=1").list().exists(_.startsWith("day=")))

    val gold = spark.read.parquet(layout.goldDaily)
    val u1 = gold.filter($"user_id" === 1L).head()
    assert(u1.getAs[String]("event_types") === "purchase,view")
    assert(u1.getAs[Long]("purchases") === 1L)
  }

  test("EtlJob.run: incremental extract, quarantine, dedup, merge-load with metrics") {
    val root = java.nio.file.Files.createTempDirectory("graft_etljob").toString
    val target = s"$root/target"
    val rules = Seq(Quality.Rule("neg", $"value" < 0))
    def addDay(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("day", to_date($"ts").cast("string"))

    val batch1 = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0),
      (2L, ts("2024-01-01 11:00:00"), 1L, "view", 2.0),
      (3L, ts("2024-01-01 12:00:00"), 2L, "bad", -1.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")

    val m1 = EtlJob.run(spark, batch1, target, "ts", Seq("event_id"), rules,
      addDay, "day", Some(s"$root/quar"))
    assert(m1 === EtlJob.Metrics(3, 2, 1, 2, 2, 2.0 / 3))

    // batch 2 replays batch 1 (filtered by watermark) + new rows
    val batch2 = batch1.union(Seq(
      (4L, ts("2024-01-02 09:00:00"), 2L, "click", 4.0),
      (5L, ts("2024-01-02 10:00:00"), 2L, "view", 5.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value"))

    val m2 = EtlJob.run(spark, batch2, target, "ts", Seq("event_id"), rules,
      addDay, "day", Some(s"$root/quar"))
    // watermark is 11:00 (the invalid 12:00 row was quarantined, not
    // loaded) → re-extracts that row plus the two new ones
    assert(m2.extracted === 3)
    assert(m2.quarantined === 1)
    assert(m2.loaded === 2)

    val loaded = SnapshotMerge.read(spark, target)
    assert(loaded.count() === 4)
    assert(loaded.select("event_id").as[Long].collect().toSet === Set(1L, 2L, 4L, 5L))
  }

  private def etlEvents = Seq(
    (1L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0),
    (2L, ts("2024-01-01 11:00:00"), 1L, "view", 2.0),
    (3L, ts("2024-01-02 09:00:00"), 2L, "click", 3.0),
    (4L, ts("2024-01-02 10:00:00"), 2L, "view", 4.0)
  ).toDF("event_id", "ts", "user_id", "event_type", "value")

  test("EtlJob.run after a crashed first load still loads every valid row") {
    // the first load died during job commit and left the later day's
    // part files under the target with no commit; its watermark would
    // be 2024-01-02 10:00 and the earlier day would never load
    val target = java.nio.file.Files.createTempDirectory("graft_etlcrash").toString + "/target"
    def addDay(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("day", to_date($"ts").cast("string"))
    addDay(etlEvents.filter($"event_id" >= 3L)).write.partitionBy("day").parquet(target)
    val m = EtlJob.run(spark, etlEvents, target, "ts", Seq("event_id"), Seq.empty,
      addDay, "day")
    assert(m.extracted === 4 && m.loaded === 4)
    val loaded = SnapshotMerge.read(spark, target)
    assert(loaded.select("event_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L, 4L))
  }

  test("EtlJob.run unpersists every cached frame when the load throws") {
    val target = java.nio.file.Files.createTempDirectory("graft_etlleak").toString + "/target"
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // a timestamp partition column is refused before anything is staged
    intercept[IllegalArgumentException] {
      EtlJob.run(spark, etlEvents, target, "ts", Seq("event_id"), Seq.empty,
        identity, "ts")
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet === before)
  }
}
