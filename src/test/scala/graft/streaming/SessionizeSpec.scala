package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.operators.SurfaceQueries

class SessionizeSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("session_window and gaps-and-islands sessionization agree on the fixture") {
    val ev = graft.Tables.events(spark, sfDir("0.001"))
    val builtin = Sessionize.sessionWindowRollup(ev, "2 hours")
      .select("user_id", "session_start_s", "session_end_s", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val gaps = SurfaceQueries.sessionizeGaps(ev)
      .select("user_id", "session_start_s", "session_end_s", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(builtin === gaps)
    assert(builtin.nonEmpty)
  }

  test("flatMapGroupsWithState sessionize emits closed sessions via event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Sessionize.SessionEvent]
    val out = Sessionize.sessionize(spark, input.toDS(), gapMs = 10 * 60 * 1000L,
      watermark = "5 minutes")
    val query = out.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // burst 1: three events within the gap → one session
      input.addData(
        Sessionize.SessionEvent(1, ts("2024-01-01 10:00:00"), 1, "view", 1.0),
        Sessionize.SessionEvent(2, ts("2024-01-01 10:05:00"), 1, "view", 2.0),
        Sessionize.SessionEvent(3, ts("2024-01-01 10:08:00"), 1, "purchase", 3.0))
      query.processAllAvailable()
      // burst 2: same user much later → closes session 1 in-function;
      // another user far ahead pushes the watermark
      input.addData(
        Sessionize.SessionEvent(4, ts("2024-01-01 12:00:00"), 1, "view", 4.0),
        Sessionize.SessionEvent(5, ts("2024-01-01 13:00:00"), 2, "view", 5.0))
      query.processAllAvailable()

      // session 1 closed by the later event; session 2 (12:00) closed by
      // event-time timeout once user 2's 13:00 event advanced the
      // watermark past 12:10
      val rows = spark.table("sessions").collect().sortBy(_.getAs[Timestamp]("session_start").getTime)
      assert(rows.length === 2)
      val s1 = rows.head
      assert(s1.getAs[Long]("user_id") === 1L)
      assert(s1.getAs[Timestamp]("session_start") === ts("2024-01-01 10:00:00"))
      assert(s1.getAs[Timestamp]("session_end") === ts("2024-01-01 10:18:00")) // last + gap
      assert(s1.getAs[Int]("n_events") === 3)
      assert(s1.getAs[Double]("total_value") === 6.0)
      val s2 = rows(1)
      assert(s2.getAs[Long]("user_id") === 1L)
      assert(s2.getAs[Timestamp]("session_start") === ts("2024-01-01 12:00:00"))
      assert(s2.getAs[Int]("n_events") === 1)
    } finally query.stop()
  }

  test("native cosine_sim expression matches the HOF composition") {
    graft.Tables.configure(spark)
    val df = Seq(
      (Array(1f, 2f, 3f), Array(4f, 5f, 6f)),
      (Array(0.5f, -1f, 2f), Array(1f, 1f, 1f)))
      .toDF("a", "b")
      .withColumn("native", graft.functions.VectorOps.cosine($"a", $"b"))
      .withColumn("hof", graft.functions.VectorOps.cosineHof($"a", $"b"))
    df.collect().foreach { r =>
      assert(math.abs(r.getAs[Double]("native") - r.getAs[Double]("hof")) < 1e-12)
    }
  }

  test("asof join: NULL payload in the matched right row stays NULL (no older-row leak)") {
    val left = Seq((1L, 250L, "e1")).toDF("k", "t", "tag")
    val right = Seq((1L, 100L, Some(5.0)), (1L, 200L, None)).toDF("k", "t", "v")
    val out = graft.operators.AsOfJoin.asofJoin(left, right, "k", "t", Seq("v")).head()
    assert(out.isNullAt(out.fieldIndex("asof_v")),
      "the ts=200 match has v=NULL; ignoreNulls must not surface ts=100's value")
  }

  test("cosine_sim of a zero vector is 0, not NaN (would flood top-k)") {
    val df = Seq((Array(0f, 0f), Array(1f, 2f))).toDF("a", "b")
      .withColumn("c", graft.functions.VectorOps.cosine($"a", $"b"))
    assert(df.select("c").head().getDouble(0) === 0.0)
  }

  test("sessionize: a straggler older than the open session emits as its own session") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Sessionize.SessionEvent]
    val out = Sessionize.sessionize(spark, input.toDS(), gapMs = 60 * 1000L,
      watermark = "30 minutes")
    val query = out.writeStream.format("memory").queryName("straggler")
      .outputMode("append").start()
    try {
      input.addData(Sessionize.SessionEvent(1, ts("2024-01-01 10:10:00"), 1, "view", 1.0))
      query.processAllAvailable()
      // 8 minutes earlier, inside the watermark: must NOT merge into the
      // 10:10 session (gap is 1 minute)
      input.addData(Sessionize.SessionEvent(2, ts("2024-01-01 10:02:00"), 1, "view", 2.0))
      query.processAllAvailable()
      val rows = spark.table("straggler").collect()
      assert(rows.length === 1)
      assert(rows.head.getAs[Timestamp]("session_start") === ts("2024-01-01 10:02:00"))
      assert(rows.head.getAs[Int]("n_events") === 1)
    } finally query.stop()
  }

  test("sessionize on a batch Dataset emits the final open session (no timeout in batch)") {
    val ds = Seq(
      Sessionize.SessionEvent(1, ts("2024-01-01 10:00:00"), 1, "view", 1.0),
      Sessionize.SessionEvent(2, ts("2024-01-01 10:05:00"), 1, "view", 2.0),
      Sessionize.SessionEvent(3, ts("2024-01-01 13:00:00"), 1, "view", 4.0)).toDS()
    val out = Sessionize.sessionize(spark, ds, gapMs = 10 * 60 * 1000L).collect()
      .sortBy(_.session_start.getTime)
    assert(out.length === 2, "both the closed and the final open session must emit")
    assert(out(0).n_events === 2)
    assert(out(1).n_events === 1)
  }

  test("consecutive stragglers within gap of each other merge into one session") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Sessionize.SessionEvent]
    val out = Sessionize.sessionize(spark, input.toDS(), gapMs = 60 * 1000L,
      watermark = "30 minutes")
    val query = out.writeStream.format("memory").queryName("stragglers2")
      .outputMode("append").start()
    try {
      input.addData(Sessionize.SessionEvent(1, ts("2024-01-01 10:10:00"), 1, "view", 1.0))
      query.processAllAvailable()
      // two late events 30s apart, both > gap before the open session:
      // they must merge with each other, not emit as overlapping singletons
      input.addData(
        Sessionize.SessionEvent(2, ts("2024-01-01 10:02:00"), 1, "view", 2.0),
        Sessionize.SessionEvent(3, ts("2024-01-01 10:02:30"), 1, "view", 3.0))
      query.processAllAvailable()
      val rows = spark.table("stragglers2").collect()
      assert(rows.length === 1)
      assert(rows.head.getAs[Int]("n_events") === 2)
      assert(rows.head.getAs[Double]("total_value") === 5.0)
    } finally query.stop()
  }

  test("cosine_sim registers into a fresh session and resolves from SQL") {
    // spark.sql.extensions is a static conf (can't apply to an existing
    // context), so the in-process test covers the runtime-registration
    // path; GraftExtensionsSpec covers the extensions injection path.
    val s2 = spark.newSession()
    graft.plans.GraftExtensions.register(s2)
    val one = s2.sql(
      "SELECT cosine_sim(array(cast(1.0 as float)), array(cast(2.0 as float))) AS c")
      .head().getDouble(0)
    assert(math.abs(one - 1.0) < 1e-12)
  }
}
