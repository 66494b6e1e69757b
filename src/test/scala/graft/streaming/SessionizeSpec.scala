package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.analytics.StreamingQueries
import Sessionize.UserEvent

/** Event-time + stateful streaming coverage: session_window with watermark
  * and mapGroupsWithState custom state. */
class SessionizeSpec extends AnyFunSuite with Matchers with SparkSpec {

  private def ts(minutes: Long): Timestamp = new Timestamp(minutes * 60000L)

  test("session_window groups events by gap; sessions close after the watermark") {
    val s = spark; import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val q = Sessionize.sessionCounts(input.toDS(), gap = "10 minutes", watermark = "0 seconds")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(Sessionize.sessionOutputMode)
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // user 1: two sessions (0-5min, then 60-62min); user 2: one session
      input.addData(
        UserEvent(1, "view", ts(0)), UserEvent(1, "click", ts(5)),
        UserEvent(2, "view", ts(3)))
      q.processAllAvailable()
      input.addData(UserEvent(1, "purchase", ts(60)), UserEvent(1, "view", ts(62)))
      q.processAllAvailable()
      // advance watermark far enough to close all sessions
      input.addData(UserEvent(99, "view", ts(500)))
      q.processAllAvailable()
      val rows = spark.sql("SELECT userId, n_events FROM sessions ORDER BY userId, n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      rows should contain allOf ((1L, 2L), (2L, 1L))
      // user 1 has TWO distinct sessions of 2 events (0-5) and 2 events (60-62)
      rows.count(_ == (1L, 2L)) shouldBe 2
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS sessions")
    }
  }

  test("flatMapGroupsWithState emits each closed session exactly once; live session stays in state") {
    val s = spark; import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val q = Sessionize.closedSessions(input.toDS(), gapMs = 10 * 60000L)
      .writeStream.format("memory").queryName("closed_sessions")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(UserEvent(5, "view", ts(0)), UserEvent(5, "click", ts(4)))
      q.processAllAvailable()
      // nothing closed yet — the 0-4min session is still live in state
      spark.sql("SELECT count(*) FROM closed_sessions").head().getLong(0) shouldBe 0L
      // 30min > gap → closes the first session (2 events), opens a second
      input.addData(UserEvent(5, "view", ts(30)))
      q.processAllAvailable()
      // 90min > gap → closes the second (1 event), opens a third
      input.addData(UserEvent(5, "view", ts(90)))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT nEvents, sessionStartMs FROM closed_sessions WHERE userId = 5 ORDER BY sessionStartMs")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      rows shouldBe Array((2L, 0L), (1L, 30L * 60000L))
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS closed_sessions")
    }
  }

  test("closedSessions: a cross-batch late event earlier than the open session's start extends it backward (ADVICE r4)") {
    val s = spark; import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val q = Sessionize.closedSessions(input.toDS(), gapMs = 10 * 60000L)
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(UserEvent(9, "view", ts(20)))
      q.processAllAvailable()
      // late event BEFORE the open session's start — merges (|diff| ≤ gap)
      // and must pull the start back to 12min, not leave it at 20min
      input.addData(UserEvent(9, "view", ts(12)))
      q.processAllAvailable()
      input.addData(UserEvent(9, "view", ts(60))) // gap crossed → closes it
      q.processAllAvailable()
      val row = spark.sql(
        "SELECT nEvents, sessionStartMs, sessionEndMs FROM late_sessions WHERE userId = 9")
        .head()
      (row.getLong(0), row.getLong(1), row.getLong(2)) shouldBe
        ((2L, 12L * 60000L, 20L * 60000L))
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS late_sessions")
    }
  }

  test("closedSessions with event-time timeout: idle final session emits and its state expires (ADVICE r4)") {
    val s = spark; import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val q = Sessionize.closedSessions(
        input.toDS().withWatermark("ts", "0 seconds"),
        gapMs = 10 * 60000L, eventTimeTimeout = true)
      .writeStream.format("memory").queryName("timeout_sessions")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // events sit above the initial watermark (epoch 0) so none are late
      input.addData(UserEvent(8, "view", ts(30)), UserEvent(8, "click", ts(32)))
      q.processAllAvailable()
      // still open: nothing closed it and the watermark (32min) is before
      // the timeout timestamp (end 32min + gap 10min)
      spark.sql("SELECT count(*) FROM timeout_sessions WHERE userId = 8")
        .head().getLong(0) shouldBe 0L
      // another user's event pushes the watermark past 42min → user 8's
      // idle session times out: emits ONCE with final counts, state gone
      input.addData(UserEvent(99, "view", ts(60)))
      q.processAllAvailable()
      input.addData(UserEvent(98, "view", ts(61))) // extra trigger: no re-emit
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT nEvents, sessionStartMs, sessionEndMs FROM timeout_sessions WHERE userId = 8")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      rows shouldBe Array((2L, 30L * 60000L, 32L * 60000L))
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS timeout_sessions")
    }
  }

  test("transformWithState keeps typed per-user ValueState across micro-batches (RocksDB store)") {
    val s = spark; import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    StreamingQueries.withConf(spark, StreamingQueries.RocksDbStateStore) {
      val input = MemoryStream[UserEvent]
      val q = Sessionize.runningCounts(input.toDS())
        .writeStream.format("memory").queryName("running_counts")
        .outputMode("update")
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        input.addData(UserEvent(3, "view", ts(0)), UserEvent(3, "click", ts(1)),
          UserEvent(4, "view", ts(2)))
        q.processAllAvailable()
        input.addData(UserEvent(3, "purchase", ts(5)))
        q.processAllAvailable()
        val latest = spark.sql(
          "SELECT max(nEvents) FROM running_counts WHERE userId = 3").head().getLong(0)
        latest shouldBe 3L // ValueState carried across micro-batches
        spark.sql("SELECT max(nEvents) FROM running_counts WHERE userId = 4")
          .head().getLong(0) shouldBe 1L
      } finally {
        q.stop()
        spark.sql("DROP TABLE IF EXISTS running_counts")
      }
    }
  }

  test("mapGroupsWithState accumulates per-user session state across micro-batches") {
    val s = spark; import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[UserEvent]
    // NoTimeout in the test: ProcessingTimeTimeout makes the engine run
    // continuous timeout-evaluation batches, so processAllAvailable never
    // quiesces under a 0-interval trigger
    val q = Sessionize.statefulSessions(input.toDS(), gapMs = 10 * 60000L,
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      .writeStream.format("memory").queryName("stateful_sessions")
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(UserEvent(7, "view", ts(0)), UserEvent(7, "click", ts(2)))
      q.processAllAvailable()
      input.addData(UserEvent(7, "purchase", ts(8))) // within gap → same session grows
      q.processAllAvailable()
      val latest = spark.sql(
        "SELECT nEvents FROM stateful_sessions WHERE userId = 7 ORDER BY nEvents DESC LIMIT 1")
        .head().getLong(0)
      latest shouldBe 3L // state carried across micro-batches
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS stateful_sessions")
    }
  }
}
