package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.analytics.StreamingQueries
import graft.streaming.Sessionize.UserEvent

/** s14's MapState processor: exact per-(type, user) counts must survive
  * micro-batch placement, salting must not split a user's count, and the
  * max-over-emissions fold must recover exact finals. */
class HeavyHittersSpec extends AnyFunSuite with Matchers with SparkSpec {

  private def ts(min: Int) = new Timestamp(min * 60000L)

  test("MapState counts accumulate across micro-batches; emissions cover exactly the touched users") {
    val s = spark; import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    StreamingQueries.withConf(spark, StreamingQueries.RocksDbStateStore) {
      val input = MemoryStream[UserEvent]
      val q = HeavyHitters.typeUserCounts(input.toDS(), nSalts = 3L)
        .writeStream.format("memory").queryName("hh_counts")
        .outputMode("update")
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        input.addData(UserEvent(3, "view", ts(0)), UserEvent(3, "view", ts(1)),
          UserEvent(4, "view", ts(2)), UserEvent(3, "click", ts(3)))
        q.processAllAvailable()
        input.addData(UserEvent(3, "view", ts(5)), UserEvent(5, "view", ts(6)))
        q.processAllAvailable()

        val rows = spark.sql(
          "SELECT eventType, userId, n FROM hh_counts")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        // batch 1 emits (view,3)->2, (view,4)->1, (click,3)->1;
        // batch 2 emits (view,3)->3, (view,5)->1 — state carried across
        rows.toSet shouldBe Set(
          ("view", 3L, 2L), ("view", 4L, 1L), ("click", 3L, 1L),
          ("view", 3L, 3L), ("view", 5L, 1L))
        // the max-over-emissions fold recovers exact finals
        val finals = spark.sql(
          """SELECT eventType, userId, max(n) FROM hh_counts
            |GROUP BY eventType, userId""".stripMargin)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        finals shouldBe Set(("view", 3L, 3L), ("view", 4L, 1L),
          ("click", 3L, 1L), ("view", 5L, 1L))
      } finally {
        q.stop()
        spark.sql("DROP TABLE IF EXISTS hh_counts")
      }
    }
  }
}
