package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class AlertStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  override def afterAll(): Unit = spark.stop()

  test("windowed alert counts finalize behind the watermark; late drops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp)]
    val q = AlertStream.windowedCounts(stream.toDF().toDF("cell", "ts"))
      .writeStream.format("memory").queryName("wcounts")
      .outputMode("append").start()

    stream.addData((1L, ts("2024-01-01 00:05:00")), (1L, ts("2024-01-01 00:40:00")),
      (2L, ts("2024-01-01 00:50:00")))
    q.processAllAvailable()
    // advance the watermark past 01:00 + 10min so hour-0 finalizes
    stream.addData((1L, ts("2024-01-01 01:20:00")))
    q.processAllAvailable()
    // a late hour-0 event beyond the watermark is DROPPED
    stream.addData((1L, ts("2024-01-01 00:01:00")))
    q.processAllAvailable()
    stream.addData((9L, ts("2024-01-01 03:00:00"))) // push watermark further
    q.processAllAvailable()
    val rows = spark.table("wcounts")
      .selectExpr("CAST(window_start AS STRING)", "cell", "alert_count")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(rows.contains(("2024-01-01 00:00:00", 1L, 2L)), rows) // late event dropped
    assert(rows.contains(("2024-01-01 00:00:00", 2L, 1L)), rows)
  }

  test("stateful sessionization closes sessions on the event-time gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp)]
    val q = AlertStream.sessionize(spark, stream.toDF().toDF("cell", "ts"))
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()

    // cell 1: two alerts 5 min apart (one session), then a 30-min gap
    stream.addData((1L, ts("2024-01-01 00:00:00")), (1L, ts("2024-01-01 00:05:00")))
    q.processAllAvailable()
    stream.addData((1L, ts("2024-01-01 00:35:00"))) // new session after gap
    q.processAllAvailable()
    // push the watermark far ahead so the open session times out
    stream.addData((2L, ts("2024-01-01 02:00:00")))
    q.processAllAvailable()
    stream.addData((2L, ts("2024-01-01 04:00:00")))
    q.processAllAvailable()
    val rows = spark.table("sessions")
      .selectExpr("cell", "CAST(startTs AS STRING)", "CAST(endTs AS STRING)", "alerts")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    q.stop()
    assert(rows.contains((1L, "2024-01-01 00:00:00", "2024-01-01 00:05:00", 2L)), rows)
    assert(rows.contains((1L, "2024-01-01 00:35:00", "2024-01-01 00:35:00", 1L)), rows)
  }

  test("a late out-of-order event extends the session start backward") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp)]
    val q = AlertStream.sessionize(spark, stream.toDF().toDF("cell", "ts"))
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode("append").start()
    // batch 1 opens the session at 00:10; batch 2's event is EARLIER
    // (above the watermark, within the gap) — batch sessionization
    // (w3 sorts globally) would date the session from 00:05
    stream.addData((1L, ts("2024-01-01 00:10:00")))
    q.processAllAvailable()
    stream.addData((1L, ts("2024-01-01 00:05:00")))
    q.processAllAvailable()
    // far-future event on another cell times the session out
    stream.addData((2L, ts("2024-01-01 03:00:00")))
    q.processAllAvailable()
    stream.addData((2L, ts("2024-01-01 06:00:00")))
    q.processAllAvailable()
    val rows = spark.table("late_sessions")
      .selectExpr("cell", "CAST(startTs AS STRING)", "CAST(endTs AS STRING)", "alerts")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    q.stop()
    assert(rows.contains((1L, "2024-01-01 00:05:00", "2024-01-01 00:10:00", 2L)), rows)
  }
}
