package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class AlertAppendSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  test("batch append is idempotent on the unique key") {
    import spark.implicits._
    val existing = Seq((1L, "a"), (2L, "b")).toDF("event_id", "payload")
    val incoming = Seq((2L, "b"), (3L, "c"), (3L, "c")).toDF("event_id", "payload")
    val out = AlertAppend.appendBatch(existing, incoming, Seq("event_id"))
    assert(out.count() == 3)
    assert(out.select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // re-appending the same batch changes nothing
    assert(AlertAppend.appendBatch(out, incoming, Seq("event_id")).count() == 3)
  }

  test("streaming dedup-append drops replayed events within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, String)]
    val df = stream.toDF().toDF("event_id", "ts", "etype")
    val q = AlertAppend.streamingDedup(df, Seq("event_id"))
      .writeStream.format("memory").queryName("alerts").outputMode("append").start()

    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    stream.addData((1L, t0, "glad"), (2L, t0, "viirs"), (1L, t0, "glad")) // replay of 1
    q.processAllAvailable()
    stream.addData((2L, t0, "viirs"), (3L, t0, "glad")) // replay of 2 across batches
    q.processAllAvailable()
    val rows = spark.table("alerts").select("event_id").as[Long].collect().sorted.toSeq
    q.stop()
    assert(rows == Seq(1L, 2L, 3L))
  }
}
