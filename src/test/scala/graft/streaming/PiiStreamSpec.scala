package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The streaming PII gate redacts in-flight documents with the batch
  * t11 semantics (same PiiShape regexes) and quarantines PII-dense
  * documents instead of ingesting them. */
class PiiStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("gate redacts, passes clean docs untouched, quarantines dense PII") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val stream = MemoryStream[(Long, String, Timestamp)]
    val q = PiiStream.gate(
      stream.toDF().toDF("doc_id", "text", "ts"), maxHits = 2)
      .writeStream.format("memory").queryName("pii_gate")
      .outputMode("append").start()

    stream.addData(
      (1L, "reach me at jo.doe+x@example.org after noon", ts("2024-01-01 00:00:00")),
      (2L, "plain prose with no identifiers at all", ts("2024-01-01 00:00:01")),
      // 2 emails + 1 IP + 1 phone = 4 hits > maxHits: quarantine
      (3L, "a@b.co c@d.io on 192.168.0.1 call 555-1234", ts("2024-01-01 00:00:02")))
    q.processAllAvailable()
    val rows = spark.table("pii_gate")
      .selectExpr("doc_id", "text", "n_emails", "n_ips", "n_phones", "quarantined")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getBoolean(5)))
      .toMap
    q.stop()

    assert(rows(1L) == (("reach me at <EMAIL> after noon", 1, 0, 0, false)))
    // the clean doc passes through byte-identical
    assert(rows(2L) == (("plain prose with no identifiers at all", 0, 0, 0, false)))
    // the dense doc keeps its original text but is flagged
    val (t3, e3, i3, p3, q3) = rows(3L)
    assert((e3, i3, p3, q3) == ((2, 1, 1, true)))
    assert(t3.contains("a@b.co"), "quarantined text must be unredacted for review")
  }

  test("stream scrub equals the batch t11 redaction on the same rows") {
    import spark.implicits._
    // the batch side: t11's exact SQL fragments over a static frame
    val shape = graft.textops.TextQueries.PiiShape
    val docs = Seq(
      (10L, "u1@example.com and 10.0.0.1"),
      (11L, "nothing here"),
      (12L, "ring 555-0000 or 555-9999")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("pii_parity_docs")
    val batch = spark.sql(
      s"""SELECT doc_id, ${shape.redactSql("text", shape.sqlLit)} AS redacted
         |FROM pii_parity_docs""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val stream = PiiStream.scrub(docs)
      .collect().map(r => r.getLong(0) -> r.getAs[String]("redacted")).toMap
    assert(stream == batch)
    assert(batch(10L) == "<EMAIL> and <IP>")
    assert(batch(12L) == "ring <PHONE> or <PHONE>")
  }
}
