package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The streaming span-dedup gate rewrites incoming documents against
  * the static corpus span index, with batch parity: the rewrite equals
  * the batch `d9_span_dedup` row over corpus ∪ stream (corpus ids
  * first, streamed docs span-disjoint from each other — the gate's
  * documented one-sided contract). */
class SpanDedupStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // spans are 10 words; build documents from named 10-word blocks
  private def block(tag: String): String =
    (0 until 10).map(i => s"${tag}$i").mkString(" ")
  private val corpusDoc = s"${block("a")} ${block("b")}"
  // doc 10: one corpus span (a), one fresh span (x), the fresh span
  // REPEATED (within-doc dup), and a trailing partial span
  private val mixedDoc =
    s"${block("a")} ${block("x")} ${block("x")} tail1 tail2"
  // doc 11: all spans already in the corpus — must vanish entirely
  private val dupDoc = s"${block("b")} ${block("a")}"

  test("gate rewrites against the corpus index; batch parity on the rewrite") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((1L, corpusDoc)).toDF("doc_id", "text")
    val index = SpanDedupStream.spanIndex(corpus)

    val stream = MemoryStream[(Long, String, Timestamp)]
    val q = SpanDedupStream.spanGate(
      stream.toDF().toDF("doc_id", "text", "ts"), index)
      .writeStream.format("memory").queryName("span_gate")
      .outputMode("append").start()

    stream.addData(
      (10L, mixedDoc, ts("2024-01-01 00:00:00")),
      (11L, dupDoc, ts("2024-01-01 00:00:00")))
    q.processAllAvailable()
    // append-mode aggregation emits once the watermark PASSES the
    // group's event time — advance it with a later batch
    stream.addData((12L, block("y"), ts("2024-01-01 01:00:00")))
    q.processAllAvailable()
    val rows = spark.table("span_gate")
      .select("doc_id", "kept_text", "n_kept").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    q.stop()
    // doc 10 keeps the fresh span ONCE plus the partial tail; doc 11
    // (all corpus spans) never lands
    assert(rows.map(_._1).sorted == Seq(10L), rows)
    val (_, kept, nKept) = rows.head
    assert(kept == s"${block("x")} tail1 tail2", kept)
    assert(nKept == 2L, rows)

    // batch parity: d9 over corpus ∪ stream docs yields the same
    // rewrite for doc 10 and no row for doc 11
    Seq((1L, corpusDoc), (10L, mixedDoc), (11L, dupDoc))
      .toDF("doc_id", "text").createOrReplaceTempView("documents")
    val batch = spark.sql(graft.textops.TextQueries.d9SparkSqlForTest)
      .where("doc_id >= 10")
      .select("doc_id", "kept_text", "n_kept").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(batch == Seq((10L, kept, nKept)), batch)
  }
}
