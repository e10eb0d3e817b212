package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The streaming chunker emits exactly the chunk rows the batch
  * `t19_chunk` emits over the same corpus (shared ChunkShape kernel ⇒
  * parity by construction, verified end-to-end on the real sf0.001
  * documents), and per-document output is independent of micro-batch
  * shape. */
class ChunkStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  private def key(r: org.apache.spark.sql.Row) =
    (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4), r.getString(5))

  test("batch parity: gate over the static corpus equals t19's chunks") {
    val docs = graft.Tables.load(spark, sf, "documents").select("doc_id", "text")
    val gateRows = ChunkStream.gate(docs).collect().map(key).toSet
    val batchRows = graft.SparkEntry.queries("t19_chunk")(spark, sf)
      .collect().map(key).toSet
    assert(gateRows == batchRows,
      s"gate=${gateRows.size} batch=${batchRows.size}")
    assert(gateRows.size > docs.count(), "expected overlapping fan-out")
  }

  test("micro-batch shape does not change any document's chunks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expect = ChunkStream.gate(
        graft.Tables.load(spark, sf, "documents").select("doc_id", "text"))
      .collect().map(key)
      .filter(t => docs.take(30).exists(_._1 == t._1)).toSet

    val stream = MemoryStream[(Long, String)]
    val q = ChunkStream.gate(stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("chunk_gate")
      .outputMode("append").start()
    stream.addData(docs.take(7).toSeq)
    q.processAllAvailable()
    stream.addData(docs.slice(7, 30).toSeq)
    q.processAllAvailable()
    val got = spark.table("chunk_gate").collect().map(key).toSet
    q.stop()
    assert(got == expect, s"got=${got.size} expect=${expect.size}")
  }
}
