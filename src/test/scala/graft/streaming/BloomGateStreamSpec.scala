package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The streaming bloom gate drops exact corpus duplicates from a
  * document feed, with batch parity: survivors equal the plain
  * anti-join (the d10 oracle's formulation) over the same inputs. */
class BloomGateStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("gate drops corpus dups, passes fresh docs; batch parity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = (0 until 50).map(i => (i.toLong, s"corpus text $i"))
      .toDF("doc_id", "text")
    val blob = BloomGateStream.corpusBloom(corpus)

    val stream = MemoryStream[(Long, String, Timestamp)]
    val q = BloomGateStream.gate(
        stream.toDF().toDF("doc_id", "text", "ts"), corpus, blob)
      .writeStream.format("memory").queryName("bloom_gate")
      .outputMode("append").start()

    stream.addData(
      (100L, "corpus text 7", ts("2024-01-01 00:00:00")),  // exact dup
      (101L, "corpus text 7 extended", ts("2024-01-01 00:00:01")), // near but not exact
      (102L, "entirely fresh document", ts("2024-01-01 00:00:02")),
      (103L, "corpus text 49", ts("2024-01-01 00:00:03"))) // exact dup
    q.processAllAvailable()
    val rows = spark.table("bloom_gate")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    q.stop()
    assert(rows == Seq(101L, 102L), rows)

    // batch parity: the gate on a STATIC frame equals the plain
    // anti-join over the same inputs
    val inc = Seq(
      (100L, "corpus text 7"), (101L, "corpus text 7 extended"),
      (102L, "entirely fresh document"), (103L, "corpus text 49"))
      .toDF("doc_id", "text")
    val gated = BloomGateStream.gate(inc, corpus, blob)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val exact = inc.join(corpus.select($"text".as("ct")),
        inc("text") === $"ct", "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(gated == exact && gated == rows, s"gated=$gated exact=$exact stream=$rows")
  }

  test("a stale blob is the documented hazard: dup of unindexed corpus row") {
    import spark.implicits._
    val corpusV1 = Seq((1L, "old corpus doc")).toDF("doc_id", "text")
    val blobV1 = BloomGateStream.corpusBloom(corpusV1)
    // the corpus grew after the blob was built
    val corpusV2 = corpusV1.union(Seq((2L, "new corpus doc")).toDF("doc_id", "text"))
    val inc = Seq((10L, "new corpus doc")).toDF("doc_id", "text")
    // with the STALE blob the dup sails through — this is why the
    // contract says blob and corpus snapshot version together
    val stale = BloomGateStream.gate(inc, corpusV2, blobV1)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(stale == Seq(10L), stale)
    // with the matching blob it is caught
    val freshBlob = BloomGateStream.corpusBloom(corpusV2)
    val ok = BloomGateStream.gate(inc, corpusV2, freshBlob).count()
    assert(ok == 0L)
  }
}
