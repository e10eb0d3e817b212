package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The streaming near-dup gate flags incoming documents against the
  * static corpus index, with batch parity: a pair the gate emits is
  * exactly a pair the batch LSH pipeline (d3's shape) would find. */
class DedupStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // 45 DISTINCT words: a one-word edit changes 5 of 41 shingles →
  // Jaccard ≈ 0.78, comfortably above the τ = 0.5 verify and nearly
  // certain to collide in one of the 12 bands
  private val base = (0 until 45).map(i => s"word$i").mkString(" ")
  private val variant = base.replace("word22", "changed") // near-dup
  private val fresh = (0 until 45).map(i => s"other$i").mkString(" ")

  test("gate flags near-dups of the corpus, passes fresh docs, once per pair") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((100L, base)).toDF("doc_id", "text")
    val index = DedupStream.corpusIndex(corpus)

    val stream = MemoryStream[(Long, String, Timestamp)]
    val q = DedupStream.lshGate(
      stream.toDF().toDF("doc_id", "text", "ts"), index)
      .writeStream.format("memory").queryName("gate")
      .outputMode("append").start()

    stream.addData(
      (1L, variant, ts("2024-01-01 00:00:00")),
      (2L, fresh, ts("2024-01-01 00:00:01")),
      // a re-crawl of corpus doc 100 itself: must NOT self-flag
      (100L, base, ts("2024-01-01 00:00:01")))
    q.processAllAvailable()
    // a second batch re-sending the same near-dup inside the watermark:
    // the (doc, dup_of) pair must not emit twice
    stream.addData((1L, variant, ts("2024-01-01 00:00:02")))
    q.processAllAvailable()
    val rows = spark.table("gate")
      .select("doc_id", "dup_of", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    q.stop()
    assert(rows.map(t => (t._1, t._2)).toSeq == Seq((1L, 100L)), rows.toSeq)
    assert(rows.head._3 >= 0.5 && rows.head._3 < 1.0, rows.head)

    // batch parity: the batch LSH candidate+verify pipeline over
    // corpus ∪ stream finds exactly the same cross pair
    val all = (Seq((100L, base), (1L, variant), (2L, fresh))).toDF("doc_id", "text")
    val idxAll = DedupStream.corpusIndex(all)
    val batchPairs = idxAll.as("a").join(idxAll.as("b"),
        $"a.band" === $"b.band" && $"a.bh" === $"b.bh" &&
          $"a.doc_id" < $"b.doc_id")
      .selectExpr("a.doc_id AS i", "b.doc_id AS j",
        "size(array_intersect(a.hs, b.hs)) AS shared",
        "size(a.hs) AS na", "size(b.hs) AS nb")
      .where("CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.5")
      .select("i", "j").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchPairs == Set((1L, 100L)), batchPairs)
  }

  test("decontamination gate == batch t22 (benchmark index, real corpus)") {
    // ingestion-time decontamination IS the same gate pointed at the
    // BENCHMARK index instead of the corpus index (t22's scaladoc
    // contract) — streaming the real sf0.001 training split against
    // the benchmark split must flag exactly the batch t22 pairs
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents").select("doc_id", "text")
    val bench = DedupStream.corpusIndex(docs.where("doc_id % 10 = 0"))
    val train = docs.where("doc_id % 10 != 0").collect()
      .map(r => (r.getLong(0), r.getString(1), ts("2024-01-01 00:00:00")))

    val stream = MemoryStream[(Long, String, Timestamp)]
    val q = DedupStream.lshGate(
      stream.toDF().toDF("doc_id", "text", "ts"), bench)
      .writeStream.format("memory").queryName("decontam_gate")
      .outputMode("append").start()
    stream.addData(train.toSeq)
    q.processAllAvailable()
    val got = spark.table("decontam_gate")
      .select("doc_id", "dup_of").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()

    val expect = graft.SparkEntry.queries("t22_fuzzy_decontam")(spark, sf)
      .select("doc_id", "bench_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect, s"gate=${got.size} batch=${expect.size}")
    assert(got.nonEmpty, "vacuous: no contaminated pair in the fixture")
  }
}
