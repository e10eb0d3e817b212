package graft.streaming

import graft.SparkEntry
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The streaming classifier gate admits exactly the documents batch
  * t30 counts as kept (shared ClassifierShape scorer), on both
  * static and micro-batched frames. */
class ClassifierGateStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  private val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  test("static gate == batch t30 kept set; micro-batching is invisible") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val expected = SparkEntry.queries("t30_classifier_filter")(spark, sf)
      .where("kept = 1").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val docs = graft.Tables.load(spark, sf, "documents")
      .select("doc_id", "text")
    assert(expected.nonEmpty && expected.length < docs.count(),
      "threshold is vacuous on this fixture")

    val static = ClassifierGateStream.gate(docs)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(static == expected, s"static=${static.take(8)}… t30=${expected.take(8)}…")

    val rows = docs.as[(Long, String)].collect()
    val stream = MemoryStream[(Long, String)]
    val q = ClassifierGateStream.gate(
        stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("clf_gate")
      .outputMode("append").start()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    stream.addData(b1.toSeq)
    q.processAllAvailable()
    stream.addData(b2.toSeq)
    q.processAllAvailable()
    val got = spark.table("clf_gate")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    q.stop()
    assert(got == expected, s"stream=${got.take(8)}… t30=${expected.take(8)}…")
  }
}
