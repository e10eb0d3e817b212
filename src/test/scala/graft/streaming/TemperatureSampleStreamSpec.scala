package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The streaming temperature-sampling gate keeps exactly the rows the
  * batch `t16_temperature_sample` keeps over the same corpus (shared
  * kernel + shared thresholds ⇒ parity by construction, verified
  * end-to-end here on the real sf0.001 documents). */
class TemperatureSampleStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  test("batch parity: gate over the static corpus equals t16's keep set") {
    val docs = graft.Tables.load(spark, sf, "documents")
    val thr = TemperatureSampleStream.thresholds(docs)
    val gateIds = TemperatureSampleStream.gate(docs, thr)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batchIds = graft.SparkEntry.queries("t16_temperature_sample")(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gateIds == batchIds,
      s"gate=${gateIds.size} batch=${batchIds.size}, " +
        s"onlyGate=${(gateIds -- batchIds).take(5)}, " +
        s"onlyBatch=${(batchIds -- gateIds).take(5)}")
    // the temperature shape holds: every bucket keeps something and
    // the keep set is a strict subset of the corpus
    assert(gateIds.nonEmpty && gateIds.size < docs.count())
  }

  test("micro-batches pass survivors through unchanged; decision is per-row deterministic") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val thr = TemperatureSampleStream.thresholds(
      graft.Tables.load(spark, sf, "documents"))
    val keepSet = TemperatureSampleStream.gate(
        graft.Tables.load(spark, sf, "documents"), thr)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    val stream = MemoryStream[(Long, String)]
    val q = TemperatureSampleStream.gate(
        stream.toDF().toDF("doc_id", "text"), thr)
      .writeStream.format("memory").queryName("temp_gate")
      .outputMode("append").start()
    // two micro-batches: the decision must not depend on batch shape
    stream.addData(docs.take(20).toSeq)
    q.processAllAvailable()
    stream.addData(docs.slice(20, 60).toSeq)
    q.processAllAvailable()
    val got = spark.table("temp_gate")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    q.stop()
    val expect = docs.take(60).map(_._1).filter(keepSet).toSet
    assert(got == expect, s"got=${got.size} expect=${expect.size}")
  }
}
