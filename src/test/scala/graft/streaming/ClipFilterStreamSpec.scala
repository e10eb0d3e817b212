package graft.streaming

import graft.SparkEntry
import graft.multimodal.MediaLake
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The streaming CLIP gate admits exactly the pairs batch m17 counts
  * as kept (shared tower kernel + shared threshold), on both static
  * and micro-batched frames. */
class ClipFilterStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  private val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  /** The real paired frame: media-lake containers joined to their
    * claimed text embeddings by id — the gate's ingestion shape. */
  private def pairedFrame() = {
    graft.Tables.register(spark, sf)
    spark.read.parquet(MediaLake.ensure(spark, sf))
      .select("doc_id", "fmt", "media")
      .join(spark.table("embeddings")
        .selectExpr("vec_id AS doc_id", "embedding"), "doc_id")
  }

  test("static gate == batch m7 pairs at/above the m17 threshold") {
    val expected = SparkEntry.queries("m7_clip_align")(spark, sf)
      .where("cosine >= 0.1").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(expected.nonEmpty, "threshold keeps nothing — fixture vacuous")
    val paired = pairedFrame()
    assert(paired.count() > expected.length,
      "threshold drops nothing — fixture vacuous")
    val kept = ClipFilterStream.gate(paired)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == expected, s"gate=${kept.take(10)}… batch=${expected.take(10)}…")
    // pass-through contract: surviving rows keep their columns
    assert(ClipFilterStream.gate(paired).columns.toSeq ==
      Seq("doc_id", "fmt", "media", "embedding"))
  }

  test("micro-batched stream admits the same set regardless of batching") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = pairedFrame().collect().map(r =>
      (r.getLong(0), r.getString(1), r.getAs[Array[Byte]](2),
        r.getSeq[Float](3).toArray))
    val expected = ClipFilterStream.gate(pairedFrame())
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val stream = MemoryStream[(Long, String, Array[Byte], Array[Float])]
    val q = ClipFilterStream.gate(
        stream.toDF().toDF("doc_id", "fmt", "media", "embedding"))
      .writeStream.format("memory").queryName("clip_gate")
      .outputMode("append").start()
    // two uneven micro-batches — verdicts must not depend on batching
    val (b1, b2) = rows.splitAt(rows.length / 3)
    stream.addData(b1.toSeq)
    q.processAllAvailable()
    stream.addData(b2.toSeq)
    q.processAllAvailable()
    val got = spark.table("clip_gate")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    q.stop()
    assert(got == expected, s"stream=${got.take(10)}… static=${expected.take(10)}…")
  }
}
