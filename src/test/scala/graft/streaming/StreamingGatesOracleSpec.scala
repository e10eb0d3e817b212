package graft.streaming

import graft.SparkEntry
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Non-vacuity pins for the six round-14 streaming oracle gates
  * (sg8–sg13): the DuckDB hash compare proves stream == oracle, but
  * both would agree on a gate that never exercises its DROP path (the
  * vacuous-row trap — t33's 100× probe measured exactly that). Each
  * test asserts the fixture actually drives BOTH paths: some rows
  * pass, some are dropped/transformed, at known counts where the
  * construction fixes them (sg8's injected duplicates). */
class StreamingGatesOracleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark = graft.LocalTuning.session(4)

  override def afterAll(): Unit = spark.stop()

  private def rows(name: String) =
    SparkEntry.queries(name)(spark, sfDir).collect()

  private lazy val streamDocs = {
    graft.Tables.register(spark, sfDir)
    spark.sql("SELECT count(*) FROM documents WHERE doc_id % 10 >= 7")
      .head().getLong(0)
  }

  test("sg8: every injected corpus duplicate drops; every fixture stream row passes") {
    graft.Tables.register(spark, sfDir)
    val injected = spark.sql(
      "SELECT count(*) FROM documents WHERE doc_id % 10 < 7 AND doc_id % 35 = 0")
      .head().getLong(0)
    assert(injected > 0, "the injection predicate must select corpus rows")
    val out = rows("sg8_stream_bloom")
    // fixture corpus has no exact dups across the split, so survivors
    // = the whole fixture stream slice; drops = exactly the injection
    assert(out.length == streamDocs.toInt)
    assert(out.forall(_.getLong(0) < 1000000),
      "no injected (re-keyed) row may survive the gate")
  }

  test("sg10: identity, redaction, and quarantine paths all carry rows") {
    val out = rows("sg10_stream_pii")
    val quarantined = out.count(_.getAs[Boolean]("quarantined"))
    val redacted = out.count(r => !r.getAs[Boolean]("quarantined") &&
      (r.getAs[Int]("n_emails") + r.getAs[Int]("n_ips") +
        r.getAs[Int]("n_phones")) > 0)
    val identity = out.count(r => r.getAs[Int]("n_emails") == 0 &&
      r.getAs[Int]("n_ips") == 0 && r.getAs[Int]("n_phones") == 0)
    assert(quarantined > 0, "doc_id % 15 rows must quarantine (3 hits)")
    assert(redacted > 0, "1–2 hit rows must pass redacted")
    assert(identity > 0, "PII-free rows must pass untouched")
    assert(quarantined + redacted + identity == out.length)
  }

  test("sg11/sg12: perceptual gates drop near-dups and pass the rest") {
    // bound against the LAKE's stream-item count, not the documents
    // count: the lakes hold only length(text) > 0 docs, so a fixture
    // with empty-text stream docs would otherwise let a zero-drop
    // gate pass the "< streamDocs" check
    graft.Tables.register(spark, sfDir)
    val lakeStream = spark.sql(
      "SELECT count(*) FROM documents WHERE doc_id % 10 >= 7 AND length(text) > 0")
      .head().getLong(0)
    val media = rows("sg11_stream_media").length
    val audio = rows("sg12_stream_audio").length
    assert(media > 0 && media < lakeStream,
      s"media gate must drop some of $lakeStream stream items, kept $media")
    assert(audio > 0 && audio < lakeStream,
      s"audio gate must drop some of $lakeStream stream items, kept $audio")
  }

  test("sg13: temperature sampling keeps a strict, non-empty subset") {
    val kept = rows("sg13_stream_temperature").length
    assert(kept > 0 && kept < streamDocs,
      s"temperature gate kept $kept of $streamDocs")
  }

  test("sg9: chunker emits more chunks than documents (fan-out real)") {
    graft.Tables.register(spark, sfDir)
    val docs = spark.sql(
      "SELECT count(*) FROM documents WHERE size(split(text, ' ')) > 0")
      .head().getLong(0)
    val chunks = rows("sg9_stream_chunk").length
    assert(chunks > docs, s"$chunks chunks over $docs docs")
  }
}
