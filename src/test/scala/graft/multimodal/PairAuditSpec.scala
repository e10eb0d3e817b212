package graft.multimodal

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** m13's integrity classes on a DELIBERATELY broken paired corpus —
  * the sf0.01 oracle row is all-'complete' (the fixture data honors
  * the pairing contract), so the discriminating branches need their
  * own fixture: a doc with empty text (no media), a doc without an
  * embedding, and a dangling embedding. */
class PairAuditSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  test("audit classifies missing media / missing embedding / dangling embedding") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("m13_broken_").toString
    // doc 1: complete; doc 2: empty text (media lake skips it);
    // doc 3: no embedding; vec 9: dangling embedding
    Seq(
      (1L, "alpha beta gamma", "en", "srcA"),
      (2L, "", "en", "srcA"),
      (3L, "delta epsilon", "de", "srcB"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    Seq((1L, "a", Array.fill(64)(0.5f)), (2L, "b", Array.fill(64)(0.25f)),
        (9L, "x", Array.fill(64)(0.125f)))
      .toDF("vec_id", "label", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val got = MultimodalQueries.queries("m13_pair_audit")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(
      "complete" -> ((1L, 1L)),           // doc 1
      "missing_media" -> ((1L, 2L)),      // doc 2: empty text
      "missing_embedding" -> ((1L, 3L)),  // doc 3
      "dangling_embedding" -> ((1L, 9L))  // vec 9
    ), got.toString)
  }
}
