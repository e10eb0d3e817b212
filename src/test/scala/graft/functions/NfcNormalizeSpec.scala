package graft.functions

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** nfc_normalize must implement UAX #15 NFC exactly (the DuckDB
  * oracle runs its own built-in implementation of the same published
  * algorithm, so any divergence is a correctness failure, not a
  * tolerance). */
class NfcNormalizeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  // decomposed → precomposed, multiple scripts, plus already-NFC rows
  private val cases = Seq(
    "plain ascii stays put",
    "cafe\u0301",                     // e + combining acute -> U+00E9
    "A\u030Angstro\u0308m",          // A + ring -> U+00C5, o + diaeresis -> U+00F6
    "\u1E69",                         // already composed s with dot below + dot above
    "s\u0323\u0307",                 // its decomposition - NFC re-composes to U+1E69
    "ga\u0301rc\u0327on mixed",      // U+00E1 and U+00E7 from marks
    "",                               // empty
    "ends with mark e\u0301")

  test("matches java.text.Normalizer NFC on every case (eval + codegen)") {
    import spark.implicits._
    val got = cases.toDF("s")
      .selectExpr("nfc_normalize(s) AS n").as[String].collect()
    val want = cases.map(java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFC))
    assert(got.toSeq == want)
    // interpreted path too (no codegen): filter forces eval in some
    // plans, but assert directly on the helper for certainty
    cases.foreach { c =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(c)
      assert(NfcNormalize.nfc(u).toString ==
        java.text.Normalizer.normalize(c, java.text.Normalizer.Form.NFC), c)
    }
  }

  test("already-normalized input returns the identical UTF8String (fast path)") {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString("already nfc \u00E9")
    assert(NfcNormalize.nfc(u) eq u)
  }

  test("null propagates, non-string input rejects") {
    import spark.implicits._
    val r = Seq[(java.lang.Long, String)]((1L, null)).toDF("i", "s")
      .selectExpr("nfc_normalize(s) AS n").collect()
    assert(r.head.isNullAt(0))
    val err = intercept[Exception] {
      spark.sql("SELECT nfc_normalize(42)").collect()
    }
    assert(err.getMessage.contains("string"))
  }

  test("composition shortens: e + U+0301 loses one codepoint") {
    import spark.implicits._
    val row = Seq("héllo hére").toDF("s")
      .selectExpr("length(s) AS raw", "length(nfc_normalize(s)) AS nfc")
      .collect().head
    assert(row.getInt(0) - row.getInt(1) == 2)
  }
}
