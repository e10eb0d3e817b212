package graft.textops

import graft.SparkEntry
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** d18's winnowing properties the oracle cannot see — the paper's
  * (Schleimer, Wilkerson & Aiken 2003) detection guarantee plus the
  * tie-break-independence argument the implementation relies on,
  * pinned on synthetic corpora:
  *
  *   1. DETECTION: with k=3 and w=4, any shared word run of length
  *      >= k+w-1 = 6 yields at least one shared fingerprint (both
  *      docs winnow the same minimum inside the fully-shared window);
  *   2. EQUIVALENCE: a hash tie inside a window means an EQUAL hash,
  *      so the DISTINCT fingerprint set per document is identical
  *      whether the window min is the plain min(gh) the operator uses
  *      or the packed (hash asc, pos desc) encoding — and the plain
  *      form carries no document-length bound (the packed 20-bit
  *      position field silently corrupted past 2^20 grams).
  *
  * Plus the df cap: a boilerplate fingerprint shared by > 50 docs
  * contributes NO pairs (the m22 fan-out lesson). */
class WinnowSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  /** Fingerprint extraction (the d18 fragment: plain window min) over
    * a (doc_id, text) view. */
  private val fpSql =
    """WITH w0 AS (SELECT doc_id, filter(split(text, ' '), x -> x != '') AS w
      |  FROM %SRC%),
      |g AS (SELECT doc_id, i AS pos,
      |    CAST(conv(substring(md5(concat_ws(' ', slice(w, i+1, 3))), 1, 10), 16, 10) AS BIGINT) AS gh
      |  FROM w0 LATERAL VIEW explode(sequence(0, size(w) - 3)) t AS i
      |  WHERE size(w) >= 3),
      |s AS (SELECT doc_id, pos,
      |    min(gh) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
      |  FROM g)
      |SELECT DISTINCT doc_id, fp
      |FROM s WHERE pos >= 3""".stripMargin

  /** The pre-round-14 packed formulation, kept ONLY as the
    * equivalence witness (correct below 2^20 grams). */
  private val packedFpSql =
    """WITH w0 AS (SELECT doc_id, filter(split(text, ' '), x -> x != '') AS w
      |  FROM %SRC%),
      |g AS (SELECT doc_id, i AS pos,
      |    CAST(conv(substring(md5(concat_ws(' ', slice(w, i+1, 3))), 1, 10), 16, 10) AS BIGINT) AS gh
      |  FROM w0 LATERAL VIEW explode(sequence(0, size(w) - 3)) t AS i
      |  WHERE size(w) >= 3),
      |s AS (SELECT doc_id, pos,
      |    min(gh * 1048576 + (1048575 - pos)) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel
      |  FROM g)
      |SELECT DISTINCT doc_id, CAST(sel DIV 1048576 AS BIGINT) AS fp
      |FROM s WHERE pos >= 3""".stripMargin

  private def fingerprints(docs: Seq[(Long, String)],
                           sql: String = fpSql): Set[(Long, Long)] = {
    import spark.implicits._
    docs.toDF("doc_id", "text").createOrReplaceTempView("winnow_fix")
    spark.sql(sql.replace("%SRC%", "winnow_fix"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("detection guarantee: a shared 6-word run always shares a fingerprint") {
    // disjoint filler vocabularies; the planted run is the ONLY overlap
    val run = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      1L -> s"p1 p2 p3 p4 $run p5 p6 p7",
      2L -> s"q1 q2 $run q3 q4 q5 q6 q7 q8")
    val fps = fingerprints(docs)
    val shared = fps.filter(_._1 == 1L).map(_._2)
      .intersect(fps.filter(_._1 == 2L).map(_._2))
    assert(shared.nonEmpty,
      "docs sharing a k+w-1 run must share at least one fingerprint")
  }

  test("no shared 6-run, disjoint vocab: zero shared fingerprints") {
    val docs = Seq(
      1L -> "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10",
      2L -> "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10")
    val fps = fingerprints(docs)
    val shared = fps.filter(_._1 == 1L).map(_._2)
      .intersect(fps.filter(_._1 == 2L).map(_._2))
    assert(shared.isEmpty)
  }

  test("plain min(gh) selects the identical fingerprint set as the packed tie-break") {
    // low-entropy text maximizes in-window hash ties (where the two
    // formulations pick DIFFERENT positions but the SAME hash), plus
    // random text for the general case
    val rnd = new scala.util.Random(11)
    val words = Vector("w1", "w2", "w3", "w4")
    val docs = Seq(
      1L -> "x x x x x x x x x x",
      2L -> "y y z y y z y y z y y z",
      3L -> Seq.fill(300)(words(rnd.nextInt(words.length))).mkString(" "))
    assert(fingerprints(docs) == fingerprints(docs, packedFpSql),
      "tie-break cannot change the DISTINCT fingerprint set")
  }

  test("density: fingerprints per doc near 2/(w+1) of grams on random text") {
    val rnd = new scala.util.Random(7)
    val words = Vector("w1","w2","w3","w4","w5","w6","w7","w8","w9","w10",
      "w11","w12","w13","w14","w15","w16")
    val text = Seq.fill(400)(words(rnd.nextInt(words.length))).mkString(" ")
    val n = fingerprints(Seq(1L -> text)).size
    val grams = 400 - 2
    // expected selection density 2/(w+1) = 0.4; DISTINCT-fp collapses
    // (same gram selected at several positions) push it below — accept
    // a broad [0.2, 0.55] band
    assert(n > grams / 5 && n < grams * 11 / 20, s"density off: $n/$grams")
  }

  test("df cap: 60 identical docs produce no pair rows; sf0.001 end-to-end sane") {
    import spark.implicits._
    val boiler = (1L to 60L).map(i => (i, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"))
    // the d18 pair tail over the fixture, df cap included
    boiler.toDF("doc_id", "text").createOrReplaceTempView("winnow_fix")
    val pairs = spark.sql(
      """WITH f AS (%FP%),
        |dfc AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 50),
        |fk AS (SELECT f.doc_id, f.fp FROM f JOIN dfc ON dfc.fp = f.fp)
        |SELECT a.doc_id, b.doc_id FROM fk a JOIN fk b
        |ON a.fp = b.fp AND a.doc_id < b.doc_id""".stripMargin
        .replace("%FP%", fpSql.replace("%SRC%", "winnow_fix")))
      .collect()
    assert(pairs.isEmpty, "boilerplate beyond the df cap must not fan out")
    val rows = SparkEntry.queries("d18_winnow")(spark, "/root/testdata/sf0.001")
      .collect()
    for (r <- rows) {
      assert(r.getLong(0) < r.getLong(1), "pairs must be ordered a < b")
      assert(r.getLong(2) >= 3, "pair threshold is >= 3 shared fingerprints")
    }
  }
}
