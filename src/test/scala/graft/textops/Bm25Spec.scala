package graft.textops

import graft.SparkEntry
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** t33's BM25 ranking properties the hash-equality oracle cannot see
  * — the monotonicities that make BM25 *BM25* (Robertson & Walker
  * 1994), pinned on a hand-built corpus where each is isolated:
  * term-frequency gain with saturation, document-length
  * normalization, idf ordering (rare term beats common term), and
  * multi-term accumulation. The scoring core is the integer-exact
  * micro-unit variant (raw Robertson odds, no log — monotone in the
  * odds, so every ordering property of the log form carries over). */
class Bm25Spec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  /** t33's scoring core over a (doc_id, text) view and a single-term
    * query, emitting every doc's score (no top-k cut). */
  private def scores(docs: Seq[(Long, String)], term: String): Map[Long, Long] = {
    import spark.implicits._
    docs.toDF("doc_id", "text").createOrReplaceTempView("bm25_fix")
    spark.sql(
      s"""WITH w AS (SELECT doc_id, explode(filter(split(text, ' '), x -> x != '')) AS word
         |  FROM bm25_fix),
         |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM w GROUP BY doc_id),
         |nl AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS l FROM dl),
         |tf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM w
         |  WHERE word = '$term' GROUP BY doc_id),
         |df AS (SELECT CAST(count(*) AS BIGINT) AS df FROM tf)
         |SELECT tf.doc_id,
         |  CAST((CAST((2*nl.n - 2*df.df + 1) * 1000000 DIV (2*df.df + 1) AS DECIMAL(38,0))
         |     * (CAST(tf.tf AS DECIMAL(38,0)) * 2200000 * nl.l))
         |  DIV (CAST(tf.tf AS DECIMAL(38,0)) * 1000000 * nl.l
         |       + CAST(300000 AS DECIMAL(38,0)) * nl.l
         |       + CAST(900000 AS DECIMAL(38,0)) * dl.dl * nl.n) AS BIGINT) AS s
         |FROM tf JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN nl CROSS JOIN df""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("tf gain saturates: more occurrences score higher, sub-linearly") {
    // equal length 8, tf = 1 / 2 / 4
    val s = scores(Seq(
      1L -> "hit f f f f f f f",
      2L -> "hit hit f f f f f f",
      4L -> "hit hit hit hit f f f f",
      9L -> "g g g g g g g g"), "hit")
    assert(s(2L) > s(1L) && s(4L) > s(2L), s"tf must gain: $s")
    // saturation: doubling tf 2 -> 4 gains less than 1 -> 2
    assert(s(4L) - s(2L) < s(2L) - s(1L), s"tf gain must saturate: $s")
    assert(!s.contains(9L), "a doc without the term scores nothing")
  }

  test("length normalization: same tf, longer doc scores lower") {
    val s = scores(Seq(
      1L -> "hit f f f",
      2L -> "hit f f f f f f f f f f f",
      9L -> "g g g g g g g g"), "hit")
    assert(s(1L) > s(2L), s"longer doc must be penalized: $s")
  }

  test("idf: the rarer term outranks the common one at equal tf and dl") {
    import spark.implicits._
    // 'rare' in 1 of 10 docs, 'common' in 9 of 10; probe docs 1 and 2
    // are structurally identical up to the term identity
    val docs = Seq(
      1L -> "rare f f f", 2L -> "common f f f",
      3L -> "common x1 x1 x1", 4L -> "common x2 x2 x2",
      5L -> "common x3 x3 x3", 6L -> "common x4 x4 x4",
      7L -> "common x5 x5 x5", 8L -> "common x6 x6 x6",
      9L -> "common x7 x7 x7", 10L -> "common x8 x8 x8")
    val sRare = scores(docs, "rare")(1L)
    val sCommon = scores(docs, "common")(2L)
    assert(sRare > sCommon, s"idf ordering violated: rare=$sRare common=$sCommon")
  }

  test("end-to-end on sf0.001: 3 queries, ranks 1..5, scores non-increasing") {
    val rows = SparkEntry.queries("t33_bm25")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet == Set("q1", "q2", "q3"))
    for ((q, rs) <- byQ) {
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to rs.length).toSeq, s"$q ranks")
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._4 > b._4 || (a._4 == b._4 && a._3 < b._3)
        case _ => true
      }, s"$q must be ordered by (score desc, doc_id asc)")
    }
  }
}
