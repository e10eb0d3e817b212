package graft.relational

import graft.{SparkEntry, Tables}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** w10's Count-Min sketch properties the oracle cannot see: the
  * counters are SUM-mergeable (the sketch of a union is the cell-wise
  * sum of the parts' sketches — what makes the operator map-side
  * combinable with <= 512 ints of state per partition at any stream
  * length), the estimate NEVER undercounts (the structural CMS
  * guarantee, checked for EVERY key, not just the top-20 the query
  * reports), and the overcount stays inside a loose multiple of the
  * epsilon = e/w bound (measured, so a broken column hash cannot ship
  * as "deterministic garbage" — the w9 lesson). */
class CountMinSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  private val sf = "/root/testdata/sf0.001"

  /** The sketch-build fragment of w10 over a source view. */
  private val cmsSql =
    """WITH h1 AS (SELECT user_id,
      |    CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT) AS h
      |  FROM %SRC%),
      |cells AS (SELECT j,
      |    CAST((h DIV (CASE j WHEN 0 THEN 1L WHEN 1 THEN 128L
      |                        WHEN 2 THEN 16384L ELSE 2097152L END)) % 128 AS INT) AS col
      |  FROM h1 LATERAL VIEW explode(sequence(0, 3)) t AS j)
      |SELECT j, col, CAST(count(*) AS BIGINT) AS ct
      |FROM cells GROUP BY j, col""".stripMargin

  override def afterAll(): Unit = spark.stop()

  test("counters sum-merge: sketch(union) == cell-wise sum of the halves") {
    Tables.register(spark, sf)
    // adversarial split: all of one user's rows land in one half, so a
    // merge that averaged or maxed instead of summing cannot cancel out
    spark.sql("SELECT * FROM events WHERE user_id % 2 = 0")
      .createOrReplaceTempView("cms_half_a")
    spark.sql("SELECT * FROM events WHERE user_id % 2 = 1")
      .createOrReplaceTempView("cms_half_b")
    def sketch(src: String): Map[(Int, Int), Long] =
      spark.sql(cmsSql.replace("%SRC%", src))
        .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    val whole = sketch("events")
    val a = sketch("cms_half_a")
    val b = sketch("cms_half_b")
    assert(a.nonEmpty && b.nonEmpty)
    val merged = (a.keySet ++ b.keySet).map { k =>
      k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))
    }.toMap
    assert(merged == whole, "cell-wise sum of the halves must equal the whole")
  }

  test("estimate never undercounts — for EVERY key, not just the top-20") {
    Tables.register(spark, sf)
    val est = spark.sql(
      """WITH cms AS (%CMS%),
        |tc AS (SELECT user_id, CAST(count(*) AS BIGINT) AS true_n FROM events
        |  GROUP BY user_id),
        |probe AS (SELECT t.user_id, t.true_n, s.j,
        |    CAST((CAST(conv(substring(md5(CAST(t.user_id AS STRING)), 1, 15), 16, 10) AS BIGINT)
        |      DIV (CASE s.j WHEN 0 THEN 1L WHEN 1 THEN 128L
        |                    WHEN 2 THEN 16384L ELSE 2097152L END)) % 128 AS INT) AS col
        |  FROM tc t LATERAL VIEW explode(sequence(0, 3)) s AS j)
        |SELECT p.user_id, p.true_n, CAST(min(c.ct) AS BIGINT) AS cms_est
        |FROM probe p JOIN cms c ON c.j = p.j AND c.col = p.col
        |GROUP BY p.user_id, p.true_n""".stripMargin
        .replace("%CMS%", cmsSql.replace("%SRC%", "events")))
      .collect()
    assert(est.nonEmpty)
    val total = spark.sql("SELECT count(*) FROM events").head().getLong(0)
    for (r <- est) {
      val (trueN, cmsEst) = (r.getLong(1), r.getLong(2))
      assert(cmsEst >= trueN,
        s"user ${r.getLong(0)}: est $cmsEst undercuts true $trueN")
      // epsilon = e/128 of the stream per colliding row; 4 rows and a
      // min make the typical overcount far smaller — pin a loose 8x
      // the single-row bound so a degenerate column hash (all keys in
      // one cell => overcount ~ total) fails loudly
      assert(cmsEst - trueN <= 8 * math.ceil(math.E * total / 128).toLong,
        s"user ${r.getLong(0)}: overcount ${cmsEst - trueN} vs bound")
    }
  }

  test("end-to-end: top-20 report, overcount column consistent") {
    val rows = SparkEntry.queries("w10_count_min")(spark, sf).collect()
    // sf0.001 has only 15 distinct users — the top-20 cut keeps them all
    assert(rows.length == 15)
    for (r <- rows)
      assert(r.getLong(3) == r.getLong(2) - r.getLong(1) && r.getLong(3) >= 0)
  }
}
