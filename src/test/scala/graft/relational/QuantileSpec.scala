package graft.relational

import graft.SparkEntry
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** w11's frequency-aggregation quantiles vs a literal full sort — the
  * oracle already runs the other algorithm on the real table; this
  * pins the definitional edges on adversarial fixtures the testdata
  * cannot produce: heavy ties straddling the quantile index, a
  * singleton table, and the p99 upper edge on a tiny n where
  * (n−1)·99/100 floors to n−2. */
class QuantileSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  /** Run the w11 core over an explicit value list; returns p → cents. */
  private def q(vals: Seq[Double]): Map[Int, Long] = {
    import spark.implicits._
    vals.toDF("value").createOrReplaceTempView("q_fix")
    spark.sql(
      """WITH c AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM q_fix),
        |f AS (SELECT cents, CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY cents),
        |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM f),
        |cum AS (SELECT cents, sum(cnt) OVER (ORDER BY cents) AS cum FROM f),
        |pl AS (SELECT * FROM VALUES (50),(90),(99) AS t(p))
        |SELECT CAST(pl.p AS INT) AS p, min(cum.cents) AS q_cents
        |FROM cum CROSS JOIN n CROSS JOIN pl
        |WHERE cum.cum >= ((n.n - 1) * pl.p) DIV 100 + 1
        |GROUP BY pl.p""".stripMargin)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  /** The definition, literally: sorted(vals)[floor((n-1)*p/100)]. */
  private def brute(vals: Seq[Double], p: Int): Long = {
    val s = vals.map(v => math.round(v * 100)).sorted
    s(((s.length - 1) * p) / 100)
  }

  test("heavy ties straddling the index match the full-sort definition") {
    // 70% of mass on one value, the p90 boundary inside the tie run
    val vals = Seq.fill(70)(5.0) ++ (1 to 30).map(_.toDouble)
    for (p <- Seq(50, 90, 99))
      assert(q(vals)(p) == brute(vals, p), s"p$p on tie-heavy fixture")
  }

  test("singleton and two-row edges") {
    assert(q(Seq(7.25)) == Map(50 -> 725L, 90 -> 725L, 99 -> 725L))
    val two = q(Seq(1.0, 2.0))
    // (n-1)*p/100 floors to 0 for both p50 and p99 at n=2
    assert(two == Map(50 -> 100L, 90 -> 100L, 99 -> 100L))
  }

  test("p99 on small n floors to the second-largest, not max") {
    val vals = (1 to 50).map(_.toDouble) // idx = 49*99/100 = 48 -> value 49
    assert(q(vals)(99) == 4900L)
    assert(q(vals)(99) == brute(vals, 99))
  }

  test("end-to-end on sf0.001 agrees with a driver-side full sort") {
    val rows = SparkEntry.queries("w11_exact_quantile")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 3)
    val vals = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .selectExpr("value").collect().map(_.getDouble(0)).toSeq
    for (r <- rows)
      assert(r.getLong(1) == brute(vals, r.getInt(0)), s"p${r.getInt(0)}")
  }
}
