package graft.relational

import graft.{SparkEntry, Tables}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** w9's HyperLogLog properties the oracle cannot see: the registers
  * are max-MERGEABLE (the sketch of a union is the bucket-wise max of
  * the parts' sketches — the property that makes the operator
  * map-side combinable and therefore O(64 ints) of state per group at
  * any corpus size), and the estimate is actually NEAR the exact
  * count in BOTH regimes — linear counting below 2.5m (the fixture's
  * 15 distinct users) and raw HLL above it (a synthetic 5000-id
  * range). The oracle pins determinism, not quality; err_pml is a
  * measured column, this pins a ceiling so a broken hash cannot ship
  * as "deterministic garbage" (the first draft's LCG mix measured
  * 78% error at n=500 — lattice structure starves max(ρ)). */
class HllSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  private val sf = "/root/testdata/sf0.001"

  private val regSql =
    """WITH h1 AS (SELECT event_type,
      |    CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT) AS h
      |  FROM %SRC%),
      |b AS (SELECT event_type, CAST(h % 64 AS INT) AS bkt,
      |    CAST((h DIV 64) % 33554432 AS BIGINT) AS w FROM h1)
      |SELECT event_type, bkt,
      |  max(CASE WHEN w = 0 THEN 26
      |      ELSE 25 - CAST(floor(log2(w)) AS INT) END) AS mj
      |FROM b GROUP BY event_type, bkt""".stripMargin

  override def afterAll(): Unit = spark.stop()

  test("registers max-merge: sketch(union) == bucket-max of the halves") {
    Tables.register(spark, sf)
    spark.sql("SELECT * FROM events WHERE event_id % 2 = 0")
      .createOrReplaceTempView("hll_half_a")
    spark.sql("SELECT * FROM events WHERE event_id % 2 = 1")
      .createOrReplaceTempView("hll_half_b")
    val whole = spark.sql(regSql.replace("%SRC%", "events"))
      .collect().map(r => ((r.getString(0), r.getInt(1)), r.getInt(2))).toMap
    val a = spark.sql(regSql.replace("%SRC%", "hll_half_a"))
      .collect().map(r => ((r.getString(0), r.getInt(1)), r.getInt(2))).toMap
    val b = spark.sql(regSql.replace("%SRC%", "hll_half_b"))
      .collect().map(r => ((r.getString(0), r.getInt(1)), r.getInt(2))).toMap
    assert(a.nonEmpty && b.nonEmpty)
    val merged = (a.keySet ++ b.keySet).map { k =>
      k -> math.max(a.getOrElse(k, 0), b.getOrElse(k, 0))
    }.toMap
    assert(merged == whole, "bucket-wise max of the halves must equal the whole")
  }

  test("linear-counting regime: fixture estimate within 30% of exact") {
    val rows = SparkEntry.queries("w9_hll_distinct")(spark, sf)
      .selectExpr("event_type", "err_pml", "exact_distinct").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getLong(1) < 300,
        s"${r.getString(0)}: err ${r.getLong(1)}‰ over ${r.getLong(2)} exact")
    }
  }

  test("raw regime: 5000 distinct synthetic ids estimate within 15%") {
    // the fixture never leaves the linear-counting branch (15 distinct
    // users), so the raw-HLL path gets its own cardinality here; the
    // theoretical error for m = 64 is 1.04/√64 = 13%
    Tables.register(spark, sf)
    spark.sql("SELECT 'x' AS event_type, id AS user_id, id AS event_id FROM range(5000)")
      .createOrReplaceTempView("hll_big")
    val est = spark.sql(
      regSql.replace("%SRC%", "hll_big").replace(
        "SELECT event_type, bkt,",
        "SELECT event_type, bkt,") // keep register shape
    )
    // fold registers → raw estimate, the query's own arithmetic
    val mjs = est.collect().map(r => (r.getInt(1), r.getInt(2))).toMap
    val stot = (0 until 64).map(b => 1L << (26 - mjs.getOrElse(b, 0))).sum
    val estMilli = 709L * 4096L * 67108864L / stot
    val err = math.abs(estMilli - 5000000L).toDouble / 5000000.0
    assert(err < 0.15, s"raw-regime estimate ${estMilli / 1000.0} vs 5000 (err $err)")
  }
}
