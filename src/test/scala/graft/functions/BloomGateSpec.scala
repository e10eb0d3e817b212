package graft.functions

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The Bloom gate's load-bearing properties: no false negatives (the
  * prefilter may only ever send EXTRA rows to the exact confirm,
  * never hide a true duplicate), distributed-build merge correctness
  * (partitioning must not change the filter's answers), and the d10
  * composition's bloom-independence (gate output == plain anti-join).
  */
class BloomGateSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(4)

  override def afterAll(): Unit = spark.stop()

  test("no false negatives: every inserted hash probes true") {
    import spark.implicits._
    (0L until 5000L).toDF("id").createOrReplaceTempView("keys")
    val missed = spark.sql(
      """WITH bl AS (SELECT bloom_agg(xxhash64(id), 5000L, CAST(0.01 AS DOUBLE)) AS b FROM keys)
        |SELECT count(*) FROM keys CROSS JOIN bl
        |WHERE NOT bloom_might_contain(bl.b, xxhash64(id))""".stripMargin)
      .head().getLong(0)
    assert(missed == 0L, s"$missed inserted keys probed false")
  }

  test("false-positive rate lands near the requested fpp") {
    import spark.implicits._
    (0L until 5000L).toDF("id").createOrReplaceTempView("keys2")
    // 50k keys that were NEVER inserted
    (100000L until 150000L).toDF("id").createOrReplaceTempView("probes")
    val fp = spark.sql(
      """WITH bl AS (SELECT bloom_agg(xxhash64(id), 5000L, CAST(0.01 AS DOUBLE)) AS b FROM keys2)
        |SELECT count(*) FROM probes CROSS JOIN bl
        |WHERE bloom_might_contain(bl.b, xxhash64(id))""".stripMargin)
      .head().getLong(0)
    // requested 1%; allow generous slack (binomial noise + hash quirks)
    assert(fp < 50000 * 0.03, s"false-positive count $fp out of 50000")
  }

  test("merge is partition-independent: 1-partition == 8-partition build") {
    import spark.implicits._
    val df = (0L until 2000L).toDF("id")
    def blob(parts: Int): Array[Byte] = {
      df.repartition(parts).createOrReplaceTempView("kp")
      spark.sql(
        """SELECT bloom_agg(xxhash64(id), 2000L, CAST(0.01 AS DOUBLE)) AS b
          |FROM kp""".stripMargin).head().getAs[Array[Byte]](0)
    }
    assert(java.util.Arrays.equals(blob(1), blob(8)),
      "bit arrays differ across partitionings — mergeInPlace is not a pure OR")
  }

  test("d10 composition: gate output equals the plain anti-join") {
    // deliberately probes through a NON-foldable blob column (cross
    // join) — the content-equality fallback path; the production
    // query uses the foldable literal (see the codegen test)
    import spark.implicits._
    // corpus texts 0..69 (with dups), incoming 50..99 — overlap 50..69
    val docs = ((0 until 70).map(i => (i.toLong, s"text number ${i % 60}")) ++
      (70 until 120).map(i => (i.toLong * 10 + 7, s"text number ${i - 20}")))
    docs.toDF("doc_id", "text").createOrReplaceTempView("gatedocs")
    val gated = spark.sql(
      """WITH corpus AS (SELECT doc_id, text FROM gatedocs WHERE doc_id % 10 < 7),
        |inc AS (SELECT doc_id, text FROM gatedocs WHERE doc_id % 10 >= 7),
        |bl AS (SELECT bloom_agg(xxhash64(text), 100L, CAST(0.01 AS DOUBLE)) AS b FROM corpus),
        |safe AS (SELECT inc.doc_id FROM inc CROSS JOIN bl
        |  WHERE NOT bloom_might_contain(bl.b, xxhash64(inc.text))),
        |cand AS (SELECT inc.doc_id, inc.text FROM inc CROSS JOIN bl
        |  WHERE bloom_might_contain(bl.b, xxhash64(inc.text))),
        |conf AS (SELECT cand.doc_id FROM cand
        |  LEFT ANTI JOIN corpus ON corpus.text = cand.text)
        |SELECT doc_id FROM safe UNION ALL SELECT doc_id FROM conf""".stripMargin)
      .collect().map(_.getLong(0)).sorted
    val exact = spark.sql(
      """SELECT i.doc_id FROM gatedocs i
        |LEFT ANTI JOIN (SELECT text FROM gatedocs WHERE doc_id % 10 < 7) c
        |  ON c.text = i.text
        |WHERE i.doc_id % 10 >= 7""".stripMargin)
      .collect().map(_.getLong(0)).sorted
    assert(gated.sameElements(exact),
      s"gated=${gated.mkString(",")} exact=${exact.mkString(",")}")
    val incCount = spark.sql(
      "SELECT count(*) FROM gatedocs WHERE doc_id % 10 >= 7").head().getLong(0)
    assert(exact.nonEmpty, "fixture is vacuous — no surviving incoming docs")
    assert(exact.length < incCount, "fixture is vacuous — nothing was deduped")
  }

  test("probe keeps whole-stage codegen (instance-ref doGenCode)") {
    import spark.implicits._
    // parquet-backed input: a LocalRelation would be filter-folded at
    // optimization time and no runtime Filter would exist to pin
    val dir = java.nio.file.Files.createTempDirectory("bloomcg").toString
    (0L until 100L).toDF("id").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("cg")
    val blob = spark.sql(
      """SELECT bloom_agg(xxhash64(id), 100L, CAST(0.01 AS DOUBLE)) AS b
        |FROM cg""".stripMargin).head().getAs[Array[Byte]](0)
    val b64 = java.util.Base64.getEncoder.encodeToString(blob)
    val df = spark.sql(
      s"""SELECT count(*) FROM cg
         |WHERE bloom_might_contain(unbase64('$b64'), xxhash64(id))""".stripMargin)
    // collect(), not head(): head() limits through a SEPARATE plan
    // copy and leaves this one unfinalized (spans render only in the
    // finalized adaptive plan — same gotcha as the rs1 span test)
    df.collect() // force execution — codegen compiles or dies here
    // the probe Filter must sit INSIDE a WholeStageCodegen span (the
    // `*(n)` prefix); a doGenCode regression silently falling back to
    // interpreted eval would drop the prefix and still return correct
    // results — this is the assertion that catches it
    val plan = df.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) Filter [^\\n]*bloom_might_contain".r.findFirstIn(plan).isDefined,
      s"probe filter not inside a codegen span:\n${plan.take(1200)}")
  }

  test("bloom_agg rejects NULL / out-of-range sizing at analysis time") {
    import spark.implicits._
    (0L until 5L).toDF("id").createOrReplaceTempView("sz")
    for (bad <- Seq(
      "bloom_agg(xxhash64(id), CAST(NULL AS BIGINT), CAST(0.01 AS DOUBLE))",
      "bloom_agg(xxhash64(id), 10L, CAST(1.5 AS DOUBLE))",
      "bloom_agg(xxhash64(id), 10L, CAST(0.0 AS DOUBLE))")) {
      val e = intercept[Exception](spark.sql(s"SELECT $bad FROM sz").head())
      assert(e.getMessage.contains("bloom_agg") ||
        e.getMessage.contains("DATATYPE_MISMATCH"), s"$bad → ${e.getMessage.take(200)}")
    }
  }
}
