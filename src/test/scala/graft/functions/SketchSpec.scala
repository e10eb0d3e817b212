package graft.functions

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The native single-pass sketch expressions must equal their
  * compositional (HOF) formulations value-for-value — that equivalence
  * is what lets the DuckDB oracle keep the explicit relational
  * formulation while Spark runs the fused loop. */
class SketchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  private val docs = Seq(
    "the quick brown fox jumps over the lazy dog",
    "a b c",
    "word soup with  double space", // empty word from the double space
    "trailing space ends this one ",
    "short")

  test("shingle_hashes == polyhash of concat_ws shingles") {
    import spark.implicits._
    docs.toDF("text").createOrReplaceTempView("t")
    val rows = spark.sql(
      """SELECT shingle_hashes(text, 3) AS fast,
        |  CASE WHEN size(split(text, ' ')) >= 3 THEN
        |    transform(sequence(1, size(split(text, ' ')) - 2), i ->
        |      polyhash(concat_ws(' ', element_at(split(text, ' '), i),
        |        element_at(split(text, ' '), i + 1), element_at(split(text, ' '), i + 2))))
        |  ELSE array() END AS slow
        |FROM t""".stripMargin).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString)
    }
  }

  test("ngram_hashes == polyhash of substrings") {
    import spark.implicits._
    docs.toDF("text").createOrReplaceTempView("t")
    val rows = spark.sql(
      """SELECT ngram_hashes(text, 5) AS fast,
        |  CASE WHEN length(text) >= 5 THEN
        |    transform(sequence(1, length(text) - 4), i -> polyhash(substring(text, i, 5)))
        |  ELSE array() END AS slow
        |FROM t""".stripMargin).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString)
    }
  }

  test("minhash36 == per-perm array_min of affine hashes") {
    import spark.implicits._
    docs.toDF("text").createOrReplaceTempView("t")
    val rows = spark.sql(
      """SELECT minhash36(hs) AS fast,
        |  transform(sequence(0, 35), p ->
        |    array_min(transform(hs, h -> ((1 + 40503*p) * h + (12345 + 104729*p)) % 2147483647))) AS slow
        |FROM (SELECT array_distinct(shingle_hashes(text, 1)) AS hs FROM t)""".stripMargin)
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString)
    }
  }

  test("simhash31 == bitwise majority of shingle hashes") {
    import spark.implicits._
    // bit0: +1+1+1 = +3 → set; bit1: -1+1-1 = -1 → unset; bit2: +1-1-1 = -1 → unset
    val hs = Seq(Seq(0b101L, 0b011L, 0b001L))
    hs.toDF("hs").createOrReplaceTempView("h")
    val fp = spark.sql("SELECT simhash31(hs) FROM h").collect().head.getLong(0)
    assert(fp == 0b001L)
  }

  test("arr_hist clamps out-of-range values instead of crashing") {
    // a value below the caller's lo bound lands in bin 0 (mirror of
    // above-hi landing in the last bin) — it used to compute a
    // negative index and throw ArrayIndexOutOfBounds
    val r = spark.sql(
      "SELECT arr_hist(array(5L, -3L, 99L), 0L, 10L, 4) AS h")
      .collect().head.getSeq[Long](0)
    assert(r == Seq(1L, 0L, 1L, 1L), r)
  }

  test("st_distance_to_point accepts decimal and integer SQL literals") {
    // literals parse as Decimal/Int — a bare asInstanceOf[Double]
    // crashed here (sibling expressions go through asD)
    val d = spark.sql(
      """SELECT st_distance_to_point(
        |  st_geomfromgeojson('{"type":"Point","coordinates":[12.5,55.7]}'),
        |  12.5, 55) AS d""".stripMargin).collect().head.getDouble(0)
    assert(math.abs(d - 0.7 * 111194.9) < 200.0, d) // ~0.7° of latitude
  }

  test("st_distance_to_point on an empty polygon is +infinity, not a crash") {
    val d = spark.sql(
      """SELECT st_distance_to_point(
        |  st_geomfromgeojson('{"type":"Polygon","coordinates":[[]]}'),
        |  0.0D, 0.0D) AS d""".stripMargin).collect().head.getDouble(0)
    assert(d.isPosInfinity, d)
  }

  test("vec_sqdist == aggregate(zip_with(slice...)) bitwise, all subspaces") {
    import spark.implicits._
    // adversarial doubles: denormal-ish, huge, negative, repeating —
    // bit-equality across 4 offsets pins the fold order exactly
    val a = Array.tabulate(64)(i => math.sin(i * 1.7) * math.pow(10.0, (i % 9) - 4))
    val b = Array.tabulate(64)(i => math.cos(i * 2.3) * math.pow(10.0, (i % 7) - 3))
    Seq((a.toSeq, b.toSeq)).toDF("a", "b").createOrReplaceTempView("vs")
    val rows = spark.sql(
      """SELECT s, vec_sqdist(a, b, s*16, 16) AS fast,
        |  aggregate(zip_with(slice(a, s*16+1, 16), slice(b, s*16+1, 16),
        |    (x, y) -> (x-y)*(x-y)), CAST(0 AS DOUBLE), (acc, x) -> acc + x) AS slow
        |FROM vs LATERAL VIEW explode(sequence(0, 3)) t AS s""".stripMargin)
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        s"subspace ${r.getInt(0)}: ${r.getDouble(1)} vs ${r.getDouble(2)}")
    }
  }

  test("vec_signbits == HOF word sum; clamps and edge signs hold") {
    import spark.implicits._
    // mixed signs incl. exact zeros (zero is NOT positive → bit
    // unset), covering both 32-bit words of a 64-d vector
    val v = Array.tabulate(64)(i =>
      if (i % 5 == 0) 0.0 else math.sin(i * 1.3))
    Seq(Tuple1(v.toSeq)).toDF("v").createOrReplaceTempView("sb")
    val r = spark.sql(
      """SELECT vec_signbits(v, 0, 32) AS lo, vec_signbits(v, 32, 32) AS hi,
        |  aggregate(sequence(0, 31), CAST(0 AS BIGINT),
        |    (acc, k) -> acc + CASE WHEN element_at(v, k + 1) > 0
        |      THEN shiftleft(CAST(1 AS BIGINT), k) ELSE CAST(0 AS BIGINT) END) AS slow_lo,
        |  aggregate(sequence(0, 31), CAST(0 AS BIGINT),
        |    (acc, k) -> acc + CASE WHEN element_at(v, k + 33) > 0
        |      THEN shiftleft(CAST(1 AS BIGINT), k) ELSE CAST(0 AS BIGINT) END) AS slow_hi,
        |  vec_signbits(v, -3, 32) AS clamped,
        |  vec_signbits(v, 60, 32) AS tail,
        |  vec_signbits(v, 0, 99) AS len_cap
        |FROM sb""".stripMargin).collect().head
    assert(r.getLong(0) === r.getLong(2))
    assert(r.getLong(1) === r.getLong(3))
    // negative offset clamps to 0 → same word as off=0
    assert(r.getLong(4) === r.getLong(0))
    // a window past the end reads only the available elements
    val tailExpect = (60 until 64).filter(i => v(i) > 0)
      .map(i => 1L << (i - 60)).sum
    assert(r.getLong(5) === tailExpect)
    // len caps at 64 and at the array end — low word of a 64-len
    // request equals the full-array packing's low bits
    assert((r.getLong(6) & 0xFFFFFFFFL) === r.getLong(0))
    // sanity: some bits set, some clear in each word
    assert(r.getLong(0) != 0L && r.getLong(1) != 0L)
    assert(java.lang.Long.bitCount(r.getLong(0)) < 32)
  }
}
