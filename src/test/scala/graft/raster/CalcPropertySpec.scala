package graft.raster

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The two calc compilers must agree: [[PixelCalc]] (fused per-pixel
  * closures for the zonal engine) and [[CalcDsl]] (SQL-text
  * compilation for the HOF path) implement the same numpy-flavoured
  * surface, so the same expression over the same integer bands must
  * produce identical values through both — and the PixelCalc parser's
  * precedence must match the expression tree it came from. */
class CalcPropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  private def check(name: String, p: Prop): Unit = {
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(r.passed, s"$name: ${r.status}")
  }

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  // ---- expression-tree generator: render with precedence-minimal
  // parens, evaluate directly, compare against the parser ----
  sealed trait T { def render(parentPrec: Int): String; def eval(a: Double, b: Double): Double }
  case class L(v: Int) extends T {
    def render(p: Int) = v.toString
    def eval(a: Double, b: Double) = v.toDouble
  }
  case class V(name: String) extends T {
    def render(p: Int) = name
    def eval(a: Double, b: Double) = if (name == "A") a else b
  }
  case class Add(l: T, r: T) extends T {
    def render(p: Int) = { val s = s"${l.render(1)} + ${r.render(2)}"
      if (p > 1) s"($s)" else s }
    def eval(a: Double, b: Double) = l.eval(a, b) + r.eval(a, b)
  }
  case class Sub(l: T, r: T) extends T {
    def render(p: Int) = { val s = s"${l.render(1)} - ${r.render(2)}"
      if (p > 1) s"($s)" else s }
    def eval(a: Double, b: Double) = l.eval(a, b) - r.eval(a, b)
  }
  case class Mul(l: T, r: T) extends T {
    def render(p: Int) = { val s = s"${l.render(2)} * ${r.render(3)}"
      if (p > 2) s"($s)" else s }
    def eval(a: Double, b: Double) = l.eval(a, b) * r.eval(a, b)
  }
  case class Flr(c: T) extends T {
    def render(p: Int) = s"floor(${c.render(0)})"
    def eval(a: Double, b: Double) = math.floor(c.eval(a, b))
  }

  private def genT(depth: Int): Gen[T] =
    if (depth == 0) Gen.oneOf(Gen.choose(0, 50).map(L.apply),
      Gen.oneOf(V("A"), V("B")))
    else Gen.frequency(
      2 -> Gen.choose(0, 50).map(L.apply),
      2 -> Gen.oneOf(V("A"), V("B")),
      3 -> (for { l <- genT(depth - 1); r <- genT(depth - 1) } yield Add(l, r)),
      3 -> (for { l <- genT(depth - 1); r <- genT(depth - 1) } yield Sub(l, r)),
      3 -> (for { l <- genT(depth - 1); r <- genT(depth - 1) } yield Mul(l, r)),
      1 -> genT(depth - 1).map(Flr.apply))

  private def bandsOf(vs: Array[Long]): Array[ArrayData] =
    Array(new GenericArrayData(vs), new GenericArrayData(vs.map(v => v * 3 + 1)))

  test("parser round-trips precedence-minimal rendering (property)") {
    val varFns: Seq[PixelFn] = Seq(
      new PixelFn { def eval(gx: Int, gy: Int, b: Array[ArrayData], i: Int) = b(0).getLong(i) },
      new PixelFn { def eval(gx: Int, gy: Int, b: Array[ArrayData], i: Int) = b(1).getLong(i) })
    check("precedence", Prop.forAll(genT(4), Gen.choose(0L, 99L)) { (t, seed) =>
      val text = t.render(0)
      val fn = PixelCalc.compile(text, varFns)
      val bands = bandsOf(Array(seed, seed + 13, seed * 7 % 100))
      (0 until 3).forall { i =>
        val a = bands(0).getLong(i).toDouble
        val b = bands(1).getLong(i).toDouble
        fn.eval(0, 0, bands, i) == t.eval(a, b).toLong
      }
    })
  }

  test("PixelCalc and CalcDsl agree through Spark on the same bands") {
    import scala.jdk.CollectionConverters._
    val exprs = Seq(
      "A % 10000",
      "floor(A / 10000)",
      "A + B",
      "(A + B) * 2 - A",
      "A * 31 + B * 17",
      "floor(A / 7) * 7 + A % 7",
      "A // 10",
      "(A - B) * (A - B)")
    val vals = (0L until 200L).map(i => (i * 37 + 11) % 30000).toArray
    val vals2 = vals.map(v => (v * 3 + 1) % 30000)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val df = spark.createDataFrame(
      Seq(Row(vals.toSeq, vals2.toSeq)).asJava,
      StructType(Seq(StructField("pa", ArrayType(LongType)),
        StructField("pb", ArrayType(LongType)))))
    df.createOrReplaceTempView("calc_prop")
    val varFns: Seq[PixelFn] = Seq(
      new PixelFn { def eval(gx: Int, gy: Int, b: Array[ArrayData], i: Int) = b(0).getLong(i) },
      new PixelFn { def eval(gx: Int, gy: Int, b: Array[ArrayData], i: Int) = b(1).getLong(i) })
    val bands = bandsOf(vals) // bands(1) = vals*3+1 — mirror vals2 construction
    for (e <- exprs) {
      val usesB = e.contains("B")
      val sql = CalcDsl.compileSql(e,
        if (usesB) Map("A" -> "pa", "B" -> "pb") else Map("A" -> "pa"))
      val viaSpark = spark.sql(
        s"SELECT transform($sql, x -> CAST(x AS BIGINT)) AS r FROM calc_prop")
        .collect()(0).getSeq[Long](0)
      val fn = PixelCalc.compile(e, if (usesB) varFns else varFns.take(1))
      val viaPixel = (0 until vals.length).map { i =>
        fn.eval(0, 0, Array(new GenericArrayData(vals),
          new GenericArrayData(vals.map(v => (v * 3 + 1) % 30000))), i)
      }
      assert(viaSpark == viaPixel, s"calc '$e' disagrees")
    }
  }
}
