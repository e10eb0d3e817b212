// Fused k-means kernels for the Lloyd driver loop (SimQueries):
// Spark's higher-order functions evaluate lambdas interpreted, and the
// per-iteration assignment (`aggregate(transform(array(centroids),…))`)
// plus centroid fold (`aggregate(arr, zeros, zip_with(+))`) dominated
// the build at ~20× the cost of a primitive loop. These expressions do
// the identical arithmetic in the identical order — same IEEE-754
// per-op rounding, bit-equal centroids — in one tight pass.
package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `km_argmax(v, nrm, cents)` → bigint: index of the max-cosine
  * centroid with the deterministic tie-break (strict `>` keeps the
  * first, i.e. lowest cluster id, since `cents` arrives in ascending-c
  * order). `cents` is a foldable literal
  * `array<struct<c bigint, cv array<double>, cnrm double>>` hoisted to
  * flat primitive arrays once per (plan, thread) — the per-row cost is
  * the k×dim dot products alone. */
case class KmArgmax(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType,
            ArrayType(StructType(Array(
              StructField(_, LongType, _, _),
              StructField(_, ArrayType(DoubleType, _), _, _),
              StructField(_, DoubleType, _, _))), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"km_argmax expects (array<double>, double, array<struct<c,cv,cnrm>>), got $t")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "km_argmax"

  // Hoisted centroid matrix: ids, flat row-major components, norms.
  @transient private lazy val hoisted: (Array[Long], Array[Double], Array[Double], Int) = {
    val arr = third.eval(InternalRow.empty).asInstanceOf[ArrayData]
    val k = arr.numElements()
    val ids = new Array[Long](k)
    val nrms = new Array[Double](k)
    var dim = 0
    val rows = (0 until k).map { i =>
      val st = arr.getStruct(i, 3)
      ids(i) = st.getLong(0)
      nrms(i) = st.getDouble(2)
      val cv = st.getArray(1).toDoubleArray()
      dim = cv.length
      cv
    }
    val flat = new Array[Double](k * dim)
    var i = 0
    while (i < k) { System.arraycopy(rows(i), 0, flat, i * dim, dim); i += 1 }
    (ids, flat, nrms, dim)
  }

  override protected def nullSafeEval(vAny: Any, nAny: Any, cAny: Any): Any =
    evalArgmax(vAny.asInstanceOf[ArrayData], nAny.asInstanceOf[Double])

  /** Called from both the interpreted path and the generated code —
    * the hoisted centroid matrix lives on this instance, which codegen
    * reaches through `addReferenceObj` (keeping the whole-stage span
    * intact; the k×dim loop gains nothing from being inlined). */
  def evalArgmax(vAny: ArrayData, nrm: Double): Long = {
    val v = vAny.toDoubleArray()
    val (ids, flat, nrms, dim) = hoisted
    val k = ids.length
    var bestC = -1L
    var bestS = -1.0e308
    var c = 0
    while (c < k) {
      var dot = 0.0
      val base = c * dim
      var i = 0
      while (i < dim) { dot += v(i) * flat(base + i); i += 1 }
      val s = dot / (nrm * nrms(c))
      if (s > bestS) { bestS = s; bestC = ids(c) }
      c += 1
    }
    bestC
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kmArgmax", this, classOf[KmArgmax].getName)
    nullSafeCodeGen(ctx, ev, (v, n, _) => s"${ev.value} = $ref.evalArgmax($v, $n);")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): KmArgmax =
    copy(first = f, second = s, third = t)
}

/** `vec_ordered_mean(arr, cnt)` → array<double>: elementwise mean of
  * the `v` fields of `arr: array<struct<vec_id, v>>`, added in array
  * order (callers pass `sort_array(collect_list(...))`, so the fold is
  * vec_id-ordered) and divided by `cnt` — the exact op sequence of the
  * `aggregate(arr, zeros, zip_with(+))` / `transform(/cnt)` HOF pair it
  * replaces, so results are bit-identical. */
case class VecOrderedMean(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StructType(fields), _), LongType)
          if fields.length == 2 && fields(1).dataType == ArrayType(DoubleType, false) ||
             fields.length == 2 && fields(1).dataType == ArrayType(DoubleType, true) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"vec_ordered_mean expects (array<struct<id, array<double>>>, bigint), got $t")
    }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "vec_ordered_mean"

  override protected def nullSafeEval(aAny: Any, cntAny: Any): Any =
    VecOrderedMean.compute(aAny.asInstanceOf[ArrayData], cntAny.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, c) =>
      s"graft.functions.VecOrderedMean.compute($a, $c)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecOrderedMean =
    copy(left = l, right = r)
}

object VecOrderedMean {
  def compute(arr: ArrayData, cntL: Long): ArrayData = {
    val cnt = cntL.toDouble
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Double])
    val first = arr.getStruct(0, 2).getArray(1)
    val dim = first.numElements()
    val sum = new Array[Double](dim)
    var i = 0
    while (i < n) {
      val v = arr.getStruct(i, 2).getArray(1)
      var j = 0
      while (j < dim) { sum(j) += v.getDouble(j); j += 1 }
      i += 1
    }
    var j = 0
    while (j < dim) { sum(j) /= cnt; j += 1 }
    new GenericArrayData(sum)
  }
}
