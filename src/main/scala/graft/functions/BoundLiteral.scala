package graft.functions

import java.util.Objects

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A primitive constant that generated code reads as a stage
  * parameter instead of as source text.
  *
  * Spark's `Literal` writes its value into the generated Java, so
  * `WHERE l_quantity >= 23.0` and `>= 24.0` are two different sources
  * and each pays a fresh Janino compile. A `BoundLiteral` stores the
  * boxed value in the stage's `references` array and unboxes it once,
  * when the generated object is initialised, into a primitive field;
  * the per-row code reads that field. Queries that differ only in such
  * constants then generate the same source and share one compiled
  * class from the codegen cache.
  *
  * It evaluates, prints (`toString`, `sql`) and folds exactly as the
  * `Literal` it replaces, so plan text does not change. Equality is
  * the boxed value's (`NaN` equals itself, `-0.0` differs from `0.0`),
  * so a plan that holds one compares equal to itself after Java
  * serialization, which is how the interpreted path ships it to
  * tasks. */
case class BoundLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null && BoundLiteral.bindable(dataType),
    s"not a bindable constant: $value: ${dataType.catalogString}")

  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value

  private def literal = Literal(value, dataType)
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override def equals(other: Any): Boolean = other match {
    case b: BoundLiteral => dataType == b.dataType &&
      Objects.equals(value.asInstanceOf[AnyRef], b.value.asInstanceOf[AnyRef])
    case _ => false
  }
  override def hashCode: Int = Objects.hash(value.asInstanceOf[AnyRef], dataType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("bound", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "bound",
      v => s"$v = $boxed.${javaType}Value();", forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

object BoundLiteral {
  /** The types whose constants are bound; null, string, decimal and
    * boolean literals stay in the source. */
  def bindable(t: DataType): Boolean = t match {
    case IntegerType | LongType | DoubleType | FloatType | ShortType | ByteType |
         DateType | TimestampType => true
    case _ => false
  }
}

/** Rewrites the bindable `Literal`s of every `FilterExec` condition
  * into [[BoundLiteral]]s. Nothing else changes: scans keep their
  * literals, so Parquet `PushedFilters` and partition pruning are the
  * same, and projections keep their inlined constants. Runs before
  * `CollapseCodegenStages` ([[graft.BindLiterals]] injects it as a
  * pre-columnar-transition rule, which both the adaptive per-stage
  * planner and the non-adaptive preparations apply). */
object BindFilterLiterals extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val bound = f.condition.transform {
        case Literal(v, t) if v != null && BoundLiteral.bindable(t) => BoundLiteral(v, t)
      }
      if (bound eq f.condition) f else f.copy(condition = bound)
  }
}
