package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryArithmetic, BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A literal operand whose value the generated code reads at run time
  * instead of spelling it into the Java source.
  *
  * `Literal.doGenCode` inlines every primitive value (`1234L`,
  * `Double.NaN`, a date's day number), and the codegen class cache is
  * keyed by the source text, so two point lookups that differ only in
  * the key compile the same whole-stage class twice and run the second
  * one cold. A `ParamLiteral` loads its value once per class instance
  * from `references` into a field, so the source no longer depends on
  * the value and the second lookup reuses the compiled class.
  *
  * It holds a non-null [[Literal]] of a type that `Literal` inlines
  * ([[ParamLiteral.inlines]]) and prints, compares and evaluates
  * exactly as that Literal: EXPLAIN text does not change. Two of them
  * are equal when their values have the same bits (any NaN equals any
  * NaN, -0.0 differs from 0.0), with a hash to match: `Literal` calls
  * -0.0 and 0.0 equal but hashes them apart, and subexpression
  * elimination over such a pair reads a common subexpression it never
  * computed. It is not foldable, so no parent's codegen evaluates it at
  * plan time and inlines the value after all. Strings and decimals
  * already go through `references`, so they never need it.
  */
final case class ParamLiteral(literal: Literal) extends LeafExpression {
  require(literal.value != null && ParamLiteral.inlines(literal.dataType),
    s"not an inlined literal: $literal")

  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override def eval(input: InternalRow): Any = literal.value

  private def bits: Any = literal.value match {
    case f: Float => java.lang.Float.floatToIntBits(f)
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case v => v
  }

  override def equals(o: Any): Boolean = o match {
    case p: ParamLiteral => dataType == p.dataType && bits == p.bits
    case _ => false
  }

  override def hashCode: Int = (dataType, bits).##

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", literal.value,
      CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

object ParamLiteral {
  /** The types whose non-null `Literal` codegen spells the value into
    * the source. */
  def inlines(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | DateType | TimestampType |
        TimestampNTZType => true
    case _: YearMonthIntervalType | _: DayTimeIntervalType => true
    case _ => false
  }
}

/** Rewrites the inlined literal operands of comparisons and arithmetic
  * in `FilterExec` conditions and `ProjectExec` lists to
  * [[ParamLiteral]]s, so a lookup with a new key compiles no new class.
  *
  * It runs as a pre-columnar-transition rule: on every plan, just before
  * `CollapseCodegenStages`, on both the adaptive stage path and the
  * non-adaptive path. Logical optimization, manifest stats pruning and
  * the scan's pushed filters have all run by then, so they still see
  * plain Literals. NULL literals and IN lists stay as they are.
  */
object ParamLiterals extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p @ (_: FilterExec | _: ProjectExec) =>
      p.transformExpressionsUp {
        case op @ (_: BinaryComparison | _: BinaryArithmetic) =>
          op.mapChildren {
            case l: Literal if l.value != null && ParamLiteral.inlines(l.dataType) =>
              ParamLiteral(l)
            case other => other
          }
      }
  }
}
