// Filter comparison values passed to generated code by reference.
//
// Whole-stage codegen writes every primitive literal into the Java
// source, so `x > 5` and `x > 6` compile and load two classes. This
// rule swaps the non-null primitive literal operands of the
// comparisons in a FilterExec condition for ParamLiteral, whose code
// reads a field set from the `references` array: every value of one
// filter shape gives the same source and reuses the compiled class.
// It runs on the physical plan, after the scan took its pushed
// filters, so row-group and partition pruning see plain literals.
package charmpandas.spark

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.types._

// Not a Literal subclass: Literal.equals accepts any Literal, so a
// transform would see no change and keep the original node.
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

object ParamLiterals extends Rule[SparkPlan] {
  private def primitive(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def param(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && primitive(t) => ParamLiteral(v, t)
    case _ => e
  }

  override def apply(plan: SparkPlan): SparkPlan =
    try {
      plan.transformUp { case f: FilterExec =>
        f.copy(condition = f.condition.transformUp {
          case c: BinaryComparison => c.mapChildren(param)
        })
      }
    } catch {
      case NonFatal(_) => plan
    }
}
