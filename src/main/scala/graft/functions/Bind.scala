package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge.{toColumn, toExpression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral, JavaCode, TrueLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** A constant bound into generated code BY REFERENCE instead of inlined as
  * a Java literal — so one compiled class serves every value.
  *
  * Whole-stage codegen writes a literal's value into the Java source, and
  * the compile cache is keyed by that source: a per-batch constant (an
  * ingest date, an as-of date) makes every batch compile its stage again
  * with Janino, and the new class starts cold in the JIT. [[BoundValue]]
  * evaluates its foldable child once and hands the result to the generated
  * code through `addReferenceObj` (the [[Blooms]] pattern), so the source
  * is the same for every value. It reports itself non-foldable, so
  * `ConstantFolding` folds the child but never turns the binding back into
  * a literal. A child that is not foldable (a column, a per-row value)
  * passes through unchanged: its own code is the generated code.
  */
object Bind {

  case class BoundValue(child: Expression) extends UnaryExpression {
    override def foldable: Boolean = false
    override def nullable: Boolean = child.nullable
    override def dataType: DataType = child.dataType
    private lazy val value: Any = child.eval()
    override def eval(input: InternalRow): Any =
      if (child.foldable) value else child.eval(input)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      if (!child.foldable) child.genCode(ctx)
      else if (value == null)
        ev.copy(code = code"", isNull = TrueLiteral, value = JavaCode.defaultLiteral(dataType))
      else {
        val ref = ctx.addReferenceObj("bound", value, CodeGenerator.boxedType(dataType))
        ev.copy(code = code"final ${CodeGenerator.javaType(dataType)} ${ev.value} = $ref;",
          isNull = FalseLiteral)
      }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "bind"
  }

  /** `c` bound by reference: a constant becomes one reference slot of the
    * generated class; anything else is evaluated as before. */
  def apply(c: Column): Column = toColumn(BoundValue(toExpression(c)))
}
