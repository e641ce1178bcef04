package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftx.{Shim => ExpressionUtils}
import org.apache.spark.sql.types.{DataType, LongType}

/** A long fixed when the plan is built (a read's `nowEpoch`) that
  * generated code reads from its references array instead of inlining.
  * A `lit(long)` is compiled into the class body, so every new value
  * compiles new classes; this leaf keeps the body the same across
  * values, and a plan at another clock reuses the compiled classes.
  * Not foldable, so the optimizer cannot turn it back into a literal.
  */
case class LongRefExpr(value: Long) extends LeafExpression with Serializable {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "long_ref"

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("longRef", java.lang.Long.valueOf(value), "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }
}

object LongRefExpr {
  /** Column API: `value` as a literal that codegen reads by reference. */
  def lit(value: Long): Column = ExpressionUtils.column(LongRefExpr(value))
}
