package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftx.{Shim => ExpressionUtils}
import org.apache.spark.sql.types.{DataType, LongType}

import graft.core.Poisson

/** Native Catalyst expression for the seeded Poisson decay draw.
  *
  * Mirrors the reference sampler `goforget/decay.go:12-34` + the
  * `-1 => no decay` caller contract of `goforget/decay.go:50-54`, and
  * participates in whole-stage codegen instead of going through a UDF
  * bridge: no `InternalRow` boxing, no Scala-function invocation per
  * row, and the surrounding `when(...)` clamp algebra stays inside the
  * same generated loop. The generated code is a static call into [[Poisson]] — the same
  * pattern Spark's own math expressions use for non-trivial kernels.
  *
  * Deterministic by construction: the draw is a pure function of
  * `(lambda, seed)`, so task retries and speculative execution replay the
  * identical result (required — Catalyst assumes expressions marked
  * deterministic ARE, and plans recomputation freely).
  */
case class PoissonDecayExpr(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def dataType: DataType = LongType
  override def prettyName: String = "poisson_decay"

  override protected def nullSafeEval(lambda: Any, seed: Any): Any =
    Poisson.decayDraw(lambda.asInstanceOf[Double], seed.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lambda, seed) =>
      s"graft.core.Poisson.decayDraw($lambda, $seed)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PoissonDecayExpr =
    copy(left = newLeft, right = newRight)
}

object PoissonDecayExpr {
  /** Column API: seeded Poisson draw with the reference's guard semantics. */
  def apply(lambda: Column, seed: Column): Column =
    ExpressionUtils.column(
      PoissonDecayExpr(ExpressionUtils.expression(lambda),
                       ExpressionUtils.expression(seed)))
}
