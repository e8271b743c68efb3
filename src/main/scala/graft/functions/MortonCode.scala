package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Native Catalyst expression for the 2-D Morton (Z-order) code: bit
  * interleave of two non-negative dimension values — the multi-dimensional
  * clustering key behind OPTIMIZE ZORDER (the reference delegates Z-order
  * layout to Delta, framework.py:70,256-266; this is the open equivalent
  * of the curve itself). Sorting by the Z-value keeps BOTH dimensions
  * locally dense per file, so min/max file skipping prunes on either
  * predicate — 1-D range clustering (`layout_cluster`) can only serve its
  * leading key.
  *
  * Bit spreading uses the standard magic-number doubling sequence (5
  * shift-mask steps per dimension, no loop, no branch), emitted inline by
  * `doGenCode` so the whole computation stays inside whole-stage codegen.
  * Inputs clamp to 31 bits (the practical bucket-id domain); the result is
  * a non-negative 62-bit long. The same arithmetic is expressible in any
  * engine with integer bit ops — the DuckDB oracle replays it with the
  * identical masks (layout_zorder), which is the cross-engine determinism
  * proof.
  */
case class MortonCode(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (bigint, bigint), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_morton"

  override def nullSafeEval(a: Any, b: Any): Any =
    MortonCode.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.MortonCode$$.MODULE$$.interleave($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MortonCode =
    copy(left = newLeft, right = newRight)
}

object MortonCode {
  /** Spread the low 31 bits of x to even bit positions (magic-number
    * doubling). Called from generated code. */
  def spread(x0: Long): Long = {
    var x = x0 & 0x7fffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** 2-D Morton code: a's bits at even positions, b's at odd. */
  def interleave(a: Long, b: Long): Long =
    spread(a) | (spread(b) << 1)
}
