package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for fixed-stride overlapping byte windows
  * with per-window energy stats (mm_audio_window's hot loop): window w
  * covers bytes [w·stride, w·stride + width) of the payload and yields
  * (win_id, win_sum, win_max) over the unsigned byte values.
  *
  * Semantically identical to the HOF formulation (hex the payload, decode
  * each byte with instr arithmetic, aggregate slices per window — asserted
  * in MultimodalSpec), but evaluated as ONE primitive loop per row: the HOF
  * chain allocates a hex string (2× payload), a boxed Long per byte, a
  * sliced array copy per window, and an interpreted lambda frame per
  * element — measured 13.5 s for the full op at local[4]/sf0.1 vs ~0.5 s
  * with this expression. The loop lives in a static helper that whole-stage
  * codegen calls directly, so the surrounding projection stays compiled.
  *
  * Returns an empty array for payloads shorter than `width` (callers
  * filter on octet_length anyway; empty keeps the expression total). */
case class ByteWindows(child: Expression, width: Int, stride: Int)
    extends UnaryExpression {

  require(width > 0 && stride > 0, "width and stride must be positive")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a binary argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = ByteWindows.outputType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_byte_windows"

  override def nullSafeEval(input: Any): Any =
    ByteWindows.compute(input.asInstanceOf[Array[Byte]], width, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = graft.functions.ByteWindows$$.MODULE$$.compute($c, $width, $stride);"
    })

  override protected def withNewChildInternal(newChild: Expression): ByteWindows =
    copy(child = newChild)
}

object ByteWindows {
  val outputType: ArrayType = ArrayType(StructType(Seq(
    StructField("win_id", LongType, nullable = false),
    StructField("win_sum", LongType, nullable = false),
    StructField("win_max", LongType, nullable = false))), containsNull = false)

  /** One pass per window over the raw bytes; called from generated code. */
  def compute(bytes: Array[Byte], width: Int, stride: Int): GenericArrayData = {
    val n = bytes.length
    if (n < width) return new GenericArrayData(Array.empty[Any])
    val nwin = (n - width) / stride + 1
    val rows = new Array[Any](nwin)
    var w = 0
    while (w < nwin) {
      val base = w * stride
      var sum = 0L
      var max = 0L
      var i = 0
      while (i < width) {
        val v = (bytes(base + i) & 0xff).toLong
        sum += v
        if (v > max) max = v
        i += 1
      }
      rows(w) = new GenericInternalRow(Array[Any](w.toLong, sum, max))
      w += 1
    }
    new GenericArrayData(rows)
  }
}
