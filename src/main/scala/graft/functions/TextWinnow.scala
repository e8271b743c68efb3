package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for winnowing document fingerprints
  * (text_fingerprint's hot loop): rolling xxhash64 (seed 42, Spark's
  * `xxhash64` default) over every 8-codepoint gram, min per 4-hash window,
  * then (distinct-count, min, max) of the window minima as one struct.
  *
  * Semantically identical to the HOF formulation
  * `transform(sequence(...), i -> xxhash64(substring(text, i, 8)))` +
  * `transform(..., i -> array_min(slice(hs, i+1, 4)))` (equivalence is
  * asserted in TextWinnowSpec), but evaluated as ONE primitive loop per row:
  * the HOF chain allocates two long arrays and evaluates an interpreted
  * lambda frame per element, and `substring` re-walks the string per gram —
  * this walks the UTF-8 byte offsets once and hashes byte slices in place,
  * with the loop hoisted into a static helper that whole-stage codegen calls
  * directly (the generated join/projection stage stays compiled).
  *
  * Returns null for strings shorter than 11 codepoints (no complete
  * 4-window of 8-grams exists).
  */
case class TextWinnow(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = TextWinnow.outputType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_winnow"

  override def nullSafeEval(input: Any): Any =
    TextWinnow.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.TextWinnow$$.MODULE$$.compute($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): TextWinnow =
    copy(child = newChild)
}

object TextWinnow {
  val outputType: StructType = StructType(Seq(
    StructField("n_fp", IntegerType, nullable = false),
    StructField("fp_min", LongType, nullable = false),
    StructField("fp_max", LongType, nullable = false)))

  /** One-pass winnowing over the UTF-8 bytes; called from generated code. */
  def compute(s: UTF8String): InternalRow = {
    val nBytes = s.numBytes
    val base = s.getBaseObject
    val off = s.getBaseOffset
    // codepoint -> byte offset table (offs(i) = start byte of codepoint i)
    val offs = new Array[Int](nBytes + 1)
    var nc = 0
    var b = 0
    while (b < nBytes) {
      offs(nc) = b; nc += 1
      b += UTF8String.numBytesForFirstByte(s.getByte(b))
    }
    offs(nc) = nBytes
    if (nc < 11) return null
    val nh = nc - 7
    val hs = new Array[Long](nh)
    var i = 0
    while (i < nh) {
      hs(i) = XXH64.hashUnsafeBytes(base, off + offs(i), offs(i + 8) - offs(i), 42L)
      i += 1
    }
    val nf = nh - 3
    var fpMin = Long.MaxValue
    var fpMax = Long.MinValue
    val seen = new java.util.HashSet[Long]()
    i = 0
    while (i < nf) {
      var m = hs(i)
      var j = i + 1
      while (j < i + 4) { if (hs(j) < m) m = hs(j); j += 1 }
      seen.add(m)
      if (m < fpMin) fpMin = m
      if (m > fpMax) fpMax = m
      i += 1
    }
    new GenericInternalRow(Array[Any](seen.size, fpMin, fpMax))
  }
}
