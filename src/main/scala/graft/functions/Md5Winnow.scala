package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the md5-based winnowing twin
  * (`text_fingerprint_md5`'s hot loop) — bit-identical to the SQL HOF
  * formulation
  * `transform(sequence(1, len-7), i -> conv(substr(md5(CAST(substr(text,i,8)
  * AS BINARY)), 1, 8), 16, 10))` + min-per-4-window + distinct/min/max
  * (equivalence asserted in TextWinnowSpec), but evaluated as ONE primitive
  * loop per row: the HOF chain pays an interpreted lambda frame, a substring
  * copy, and a hex round-trip per gram — measured 6.8 s vs ~1.5 s for the
  * 5000-doc corpus at sf0.1. The per-gram hash is the first 4 md5 bytes as
  * an unsigned 32-bit value — exactly `conv(substr(hex, 1, 8), 16, 10)`.
  *
  * [[TextWinnow]] (seeded xxhash64) stays the production fingerprint path;
  * this expression exists so the ORACLE-CHECKED twin costs native-loop time
  * while remaining DuckDB-replayable.
  *
  * Returns null for strings shorter than 11 codepoints (no complete
  * 4-window of 8-grams exists).
  */
case class Md5Winnow(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = TextWinnow.outputType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_md5_winnow"

  override def nullSafeEval(input: Any): Any =
    Md5Winnow.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.Md5Winnow$$.MODULE$$.compute($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Md5Winnow =
    copy(child = newChild)
}

object Md5Winnow {

  private val digestTL =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** One-pass md5 winnowing over the UTF-8 bytes; called from generated
    * code. Gram i = codepoints [i, i+8); hash = first 4 digest bytes as an
    * unsigned 32-bit long (== the first 8 hex chars via conv(…,16,10)). */
  def compute(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    val nBytes = bytes.length
    // codepoint -> byte offset table (offs(i) = start byte of codepoint i)
    val offs = new Array[Int](nBytes + 1)
    var nc = 0
    var b = 0
    while (b < nBytes) {
      offs(nc) = b; nc += 1
      b += UTF8String.numBytesForFirstByte(bytes(b))
    }
    offs(nc) = nBytes
    if (nc < 11) return null
    val md = digestTL.get()
    val nh = nc - 7
    val hs = new Array[Long](nh)
    var i = 0
    while (i < nh) {
      md.reset()
      md.update(bytes, offs(i), offs(i + 8) - offs(i))
      val dg = md.digest()
      hs(i) = ((dg(0) & 0xffL) << 24) | ((dg(1) & 0xffL) << 16) |
        ((dg(2) & 0xffL) << 8) | (dg(3) & 0xffL)
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
