package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Native Catalyst expression for a 64-bit block-mean perceptual hash over
  * an opaque binary payload (mm_dedup_phash's hot loop) — the blockhash /
  * pHash family shape: split the payload into 64 equal spans, bit b is set
  * iff span b's mean exceeds the global mean. Length-invariant (spans scale
  * with the payload) and stable under small local edits — a few changed
  * bytes move a few block means, so near-identical payloads land within a
  * small Hamming distance, which is exactly what the banded near-dup join
  * keys on.
  *
  * In production the input is the DECODED luma plane (StubDecoder stands in
  * here — no codecs in this container); the hash, banding, and join shapes
  * are the real contract. One primitive pass per row from whole-stage
  * codegen, like [[ByteWindows]].
  *
  * Payloads shorter than 64 bytes hash over their available spans (empty
  * spans contribute mean 0); an empty payload hashes to 0L.
  */
case class BlockMeanHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a binary argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_block_mean_hash"

  override def nullSafeEval(input: Any): Any =
    BlockMeanHash.compute(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.BlockMeanHash$$.MODULE$$.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): BlockMeanHash =
    copy(child = newChild)
}

object BlockMeanHash {
  final val Bits = 64

  /** One pass over the payload bytes; called from generated code. */
  def compute(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    var total = 0L
    var i = 0
    while (i < n) { total += (bytes(i) & 0xff); i += 1 }
    // global mean compared in cross-multiplied integer space: block b (span
    // [b·n/64, (b+1)·n/64)) sets its bit iff blockSum·n > total·span — no
    // float division, no rounding ambiguity. Both products fit a long while
    // 4n² < 2^63 (n ≤ 1e9); beyond that (Spark binary can reach 2 GB) the
    // comparison promotes to BigInt — 64 promotions per huge payload, never
    // a silently wrapped sign
    val exact = n <= 1000000000
    var hash = 0L
    var b = 0
    while (b < Bits) {
      val lo = (b.toLong * n / Bits).toInt
      val hi = ((b + 1).toLong * n / Bits).toInt
      var s = 0L
      var j = lo
      while (j < hi) { s += (bytes(j) & 0xff); j += 1 }
      val above =
        if (exact) s * n > total * (hi - lo)
        else BigInt(s) * n > BigInt(total) * (hi - lo)
      if (above) hash |= (1L << b)
      b += 1
    }
    hash
  }
}
