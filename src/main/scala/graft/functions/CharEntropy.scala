package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for per-document character-level Shannon
  * entropy (base 2) — the gibberish/boilerplate quality signal
  * (random noise → ~log2(alphabet), "aaaa…" → 0).
  *
  * H = log2(n) − (Σ c·log2 c)/n over code-point frequencies — ONE pass per
  * row inside whole-stage codegen. The declarative spelling (explode each
  * character, groupBy doc + char, aggregate) multiplies the row count by the
  * document length before shuffling it — a non-starter at 100 TB; this walks
  * the string once with an int[128] ASCII fast path and never leaves the
  * projection stage. Matches DuckDB's `entropy()` over
  * `unnest(string_split(text, ''))` (the oracle formulation) up to float
  * rounding; the calling op rounds to 4dp.
  *
  * Empty/blank input yields 0.0 (the entropy of an empty multiset, as a
  * non-null float so the column stays aggregation-friendly).
  *
  * Counting unit: UNICODE CODE POINTS (codePointAt/charCount walk), chosen
  * because it matches DuckDB's `string_split(text, '')` unit — so the
  * oracle agrees on non-BMP text too (LlmOpsSpec pins a surrogate-pair
  * case). Spark's declarative `split(text, '')` splits into UTF-16 code
  * UNITS instead, breaking a surrogate pair in half: the
  * declarative-equivalence test therefore only holds for BMP input, which
  * is documented there. Grapheme clusters (user-perceived characters,
  * e.g. e + combining accent as one unit) would need ICU segmentation; for
  * an entropy-based quality signal the code-point distribution is the
  * standard choice and the cross-engine-stable one.
  */
case class CharEntropy(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_char_entropy"

  override def nullSafeEval(input: Any): Any =
    CharEntropy.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.CharEntropy$$.MODULE$$.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
}

object CharEntropy {
  private val Ln2 = math.log(2.0)

  /** One-pass code-point entropy; called from generated code. */
  def compute(u: UTF8String): Double = {
    val s = u.toString
    val ascii = new Array[Int](128)
    var other: java.util.HashMap[Integer, Array[Int]] = null
    var n = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      n += 1
      if (cp < 128) ascii(cp) += 1
      else {
        if (other == null) other = new java.util.HashMap[Integer, Array[Int]]()
        val c = other.get(cp)
        if (c == null) other.put(cp, Array(1)) else c(0) += 1
      }
    }
    if (n == 0L) return 0.0
    var acc = 0.0
    var j = 0
    while (j < 128) {
      val c = ascii(j)
      if (c > 0) acc += c * (math.log(c.toDouble) / Ln2)
      j += 1
    }
    if (other != null) {
      val it = other.values().iterator()
      while (it.hasNext) {
        val c = it.next()(0)
        acc += c * (math.log(c.toDouble) / Ln2)
      }
    }
    math.log(n.toDouble) / Ln2 - acc / n
  }
}
