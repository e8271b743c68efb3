package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the distinct k-token shingle set of an
  * ALREADY-NORMALIZED text (single-space separated, no leading/trailing
  * whitespace — `LlmOps.normText`'s output contract). This is the common
  * front of every shingle-based dedup operator (`dedup_ngram_jaccard`,
  * `dedup_clusters`, `dedup_survivor`, `dedup_minhash`), so its cost is
  * paid once per document per key.
  *
  * Semantically identical to the HOF spelling
  * `array_distinct(transform(sequence(0, size(tk)-k), i ->
  * concat_ws(' ', tk[i], …)))` over `split(norm, ' ')` (equivalence
  * asserted in LlmOpsSpec), but one primitive pass per row: token
  * boundaries are byte offsets into the UTF-8 buffer and each shingle is a
  * zero-copy byte slice — the HOF chain instead materializes a token
  * array, evaluates an interpreted lambda frame per shingle, and
  * re-concatenates token strings.
  *
  * Texts with fewer than k tokens yield an empty array (explode then drops
  * the row — the same effect as the old `size(tk) >= k` guard). */
case class ShingleSet(child: Expression, k: Int) extends UnaryExpression {

  require(k > 0, "shingle width must be positive")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_shingles"

  override def nullSafeEval(input: Any): Any =
    ShingleSet.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = graft.functions.ShingleSet$$.MODULE$$.compute($c, $k);"
    })

  override protected def withNewChildInternal(newChild: Expression): ShingleSet =
    copy(child = newChild)
}

object ShingleSet {
  private val empty = new GenericArrayData(Array.empty[Any])

  /** One pass over the UTF-8 bytes; called from generated code. */
  def compute(s: UTF8String, k: Int): GenericArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n == 0) return empty
    var nt = 1
    var i = 0
    while (i < n) { if (bytes(i) == ' ') nt += 1; i += 1 }
    if (nt < k) return empty
    val starts = new Array[Int](nt)
    val ends = new Array[Int](nt)
    var t = 0
    i = 0
    while (i < n) {
      if (bytes(i) == ' ') { ends(t) = i; t += 1; starts(t) = i + 1 }
      i += 1
    }
    ends(nt - 1) = n
    // LinkedHashSet: dedup with deterministic first-occurrence order (the
    // same order array_distinct preserves)
    val seen = new java.util.LinkedHashSet[UTF8String]()
    i = 0
    while (i + k <= nt) {
      seen.add(UTF8String.fromBytes(bytes, starts(i), ends(i + k - 1) - starts(i)))
      i += 1
    }
    new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size())))
  }
}
