package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for cosine similarity over two
  * `array<double>` columns: `dot(a,b) / (|a| * |b|)`, identical term order
  * to DuckDB's `list_cosine_similarity` so 6-dp-rounded outputs hash-match.
  *
  * Why an Expression and not a UDF or `aggregate(zip_with(...))` HOF
  * (SURVEY.md §4.3): higher-order functions evaluate one interpreted lambda
  * frame per element and a UDF breaks whole-stage codegen entirely; this
  * expression compiles to a primitive-array loop INSIDE the generated join
  * stage — the shape that survives millions of candidate pairs per executor
  * at 100 TB. Falls back to `nullSafeEval` wherever codegen is disabled.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData].toDoubleArray()
    val ys = b.asInstanceOf[ArrayData].toDoubleArray()
    val n = math.min(xs.length, ys.length)
    var dot = 0d; var na = 0d; var nb = 0d; var i = 0
    while (i < n) {
      dot += xs(i) * ys(i); na += xs(i) * xs(i); nb += ys(i) * ys(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val xs = ctx.freshName("xs"); val ys = ctx.freshName("ys")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |double[] $xs = $a.toDoubleArray();
         |double[] $ys = $b.toDoubleArray();
         |int $n = Math.min($xs.length, $ys.length);
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $xs[$i] * $ys[$i];
         |  $na += $xs[$i] * $xs[$i];
         |  $nb += $ys[$i] * $ys[$i];
         |}
         |${ev.value} = $dot / (Math.sqrt($na) * Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
