package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension entry point — the supported way to ship the engine's
  * native expressions into ANY SparkSession (cluster deployments pass
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`; embedded
  * users call `.withExtensions(new GraftExtensions)`):
  *
  * {{{
  *   SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  *   spark.sql("SELECT graft_cosine(a, b) FROM t")
  * }}}
  *
  * `CosineSimilarity.register` remains for per-session registration when the
  * builder is not under the caller's control (the operator registry uses it).
  *
  * When a session's state is built, the extension also sizes Spark's
  * generated-class cache to `graft.CodegenCache.Entries` entries, so warm
  * passes over many keys reuse their compiled classes instead of evicting
  * and recompiling them. A `spark.sql.codegen.cache.maxEntries` set in the
  * SparkConf wins. The cache is sized once per JVM, so only the first
  * session to generate code in a JVM can size it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      { exprs: Seq[Expression] =>
        require(exprs.length == 2, "graft_cosine(a, b) takes two arrays")
        CosineSimilarity(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_winnow"),
      new ExpressionInfo(classOf[TextWinnow].getName, "graft_winnow"),
      { exprs: Seq[Expression] =>
        require(exprs.length == 1, "graft_winnow(text) takes one string")
        TextWinnow(exprs.head)
      }))
    import GraftExtensions.litInt
    ext.injectFunction((
      FunctionIdentifier("graft_block_mean_hash"),
      new ExpressionInfo(classOf[BlockMeanHash].getName, "graft_block_mean_hash"),
      { exprs: Seq[Expression] =>
        require(exprs.length == 1, "graft_block_mean_hash(payload) takes one binary")
        BlockMeanHash(exprs.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_char_entropy"),
      new ExpressionInfo(classOf[CharEntropy].getName, "graft_char_entropy"),
      { exprs: Seq[Expression] =>
        require(exprs.length == 1, "graft_char_entropy(text) takes one string")
        CharEntropy(exprs.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShingleSet].getName, "graft_shingles"),
      { exprs: Seq[Expression] =>
        require(exprs.length == 2, "graft_shingles(norm_text, k) takes two arguments")
        ShingleSet(exprs.head, litInt(exprs(1), "shingle width"))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_byte_windows"),
      new ExpressionInfo(classOf[ByteWindows].getName, "graft_byte_windows"),
      { exprs: Seq[Expression] =>
        require(exprs.length == 3,
          "graft_byte_windows(payload, width, stride) takes three arguments")
        ByteWindows(exprs.head, litInt(exprs(1), "width"), litInt(exprs(2), "stride"))
      }))
    // curated-dimension auto-broadcast (graft.plans.BroadcastDimensionsRule)
    ext.injectOptimizerRule(_ => graft.plans.BroadcastDimensionsRule())
    // Spark builds the parser with the session's state, before the session
    // can generate code; the parent parser is returned unchanged
    ext.injectParser { (session, parser) => graft.CodegenCache.size(session); parser }
  }
}

object GraftExtensions {
  /** Foldable-literal int parameter extraction, shared by the extension
    * injector and the per-session `register` paths of the parameterized
    * native expressions. */
  private[functions] def litInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal")
    e.eval().asInstanceOf[Number].intValue()
  }
}
