package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
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
  * `GraftExtensions.register` adds the same functions (`functions`) to a
  * live session when the builder is not under the caller's control (the
  * operator registry uses it).
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
    GraftExtensions.functions.foreach(ext.injectFunction)
    // curated-dimension auto-broadcast (graft.plans.BroadcastDimensionsRule)
    ext.injectOptimizerRule(_ => graft.plans.BroadcastDimensionsRule())
    // Spark builds the parser with the session's state, before the session
    // can generate code; the parent parser is returned unchanged
    ext.injectParser { (session, parser) => graft.CodegenCache.size(session); parser }
  }
}

object GraftExtensions {
  private type Builder = Seq[Expression] => Expression

  /** One native SQL function: its name, the expression class that
    * documents it, its arity with the message a wrong one throws, and the
    * builder over exactly that many arguments. */
  private def native(name: String, cls: Class[_], arity: Int, usage: String)(
      build: Builder): (FunctionIdentifier, ExpressionInfo, Builder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      { exprs => require(exprs.length == arity, usage); build(exprs) })

  /** The native-function catalog. The extension injects it and `register`
    * adds it to a live session, so both paths expose the same names. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    native("graft_cosine", classOf[CosineSimilarity], 2,
      "graft_cosine(a, b) takes two arrays")(e => CosineSimilarity(e(0), e(1))),
    native("graft_winnow", classOf[TextWinnow], 1,
      "graft_winnow(text) takes one string")(e => TextWinnow(e(0))),
    native("graft_md5_winnow", classOf[Md5Winnow], 1,
      "graft_md5_winnow(text) takes one string")(e => Md5Winnow(e(0))),
    native("graft_block_mean_hash", classOf[BlockMeanHash], 1,
      "graft_block_mean_hash(payload) takes one binary")(e => BlockMeanHash(e(0))),
    native("graft_char_entropy", classOf[CharEntropy], 1,
      "graft_char_entropy(text) takes one string")(e => CharEntropy(e(0))),
    native("graft_shingles", classOf[ShingleSet], 2,
      "graft_shingles(norm_text, k) takes two arguments")(
      e => ShingleSet(e(0), litInt(e(1), "shingle width"))),
    native("graft_byte_windows", classOf[ByteWindows], 3,
      "graft_byte_windows(payload, width, stride) takes three arguments")(
      e => ByteWindows(e(0), litInt(e(1), "width"), litInt(e(2), "stride"))),
    native("graft_morton", classOf[MortonCode], 2,
      "graft_morton(a, b) takes two bigints")(e => MortonCode(e(0), e(1))))

  /** Registers the catalog in `spark`'s session, for sessions whose
    * builder is not under the caller's control (the operator registry
    * calls it once per build). Re-registering puts the same entries. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, build) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, build)
    }

  /** Foldable-literal int parameter extraction for the parameterized
    * native expressions. */
  private def litInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal")
    e.eval().asInstanceOf[Number].intValue()
  }
}
