package graft

import graft.functions.GraftExtensions
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native codegen'd cosine must agree with the interpreted HOF formula
  * bit-for-bit (same term order) in both codegen and fallback paths. */
class CosineSimilaritySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val hof =
    """aggregate(zip_with(va, vb, (x, y) -> x * y), 0D, (a, x) -> a + x)
      | / (sqrt(aggregate(va, 0D, (a, x) -> a + x * x))
      |    * sqrt(aggregate(vb, 0D, (a, x) -> a + x * x)))""".stripMargin

  test("matches the interpreted HOF reference on real embeddings") {
    GraftExtensions.register(spark)
    val e = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("va"))
    val probe = e.where(col("vec_id") === 0).select(col("va").as("vb"))
    val both = e.crossJoin(broadcast(probe))
      .select(expr("graft_cosine(va, vb)").as("native"), expr(hof).as("ref"))
    assert(both.where(col("native") =!= col("ref")).count() === 0)
  }

  test("interpreted fallback agrees with codegen") {
    GraftExtensions.register(spark)
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      val df = Seq((Seq(1.0, 2.0, 3.0), Seq(3.0, 2.0, 1.0))).toDF("va", "vb")
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      val withCg = df.select(expr("graft_cosine(va, vb)")).first().getDouble(0)
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val noCg = df.select(expr("graft_cosine(va, vb)")).first().getDouble(0)
      assert(withCg === noCg)
      assert(math.abs(withCg - 10.0 / 14.0) < 1e-12)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("graft_cosine resolves through SQL in an isolated session") {
    // the builder-time GraftExtensions path needs a fresh SparkContext (not
    // possible mid-suite); capture what its injection registers and hold
    // it to the per-session path: same 8 names, same arity errors
    val injected = collection.mutable.LinkedHashMap.empty[String, Seq[Expression] => Expression]
    new GraftExtensions()(new SparkSessionExtensions {
      override def injectFunction(fd: FunctionDescription): Unit =
        injected(fd._1.funcName) = fd._3
    })
    val s2 = spark.newSession()
    GraftExtensions.register(s2)
    val names = Seq("graft_cosine", "graft_winnow", "graft_md5_winnow",
      "graft_block_mean_hash", "graft_char_entropy", "graft_shingles",
      "graft_byte_windows", "graft_morton")
    assert(injected.keys.toSeq.sorted === names.sorted)
    for (n <- names) {
      val sessionBuilder = s2.sessionState.functionRegistry
        .lookupFunctionBuilder(FunctionIdentifier(n))
      assert(sessionBuilder.isDefined, s"$n is not registered in the session")
      val viaExtension = intercept[IllegalArgumentException](injected(n)(Nil))
      val viaSession = intercept[IllegalArgumentException](sessionBuilder.get(Nil))
      assert(viaExtension.getMessage === viaSession.getMessage)
      assert(viaSession.getMessage.startsWith(s"requirement failed: $n("))
    }
    val r = s2.sql(
      "SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D))")
      .first().getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("nulls propagate") {
    GraftExtensions.register(spark)
    val df = Seq((Some(Seq(1.0, 2.0)), Option.empty[Seq[Double]]))
      .toDF("va", "vb")
    assert(df.select(expr("graft_cosine(va, vb)")).first().isNullAt(0))
  }
}
