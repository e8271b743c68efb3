package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.execution.SparkSqlParser
import org.scalatest.funsuite.AnyFunSuite

/** The size of Spark's generated-class cache, set when a session starts. */
class CodegenCacheSpec extends AnyFunSuite {
  import TestSpark._

  test("a maxEntries set in the SparkConf is left alone") {
    assert(CodegenCache.entries(new SparkConf(false)) === Some(CodegenCache.Entries))
    val set = new SparkConf(false).set("spark.sql.codegen.cache.maxEntries", "64")
    assert(CodegenCache.entries(set) === None)
  }

  test("GraftExtensions' parser hook returns the parent parser") {
    val ext = new SparkSessionExtensions
    new graft.functions.GraftExtensions()(ext)
    val parent = new SparkSqlParser
    // buildParser is Spark-internal: call it the way the session builder does
    val build = classOf[SparkSessionExtensions].getMethod(
      "buildParser", classOf[SparkSession], classOf[ParserInterface])
    assert(build.invoke(ext, spark, parent) eq parent)
  }

  test("a second pass over many keys compiles no class") {
    // ~180 compiled classes, more than the 100 entries of Spark's default
    // capacity: at that size the first pass evicts what the second needs.
    // agg_lorenz and sql_tpch_q2 are left out: run twice in a row on their
    // own, they can compile new classes the second time
    val keys = Seq("agg_sign_test", "dq_expectations", "privacy_tcloseness",
      "sort_multi", "sql_tpch_q5", "sql_tpch_q6", "sql_tpch_q7", "sql_tpch_q8",
      "sql_tpch_q9", "sql_tpch_q10", "sql_tpch_q11", "sql_tpch_q12", "text_entropy")
    def pass(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val out = Harness.run(keys) { k =>
        SparkEntry.queries(k)(spark, sf0_01).write.format("noop").mode("overwrite").save()
      }
      assert(out.forall(_.result.isRight))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val first = pass()
    val second = pass()
    assert(second === 0, s"first pass compiled $first classes")
  }
}
