package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide smoke: every declared §2C key builds and yields rows, keys
  * are unique, and every oracle belongs to a registered query. */
class RegistrySpec extends AnyFunSuite {
  import TestSpark._

  test("all keys unique and oracle keys registered") {
    val qs = SparkEntry.queries
    assert(qs.nonEmpty)
    // Map construction silently dedupes — compare against the raw op count
    // so an accidentally reused key can't shadow an existing op unnoticed
    // (SparkEntry's require fires first; this keeps the guard test-visible)
    assert(qs.size === SparkEntry.opCount, "a duplicate key shadowed an op")
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs.keySet))
  }

  // tools/check.py stages the edge derivation every graph oracle embeds
  // as its `pairs` CTE (its PAIRS_SQL), and stubs the text from `pairs AS (`
  // to the next `GROUP BY 1, 2)` only when that text is the staged join,
  // whitespace aside. Any other body fails the check, so the registry is
  // held to the same text.
  test("graph oracles embed the staged pairs join as their pairs CTE") {
    val open = "pairs AS ("
    val pairsSql =
      """SELECT CAST(c_nationkey AS BIGINT) AS a,
        |  CAST(s_nationkey AS BIGINT) AS b, count(*) AS w
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1, 2""".stripMargin
    def words(s: String) = s.split("\\s+").filter(_.nonEmpty).toSeq
    val staged = SparkEntry.oracleSql.filter { case (k, sql) =>
      k.startsWith("graph_") && sql.contains(open)
    }
    assert(staged.nonEmpty)
    val drifted = staged.collect { case (k, sql)
      if {
        val body = sql.indexOf(open) + open.length
        val end = sql.indexOf("GROUP BY 1, 2)", body)
        end < 0 || words(sql.substring(body, end + "GROUP BY 1, 2".length)) != words(pairsSql)
      } => k }
    assert(drifted.isEmpty, s"pairs CTE is not the staged join: ${drifted.toSeq.sorted}")
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // The streaming + write-path ops run real bounded streams / temp-dir writes;
  // they are exercised in their own specs. Here: every pure query key.
  private val slowKeys = Set(
    "stream_file_append", "stream_tumbling_agg", "stream_sliding_agg",
    "stream_session_window", "stream_dedup_state",
    "ingest_roundtrip", "partitioned_write", "layout_cluster")

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1) if !slowKeys(name)) {
    test(s"$name returns rows at sf0.001") {
      val df = fn(spark, sfDir)
      // Driver-boundary contract: the driver's pandas canonicalizer cannot
      // hash Array/Map cells (round-2 agg_collect_sorted, round-5
      // maintenance_compact both broke here) — every result column must be
      // scalar; stringify collections with array_join/to_json before return.
      val nonScalar = df.schema.fields.filter(f =>
        f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
        f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
      assert(nonScalar.isEmpty,
        s"$name emits non-scalar columns: " +
          nonScalar.map(f => s"${f.name}:${f.dataType.simpleString}")
            .mkString(", "))
      assert(df.count() > 0, s"$name returned 0 rows")
    }
  }
}
