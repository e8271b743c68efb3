package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._

/** Loader canary: the driver's testdata physical schemas have drifted
  * mid-build before (round 6: events.ts int64-nanos → timestamp[us], which
  * silently killed 59 registry keys at the gate). This spec pins the
  * POST-LOAD schema every operator assumes, for all 10 tables at all 3
  * scale factors — a future drift fails one named test here instead of 59
  * opaque driver keys.
  */
class TablesSpec extends AnyFunSuite {
  import TestSpark._

  private val sfDirs =
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
      .filter(d => new java.io.File(d).isDirectory)

  // column -> required post-load dtype, per table (key columns only; extra
  // columns may come and go without breaking operators)
  private val expected: Map[String, Map[String, DataType]] = Map(
    "region"   -> Map("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation"   -> Map("n_nationkey" -> IntegerType, "n_name" -> StringType,
                      "n_regionkey" -> IntegerType),
    "customer" -> Map("c_custkey" -> LongType, "c_name" -> StringType,
                      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType),
    "supplier" -> Map("s_suppkey" -> LongType, "s_nationkey" -> IntegerType),
    "part"     -> Map("p_partkey" -> LongType, "p_brand" -> StringType,
                      "p_retailprice" -> DoubleType),
    "orders"   -> Map("o_orderkey" -> LongType, "o_custkey" -> LongType,
                      "o_orderdate" -> TimestampNTZType,
                      "o_totalprice" -> DoubleType),
    "lineitem" -> Map("l_orderkey" -> LongType, "l_partkey" -> LongType,
                      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
                      "l_quantity" -> DoubleType,
                      "l_shipdate" -> TimestampNTZType),
    "events"   -> Map("event_id" -> LongType, "ts" -> TimestampType,
                      "user_id" -> LongType, "event_type" -> StringType,
                      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Map("doc_id" -> LongType, "text" -> StringType,
                       "lang" -> StringType, "source" -> StringType,
                       "n_chars" -> LongType),
    "embeddings" -> Map("vec_id" -> LongType,
                        "embedding" -> ArrayType(FloatType),
                        "label" -> IntegerType))

  /** The load through `spark.read.parquet`, whose schema comes from
    * Spark's inference job: the reference the footer read must match. */
  private def sparkLoad(dir: String, name: String) = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    name match {
      case "documents" => Tables.widen(spark, raw, "doc_id")
      case "events" => raw.schema("ts").dataType match {
        case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000L")))
        case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
        case _ => raw
      }
      case _ => raw
    }
  }

  for (name <- Tables.names) {
    test(s"$name loads at sf0.01 with no Spark job, as Spark's reader would") {
      assert(jobsOf(Tables.load(spark, sf0_01, name)) === 0)
      val got = Tables.load(spark, sf0_01, name)
      val want = sparkLoad(sf0_01, name)
      assert(got.schema === want.schema)
      assert(got.queryExecution.toRdd.getNumPartitions ===
        want.queryExecution.toRdd.getNumPartitions)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      assert(rows(got) === rows(want))
    }
  }

  test("loading events at sf0.001 and sf0.01 leaves the session's settings as they were") {
    val s = spark.newSession()
    val before = s.conf.getAll.toSet
    for (dir <- Seq(sfDir, sf0_01)) Tables.load(s, dir, "events")
    val changed = s.conf.getAll.toSet -- before
    assert(changed.isEmpty, s"settings the load changed: $changed")
  }

  test("documents is widened over as many scan splits as Spark's reader gives") {
    val splits = spark.read.parquet(s"$sf0_01/documents.parquet")
      .queryExecution.toRdd.getNumPartitions
    val footer = graft.pipeline.LandingRead
      .footerRead(spark, Map.empty, Seq(s"$sf0_01/documents.parquet")).get
    assert(footer.queryExecution.toRdd.getNumPartitions === splits)
  }

  test("the partsupp-bearing TPC-H queries build with no Spark job once partsupp is staged") {
    operators.Partsupp.table(spark, sfDir)
    for (k <- Seq("sql_tpch_q2", "sql_tpch_q9", "sql_tpch_q11", "sql_tpch_q16",
                  "sql_tpch_q20"))
      assert(jobsOf(SparkEntry.queries(k)(spark, sfDir)) === 0, k)
  }

  for (dir <- sfDirs; name <- Tables.names) {
    test(s"$name post-load schema at ${dir.split('/').last}") {
      val schema = Tables.load(spark, dir, name).schema
      val byName = schema.fields.map(f => f.name -> f.dataType).toMap
      for ((col, want) <- expected(name)) {
        assert(byName.contains(col), s"$name missing column $col " +
          s"(has: ${schema.fieldNames.mkString(", ")})")
        assert(byName(col) == want,
          s"$name.$col loads as ${byName(col).simpleString}, " +
            s"operators assume ${want.simpleString}")
      }
    }
  }
}
