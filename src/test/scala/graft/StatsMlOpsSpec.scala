package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** `privacy_tcloseness` must give what its grid formulation gave: a dense
  * (segment × globally non-empty bucket) frame, cumulative sums by window,
  * and the EMD summed over the buckets below 9. That formulation is kept
  * here as the reference. */
class StatsMlOpsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val gridSql = """
    WITH mm AS (SELECT MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi
                FROM customer_grid),
         b AS (SELECT c_mktsegment AS seg,
                      LEAST(CAST(FLOOR((c_acctbal - lo) / (hi - lo) * 10)
                                 AS INT), 9) AS bkt
               FROM customer_grid CROSS JOIN mm),
         g AS (SELECT seg, bkt, CAST(COUNT(*) AS BIGINT) AS c
               FROM b GROUP BY 1, 2),
         gl AS (SELECT bkt, CAST(SUM(c) AS BIGINT) AS gc
                FROM g GROUP BY 1),
         grid AS (SELECT s.seg, k.bkt, COALESCE(g.c, 0L) AS c, gl.gc
                  FROM (SELECT DISTINCT seg FROM g) s
                  CROSS JOIN (SELECT DISTINCT bkt FROM gl) k
                  LEFT JOIN g ON g.seg = s.seg AND g.bkt = k.bkt
                  JOIN gl ON gl.bkt = k.bkt),
         tots AS (SELECT seg, CAST(SUM(c) AS BIGINT) AS n
                  FROM grid GROUP BY 1),
         gtot AS (SELECT CAST(SUM(gc) AS BIGINT) AS gn FROM gl),
         cum AS (SELECT seg, bkt,
                        CAST(SUM(c) OVER (PARTITION BY seg
                                          ORDER BY bkt) AS BIGINT) AS cc,
                        CAST(SUM(gc) OVER (PARTITION BY seg
                                           ORDER BY bkt) AS BIGINT) AS cg
                 FROM grid),
         emd AS (SELECT c1.seg,
                        CAST(SUM(CAST(round(abs(CAST(cc AS DOUBLE) / t.n
                                           - CAST(cg AS DOUBLE) / gtot.gn)
                                            * 1000000000) AS BIGINT))
                             AS BIGINT) AS s
                 FROM cum c1 JOIN tots t ON t.seg = c1.seg
                 CROSS JOIN gtot
                 WHERE bkt < 9 GROUP BY 1)
    SELECT emd.seg AS c_mktsegment, t.n,
           round(CAST(s AS DOUBLE) / 9000000000.0D, 6) AS t_closeness
    FROM emd JOIN tots t ON t.seg = emd.seg ORDER BY 1"""

  private def sameAsGrid(dir: String): DataFrame = {
    val got = SparkEntry.queries("privacy_tcloseness")(spark, dir)
    Tables.load(spark, dir, "customer").createOrReplaceTempView("customer_grid")
    val want = spark.sql(gridSql)
    assert(got.schema.map(f => (f.name, f.dataType)) ===
      want.schema.map(f => (f.name, f.dataType)))
    assert(got.collect().toSeq === want.collect().toSeq)
    got
  }

  test("privacy_tcloseness equals the grid formulation on the reference tables") {
    for (dir <- Seq(sfDir, sf0_01))
      assert(sameAsGrid(dir).count() === 5)
  }

  test("privacy_tcloseness: an empty decile, a sparse segment, null segment and balance") {
    // lo = 0, hi = 100: bucket = floor(balance / 10), 100 capped to 9.
    // No balance falls in 40-49, so bucket 4 is empty globally; MACHINERY
    // misses all but buckets 1 and 2; the null segment counts toward the
    // global distribution only; the null balance lands in bucket 9.
    val dir = TempDirs.tmp("g_tc_")
    Seq[(Option[String], Option[Double])](
      Some("AUTOMOBILE") -> Some(0.0), Some("AUTOMOBILE") -> Some(15.0),
      Some("AUTOMOBILE") -> Some(25.0), Some("AUTOMOBILE") -> Some(55.0),
      Some("AUTOMOBILE") -> Some(95.0), Some("AUTOMOBILE") -> Some(100.0),
      Some("BUILDING") -> Some(5.0), Some("BUILDING") -> Some(35.0),
      Some("BUILDING") -> Some(38.0), Some("BUILDING") -> Some(65.0),
      Some("BUILDING") -> Some(72.0), Some("BUILDING") -> Some(88.0),
      Some("MACHINERY") -> Some(12.0), Some("MACHINERY") -> Some(22.0),
      None -> Some(33.0), None -> Some(99.0),
      Some("HOUSEHOLD") -> None, Some("HOUSEHOLD") -> Some(51.0))
      .toDF("c_mktsegment", "c_acctbal")
      .coalesce(1).write.parquet(s"$dir/customer.parquet")
    val rows = sameAsGrid(dir).collect()
    assert(rows.map(_.getString(0)).toSeq ===
      Seq("AUTOMOBILE", "BUILDING", "HOUSEHOLD", "MACHINERY"))
    assert(rows.map(_.getLong(1)).toSeq === Seq(6L, 6L, 2L, 2L))
  }
}
