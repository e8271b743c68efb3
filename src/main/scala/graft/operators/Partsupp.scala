package graft.operators

import graft.Tables
import graft.pipeline.Versioned
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic TPC-H `partsupp` derived from the driver testdata (which
  * ships without one — FIXTURES.md §A), so the five partsupp-bearing TPC-H
  * queries (Q2/Q9/Q11/Q16/Q20) can run the LITERAL published query text
  * instead of fact-table proxies for `ps_supplycost`/`ps_availqty`.
  *
  * Derivation (identical on both engines, row-for-row):
  *   - PAIRS: the TPC-H data invariant that matters to query semantics is
  *     "every lineitem (l_partkey, l_suppkey) pair exists in partsupp"
  *     (dbgen draws lineitem pairs FROM partsupp). The testdata drew
  *     l_suppkey independently, so the only pair set that upholds the
  *     invariant is the observed DISTINCT sold pairs — topped up with the
  *     published 4-suppliers-per-part formula
  *     `(p_partkey + i·(S/4 + (p_partkey−1)/S)) mod S + 1, i∈0..3` so parts
  *     never sold still carry suppliers (TPC-H spec 4.2.3).
  *   - ATTRIBUTES: `ps_availqty` ∈ [1, 9999] and `ps_supplycost` ∈
  *     [$1.00, $1000.00] (the spec's RANDOM domains), seeded from md5 of
  *     the key pair via the project's proven cross-engine idiom (Spark
  *     `conv(substring(md5(x),1,15),16,10)` ≡ DuckDB
  *     `('0x'||substr(md5(x),1,15))::BIGINT` — 60-bit positive, see
  *     `agg_bootstrap_ci`). Cost is carried as BIGINT integer cents
  *     (`ps_supplycost_c`) so every downstream comparison/aggregate is
  *     exact on any engine.
  *
  * Scale: |partsupp| = |distinct sold pairs| ≤ |part|·|supplier| — one
  * DISTINCT shuffle over the fact plus a broadcast scalar (supplier count).
  * The table is STAGED ONCE per source dir through the same Versioned
  * commit protocol `join_bucketed`/`layout_cluster` use (a derived dim is a
  * maintenance commit, not a per-query cost); queries read the committed
  * parquet like any dimension table. At 100 TB the derivation is a single
  * map-side-combinable distinct over the fact, run once.
  */
object Partsupp {
  /** Conf-driven ([[Versioned.StageRootConf]]), content-fingerprinted
    * stage root: regenerating the source tables in place re-derives the
    * dim instead of serving stale rows, and sanitize-alike dirs cannot
    * collide (ADVICE r16 / VERDICT r16 #4). */
  private def root(s: SparkSession, d: String): HPath =
    Versioned.stageRoot(s, "partsupp", d, Seq("lineitem", "part", "supplier"))

  /** The committed derived table for source dir `d`, generating and
    * committing it on first touch (per JVM × dir × input fingerprint;
    * later JVMs reuse the committed version). */
  def table(s: SparkSession, d: String): DataFrame = synchronized {
    val conf = s.sparkContext.hadoopConfiguration
    val r = root(s, d)
    if (Versioned.current(r, conf).isEmpty) {
      val dir = Versioned.stagePath(r, Some("v_partsupp"))
      Tables.load(s, d, "lineitem").createOrReplaceTempView("lineitem_psgen")
      Tables.load(s, d, "part").createOrReplaceTempView("part_psgen")
      Tables.load(s, d, "supplier").createOrReplaceTempView("supplier_psgen")
      s.sql("""
        WITH pairs AS (
          SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem_psgen
          UNION
          SELECT p_partkey AS pk,
                 ((p_partkey + i * (scnt div 4 + (p_partkey - 1) div scnt))
                   % scnt) + 1 AS sk
          FROM part_psgen
          CROSS JOIN (SELECT COUNT(*) AS scnt FROM supplier_psgen)
          LATERAL VIEW explode(sequence(0, 3)) t AS i)
        SELECT pk AS ps_partkey, sk AS ps_suppkey,
               1L + CAST(conv(substring(md5(concat('psq:', CAST(pk AS STRING),
                 ':', CAST(sk AS STRING))), 1, 15), 16, 10) AS BIGINT)
                 % 9999L AS ps_availqty,
               100L + CAST(conv(substring(md5(concat('psc:', CAST(pk AS STRING),
                 ':', CAST(sk AS STRING))), 1, 15), 16, 10) AS BIGINT)
                 % 99901L AS ps_supplycost_c
        FROM pairs""")
        .write.mode("overwrite").parquet(s"$dir/data")
      Versioned.commit(r, dir, conf, keepVersions = 2)
    }
    Tables.parquet(s, Versioned.current(r, conf).get.toString + "/data")
  }

  /** The same derivation as a DuckDB CTE body (splice as
    * `WITH <oracleCte> …`) so the oracle computes partsupp inline from the
    * same flat tables — both engines see identical rows. */
  val oracleCte: String = """partsupp AS (
  SELECT pk AS ps_partkey, sk AS ps_suppkey,
         1 + (('0x' || substr(md5('psq:' || pk || ':' || sk), 1, 15))::BIGINT
              % 9999) AS ps_availqty,
         100 + (('0x' || substr(md5('psc:' || pk || ':' || sk), 1, 15))::BIGINT
              % 99901) AS ps_supplycost_c
  FROM (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem
        UNION
        SELECT p_partkey,
               ((p_partkey + i.i * ((SELECT COUNT(*) FROM supplier) // 4
                  + (p_partkey - 1) // (SELECT COUNT(*) FROM supplier)))
                 % (SELECT COUNT(*) FROM supplier)) + 1
        FROM part CROSS JOIN (VALUES (0),(1),(2),(3)) AS i(i)) pairs)"""
}
