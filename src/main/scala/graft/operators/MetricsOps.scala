package graft.operators

import graft.{Op, Tables}
import org.apache.spark.sql.SparkSession

/** Round-8 continuation batch: production-metrics operators — the running
  * financial aggregates, model-fit diagnostics, freshness/health audits,
  * and engagement ratios an analytics platform serves daily over the
  * reference's sales-events domain (framework.py:310-349 delegates these
  * to engine SQL; here they are expressed Spark-first).
  *
  * Engine-determinism follows the repo protocol (core.scala): every sum
  * crossing the DuckDB oracle boundary is an exact BIGINT (per-row
  * quantization BEFORE aggregation → order-independent), floats enter in
  * fixed per-row/per-group IEEE expressions only, one final round(…, 6).
  */
object MetricsOps {
  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  // Running VWAP (volume-weighted average price) per part over its ship
  // history — the canonical "weighted running mean" finance shape, distinct
  // from window_twap (time-weighted) and window_bollinger (unweighted ±σ).
  // Both cumulative sums (Σ price·qty in cents, Σ qty) are exact BIGINTs
  // sharing ONE (partkey / shipdate) sort — a single shuffle, two frames
  // over the same window spec; the published value is an exact micro-USD
  // integer (floor division, Spark DIV ≡ DuckDB //) so no float-rounding
  // boundary can split the engines. Restricted
  // to a fixed part range so the published result is a bounded table; at
  // 100 TB the partition key spreads the sort across the cluster and the
  // frame is ROWS UNBOUNDED PRECEDING — O(1) state per row, no buffering.
  private val windowVwap = Op(
    "window_vwap",
    (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_vw")
      s.sql("""
        WITH b AS (SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber,
                          CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
                          CAST(round(l_quantity) AS BIGINT) AS q
                   FROM lineitem_vw WHERE l_partkey <= 200),
             r AS (SELECT l_partkey, l_orderkey, l_linenumber,
                          CAST(SUM(pc * q) OVER (PARTITION BY l_partkey
                            ORDER BY l_shipdate, l_orderkey, l_linenumber
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS spq,
                          CAST(SUM(q) OVER (PARTITION BY l_partkey
                            ORDER BY l_shipdate, l_orderkey, l_linenumber
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sq
                   FROM b)
        SELECT l_partkey, l_orderkey, l_linenumber,
               CAST((spq * 10000) div sq AS DOUBLE) / 1000000.0D AS vwap
        FROM r ORDER BY l_partkey, l_orderkey, l_linenumber""")
    },
    Some("""WITH b AS (SELECT l_partkey, l_shipdate, l_orderkey,
                              l_linenumber,
                              CAST(round(l_extendedprice * 100) AS BIGINT)
                                AS pc,
                              CAST(round(l_quantity) AS BIGINT) AS q
                       FROM lineitem WHERE l_partkey <= 200),
                 r AS (SELECT l_partkey, l_orderkey, l_linenumber,
                              CAST(SUM(pc * q) OVER (PARTITION BY l_partkey
                                ORDER BY l_shipdate, l_orderkey, l_linenumber
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS spq,
                              CAST(SUM(q) OVER (PARTITION BY l_partkey
                                ORDER BY l_shipdate, l_orderkey, l_linenumber
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sq
                       FROM b)
            SELECT l_partkey, l_orderkey, l_linenumber,
                   CAST((spq * 10000) // sq AS DOUBLE) / 1000000.0 AS vwap
            FROM r ORDER BY l_partkey, l_orderkey, l_linenumber"""))

  // Multiple (two-predictor) OLS regression by normal equations —
  // extendedprice ~ quantity + discount per return flag, the step past
  // agg_regression's single-predictor fit. All NINE moment sums (n, Σx₁,
  // Σx₂, Σy, Σx₁², Σx₂², Σx₁x₂, Σx₁y, Σx₂y) are exact BIGINTs collected
  // in ONE partial-aggregated scan (the 100 TB shape: the fit is free next
  // to the scan — no second pass, no gram-matrix shuffle). The 3×3 system
  // solves per GROUP by Cramer's rule in float64 — a fixed IEEE expression
  // tree both engines evaluate identically — and rounds once.
  private val aggOlsMulti = Op(
    "agg_ols_multi",
    (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_ols")
      s.sql("""
        WITH b AS (SELECT l_returnflag AS flag,
                          CAST(round(l_quantity) AS BIGINT) AS x1,
                          CAST(round(l_discount * 100) AS BIGINT) AS x2,
                          CAST(round(l_extendedprice * 100) AS BIGINT) AS y
                   FROM lineitem_ols),
             m AS (SELECT flag, CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(x1) AS BIGINT) AS s1,
                          CAST(SUM(x2) AS BIGINT) AS s2,
                          CAST(SUM(y) AS BIGINT) AS sy,
                          CAST(SUM(x1 * x1) AS BIGINT) AS s11,
                          CAST(SUM(x2 * x2) AS BIGINT) AS s22,
                          CAST(SUM(x1 * x2) AS BIGINT) AS s12,
                          CAST(SUM(x1 * y) AS BIGINT) AS s1y,
                          CAST(SUM(x2 * y) AS BIGINT) AS s2y
                   FROM b GROUP BY 1),
             f AS (SELECT flag, n,
                          CAST(n AS DOUBLE) AS dn,
                          CAST(s1 AS DOUBLE) AS d1, CAST(s2 AS DOUBLE) AS d2,
                          CAST(sy AS DOUBLE) AS dy,
                          CAST(s11 AS DOUBLE) AS d11,
                          CAST(s22 AS DOUBLE) AS d22,
                          CAST(s12 AS DOUBLE) AS d12,
                          CAST(s1y AS DOUBLE) AS d1y,
                          CAST(s2y AS DOUBLE) AS d2y
                   FROM m)
        SELECT flag, n,
               round((dy * (d11 * d22 - d12 * d12)
                      - d1 * (d1y * d22 - d12 * d2y)
                      + d2 * (d1y * d12 - d11 * d2y))
                     / (dn * (d11 * d22 - d12 * d12)
                        - d1 * (d1 * d22 - d12 * d2)
                        + d2 * (d1 * d12 - d11 * d2)), 6) AS b0,
               round((dn * (d1y * d22 - d12 * d2y)
                      - dy * (d1 * d22 - d12 * d2)
                      + d2 * (d1 * d2y - d1y * d2))
                     / (dn * (d11 * d22 - d12 * d12)
                        - d1 * (d1 * d22 - d12 * d2)
                        + d2 * (d1 * d12 - d11 * d2)), 6) AS b1,
               round((dn * (d11 * d2y - d1y * d12)
                      - d1 * (d1 * d2y - d1y * d2)
                      + dy * (d1 * d12 - d11 * d2))
                     / (dn * (d11 * d22 - d12 * d12)
                        - d1 * (d1 * d22 - d12 * d2)
                        + d2 * (d1 * d12 - d11 * d2)), 6) AS b2
        FROM f ORDER BY flag""")
    },
    Some("""WITH b AS (SELECT l_returnflag AS flag,
                              CAST(round(l_quantity) AS BIGINT) AS x1,
                              CAST(round(l_discount * 100) AS BIGINT) AS x2,
                              CAST(round(l_extendedprice * 100) AS BIGINT)
                                AS y
                       FROM lineitem),
                 m AS (SELECT flag, CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(SUM(x1) AS BIGINT) AS s1,
                              CAST(SUM(x2) AS BIGINT) AS s2,
                              CAST(SUM(y) AS BIGINT) AS sy,
                              CAST(SUM(x1 * x1) AS BIGINT) AS s11,
                              CAST(SUM(x2 * x2) AS BIGINT) AS s22,
                              CAST(SUM(x1 * x2) AS BIGINT) AS s12,
                              CAST(SUM(x1 * y) AS BIGINT) AS s1y,
                              CAST(SUM(x2 * y) AS BIGINT) AS s2y
                       FROM b GROUP BY 1),
                 f AS (SELECT flag, n,
                              CAST(n AS DOUBLE) AS dn,
                              CAST(s1 AS DOUBLE) AS d1,
                              CAST(s2 AS DOUBLE) AS d2,
                              CAST(sy AS DOUBLE) AS dy,
                              CAST(s11 AS DOUBLE) AS d11,
                              CAST(s22 AS DOUBLE) AS d22,
                              CAST(s12 AS DOUBLE) AS d12,
                              CAST(s1y AS DOUBLE) AS d1y,
                              CAST(s2y AS DOUBLE) AS d2y
                       FROM m)
            SELECT flag, n,
                   round((dy * (d11 * d22 - d12 * d12)
                          - d1 * (d1y * d22 - d12 * d2y)
                          + d2 * (d1y * d12 - d11 * d2y))
                         / (dn * (d11 * d22 - d12 * d12)
                            - d1 * (d1 * d22 - d12 * d2)
                            + d2 * (d1 * d12 - d11 * d2)), 6) AS b0,
                   round((dn * (d1y * d22 - d12 * d2y)
                          - dy * (d1 * d22 - d12 * d2)
                          + d2 * (d1 * d2y - d1y * d2))
                         / (dn * (d11 * d22 - d12 * d12)
                            - d1 * (d1 * d22 - d12 * d2)
                            + d2 * (d1 * d12 - d11 * d2)), 6) AS b1,
                   round((dn * (d11 * d2y - d1y * d12)
                          - d1 * (d1 * d2y - d1y * d2)
                          + dy * (d1 * d12 - d11 * d2))
                         / (dn * (d11 * d22 - d12 * d12)
                            - d1 * (d1 * d22 - d12 * d2)
                            + d2 * (d1 * d12 - d11 * d2)), 6) AS b2
            FROM f ORDER BY flag"""))

  // Geometric + harmonic means of order value per priority — the
  // multiplicative / rate-averaging companions to the arithmetic mean
  // (geometric for growth-style quantities, harmonic for rates). Both
  // reduce to exact BIGINT sums via per-row quantization: Σ round(ln(¢)·1e9)
  // and Σ round(1e15/¢) — order-independent at any parallelism — with one
  // exp / one division per group at the end. One partial-aggregated scan
  // collects all three means; nothing here grows with volume but the scan.
  private val aggPowerMeans = Op(
    "agg_power_means",
    (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_pm")
      s.sql("""
        WITH b AS (SELECT o_orderpriority AS prio,
                          CAST(round(o_totalprice * 100) AS BIGINT) AS pc
                   FROM orders_pm WHERE o_totalprice > 0),
             m AS (SELECT prio, CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(pc) AS BIGINT) AS sp,
                          CAST(SUM(CAST(round(ln(CAST(pc AS DOUBLE))
                                              * 1000000000) AS BIGINT))
                               AS BIGINT) AS sln,
                          CAST(SUM(CAST(round(1000000000000000.0D / pc)
                                        AS BIGINT)) AS BIGINT) AS sinv
                   FROM b GROUP BY 1)
        SELECT prio AS o_orderpriority, n,
               round(CAST(sp AS DOUBLE) / n / 100.0D, 6) AS mean_usd,
               round(exp(CAST(sln AS DOUBLE) / n / 1000000000.0D)
                     / 100.0D, 6) AS gmean_usd,
               round(CAST(n AS DOUBLE) * 1000000000000000.0D / sinv
                     / 100.0D, 6) AS hmean_usd
        FROM m ORDER BY prio""")
    },
    Some("""WITH b AS (SELECT o_orderpriority AS prio,
                              CAST(round(o_totalprice * 100) AS BIGINT)
                                AS pc
                       FROM orders WHERE o_totalprice > 0),
                 m AS (SELECT prio, CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(SUM(pc) AS BIGINT) AS sp,
                              CAST(SUM(CAST(round(ln(CAST(pc AS DOUBLE))
                                                  * 1000000000) AS BIGINT))
                                   AS BIGINT) AS sln,
                              CAST(SUM(CAST(round(1000000000000000.0
                                                  / pc) AS BIGINT))
                                   AS BIGINT) AS sinv
                       FROM b GROUP BY 1)
            SELECT prio AS o_orderpriority, n,
                   round(CAST(sp AS DOUBLE) / n / 100.0, 6) AS mean_usd,
                   round(exp(CAST(sln AS DOUBLE) / n / 1000000000.0)
                         / 100.0, 6) AS gmean_usd,
                   round(CAST(n AS DOUBLE) * 1000000000000000.0 / sinv
                         / 100.0, 6) AS hmean_usd
            FROM m ORDER BY prio"""))

  // Data-freshness audit — per event stream: last-seen timestamp, minutes
  // behind the freshest stream, and a staleness flag. The SLA check every
  // ingestion pipeline (the reference's A6 streams included) runs before
  // declaring a table servable. One partial-aggregated scan (MAX per type),
  // a 1-row global MAX joined back by broadcast, integer floor-division
  // minutes (Spark DIV ≡ DuckDB //) — exact on both engines.
  private val dqFreshness = Op(
    "dq_freshness",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_fr")
      s.sql("""
        WITH m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(MAX(unix_timestamp(ts)) AS BIGINT) AS last_s
                   FROM events_fr GROUP BY 1),
             g AS (SELECT CAST(MAX(last_s) AS BIGINT) AS gmax FROM m)
        SELECT event_type, n, last_s,
               CAST((gmax - last_s) div 60 AS BIGINT) AS lag_min,
               CASE WHEN (gmax - last_s) div 60 > 120
                    THEN 1 ELSE 0 END AS stale
        FROM m CROSS JOIN g ORDER BY event_type""")
    },
    Some("""WITH m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(MAX(CAST(floor(epoch(ts)) AS BIGINT))
                                   AS BIGINT) AS last_s
                       FROM events GROUP BY 1),
                 g AS (SELECT CAST(MAX(last_s) AS BIGINT) AS gmax FROM m)
            SELECT event_type, n, last_s,
                   CAST((gmax - last_s) // 60 AS BIGINT) AS lag_min,
                   CASE WHEN (gmax - last_s) // 60 > 120
                        THEN 1 ELSE 0 END AS stale
            FROM m CROSS JOIN g ORDER BY event_type"""))

  // Deterministic uniform sample without replacement — k=25 per event type
  // by ranking on an md5 of the row key: the reproducible analog of
  // reservoir sampling (same sample on every run/engine, the property audit
  // pipelines need). The rank-≤-k filter triggers Spark's WindowGroupLimit
  // pushdown: each map task pre-limits to its local top-k BEFORE the
  // exchange, so the shuffle carries O(k·partitions) rows, not the table —
  // the same two-phase shape a hand-written reservoir merge would have.
  private val sampleReservoir = Op(
    "sample_reservoir",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_rs")
      s.sql("""
        WITH h AS (SELECT event_type, event_id,
                          md5(CAST(event_id AS STRING)) AS hk
                   FROM events_rs),
             r AS (SELECT event_type, event_id,
                          ROW_NUMBER() OVER (PARTITION BY event_type
                                             ORDER BY hk, event_id) AS rn
                   FROM h)
        SELECT event_type, CAST(rn AS BIGINT) AS rn, event_id
        FROM r WHERE rn <= 25 ORDER BY event_type, rn""")
    },
    Some("""WITH h AS (SELECT event_type, event_id,
                              md5(CAST(event_id AS VARCHAR)) AS hk
                       FROM events),
                 r AS (SELECT event_type, event_id,
                              ROW_NUMBER() OVER (PARTITION BY event_type
                                                 ORDER BY hk, event_id)
                                AS rn
                       FROM h)
            SELECT event_type, CAST(rn AS BIGINT) AS rn, event_id
            FROM r WHERE rn <= 25 ORDER BY event_type, rn"""))

  // DAU / trailing-7-day-WAU stickiness per day — the engagement ratio on
  // every product dashboard. The scalable spelling: collapse to DISTINCT
  // (day, user) pairs first (one partial-aggregated shuffle — the pair set
  // is orders of magnitude smaller than the event stream), then each pair
  // CONTRIBUTES itself to the 7 windows ending on day..day+6 via a 7-row
  // explode and a plain equi-groupBy COUNT(DISTINCT) — no range join, no
  // rolling-distinct window state. Expanded days with no traffic of their
  // own drop by the inner join with the DAU relation.
  private val eventDauWau = Op(
    "event_dau_wau",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_dw")
      s.sql("""
        WITH du AS (SELECT DISTINCT
                           unix_timestamp(ts) div 86400 AS day, user_id
                    FROM events_dw),
             dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau
                     FROM du GROUP BY 1),
             ex AS (SELECT du.day + i AS wday, du.user_id
                    FROM du LATERAL VIEW explode(sequence(0, 6)) t AS i),
             wau AS (SELECT wday AS day,
                            CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
                     FROM ex GROUP BY 1)
        SELECT dau.day AS day_idx, dau.dau, wau.wau,
               round(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
        FROM dau JOIN wau ON dau.day = wau.day
        ORDER BY day_idx""")
    },
    Some("""WITH du AS (SELECT DISTINCT
                               CAST(floor(epoch(ts)) AS BIGINT) // 86400
                                 AS day, user_id
                        FROM events),
                 dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau
                         FROM du GROUP BY 1),
                 ex AS (SELECT du.day + g.i AS wday, du.user_id
                        FROM du CROSS JOIN (SELECT unnest(
                            generate_series(0, 6)) AS i) g),
                 wau AS (SELECT wday AS day,
                                CAST(COUNT(DISTINCT user_id) AS BIGINT)
                                  AS wau
                         FROM ex GROUP BY 1)
            SELECT dau.day AS day_idx, dau.dau, wau.wau,
                   round(CAST(dau.dau AS DOUBLE) / wau.wau, 6)
                     AS stickiness
            FROM dau JOIN wau ON dau.day = wau.day
            ORDER BY day_idx"""))

  // One-way ANOVA F-statistic across event types — "do the groups differ
  // at all" before pairwise tests (agg_ttest / agg_mann_whitney). Each
  // group collapses to exact BIGINT moments (n, Σ¢, Σ¢²) in one partial-
  // aggregated scan; the between/within sum-of-squares terms are per-GROUP
  // fixed IEEE expressions quantized to 1e-6 before the final
  // DECIMAL(38,0) sum (a BIGINT sum overflows at sf1 — the quantized
  // per-group term reaches ~5e18), so the F statistic is bit-stable at
  // any parallelism. Output is one
  // row — the aggregate-to-a-scalar shape that costs one scan at 100 TB.
  private val aggAnova = Op(
    "agg_anova",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_av")
      s.sql("""
        WITH b AS (SELECT event_type AS g,
                          CAST(round(value * 100) AS BIGINT) AS x
                   FROM events_av),
             m AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(x) AS BIGINT) AS sx,
                          CAST(SUM(x * x) AS BIGINT) AS sxx
                   FROM b GROUP BY 1),
             q AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                          CAST(SUM(n) AS BIGINT) AS nn,
                          CAST(SUM(sx) AS BIGINT) AS ss,
                          -- DECIMAL(38,0), not BIGINT: the quantized
                          -- per-group term is ~sx²/n·1e6 ≈ 5e18 at sf1 —
                          -- a BIGINT sum of k groups overflows (caught by
                          -- the round-9 sf1 scale run)
                          SUM(CAST(round((CAST(sxx AS DOUBLE)
                                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                                   / n) * 1000000) AS DECIMAL(38,0)))
                            AS ssw_q,
                          SUM(CAST(round(CAST(sx AS DOUBLE)
                                 * CAST(sx AS DOUBLE) / n * 1000000)
                                 AS DECIMAL(38,0))) AS sgm_q
                   FROM m)
        SELECT k, nn AS n,
               round((CAST(sgm_q AS DOUBLE) / 1000000.0D
                      - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / nn)
                     / (k - 1)
                     / (CAST(ssw_q AS DOUBLE) / 1000000.0D / (nn - k)),
                     6) AS f_stat
        FROM q""")
    },
    Some("""WITH b AS (SELECT event_type AS g,
                              CAST(round(value * 100) AS BIGINT) AS x
                       FROM events),
                 m AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(SUM(x) AS BIGINT) AS sx,
                              CAST(SUM(x * x) AS BIGINT) AS sxx
                       FROM b GROUP BY 1),
                 q AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                              CAST(SUM(n) AS BIGINT) AS nn,
                              CAST(SUM(sx) AS BIGINT) AS ss,
                              SUM(CAST(round((CAST(sxx AS DOUBLE)
                                     - CAST(sx AS DOUBLE)
                                       * CAST(sx AS DOUBLE) / n)
                                     * 1000000) AS HUGEINT))
                                AS ssw_q,
                              SUM(CAST(round(CAST(sx AS DOUBLE)
                                     * CAST(sx AS DOUBLE) / n * 1000000)
                                     AS HUGEINT)) AS sgm_q
                       FROM m)
            SELECT k, nn AS n,
                   round((CAST(sgm_q AS DOUBLE) / 1000000.0
                          - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / nn)
                         / (k - 1)
                         / (CAST(ssw_q AS DOUBLE) / 1000000.0 / (nn - k)),
                         6) AS f_stat
            FROM q"""))

  // Moving-average crossover signals (golden/death cross, SMA5 vs SMA20)
  // per user — the classic trend-change detector. Both frame sums and the
  // lag ride ONE (user / ts) sort; the comparison is cross-multiplied
  // exact integers (s5·n20 vs s20·n5 — no division, no float), so the
  // signal set is identical on any engine. Emits only the crossover rows:
  // output is sparse no matter the input volume.
  private val windowSmaCross = Op(
    "window_sma_cross",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_sc")
      s.sql("""
        WITH b AS (SELECT user_id, ts, event_id,
                          CAST(round(value * 100) AS BIGINT) AS x
                   FROM events_sc),
             r AS (SELECT user_id, event_id,
                          CAST(SUM(x) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id
                            ROWS 4 PRECEDING) AS BIGINT) AS s5,
                          CAST(COUNT(*) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id
                            ROWS 4 PRECEDING) AS BIGINT) AS n5,
                          CAST(SUM(x) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id
                            ROWS 19 PRECEDING) AS BIGINT) AS s20,
                          CAST(COUNT(*) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id
                            ROWS 19 PRECEDING) AS BIGINT) AS n20,
                          ts
                   FROM b),
             sg AS (SELECT user_id, event_id,
                           CASE WHEN s5 * n20 > s20 * n5 THEN 1
                                WHEN s5 * n20 < s20 * n5 THEN -1
                                ELSE 0 END AS sgn,
                           lag(CASE WHEN s5 * n20 > s20 * n5 THEN 1
                                    WHEN s5 * n20 < s20 * n5 THEN -1
                                    ELSE 0 END)
                             OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS psgn
                    FROM r)
        SELECT user_id, event_id,
               CASE WHEN sgn = 1 THEN 'golden' ELSE 'death' END AS signal
        FROM sg
        WHERE psgn IS NOT NULL AND sgn * psgn = -1
        ORDER BY user_id, event_id""")
    },
    Some("""WITH b AS (SELECT user_id, ts, event_id,
                              CAST(round(value * 100) AS BIGINT) AS x
                       FROM events),
                 r AS (SELECT user_id, event_id,
                              CAST(SUM(x) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS 4 PRECEDING) AS BIGINT) AS s5,
                              CAST(COUNT(*) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS 4 PRECEDING) AS BIGINT) AS n5,
                              CAST(SUM(x) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS 19 PRECEDING) AS BIGINT) AS s20,
                              CAST(COUNT(*) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS 19 PRECEDING) AS BIGINT) AS n20,
                              ts
                       FROM b),
                 sg AS (SELECT user_id, event_id,
                               CASE WHEN s5 * n20 > s20 * n5 THEN 1
                                    WHEN s5 * n20 < s20 * n5 THEN -1
                                    ELSE 0 END AS sgn,
                               lag(CASE WHEN s5 * n20 > s20 * n5 THEN 1
                                        WHEN s5 * n20 < s20 * n5 THEN -1
                                        ELSE 0 END)
                                 OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS psgn
                        FROM r)
            SELECT user_id, event_id,
                   CASE WHEN sgn = 1 THEN 'golden' ELSE 'death' END
                     AS signal
            FROM sg
            WHERE psgn IS NOT NULL AND sgn * psgn = -1
            ORDER BY user_id, event_id"""))

  // Theil T inequality index of customer revenue per market segment — the
  // decomposable entropy-based sibling of agg_gini/agg_lorenz. Customer
  // revenue rolls up once (exact cents); segment totals join back by
  // broadcast (5 rows); each (x/S)·ln(x·N/S) term quantizes to 1e-12
  // BEFORE the BIGINT sum — order-independent where a naive float Σ is
  // partitioning-dependent. Two partial-aggregated shuffles total.
  private val aggTheilIndex = Op(
    "agg_theil_index",
    (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_th")
      t(s, d, "customer").createOrReplaceTempView("customer_th")
      s.sql("""
        WITH rev AS (SELECT c.c_mktsegment AS seg, o.o_custkey,
                            CAST(SUM(CAST(round(o.o_totalprice * 100)
                                          AS BIGINT)) AS BIGINT) AS r
                     FROM orders_th o
                     JOIN customer_th c ON o.o_custkey = c.c_custkey
                     GROUP BY 1, 2),
             tot AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
                            CAST(SUM(r) AS BIGINT) AS sr
                     FROM rev GROUP BY 1),
             term AS (SELECT rev.seg,
                             CAST(round(CAST(r AS DOUBLE) / sr
                                    * ln(CAST(r AS DOUBLE) * n / sr)
                                    * 1000000000000) AS BIGINT) AS tq
                      FROM rev JOIN tot ON rev.seg = tot.seg)
        SELECT term.seg AS c_mktsegment, MAX(tot.n) AS n_customers,
               round(CAST(SUM(tq) AS DOUBLE) / 1000000000000.0D, 6)
                 AS theil_t
        FROM term JOIN tot ON term.seg = tot.seg
        GROUP BY term.seg ORDER BY term.seg""")
    },
    Some("""WITH rev AS (SELECT c.c_mktsegment AS seg, o.o_custkey,
                                CAST(SUM(CAST(round(o.o_totalprice * 100)
                                              AS BIGINT)) AS BIGINT) AS r
                         FROM orders o
                         JOIN customer c ON o.o_custkey = c.c_custkey
                         GROUP BY 1, 2),
                 tot AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
                                CAST(SUM(r) AS BIGINT) AS sr
                         FROM rev GROUP BY 1),
                 term AS (SELECT rev.seg,
                                 CAST(round(CAST(r AS DOUBLE) / sr
                                        * ln(CAST(r AS DOUBLE) * n / sr)
                                        * 1000000000000) AS BIGINT) AS tq
                          FROM rev JOIN tot ON rev.seg = tot.seg)
            SELECT term.seg AS c_mktsegment, MAX(tot.n) AS n_customers,
                   round(CAST(SUM(tq) AS DOUBLE) / 1000000000000.0, 6)
                     AS theil_t
            FROM term JOIN tot ON term.seg = tot.seg
            GROUP BY term.seg ORDER BY term.seg"""))

  // Small-cell suppression — the statistical-disclosure-control release
  // rule (publish a cross-tab only where n ≥ 5; suppress the rest): the
  // operational complement to privacy_kanon's audit. One partial-aggregated
  // rollup; the full category grid is published so suppressed cells are
  // visible as such (count NULLed, flag set) — the contract a data-release
  // reviewer checks.
  private val privacySuppressCells = Op(
    "privacy_suppress_cells",
    (s, d) => {
      t(s, d, "customer").createOrReplaceTempView("customer_sup")
      s.sql("""
        WITH cells AS (SELECT c_mktsegment, c_nationkey,
                              CAST(COUNT(*) AS BIGINT) AS c
                       FROM customer_sup WHERE c_custkey % 7 = 0
                       GROUP BY 1, 2)
        SELECT c_mktsegment, CAST(c_nationkey AS BIGINT) AS c_nationkey,
               CASE WHEN c >= 5 THEN c ELSE CAST(NULL AS BIGINT) END
                 AS published,
               CASE WHEN c < 5 THEN 1 ELSE 0 END AS suppressed
        FROM cells ORDER BY c_mktsegment, c_nationkey""")
    },
    Some("""WITH cells AS (SELECT c_mktsegment, c_nationkey,
                                  CAST(COUNT(*) AS BIGINT) AS c
                           FROM customer WHERE c_custkey % 7 = 0
                           GROUP BY 1, 2)
            SELECT c_mktsegment, CAST(c_nationkey AS BIGINT)
                     AS c_nationkey,
                   CASE WHEN c >= 5 THEN c ELSE CAST(NULL AS BIGINT) END
                     AS published,
                   CASE WHEN c < 5 THEN 1 ELSE 0 END AS suppressed
            FROM cells ORDER BY c_mktsegment, c_nationkey"""))

  // Exact-duplicate rate per corpus source — the first number on any
  // corpus-health dashboard (dedup_exact removes the dups; this MEASURES
  // them per source so curation knows where they come from). Text hashes
  // roll up once (md5 group — one shuffle of hashes, never of text), the
  // per-doc dup flag comes from joining the count relation back on the
  // hash, and the source rollup is partial-aggregated. Nothing leaves the
  // hash domain until the final small result.
  private val corpusDupStats = Op(
    "corpus_dup_stats",
    (s, d) => {
      t(s, d, "documents").createOrReplaceTempView("documents_ds")
      s.sql("""
        WITH h AS (SELECT doc_id, source, md5(text) AS hk
                   FROM documents_ds),
             g AS (SELECT hk, CAST(COUNT(*) AS BIGINT) AS c
                   FROM h GROUP BY 1),
             j AS (SELECT h.source, h.hk, g.c FROM h
                   JOIN g ON h.hk = g.hk)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
               CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS dup_docs,
               CAST(COUNT(DISTINCT hk) AS BIGINT) AS distinct_texts,
               round(CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END)
                          AS DOUBLE) / COUNT(*), 6) AS dup_rate
        FROM j GROUP BY source ORDER BY source""")
    },
    Some("""WITH h AS (SELECT doc_id, source, md5(text) AS hk
                       FROM documents),
                 g AS (SELECT hk, CAST(COUNT(*) AS BIGINT) AS c
                       FROM h GROUP BY 1),
                 j AS (SELECT h.source, h.hk, g.c FROM h
                       JOIN g ON h.hk = g.hk)
            SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
                   CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS dup_docs,
                   CAST(COUNT(DISTINCT hk) AS BIGINT) AS distinct_texts,
                   round(CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END)
                              AS DOUBLE) / COUNT(*), 6) AS dup_rate
            FROM j GROUP BY source ORDER BY source"""))

  // ANN recall@k — the evaluation loop that justifies (or rejects) an
  // approximate index: exact brute-force top-10 vs the 4-bit sign-bucket
  // top-10 (the sim_ann_persisted index key), overlap counted as
  // recall@10. Both rankings use the round-6 cosine + vec_id tie-break
  // the sim_* family already proves engine-stable; DuckDB recomputes both
  // sides from raw embeddings and must land on the identical scalar. At
  // 100 TB this runs over a fixed probe SAMPLE — the result is one row
  // per evaluation, not per vector.
  private val embRecallAtK = Op(
    "emb_recall_at_k",
    (s, d) => {
      graft.functions.GraftExtensions.register(s)
      t(s, d, "embeddings").createOrReplaceTempView("embeddings_rk")
      s.sql("""
        WITH e AS (SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v,
                          8 * IF(element_at(embedding, 1) >= 0, 1, 0)
                          + 4 * IF(element_at(embedding, 2) >= 0, 1, 0)
                          + 2 * IF(element_at(embedding, 3) >= 0, 1, 0)
                          + IF(element_at(embedding, 4) >= 0, 1, 0) AS bk
                   FROM embeddings_rk),
             p AS (SELECT v AS pv, bk AS pbk FROM e WHERE vec_id = 0),
             sc AS (SELECT e.vec_id,
                           round(graft_cosine(e.v, p.pv), 6) AS cs,
                           e.bk, p.pbk
                    FROM e CROSS JOIN p WHERE e.vec_id <> 0),
             ex AS (SELECT vec_id FROM sc
                    ORDER BY cs DESC, vec_id LIMIT 10),
             ap AS (SELECT vec_id FROM sc WHERE bk = pbk
                    ORDER BY cs DESC, vec_id LIMIT 10)
        SELECT CAST(10 AS BIGINT) AS k,
               CAST(COUNT(*) AS BIGINT) AS hits,
               round(CAST(COUNT(*) AS DOUBLE) / 10.0D, 6) AS recall
        FROM ex JOIN ap ON ex.vec_id = ap.vec_id""")
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   8 * (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END) +
                   4 * (CASE WHEN embedding[2] >= 0 THEN 1 ELSE 0 END) +
                   2 * (CASE WHEN embedding[3] >= 0 THEN 1 ELSE 0 END) +
                       (CASE WHEN embedding[4] >= 0 THEN 1 ELSE 0 END)
                     AS bk
                       FROM embeddings),
                 p AS (SELECT v AS pv, bk AS pbk FROM e WHERE vec_id = 0),
                 sc AS (SELECT e.vec_id,
                               round(list_cosine_similarity(e.v, p.pv), 6)
                                 AS cs, e.bk, p.pbk
                        FROM e CROSS JOIN p WHERE e.vec_id <> 0),
                 ex AS (SELECT vec_id FROM sc
                        ORDER BY cs DESC, vec_id LIMIT 10),
                 ap AS (SELECT vec_id FROM sc WHERE bk = pbk
                        ORDER BY cs DESC, vec_id LIMIT 10)
            SELECT CAST(10 AS BIGINT) AS k,
                   CAST(COUNT(*) AS BIGINT) AS hits,
                   round(CAST(COUNT(*) AS DOUBLE) / 10.0, 6) AS recall
            FROM ex JOIN ap ON ex.vec_id = ap.vec_id"""))

  // Apdex (Application Performance Index): per event_type, treating
  // events.value as a latency — satisfied (<= T), tolerating (<= 4T),
  // frustrated (rest); apdex = (satisfied + tolerating/2) / n. The standard
  // SRE satisfaction score over a latency stream. One map-side-combinable
  // aggregate (three conditional counts), ratio formed per group from
  // exact integers and rounded once — no float enters before the final
  // division, so the 4-dp publish is engine-stable. T = 50 (value units).
  private val aggApdex = Op(
    "agg_apdex",
    (s, d) => {
      import org.apache.spark.sql.functions._
      t(s, d, "events")
        .groupBy("event_type")
        .agg(
          sum(when(col("value") <= 50.0, 1L).otherwise(0L)).as("satisfied"),
          sum(when(col("value") > 50.0 && col("value") <= 200.0, 1L)
            .otherwise(0L)).as("tolerating"),
          count(lit(1)).as("n"))
        .withColumn("apdex",
          round((col("satisfied") * 2 + col("tolerating")).cast("double") /
            (col("n") * 2), 4))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
              CAST(sum(CASE WHEN value <= 50.0 THEN 1 ELSE 0 END) AS BIGINT)
                AS satisfied,
              CAST(sum(CASE WHEN value > 50.0 AND value <= 200.0
                            THEN 1 ELSE 0 END) AS BIGINT) AS tolerating,
              CAST(count(*) AS BIGINT) AS n,
              round(CAST(sum(CASE WHEN value <= 50.0 THEN 1 ELSE 0 END) * 2
                       + sum(CASE WHEN value > 50.0 AND value <= 200.0
                             THEN 1 ELSE 0 END) AS DOUBLE)
                    / (count(*) * 2), 4) AS apdex
            FROM events GROUP BY event_type ORDER BY event_type"""))

  val ops: Seq[Op] =
    Seq(windowVwap, aggOlsMulti, aggPowerMeans, dqFreshness,
      sampleReservoir, eventDauWau, aggAnova, windowSmaCross,
      aggTheilIndex, privacySuppressCells, corpusDupStats, embRecallAtK,
      aggApdex)
}
