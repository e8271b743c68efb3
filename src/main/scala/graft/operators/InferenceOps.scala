package graft.operators

import graft.Mats.MatOps
import graft.{Op, Tables}
import org.apache.spark.sql.SparkSession

/** Round-8 continuation batch 3: trend inference, volatility estimation,
  * and experimentation hygiene — the statistical layer a production
  * analytics platform runs on top of its rollups. Engine-determinism per
  * the repo protocol (core.scala): exact BIGINT sums via per-row
  * quantization, one fixed IEEE expression for each float step, total
  * ORDER BY. Pairwise constructions here run over DOMAIN-collapsed
  * series (days, hours), so "O(n²) pairs" means hundreds of rows at any
  * data volume.
  */
object InferenceOps {
  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  // Mann–Kendall trend test per event type over the DAILY count series —
  // the nonparametric "is traffic trending" answer that needs no
  // distributional assumption. The series is a ~30-row day domain, so the
  // i<j pair sum (S = Σ sign(x_j − x_i), exact integer) is a few hundred
  // pairs however large the event stream; the tie-corrected variance and
  // the continuity-corrected z evaluate once per type in float64.
  private val aggMannKendall = Op(
    "agg_mann_kendall",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_mk")
      s.sql("""
        WITH dc AS (SELECT event_type,
                           unix_timestamp(ts) div 86400 AS day,
                           CAST(COUNT(*) AS BIGINT) AS x
                    FROM events_mk GROUP BY 1, 2),
             pr AS (SELECT a.event_type,
                           CAST(SUM(CASE WHEN b.x > a.x THEN 1
                                         WHEN b.x < a.x THEN -1
                                         ELSE 0 END) AS BIGINT) AS sgn
                    FROM dc a JOIN dc b
                      ON a.event_type = b.event_type AND a.day < b.day
                    GROUP BY 1),
             nn AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
                    FROM dc GROUP BY 1),
             ties AS (SELECT event_type,
                             CAST(SUM(tc * (tc - 1) * (2 * tc + 5))
                                  AS BIGINT) AS tcorr
                      FROM (SELECT event_type, x,
                                   CAST(COUNT(*) AS BIGINT) AS tc
                            FROM dc GROUP BY 1, 2) g
                      WHERE tc > 1 GROUP BY 1),
             f AS (SELECT pr.event_type, pr.sgn, nn.n,
                          (CAST(nn.n AS DOUBLE) * (nn.n - 1)
                           * (2 * nn.n + 5)
                           - coalesce(ties.tcorr, 0)) / 18.0D AS v
                   FROM pr JOIN nn ON pr.event_type = nn.event_type
                   LEFT JOIN ties ON pr.event_type = ties.event_type)
        SELECT event_type, n AS n_days, sgn AS s_stat,
               round(CASE WHEN sgn > 0
                          THEN (sgn - 1) / sqrt(v)
                          WHEN sgn < 0 THEN (sgn + 1) / sqrt(v)
                          ELSE 0.0D END, 6) AS z
        FROM f ORDER BY event_type""")
    },
    Some("""WITH dc AS (SELECT event_type,
                               CAST(floor(epoch(ts)) AS BIGINT) // 86400
                                 AS day,
                               CAST(COUNT(*) AS BIGINT) AS x
                        FROM events GROUP BY 1, 2),
                 pr AS (SELECT a.event_type,
                               CAST(SUM(CASE WHEN b.x > a.x THEN 1
                                             WHEN b.x < a.x THEN -1
                                             ELSE 0 END) AS BIGINT)
                                 AS sgn
                        FROM dc a JOIN dc b
                          ON a.event_type = b.event_type
                         AND a.day < b.day
                        GROUP BY 1),
                 nn AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
                        FROM dc GROUP BY 1),
                 ties AS (SELECT event_type,
                                 CAST(SUM(tc * (tc - 1) * (2 * tc + 5))
                                      AS BIGINT) AS tcorr
                          FROM (SELECT event_type, x,
                                       CAST(COUNT(*) AS BIGINT) AS tc
                                FROM dc GROUP BY 1, 2) g
                          WHERE tc > 1 GROUP BY 1),
                 f AS (SELECT pr.event_type, pr.sgn, nn.n,
                              (CAST(nn.n AS DOUBLE) * (nn.n - 1)
                               * (2 * nn.n + 5)
                               - coalesce(ties.tcorr, 0)) / 18.0 AS v
                       FROM pr JOIN nn ON pr.event_type = nn.event_type
                       LEFT JOIN ties
                         ON pr.event_type = ties.event_type)
            SELECT event_type, n AS n_days, sgn AS s_stat,
                   round(CASE WHEN sgn > 0
                              THEN (sgn - 1) / sqrt(v)
                              WHEN sgn < 0 THEN (sgn + 1) / sqrt(v)
                              ELSE 0.0 END, 6) AS z
            FROM f ORDER BY event_type"""))

  // Theil–Sen slope — the robust trend estimate (median of all pairwise
  // slopes) companion to agg_mann_kendall's significance: immune to
  // outlier days that wreck OLS. Slopes quantize to 1e-9 BIGINTs; the
  // median picks the ⌈m/2⌉-th by deterministic (slope, pair-key) rank —
  // engine-unique without averaging middles. Day-domain pairs again:
  // hundreds of rows at any volume.
  private val aggTheilSen = Op(
    "agg_theil_sen",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_tsn")
      s.sql("""
        WITH dc AS (SELECT event_type,
                           unix_timestamp(ts) div 86400 AS day,
                           CAST(COUNT(*) AS BIGINT) AS x
                    FROM events_tsn GROUP BY 1, 2),
             sl AS (SELECT a.event_type,
                           CAST(round(CAST(b.x - a.x AS DOUBLE)
                                  / (b.day - a.day) * 1000000000)
                                AS BIGINT) AS sq,
                           a.day AS di, b.day AS dj
                    FROM dc a JOIN dc b
                      ON a.event_type = b.event_type AND a.day < b.day),
             rk AS (SELECT event_type, sq,
                           ROW_NUMBER() OVER (PARTITION BY event_type
                             ORDER BY sq, di, dj) AS rn,
                           COUNT(*) OVER (PARTITION BY event_type) AS m
                    FROM sl)
        SELECT event_type, CAST(MAX(m) AS BIGINT) AS n_pairs,
               round(CAST(MAX(CASE WHEN rn = (m + 1) div 2 THEN sq END)
                          AS DOUBLE) / 1000000000.0D, 6)
                 AS sen_slope_per_day
        FROM rk GROUP BY event_type ORDER BY event_type""")
    },
    Some("""WITH dc AS (SELECT event_type,
                               CAST(floor(epoch(ts)) AS BIGINT) // 86400
                                 AS day,
                               CAST(COUNT(*) AS BIGINT) AS x
                        FROM events GROUP BY 1, 2),
                 sl AS (SELECT a.event_type,
                               CAST(round(CAST(b.x - a.x AS DOUBLE)
                                      / (b.day - a.day) * 1000000000)
                                    AS BIGINT) AS sq,
                               a.day AS di, b.day AS dj
                        FROM dc a JOIN dc b
                          ON a.event_type = b.event_type
                         AND a.day < b.day),
                 rk AS (SELECT event_type, sq,
                               ROW_NUMBER() OVER (PARTITION BY event_type
                                 ORDER BY sq, di, dj) AS rn,
                               COUNT(*) OVER (PARTITION BY event_type)
                                 AS m
                        FROM sl)
            SELECT event_type, CAST(MAX(m) AS BIGINT) AS n_pairs,
                   round(CAST(MAX(CASE WHEN rn = (m + 1) // 2 THEN sq
                                  END) AS DOUBLE) / 1000000000.0, 6)
                     AS sen_slope_per_day
            FROM rk GROUP BY event_type ORDER BY event_type"""))

  // Parkinson range volatility from hourly OHLC bars — the high/low
  // estimator that is ~5× more efficient than close-to-close volatility
  // (window_log_returns) on the same data: σ²_P = Σ ln(H/L)² / (4·ln2·n).
  // Bars are one partial-aggregated rollup (exact cent extremes); each
  // ln² term quantizes to 1e-9 before the BIGINT sum; one sqrt per type.
  private val resampleOhlcVolatility = Op(
    "resample_ohlc_volatility",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_pv")
      s.sql("""
        WITH bar AS (SELECT event_type,
                            unix_timestamp(ts) div 3600 AS h,
                            CAST(MAX(CAST(round(value * 100) AS BIGINT))
                                 AS BIGINT) AS hi,
                            CAST(MIN(CAST(round(value * 100) AS BIGINT))
                                 AS BIGINT) AS lo
                     FROM events_pv WHERE value > 0 GROUP BY 1, 2),
             q AS (SELECT event_type,
                          CAST(round(ln(CAST(hi AS DOUBLE) / lo)
                                 * ln(CAST(hi AS DOUBLE) / lo)
                                 * 1000000000) AS BIGINT) AS lq
                   FROM bar)
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_bars,
               round(sqrt(CAST(SUM(lq) AS DOUBLE) / 1000000000.0D
                          / (4.0D * ln(2.0D) * COUNT(*))), 6)
                 AS parkinson_vol
        FROM q GROUP BY event_type ORDER BY event_type""")
    },
    Some("""WITH bar AS (SELECT event_type,
                                CAST(floor(epoch(ts)) AS BIGINT) // 3600
                                  AS h,
                                CAST(MAX(CAST(round(value * 100)
                                              AS BIGINT)) AS BIGINT)
                                  AS hi,
                                CAST(MIN(CAST(round(value * 100)
                                              AS BIGINT)) AS BIGINT)
                                  AS lo
                         FROM events WHERE value > 0 GROUP BY 1, 2),
                 q AS (SELECT event_type,
                              CAST(round(ln(CAST(hi AS DOUBLE) / lo)
                                     * ln(CAST(hi AS DOUBLE) / lo)
                                     * 1000000000) AS BIGINT) AS lq
                       FROM bar)
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_bars,
                   round(sqrt(CAST(SUM(lq) AS DOUBLE) / 1000000000.0
                              / (4.0 * ln(2.0) * COUNT(*))), 6)
                     AS parkinson_vol
            FROM q GROUP BY event_type ORDER BY event_type"""))

  // Sample-ratio-mismatch check — the FIRST validity gate on any
  // experiment readout: a 50/50 assignment whose observed split fails a
  // 1-df chi-square means the instrumentation is broken and every
  // downstream metric is garbage. One distinct-count scan, χ² =
  // (n0 − n1)²/(n0 + n1) exactly from BIGINTs, flag at the 0.05 critical
  // value.
  private val dqSrmCheck = Op(
    "dq_srm_check",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_srm")
      s.sql("""
        WITH c AS (SELECT CAST(COUNT(DISTINCT CASE WHEN user_id % 2 = 0
                                  THEN user_id END) AS BIGINT) AS n0,
                          CAST(COUNT(DISTINCT CASE WHEN user_id % 2 = 1
                                  THEN user_id END) AS BIGINT) AS n1
                   FROM events_srm)
        SELECT n0, n1,
               round(CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1),
                     6) AS chi2,
               CASE WHEN CAST((n0 - n1) * (n0 - n1) AS DOUBLE)
                         / (n0 + n1) > 3.841D
                    THEN 1 ELSE 0 END AS srm_alarm
        FROM c""")
    },
    Some("""WITH c AS (SELECT CAST(COUNT(DISTINCT CASE
                                     WHEN user_id % 2 = 0
                                     THEN user_id END) AS BIGINT) AS n0,
                              CAST(COUNT(DISTINCT CASE
                                     WHEN user_id % 2 = 1
                                     THEN user_id END) AS BIGINT) AS n1
                       FROM events)
            SELECT n0, n1,
                   round(CAST((n0 - n1) * (n0 - n1) AS DOUBLE)
                         / (n0 + n1), 6) AS chi2,
                   CASE WHEN CAST((n0 - n1) * (n0 - n1) AS DOUBLE)
                             / (n0 + n1) > 3.841
                        THEN 1 ELSE 0 END AS srm_alarm
            FROM c"""))

  // Difference-in-differences — the causal-inference workhorse: treatment
  // cohort (odd users) vs control (even), purchase value before vs after
  // mid-month; DiD = (T_post − T_pre) − (C_post − C_pre) with its pooled
  // standard error. All four cell moments (n, Σ¢, Σ¢²) come from ONE
  // partial-aggregated scan; the estimate and SE evaluate once in
  // float64.
  private val aggDiffInDiff = Op(
    "agg_diff_in_diff",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_did"); s.sql("""
        WITH b AS (SELECT user_id % 2 AS g,
                          CASE WHEN unix_timestamp(ts) div 86400
                                    >= 19738 THEN 1 ELSE 0 END AS p,
                          CAST(round(value * 100) AS BIGINT) AS x
                   FROM events_did WHERE event_type = 'purchase'),
             m AS (SELECT g, p, CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(x) AS BIGINT) AS sx,
                          CAST(SUM(x * x) AS BIGINT) AS sxx
                   FROM b GROUP BY 1, 2),
             w AS (SELECT
                     MAX(CASE WHEN g = 0 AND p = 0 THEN n END) AS n00,
                     MAX(CASE WHEN g = 0 AND p = 0 THEN sx END) AS s00,
                     MAX(CASE WHEN g = 0 AND p = 0 THEN sxx END) AS q00,
                     MAX(CASE WHEN g = 0 AND p = 1 THEN n END) AS n01,
                     MAX(CASE WHEN g = 0 AND p = 1 THEN sx END) AS s01,
                     MAX(CASE WHEN g = 0 AND p = 1 THEN sxx END) AS q01,
                     MAX(CASE WHEN g = 1 AND p = 0 THEN n END) AS n10,
                     MAX(CASE WHEN g = 1 AND p = 0 THEN sx END) AS s10,
                     MAX(CASE WHEN g = 1 AND p = 0 THEN sxx END) AS q10,
                     MAX(CASE WHEN g = 1 AND p = 1 THEN n END) AS n11,
                     MAX(CASE WHEN g = 1 AND p = 1 THEN sx END) AS s11,
                     MAX(CASE WHEN g = 1 AND p = 1 THEN sxx END) AS q11
                   FROM m)
        SELECT n00, n01, n10, n11,
               round(((CAST(s11 AS DOUBLE) / n11
                       - CAST(s10 AS DOUBLE) / n10)
                      - (CAST(s01 AS DOUBLE) / n01
                         - CAST(s00 AS DOUBLE) / n00)) / 100.0D, 6)
                 AS did_usd,
               round(sqrt(
                 (CAST(q00 AS DOUBLE) - CAST(s00 AS DOUBLE) * s00 / n00)
                   / (n00 - 1) / n00 +
                 (CAST(q01 AS DOUBLE) - CAST(s01 AS DOUBLE) * s01 / n01)
                   / (n01 - 1) / n01 +
                 (CAST(q10 AS DOUBLE) - CAST(s10 AS DOUBLE) * s10 / n10)
                   / (n10 - 1) / n10 +
                 (CAST(q11 AS DOUBLE) - CAST(s11 AS DOUBLE) * s11 / n11)
                   / (n11 - 1) / n11) / 100.0D, 6) AS se_usd
        FROM w""")
    },
    Some("""WITH b AS (SELECT user_id % 2 AS g,
                              CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                                        // 86400 >= 19738
                                   THEN 1 ELSE 0 END AS p,
                              CAST(round(value * 100) AS BIGINT) AS x
                       FROM events WHERE event_type = 'purchase'),
                 m AS (SELECT g, p, CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(SUM(x) AS BIGINT) AS sx,
                              CAST(SUM(x * x) AS BIGINT) AS sxx
                       FROM b GROUP BY 1, 2),
                 w AS (SELECT
                         MAX(CASE WHEN g = 0 AND p = 0 THEN n END)
                           AS n00,
                         MAX(CASE WHEN g = 0 AND p = 0 THEN sx END)
                           AS s00,
                         MAX(CASE WHEN g = 0 AND p = 0 THEN sxx END)
                           AS q00,
                         MAX(CASE WHEN g = 0 AND p = 1 THEN n END)
                           AS n01,
                         MAX(CASE WHEN g = 0 AND p = 1 THEN sx END)
                           AS s01,
                         MAX(CASE WHEN g = 0 AND p = 1 THEN sxx END)
                           AS q01,
                         MAX(CASE WHEN g = 1 AND p = 0 THEN n END)
                           AS n10,
                         MAX(CASE WHEN g = 1 AND p = 0 THEN sx END)
                           AS s10,
                         MAX(CASE WHEN g = 1 AND p = 0 THEN sxx END)
                           AS q10,
                         MAX(CASE WHEN g = 1 AND p = 1 THEN n END)
                           AS n11,
                         MAX(CASE WHEN g = 1 AND p = 1 THEN sx END)
                           AS s11,
                         MAX(CASE WHEN g = 1 AND p = 1 THEN sxx END)
                           AS q11
                       FROM m)
            SELECT n00, n01, n10, n11,
                   round(((CAST(s11 AS DOUBLE) / n11
                           - CAST(s10 AS DOUBLE) / n10)
                          - (CAST(s01 AS DOUBLE) / n01
                             - CAST(s00 AS DOUBLE) / n00)) / 100.0, 6)
                     AS did_usd,
                   round(sqrt(
                     (CAST(q00 AS DOUBLE)
                      - CAST(s00 AS DOUBLE) * s00 / n00)
                       / (n00 - 1) / n00 +
                     (CAST(q01 AS DOUBLE)
                      - CAST(s01 AS DOUBLE) * s01 / n01)
                       / (n01 - 1) / n01 +
                     (CAST(q10 AS DOUBLE)
                      - CAST(s10 AS DOUBLE) * s10 / n10)
                       / (n10 - 1) / n10 +
                     (CAST(q11 AS DOUBLE)
                      - CAST(s11 AS DOUBLE) * s11 / n11)
                       / (n11 - 1) / n11) / 100.0, 6) AS se_usd
            FROM w"""))

  // Deterministic namespace UUIDs (UUIDv5-shaped, md5-based) — stable
  // entity identifiers derived from a namespace + natural key, formatted
  // 8-4-4-4-12 with the version/variant nibbles forced: the id-minting
  // transform for cross-system joins without a sequence service. Pure
  // map-side string slicing of one hash.
  private val fnUuidNs = Op(
    "fn_uuid_ns",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_uu")
      s.sql("""
        WITH h AS (SELECT event_id,
                          md5(concat('graft:user:',
                                     CAST(user_id AS STRING))) AS hx
                   FROM events_uu)
        SELECT event_id,
               concat(substring(hx, 1, 8), '-', substring(hx, 9, 4),
                      '-5', substring(hx, 14, 3), '-',
                      '8', substring(hx, 18, 3), '-',
                      substring(hx, 21, 12)) AS user_uuid
        FROM h ORDER BY event_id LIMIT 20""")
    },
    Some("""WITH h AS (SELECT event_id,
                              md5(concat('graft:user:',
                                         CAST(user_id AS VARCHAR)))
                                AS hx
                       FROM events)
            SELECT event_id,
                   concat(substring(hx, 1, 8), '-', substring(hx, 9, 4),
                          '-5', substring(hx, 14, 3), '-',
                          '8', substring(hx, 18, 3), '-',
                          substring(hx, 21, 12)) AS user_uuid
            FROM h ORDER BY event_id LIMIT 20"""))

  // Hurst exponent by rescaled-range (R/S) analysis over the hourly
  // count series — long-memory detection (H > 0.5 persistent, < 0.5
  // mean-reverting) for capacity planning and anomaly baselines. The
  // algebra stays EXACT inside each block: with integer counts x and
  // block sums S1 = Σx, S2 = Σx², the rescaled range collapses to
  // R/S = (max_k − min_k)(s·c_k − k·S1) / √(s·S2 − S1²) — an integer
  // range over an integer discriminant. ln(R/S) quantizes to 1e-9 per
  // block, means roll up per block size, and with sizes {8,16,32}
  // log-equally spaced the OLS slope reduces to (v₃₂ − v₈)/(2·ln 2).
  // Everything runs on the hour domain — hundreds of rows at any volume.
  private val aggHurstExponent = Op(
    "agg_hurst_exponent",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_he")
      s.sql("""
        WITH hc AS (SELECT event_type,
                           unix_timestamp(ts) div 3600 AS h,
                           CAST(COUNT(*) AS BIGINT) AS x
                    FROM events_he GROUP BY 1, 2),
             hz AS (SELECT event_type, x,
                           CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                             ORDER BY h) - 1 AS BIGINT) AS hi
                    FROM hc),
             ex AS (SELECT event_type, x, hi, sz,
                           hi div sz AS blk, hi % sz + 1 AS k
                    FROM hz
                    LATERAL VIEW explode(array(8, 16, 32)) t AS sz),
             bs AS (SELECT event_type, sz, blk,
                           CAST(COUNT(*) AS BIGINT) AS n,
                           CAST(SUM(x) AS BIGINT) AS s1,
                           CAST(SUM(x * x) AS BIGINT) AS s2
                    FROM ex GROUP BY 1, 2, 3),
             cu AS (SELECT event_type, sz, blk, k,
                           CAST(SUM(x) OVER (PARTITION BY event_type, sz,
                             blk ORDER BY hi
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ck
                    FROM ex),
             dv AS (SELECT cu.event_type, cu.sz, cu.blk,
                           CAST(MAX(cu.sz * cu.ck - cu.k * bs.s1)
                                - MIN(cu.sz * cu.ck - cu.k * bs.s1)
                                AS BIGINT) AS rint,
                           MAX(bs.s1) AS s1, MAX(bs.s2) AS s2,
                           MAX(bs.n) AS n
                    FROM cu JOIN bs
                      ON cu.event_type = bs.event_type
                     AND cu.sz = bs.sz AND cu.blk = bs.blk
                    GROUP BY 1, 2, 3),
             rs AS (SELECT event_type, sz,
                           CAST(round(ln(CAST(rint AS DOUBLE)
                                  / sqrt(CAST(sz * s2 - s1 * s1
                                              AS DOUBLE)))
                                * 1000000000) AS BIGINT) AS lq
                    FROM dv
                    WHERE n = sz AND sz * s2 - s1 * s1 > 0 AND rint > 0),
             mv AS (SELECT event_type, sz,
                           CAST(SUM(lq) AS BIGINT) AS slq,
                           CAST(COUNT(*) AS BIGINT) AS nb
                    FROM rs GROUP BY 1, 2)
        SELECT event_type,
               round((MAX(CASE WHEN sz = 32 THEN
                            CAST(slq AS DOUBLE) / nb END)
                      - MAX(CASE WHEN sz = 8 THEN
                              CAST(slq AS DOUBLE) / nb END))
                     / 1000000000.0D / (2.0D * ln(2.0D)), 6) AS hurst
        FROM mv GROUP BY event_type ORDER BY event_type""")
    },
    Some("""WITH hc AS (SELECT event_type,
                               CAST(floor(epoch(ts)) AS BIGINT) // 3600
                                 AS h,
                               CAST(COUNT(*) AS BIGINT) AS x
                        FROM events GROUP BY 1, 2),
                 hz AS (SELECT event_type, x,
                               CAST(ROW_NUMBER() OVER (
                                 PARTITION BY event_type ORDER BY h) - 1
                                 AS BIGINT) AS hi
                        FROM hc),
                 ex AS (SELECT event_type, x, hi, sz,
                               hi // sz AS blk, hi % sz + 1 AS k
                        FROM hz CROSS JOIN (SELECT unnest([8, 16, 32])
                                            AS sz) t),
                 bs AS (SELECT event_type, sz, blk,
                               CAST(COUNT(*) AS BIGINT) AS n,
                               CAST(SUM(x) AS BIGINT) AS s1,
                               CAST(SUM(x * x) AS BIGINT) AS s2
                        FROM ex GROUP BY 1, 2, 3),
                 cu AS (SELECT event_type, sz, blk, k, hi,
                               CAST(SUM(x) OVER (PARTITION BY event_type,
                                 sz, blk ORDER BY hi
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
                                 AS ck
                        FROM ex),
                 dv AS (SELECT cu.event_type, cu.sz, cu.blk,
                               CAST(MAX(cu.sz * cu.ck - cu.k * bs.s1)
                                    - MIN(cu.sz * cu.ck - cu.k * bs.s1)
                                    AS BIGINT) AS rint,
                               MAX(bs.s1) AS s1, MAX(bs.s2) AS s2,
                               MAX(bs.n) AS n
                        FROM cu JOIN bs
                          ON cu.event_type = bs.event_type
                         AND cu.sz = bs.sz AND cu.blk = bs.blk
                        GROUP BY 1, 2, 3),
                 rs AS (SELECT event_type, sz,
                               CAST(round(ln(CAST(rint AS DOUBLE)
                                      / sqrt(CAST(sz * s2 - s1 * s1
                                                  AS DOUBLE)))
                                    * 1000000000) AS BIGINT) AS lq
                        FROM dv
                        WHERE n = sz AND sz * s2 - s1 * s1 > 0
                          AND rint > 0),
                 mv AS (SELECT event_type, sz,
                               CAST(SUM(lq) AS BIGINT) AS slq,
                               CAST(COUNT(*) AS BIGINT) AS nb
                        FROM rs GROUP BY 1, 2)
            SELECT event_type,
                   round((MAX(CASE WHEN sz = 32 THEN
                                CAST(slq AS DOUBLE) / nb END)
                          - MAX(CASE WHEN sz = 8 THEN
                                  CAST(slq AS DOUBLE) / nb END))
                         / 1000000000.0 / (2.0 * ln(2.0)), 6) AS hurst
            FROM mv GROUP BY event_type ORDER BY event_type"""))

  // Average True Range from hourly OHLC bars — TR = max(H−L, |H−C_prev|,
  // |L−C_prev|) handles the gap between bars that the plain range
  // misses; ATR is its trailing-14-bar mean, published in exact
  // micro-units via floor division. One bar rollup, one lag + one frame
  // over the same (type / hour) sort.
  private val resampleAtr = Op(
    "resample_atr",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_atr")
      s.sql("""
        WITH bar AS (SELECT event_type,
                            unix_timestamp(ts) div 3600 AS h,
                            CAST(MAX(CAST(round(value * 100) AS BIGINT))
                                 AS BIGINT) AS hi,
                            CAST(MIN(CAST(round(value * 100) AS BIGINT))
                                 AS BIGINT) AS lo,
                            CAST(MAX(struct(ts, event_id,
                                 CAST(round(value * 100) AS BIGINT)))
                                 .col3 AS BIGINT) AS cl
                     FROM events_atr GROUP BY 1, 2),
             tr AS (SELECT event_type, h,
                           GREATEST(hi - lo,
                             abs(hi - lag(cl) OVER w),
                             abs(lo - lag(cl) OVER w)) AS trng,
                           ROW_NUMBER() OVER w AS rn
                    FROM bar
                    WINDOW w AS (PARTITION BY event_type ORDER BY h)),
             a AS (SELECT event_type, h, rn,
                          CAST(SUM(trng) OVER (PARTITION BY event_type
                            ORDER BY h ROWS 13 PRECEDING) AS BIGINT)
                            AS s14,
                          CAST(COUNT(*) OVER (PARTITION BY event_type
                            ORDER BY h ROWS 13 PRECEDING) AS BIGINT)
                            AS n14
                   FROM tr WHERE trng IS NOT NULL)
        SELECT event_type, h AS hour_idx,
               CAST((s14 * 10000) div n14 AS BIGINT) AS atr_microusd
        FROM a WHERE rn >= 14
        ORDER BY event_type, hour_idx""")
    },
    Some("""WITH bar AS (SELECT event_type,
                                CAST(floor(epoch(ts)) AS BIGINT) // 3600
                                  AS h,
                                CAST(MAX(CAST(round(value * 100)
                                              AS BIGINT)) AS BIGINT)
                                  AS hi,
                                CAST(MIN(CAST(round(value * 100)
                                              AS BIGINT)) AS BIGINT)
                                  AS lo,
                                (MAX({'ts': ts, 'eid': event_id,
                                      'c': CAST(round(value * 100)
                                                AS BIGINT)})).c AS cl
                         FROM events GROUP BY 1, 2),
                 tr AS (SELECT event_type, h,
                               GREATEST(hi - lo,
                                 abs(hi - lag(cl) OVER w),
                                 abs(lo - lag(cl) OVER w)) AS trng,
                               ROW_NUMBER() OVER w AS rn
                        FROM bar
                        WINDOW w AS (PARTITION BY event_type
                                     ORDER BY h)),
                 a AS (SELECT event_type, h, rn,
                              CAST(SUM(trng) OVER (
                                PARTITION BY event_type ORDER BY h
                                ROWS 13 PRECEDING) AS BIGINT) AS s14,
                              CAST(COUNT(*) OVER (
                                PARTITION BY event_type ORDER BY h
                                ROWS 13 PRECEDING) AS BIGINT) AS n14
                       FROM tr WHERE trng IS NOT NULL)
            SELECT event_type, h AS hour_idx,
                   CAST((s14 * 10000) // n14 AS BIGINT) AS atr_microusd
            FROM a WHERE rn >= 14
            ORDER BY event_type, hour_idx"""))

  // Covariance matrix in long form — all pairwise covariances and
  // correlations of (quantity, price, discount) from ONE scan of nine
  // exact BIGINT moments (the agg_ols_multi moment set, read out as a
  // matrix instead of a fit): the input to any downstream PCA/whitening
  // step. Fixed 3×3 output.
  private val aggCovMatrix = Op(
    "agg_cov_matrix",
    (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_cv")
      // materialize the ONE-row moment aggregate once (guide §2.4): each
      // UNION ALL cell of the matrix referenced m separately, re-scanning
      // lineitem 6x in the r18 before-plan.
      s.sql("""
        WITH b AS (SELECT CAST(round(l_quantity) AS BIGINT) AS x1,
                          CAST(round(l_extendedprice) AS BIGINT) AS x2,
                          CAST(round(l_discount * 100) AS BIGINT) AS x3
                   FROM lineitem_cv)
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x1) AS BIGINT) AS s1,
               CAST(SUM(x2) AS BIGINT) AS s2,
               CAST(SUM(x3) AS BIGINT) AS s3,
               CAST(SUM(x1 * x1) AS BIGINT) AS s11,
               CAST(SUM(x2 * x2) AS BIGINT) AS s22,
               CAST(SUM(x3 * x3) AS BIGINT) AS s33,
               CAST(SUM(x1 * x2) AS BIGINT) AS s12,
               CAST(SUM(x1 * x3) AS BIGINT) AS s13,
               CAST(SUM(x2 * x3) AS BIGINT) AS s23
        FROM b""")
        .trackedCkpt().createOrReplaceTempView("m_cv")
      s.sql("""
        WITH m AS (SELECT * FROM m_cv),
             l AS (SELECT 'quantity' AS vi, 'quantity' AS vj,
                          (CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1
                           / n) / (n - 1) AS cov,
                          1.0D AS corr
                   FROM m
                   UNION ALL
                   SELECT 'price', 'price',
                          (CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2
                           / n) / (n - 1), 1.0D FROM m
                   UNION ALL
                   SELECT 'discount', 'discount',
                          (CAST(s33 AS DOUBLE) - CAST(s3 AS DOUBLE) * s3
                           / n) / (n - 1), 1.0D FROM m
                   UNION ALL
                   SELECT 'quantity', 'price',
                          (CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2
                           / n) / (n - 1),
                          (CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2
                           / n)
                          / sqrt((CAST(s11 AS DOUBLE)
                                  - CAST(s1 AS DOUBLE) * s1 / n)
                                 * (CAST(s22 AS DOUBLE)
                                    - CAST(s2 AS DOUBLE) * s2 / n))
                   FROM m
                   UNION ALL
                   SELECT 'quantity', 'discount',
                          (CAST(s13 AS DOUBLE) - CAST(s1 AS DOUBLE) * s3
                           / n) / (n - 1),
                          (CAST(s13 AS DOUBLE) - CAST(s1 AS DOUBLE) * s3
                           / n)
                          / sqrt((CAST(s11 AS DOUBLE)
                                  - CAST(s1 AS DOUBLE) * s1 / n)
                                 * (CAST(s33 AS DOUBLE)
                                    - CAST(s3 AS DOUBLE) * s3 / n))
                   FROM m
                   UNION ALL
                   SELECT 'price', 'discount',
                          (CAST(s23 AS DOUBLE) - CAST(s2 AS DOUBLE) * s3
                           / n) / (n - 1),
                          (CAST(s23 AS DOUBLE) - CAST(s2 AS DOUBLE) * s3
                           / n)
                          / sqrt((CAST(s22 AS DOUBLE)
                                  - CAST(s2 AS DOUBLE) * s2 / n)
                                 * (CAST(s33 AS DOUBLE)
                                    - CAST(s3 AS DOUBLE) * s3 / n))
                   FROM m)
        SELECT vi, vj, round(cov, 4) AS cov, round(corr, 6) AS corr
        FROM l ORDER BY vi, vj""")
    },
    Some("""WITH b AS (SELECT CAST(round(l_quantity) AS BIGINT) AS x1,
                              CAST(round(l_extendedprice) AS BIGINT)
                                AS x2,
                              CAST(round(l_discount * 100) AS BIGINT)
                                AS x3
                       FROM lineitem),
                 m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(SUM(x1) AS BIGINT) AS s1,
                              CAST(SUM(x2) AS BIGINT) AS s2,
                              CAST(SUM(x3) AS BIGINT) AS s3,
                              CAST(SUM(x1 * x1) AS BIGINT) AS s11,
                              CAST(SUM(x2 * x2) AS BIGINT) AS s22,
                              CAST(SUM(x3 * x3) AS BIGINT) AS s33,
                              CAST(SUM(x1 * x2) AS BIGINT) AS s12,
                              CAST(SUM(x1 * x3) AS BIGINT) AS s13,
                              CAST(SUM(x2 * x3) AS BIGINT) AS s23
                       FROM b),
                 l AS (SELECT 'quantity' AS vi, 'quantity' AS vj,
                              (CAST(s11 AS DOUBLE)
                               - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)
                                AS cov,
                              1.0 AS corr
                       FROM m
                       UNION ALL
                       SELECT 'price', 'price',
                              (CAST(s22 AS DOUBLE)
                               - CAST(s2 AS DOUBLE) * s2 / n) / (n - 1),
                              1.0 FROM m
                       UNION ALL
                       SELECT 'discount', 'discount',
                              (CAST(s33 AS DOUBLE)
                               - CAST(s3 AS DOUBLE) * s3 / n) / (n - 1),
                              1.0 FROM m
                       UNION ALL
                       SELECT 'quantity', 'price',
                              (CAST(s12 AS DOUBLE)
                               - CAST(s1 AS DOUBLE) * s2 / n) / (n - 1),
                              (CAST(s12 AS DOUBLE)
                               - CAST(s1 AS DOUBLE) * s2 / n)
                              / sqrt((CAST(s11 AS DOUBLE)
                                      - CAST(s1 AS DOUBLE) * s1 / n)
                                     * (CAST(s22 AS DOUBLE)
                                        - CAST(s2 AS DOUBLE) * s2 / n))
                       FROM m
                       UNION ALL
                       SELECT 'quantity', 'discount',
                              (CAST(s13 AS DOUBLE)
                               - CAST(s1 AS DOUBLE) * s3 / n) / (n - 1),
                              (CAST(s13 AS DOUBLE)
                               - CAST(s1 AS DOUBLE) * s3 / n)
                              / sqrt((CAST(s11 AS DOUBLE)
                                      - CAST(s1 AS DOUBLE) * s1 / n)
                                     * (CAST(s33 AS DOUBLE)
                                        - CAST(s3 AS DOUBLE) * s3 / n))
                       FROM m
                       UNION ALL
                       SELECT 'price', 'discount',
                              (CAST(s23 AS DOUBLE)
                               - CAST(s2 AS DOUBLE) * s3 / n) / (n - 1),
                              (CAST(s23 AS DOUBLE)
                               - CAST(s2 AS DOUBLE) * s3 / n)
                              / sqrt((CAST(s22 AS DOUBLE)
                                      - CAST(s2 AS DOUBLE) * s2 / n)
                                     * (CAST(s33 AS DOUBLE)
                                        - CAST(s3 AS DOUBLE) * s3 / n))
                       FROM m)
            SELECT vi, vj, round(cov, 4) AS cov, round(corr, 6) AS corr
            FROM l ORDER BY vi, vj"""))

  // Price elasticity of demand — the log-log OLS slope of quantity on
  // unit price per return flag (β < −1 elastic, > −1 inelastic): the
  // econometric read on the same scan agg_regression fits linearly. Each
  // row's (ln q, ln p) quantizes to 1e-6 BIGINTs BEFORE the five moment
  // sums, so the fit is order-independent; slope and intercept evaluate
  // once per group.
  private val aggPriceElasticity = Op(
    "agg_price_elasticity",
    (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_pe")
      s.sql("""
        WITH b AS (SELECT l_returnflag AS flag,
                          CAST(round(ln(l_quantity) * 10000) AS BIGINT)
                            AS lq,
                          CAST(round(ln(l_extendedprice / l_quantity)
                                 * 10000) AS BIGINT) AS lp
                   FROM lineitem_pe
                   WHERE l_quantity > 0 AND l_extendedprice > 0),
             m AS (SELECT flag, CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(lp) AS BIGINT) AS sx,
                          CAST(SUM(lq) AS BIGINT) AS sy,
                          CAST(SUM(lp * lp) AS BIGINT) AS sxx,
                          CAST(SUM(lp * lq) AS BIGINT) AS sxy
                   FROM b GROUP BY 1)
        SELECT flag AS l_returnflag, n,
               round((CAST(n AS DOUBLE) * sxy
                      - CAST(sx AS DOUBLE) * sy)
                     / (CAST(n AS DOUBLE) * sxx
                        - CAST(sx AS DOUBLE) * sx), 6) AS elasticity
        FROM m ORDER BY flag""")
    },
    Some("""WITH b AS (SELECT l_returnflag AS flag,
                              CAST(round(ln(l_quantity) * 10000)
                                   AS BIGINT) AS lq,
                              CAST(round(ln(l_extendedprice / l_quantity)
                                     * 10000) AS BIGINT) AS lp
                       FROM lineitem
                       WHERE l_quantity > 0 AND l_extendedprice > 0),
                 m AS (SELECT flag, CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(SUM(lp) AS BIGINT) AS sx,
                              CAST(SUM(lq) AS BIGINT) AS sy,
                              CAST(SUM(lp * lp) AS BIGINT) AS sxx,
                              CAST(SUM(lp * lq) AS BIGINT) AS sxy
                       FROM b GROUP BY 1)
            SELECT flag AS l_returnflag, n,
                   round((CAST(n AS DOUBLE) * sxy
                          - CAST(sx AS DOUBLE) * sy)
                         / (CAST(n AS DOUBLE) * sxx
                            - CAST(sx AS DOUBLE) * sx), 6)
                     AS elasticity
            FROM m ORDER BY flag"""))

  // Deseasonalized traffic series — the hourly counts with the
  // hour-of-day profile removed (cnt − seasonal(hod)), the series
  // alerting thresholds should run on (a 2 a.m. lull is not an
  // incident). Works on the ×24-scaled exact integers end-to-end: the
  // published value is (24·n_h·cnt − n_h·s24 − 24·Σ_hod d) / (24·n_h),
  // one division per row after integer arithmetic.
  private val resampleDeseasonalize = Op(
    "resample_deseasonalize",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_dsz")
      s.sql("""
        WITH hc AS (SELECT event_type,
                           unix_timestamp(ts) div 3600 AS h,
                           CAST(COUNT(*) AS BIGINT) AS cnt
                    FROM events_dsz GROUP BY 1, 2),
             tr AS (SELECT event_type, h, cnt,
                           CAST(SUM(cnt) OVER (PARTITION BY event_type
                             ORDER BY h ROWS BETWEEN 12 PRECEDING
                             AND 11 FOLLOWING) AS BIGINT) AS s24,
                           CAST(COUNT(*) OVER (PARTITION BY event_type
                             ORDER BY h ROWS BETWEEN 12 PRECEDING
                             AND 11 FOLLOWING) AS BIGINT) AS n24
                    FROM hc),
             dt AS (SELECT event_type, h, h % 24 AS hod, cnt,
                           24 * cnt - s24 AS d
                    FROM tr WHERE n24 = 24),
             hm AS (SELECT event_type, hod,
                           CAST(COUNT(*) AS BIGINT) AS nh,
                           CAST(SUM(d) AS BIGINT) AS sh
                    FROM dt GROUP BY 1, 2)
        SELECT dt.event_type, dt.h AS hour_idx, dt.cnt,
               round(dt.cnt - CAST(hm.sh AS DOUBLE) / (24.0D * hm.nh),
                     4) AS deseasonalized
        FROM dt JOIN hm
          ON dt.event_type = hm.event_type AND dt.hod = hm.hod
        ORDER BY dt.event_type, hour_idx""")
    },
    Some("""WITH hc AS (SELECT event_type,
                               CAST(floor(epoch(ts)) AS BIGINT) // 3600
                                 AS h,
                               CAST(COUNT(*) AS BIGINT) AS cnt
                        FROM events GROUP BY 1, 2),
                 tr AS (SELECT event_type, h, cnt,
                               CAST(SUM(cnt) OVER (PARTITION BY event_type
                                 ORDER BY h ROWS BETWEEN 12 PRECEDING
                                 AND 11 FOLLOWING) AS BIGINT) AS s24,
                               CAST(COUNT(*) OVER (PARTITION BY event_type
                                 ORDER BY h ROWS BETWEEN 12 PRECEDING
                                 AND 11 FOLLOWING) AS BIGINT) AS n24
                        FROM hc),
                 dt AS (SELECT event_type, h, h % 24 AS hod, cnt,
                               24 * cnt - s24 AS d
                        FROM tr WHERE n24 = 24),
                 hm AS (SELECT event_type, hod,
                               CAST(COUNT(*) AS BIGINT) AS nh,
                               CAST(SUM(d) AS BIGINT) AS sh
                        FROM dt GROUP BY 1, 2)
            SELECT dt.event_type, dt.h AS hour_idx, dt.cnt,
                   round(dt.cnt - CAST(hm.sh AS DOUBLE)
                         / (24.0 * hm.nh), 4) AS deseasonalized
            FROM dt JOIN hm
              ON dt.event_type = hm.event_type AND dt.hod = hm.hod
            ORDER BY dt.event_type, hour_idx"""))

  // Sequential-pattern support (GSP 2-sequences) — "A eventually followed
  // by B within a user's history" support counts, the sequence-mining
  // complement to event_markov's IMMEDIATE successor matrix. Each user
  // collapses to first-arrival times per type (bounded by the type
  // alphabet), ordered pairs come from the ≤k² per-user type set, and
  // support is an exact count over users.
  private val eventSeqPairs = Op(
    "event_seq_pairs",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_sq")
      s.sql("""
        WITH ft AS (SELECT user_id, event_type,
                           MIN(struct(ts, event_id)) AS first_at
                    FROM events_sq GROUP BY 1, 2),
             nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n
                    FROM ft),
             pr AS (SELECT a.event_type AS t_first,
                           b.event_type AS t_then,
                           CAST(COUNT(*) AS BIGINT) AS sup
                    FROM ft a JOIN ft b
                      ON a.user_id = b.user_id
                     AND a.event_type <> b.event_type
                     AND a.first_at < b.first_at
                    GROUP BY 1, 2)
        SELECT t_first, t_then, sup,
               round(CAST(sup AS DOUBLE) / nu.n, 6) AS support
        FROM pr CROSS JOIN nu
        ORDER BY t_first, t_then""")
    },
    Some("""WITH ft AS (SELECT user_id, event_type,
                               MIN({'ts': ts, 'eid': event_id})
                                 AS first_at
                        FROM events GROUP BY 1, 2),
                 nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT)
                                 AS n
                        FROM ft),
                 pr AS (SELECT a.event_type AS t_first,
                               b.event_type AS t_then,
                               CAST(COUNT(*) AS BIGINT) AS sup
                        FROM ft a JOIN ft b
                          ON a.user_id = b.user_id
                         AND a.event_type <> b.event_type
                         AND (a.first_at).ts < (b.first_at).ts
                          OR (a.user_id = b.user_id
                              AND a.event_type <> b.event_type
                              AND (a.first_at).ts = (b.first_at).ts
                              AND (a.first_at).eid < (b.first_at).eid)
                        GROUP BY 1, 2)
            SELECT t_first, t_then, sup,
                   round(CAST(sup AS DOUBLE) / nu.n, 6) AS support
            FROM pr CROSS JOIN nu
            ORDER BY t_first, t_then"""))

  // Capture–recapture (Lincoln–Petersen) population estimate — how many
  // TOTAL users exist given two observation windows and their overlap:
  // N̂ = n₁·n₂/m, the coverage estimator ecology lends to dedup-rate and
  // crawl-frontier estimation. Three distinct counts from one scan, one
  // division; the Chapman bias-corrected variant rides along.
  private val aggCaptureRecapture = Op(
    "agg_capture_recapture",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_cr")
      s.sql("""
        WITH w AS (SELECT user_id,
                          MAX(CASE WHEN unix_timestamp(ts) div 86400
                                        < 19738 THEN 1 ELSE 0 END) AS w1,
                          MAX(CASE WHEN unix_timestamp(ts) div 86400
                                        >= 19738 THEN 1 ELSE 0 END)
                            AS w2
                   FROM events_cr GROUP BY 1),
             c AS (SELECT CAST(SUM(w1) AS BIGINT) AS n1,
                          CAST(SUM(w2) AS BIGINT) AS n2,
                          CAST(SUM(w1 * w2) AS BIGINT) AS m,
                          CAST(COUNT(*) AS BIGINT) AS n_true
                   FROM w)
        SELECT n1, n2, m, n_true,
               round(CAST(n1 AS DOUBLE) * n2 / m, 2) AS lp_estimate,
               round((CAST(n1 + 1 AS DOUBLE)) * (n2 + 1) / (m + 1) - 1,
                     2) AS chapman_estimate
        FROM c""")
    },
    Some("""WITH w AS (SELECT user_id,
                              MAX(CASE WHEN CAST(floor(epoch(ts))
                                             AS BIGINT) // 86400 < 19738
                                       THEN 1 ELSE 0 END) AS w1,
                              MAX(CASE WHEN CAST(floor(epoch(ts))
                                             AS BIGINT) // 86400
                                            >= 19738
                                       THEN 1 ELSE 0 END) AS w2
                       FROM events GROUP BY 1),
                 c AS (SELECT CAST(SUM(w1) AS BIGINT) AS n1,
                              CAST(SUM(w2) AS BIGINT) AS n2,
                              CAST(SUM(w1 * w2) AS BIGINT) AS m,
                              CAST(COUNT(*) AS BIGINT) AS n_true
                       FROM w)
            SELECT n1, n2, m, n_true,
                   round(CAST(n1 AS DOUBLE) * n2 / m, 2) AS lp_estimate,
                   round((CAST(n1 + 1 AS DOUBLE)) * (n2 + 1) / (m + 1)
                         - 1, 2) AS chapman_estimate
            FROM c"""))

  // Bigram language-model quality score — per-source mean log-probability
  // under an add-1-smoothed bigram LM with a top-500 vocabulary and an
  // <unk> bucket: the sequence-aware upgrade of text_lm_score's unigram
  // model (templated filler scores high on unigrams but low here). The
  // vocab candidates take a df ≥ 5 floor BEFORE the rank (the ranked
  // relation stays head-sized — a raw-vocab global rank would scale with
  // the corpus tail); doc bigrams
  // come from direct list indexing (no per-doc window); each ln term
  // quantizes to 1e-6 before the per-doc and per-source means.
  private val textBigramLmScore = Op(
    "text_bigram_lm_score",
    (s, d) => {
      t(s, d, "documents").createOrReplaceTempView("documents_bl")
      // the tokenize→explode bigram relation (bg0, referenced via voc
      // twice and bg three times) and the ≤500-row vocab stay plain
      // views, which Spark inlines at each reference: checkpointing
      // both measured no faster at sf1 (MATS.md).
      s.sql("""
        WITH tk AS (SELECT doc_id, source,
                           split(trim(regexp_replace(lower(text),
                             '\\s+', ' ')), ' ') AS w
                    FROM documents_bl)
        SELECT doc_id, source,
               element_at(w, i) AS w1, element_at(w, i + 1) AS w2
        FROM tk
        LATERAL VIEW explode(sequence(1, size(w) - 1)) t AS i
        WHERE size(w) >= 2""")
        .createOrReplaceTempView("bg0_bl")
      s.sql("""
        SELECT w1 AS w FROM (
          SELECT w1, COUNT(*) AS c,
                 ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w1) AS rn
          FROM bg0_bl GROUP BY w1 HAVING COUNT(*) >= 5) v
        WHERE rn <= 500""")
        .createOrReplaceTempView("voc_bl")
      s.sql("""
        WITH bg0 AS (SELECT doc_id, source, w1, w2 FROM bg0_bl),
             voc AS (SELECT w FROM voc_bl),
             bg AS (SELECT doc_id, source,
                           CASE WHEN v1.w IS NULL THEN '<unk>'
                                ELSE bg0.w1 END AS w1,
                           CASE WHEN v2.w IS NULL THEN '<unk>'
                                ELSE bg0.w2 END AS w2
                    FROM bg0
                    LEFT JOIN voc v1 ON bg0.w1 = v1.w
                    LEFT JOIN voc v2 ON bg0.w2 = v2.w),
             c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
                    FROM bg GROUP BY 1, 2),
             c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c
                    FROM bg GROUP BY 1),
             sc AS (SELECT bg.doc_id, bg.source,
                           CAST(round(ln((CAST(c2.c AS DOUBLE) + 1)
                                  / (c1.c + 501)) * 1000000) AS BIGINT)
                             AS lq
                    FROM bg JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
                    JOIN c1 ON bg.w1 = c1.w1),
             ds AS (SELECT doc_id, source,
                           CAST(SUM(lq) AS BIGINT) AS slq,
                           CAST(COUNT(*) AS BIGINT) AS nb
                    FROM sc GROUP BY 1, 2)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               round(CAST(SUM(CAST(round(CAST(slq AS DOUBLE) / nb)
                                   AS BIGINT)) AS DOUBLE)
                     / COUNT(*) / 1000000.0D, 6) AS mean_lm_score
        FROM ds GROUP BY source ORDER BY source""")
    },
    Some("""WITH tk AS (SELECT doc_id, source,
                               string_split(trim(regexp_replace(
                                 lower(text), '\s+', ' ', 'g')), ' ')
                                 AS w
                        FROM documents),
                 bg0 AS (SELECT doc_id, source,
                                w[i] AS w1, w[i + 1] AS w2
                         FROM (SELECT doc_id, source, w,
                                      unnest(generate_series(1,
                                        len(w) - 1)) AS i
                               FROM tk WHERE len(w) >= 2) x),
                 voc AS (SELECT w1 AS w FROM (
                           SELECT w1, COUNT(*) AS c,
                                  ROW_NUMBER() OVER (
                                    ORDER BY COUNT(*) DESC, w1) AS rn
                           FROM bg0 GROUP BY w1
                           HAVING COUNT(*) >= 5) v WHERE rn <= 500),
                 bg AS (SELECT doc_id, source,
                               CASE WHEN v1.w IS NULL THEN '<unk>'
                                    ELSE bg0.w1 END AS w1,
                               CASE WHEN v2.w IS NULL THEN '<unk>'
                                    ELSE bg0.w2 END AS w2
                        FROM bg0
                        LEFT JOIN voc v1 ON bg0.w1 = v1.w
                        LEFT JOIN voc v2 ON bg0.w2 = v2.w),
                 c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
                        FROM bg GROUP BY 1, 2),
                 c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c
                        FROM bg GROUP BY 1),
                 sc AS (SELECT bg.doc_id, bg.source,
                               CAST(round(ln((CAST(c2.c AS DOUBLE) + 1)
                                      / (c1.c + 501)) * 1000000)
                                    AS BIGINT) AS lq
                        FROM bg JOIN c2
                          ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
                        JOIN c1 ON bg.w1 = c1.w1),
                 ds AS (SELECT doc_id, source,
                               CAST(SUM(lq) AS BIGINT) AS slq,
                               CAST(COUNT(*) AS BIGINT) AS nb
                        FROM sc GROUP BY 1, 2)
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   round(CAST(SUM(CAST(round(CAST(slq AS DOUBLE) / nb)
                                       AS BIGINT)) AS DOUBLE)
                         / COUNT(*) / 1000000.0, 6) AS mean_lm_score
            FROM ds GROUP BY source ORDER BY source"""))

  // Matryoshka prefix-dimension evaluation — recall@10 of the 16-dim
  // PREFIX cosine ranking against the full 64-dim ranking, plus the rank-1
  // agreement: the measurement behind "can we serve truncated embeddings
  // at 1/4 the memory". Same broadcast-probe single-pass shape as
  // emb_recall_at_k; slicing is free map-side.
  private val embPrefixRecall = Op(
    "emb_prefix_recall",
    (s, d) => {
      graft.functions.CosineSimilarity.register(s)
      t(s, d, "embeddings").createOrReplaceTempView("embeddings_pr")
      s.sql("""
        WITH e AS (SELECT vec_id,
                          CAST(embedding AS ARRAY<DOUBLE>) AS v,
                          CAST(slice(embedding, 1, 16) AS ARRAY<DOUBLE>)
                            AS vp
                   FROM embeddings_pr),
             p AS (SELECT v AS pv, vp AS pvp FROM e WHERE vec_id = 0),
             sc AS (SELECT e.vec_id,
                           round(graft_cosine(e.v, p.pv), 6) AS cs,
                           round(graft_cosine(e.vp, p.pvp), 6) AS csp
                    FROM e CROSS JOIN p WHERE e.vec_id <> 0),
             fx AS (SELECT vec_id FROM sc
                    ORDER BY cs DESC, vec_id LIMIT 10),
             px AS (SELECT vec_id FROM sc
                    ORDER BY csp DESC, vec_id LIMIT 10)
        SELECT CAST(16 AS BIGINT) AS prefix_dims,
               CAST(COUNT(*) AS BIGINT) AS hits,
               round(CAST(COUNT(*) AS DOUBLE) / 10.0D, 6)
                 AS recall_at_10
        FROM fx JOIN px ON fx.vec_id = px.vec_id""")
    },
    Some("""WITH e AS (SELECT vec_id,
                              CAST(embedding AS DOUBLE[]) AS v,
                              CAST(embedding[1:16] AS DOUBLE[]) AS vp
                       FROM embeddings),
                 p AS (SELECT v AS pv, vp AS pvp FROM e
                       WHERE vec_id = 0),
                 sc AS (SELECT e.vec_id,
                               round(list_cosine_similarity(e.v, p.pv),
                                     6) AS cs,
                               round(list_cosine_similarity(e.vp,
                                     p.pvp), 6) AS csp
                        FROM e CROSS JOIN p WHERE e.vec_id <> 0),
                 fx AS (SELECT vec_id FROM sc
                        ORDER BY cs DESC, vec_id LIMIT 10),
                 px AS (SELECT vec_id FROM sc
                        ORDER BY csp DESC, vec_id LIMIT 10)
            SELECT CAST(16 AS BIGINT) AS prefix_dims,
                   CAST(COUNT(*) AS BIGINT) AS hits,
                   round(CAST(COUNT(*) AS DOUBLE) / 10.0, 6)
                     AS recall_at_10
            FROM fx JOIN px ON fx.vec_id = px.vec_id"""))

  // CUPED variance reduction — the experimentation-platform technique
  // that shrinks metric variance using the PRE-period value as a control
  // covariate (θ = cov(pre, post)/var(pre); variance shrinks by ρ²).
  // Per-user pre/post purchase totals come from ONE conditional-aggregate
  // scan (exact cents); the five cross-moments over users are exact
  // BIGINTs; θ and the variance-reduction share evaluate once.
  private val aggCuped = Op(
    "agg_cuped",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_cp")
      s.sql("""
        WITH u AS (SELECT user_id,
                          CAST(SUM(CASE WHEN unix_timestamp(ts)
                                 div 86400 < 19738
                                 THEN CAST(round(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS x,
                          CAST(SUM(CASE WHEN unix_timestamp(ts)
                                 div 86400 >= 19738
                                 THEN CAST(round(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS y
                   FROM events_cp WHERE event_type = 'purchase'
                   GROUP BY 1),
             m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(x) AS BIGINT) AS sx,
                          CAST(SUM(y) AS BIGINT) AS sy,
                          CAST(SUM(x * x) AS BIGINT) AS sxx,
                          CAST(SUM(y * y) AS BIGINT) AS syy,
                          CAST(SUM(x * y) AS BIGINT) AS sxy
                   FROM u)
        SELECT n,
               round((CAST(n AS DOUBLE) * sxy
                      - CAST(sx AS DOUBLE) * sy)
                     / (CAST(n AS DOUBLE) * sxx
                        - CAST(sx AS DOUBLE) * sx), 6) AS theta,
               round(((CAST(n AS DOUBLE) * sxy
                       - CAST(sx AS DOUBLE) * sy)
                      * (CAST(n AS DOUBLE) * sxy
                         - CAST(sx AS DOUBLE) * sy))
                     / ((CAST(n AS DOUBLE) * sxx
                         - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n AS DOUBLE) * syy
                           - CAST(sy AS DOUBLE) * sy)), 6)
                 AS var_reduction
        FROM m""")
    },
    Some("""WITH u AS (SELECT user_id,
                              CAST(SUM(CASE WHEN CAST(floor(epoch(ts))
                                     AS BIGINT) // 86400 < 19738
                                     THEN CAST(round(value * 100)
                                               AS BIGINT)
                                     ELSE 0 END) AS BIGINT) AS x,
                              CAST(SUM(CASE WHEN CAST(floor(epoch(ts))
                                     AS BIGINT) // 86400 >= 19738
                                     THEN CAST(round(value * 100)
                                               AS BIGINT)
                                     ELSE 0 END) AS BIGINT) AS y
                       FROM events WHERE event_type = 'purchase'
                       GROUP BY 1),
                 m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(SUM(x) AS BIGINT) AS sx,
                              CAST(SUM(y) AS BIGINT) AS sy,
                              CAST(SUM(x * x) AS BIGINT) AS sxx,
                              CAST(SUM(y * y) AS BIGINT) AS syy,
                              CAST(SUM(x * y) AS BIGINT) AS sxy
                       FROM u)
            SELECT n,
                   round((CAST(n AS DOUBLE) * sxy
                          - CAST(sx AS DOUBLE) * sy)
                         / (CAST(n AS DOUBLE) * sxx
                            - CAST(sx AS DOUBLE) * sx), 6) AS theta,
                   round(((CAST(n AS DOUBLE) * sxy
                           - CAST(sx AS DOUBLE) * sy)
                          * (CAST(n AS DOUBLE) * sxy
                             - CAST(sx AS DOUBLE) * sy))
                         / ((CAST(n AS DOUBLE) * sxx
                             - CAST(sx AS DOUBLE) * sx)
                            * (CAST(n AS DOUBLE) * syy
                               - CAST(sy AS DOUBLE) * sy)), 6)
                     AS var_reduction
            FROM m"""))

  // k-NN classification over the embedding space — each "unlabeled" probe
  // takes the majority label of its 5 nearest labeled neighbors (votes
  // and the true label ride along): the semi-supervised labeling /
  // label-audit loop. Probes broadcast, corpus streams once through the
  // codegen'd cosine, one rank window per probe, majority by
  // (votes DESC, label) — engine-unique.
  private val embKnnClassify = Op(
    "emb_knn_classify",
    (s, d) => {
      graft.functions.CosineSimilarity.register(s)
      t(s, d, "embeddings").createOrReplaceTempView("embeddings_kc")
      s.sql("""
        WITH e AS (SELECT vec_id, label,
                          CAST(embedding AS ARRAY<DOUBLE>) AS v
                   FROM embeddings_kc),
             p AS (SELECT vec_id AS p_id, label AS true_label, v AS pv
                   FROM e WHERE vec_id < 5),
             nb AS (SELECT p.p_id, p.true_label, e.vec_id, e.label,
                           ROW_NUMBER() OVER (PARTITION BY p.p_id
                             ORDER BY round(graft_cosine(e.v, p.pv), 6)
                               DESC, e.vec_id) AS rn
                    FROM e CROSS JOIN p WHERE e.vec_id >= 5),
             vt AS (SELECT p_id, true_label, label,
                           CAST(COUNT(*) AS BIGINT) AS votes
                    FROM nb WHERE rn <= 5 GROUP BY 1, 2, 3),
             mj AS (SELECT p_id, true_label, label, votes,
                           ROW_NUMBER() OVER (PARTITION BY p_id
                             ORDER BY votes DESC, label) AS r
                    FROM vt)
        SELECT p_id AS vec_id, CAST(label AS BIGINT) AS predicted,
               CAST(true_label AS BIGINT) AS actual, votes,
               CASE WHEN label = true_label THEN 1 ELSE 0 END AS correct
        FROM mj WHERE r = 1 ORDER BY vec_id""")
    },
    Some("""WITH e AS (SELECT vec_id, label,
                              CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
                 p AS (SELECT vec_id AS p_id, label AS true_label,
                              v AS pv
                       FROM e WHERE vec_id < 5),
                 nb AS (SELECT p.p_id, p.true_label, e.vec_id, e.label,
                               ROW_NUMBER() OVER (PARTITION BY p.p_id
                                 ORDER BY round(list_cosine_similarity(
                                   e.v, p.pv), 6) DESC, e.vec_id) AS rn
                        FROM e CROSS JOIN p WHERE e.vec_id >= 5),
                 vt AS (SELECT p_id, true_label, label,
                               CAST(COUNT(*) AS BIGINT) AS votes
                        FROM nb WHERE rn <= 5 GROUP BY 1, 2, 3),
                 mj AS (SELECT p_id, true_label, label, votes,
                               ROW_NUMBER() OVER (PARTITION BY p_id
                                 ORDER BY votes DESC, label) AS r
                        FROM vt)
            SELECT p_id AS vec_id, CAST(label AS BIGINT) AS predicted,
                   CAST(true_label AS BIGINT) AS actual, votes,
                   CASE WHEN label = true_label THEN 1 ELSE 0 END
                     AS correct
            FROM mj WHERE r = 1 ORDER BY vec_id"""))

  // LTTB-style downsampling (largest-triangle-one-bucket variant) — per
  // 4-hour bucket keep the point subtending the largest triangle against
  // the NEIGHBOR bucket centroids: preserves visual shape (spikes AND
  // slopes) where min/max decimation keeps only extremes. Centroids come
  // from exact integer sums; the area is one fixed IEEE expression
  // quantized to 1e-6 before the per-bucket argmax; everything runs on
  // the hourly rollup domain.
  private val resampleLttb = Op(
    "resample_lttb",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_lt")
      s.sql("""
        WITH hc AS (SELECT event_type,
                           unix_timestamp(ts) div 3600 AS h,
                           CAST(COUNT(*) AS BIGINT) AS v
                    FROM events_lt GROUP BY 1, 2),
             bk AS (SELECT event_type, h, v, h div 4 AS b FROM hc),
             bc AS (SELECT event_type, b,
                           CAST(SUM(h) AS BIGINT) AS sh,
                           CAST(SUM(v) AS BIGINT) AS sv,
                           CAST(COUNT(*) AS BIGINT) AS n
                    FROM bk GROUP BY 1, 2),
             nb AS (SELECT event_type, b,
                           lag(sh) OVER w AS psh, lag(sv) OVER w AS psv,
                           lag(n) OVER w AS pn,
                           lead(sh) OVER w AS nsh,
                           lead(sv) OVER w AS nsv, lead(n) OVER w AS nn
                    FROM bc
                    WINDOW w AS (PARTITION BY event_type ORDER BY b)),
             ar AS (SELECT bk.event_type, bk.b, bk.h, bk.v,
                           CAST(round(abs(
                             (bk.h - CAST(nb.psh AS DOUBLE) / nb.pn)
                             * (CAST(nb.nsv AS DOUBLE) / nb.nn
                                - CAST(nb.psv AS DOUBLE) / nb.pn)
                             - (CAST(nb.nsh AS DOUBLE) / nb.nn
                                - CAST(nb.psh AS DOUBLE) / nb.pn)
                             * (bk.v - CAST(nb.psv AS DOUBLE) / nb.pn))
                             * 1000000) AS BIGINT) AS area_q
                    FROM bk JOIN nb
                      ON bk.event_type = nb.event_type AND bk.b = nb.b
                    WHERE nb.psh IS NOT NULL AND nb.nsh IS NOT NULL),
             pick AS (SELECT event_type, b, h, v,
                             ROW_NUMBER() OVER (PARTITION BY event_type,
                               b ORDER BY area_q DESC, h) AS r
                      FROM ar)
        SELECT event_type, h AS hour_idx, v AS cnt
        FROM pick WHERE r = 1 ORDER BY event_type, hour_idx""")
    },
    Some("""WITH hc AS (SELECT event_type,
                               CAST(floor(epoch(ts)) AS BIGINT) // 3600
                                 AS h,
                               CAST(COUNT(*) AS BIGINT) AS v
                        FROM events GROUP BY 1, 2),
                 bk AS (SELECT event_type, h, v, h // 4 AS b FROM hc),
                 bc AS (SELECT event_type, b,
                               CAST(SUM(h) AS BIGINT) AS sh,
                               CAST(SUM(v) AS BIGINT) AS sv,
                               CAST(COUNT(*) AS BIGINT) AS n
                        FROM bk GROUP BY 1, 2),
                 nb AS (SELECT event_type, b,
                               lag(sh) OVER w AS psh,
                               lag(sv) OVER w AS psv,
                               lag(n) OVER w AS pn,
                               lead(sh) OVER w AS nsh,
                               lead(sv) OVER w AS nsv,
                               lead(n) OVER w AS nn
                        FROM bc
                        WINDOW w AS (PARTITION BY event_type
                                     ORDER BY b)),
                 ar AS (SELECT bk.event_type, bk.b, bk.h, bk.v,
                               CAST(round(abs(
                                 (bk.h - CAST(nb.psh AS DOUBLE) / nb.pn)
                                 * (CAST(nb.nsv AS DOUBLE) / nb.nn
                                    - CAST(nb.psv AS DOUBLE) / nb.pn)
                                 - (CAST(nb.nsh AS DOUBLE) / nb.nn
                                    - CAST(nb.psh AS DOUBLE) / nb.pn)
                                 * (bk.v - CAST(nb.psv AS DOUBLE)
                                    / nb.pn)) * 1000000) AS BIGINT)
                                 AS area_q
                        FROM bk JOIN nb
                          ON bk.event_type = nb.event_type
                         AND bk.b = nb.b
                        WHERE nb.psh IS NOT NULL
                          AND nb.nsh IS NOT NULL),
                 pick AS (SELECT event_type, b, h, v,
                                 ROW_NUMBER() OVER (
                                   PARTITION BY event_type, b
                                   ORDER BY area_q DESC, h) AS r
                          FROM ar)
            SELECT event_type, h AS hour_idx, v AS cnt
            FROM pick WHERE r = 1 ORDER BY event_type, hour_idx"""))

  // Theil decomposition — total inequality split EXACTLY into
  // within-segment and between-segment components (T = Σ s_g·T_g + T_B),
  // the property that makes Theil the inequality measure analysts
  // decompose (Gini cannot): "is revenue inequality driven inside
  // segments or across them". Per-customer rollup once, per-segment and
  // global terms quantized to 1e-12 before their BIGINT sums.
  private val aggTheilDecompose = Op(
    "agg_theil_decompose",
    (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_td")
      t(s, d, "customer").createOrReplaceTempView("customer_td")
      s.sql("""
        WITH rev AS (SELECT c.c_mktsegment AS seg, o.o_custkey,
                            CAST(SUM(CAST(round(o.o_totalprice * 100)
                                          AS BIGINT)) AS BIGINT) AS r
                     FROM orders_td o
                     JOIN customer_td c ON o.o_custkey = c.c_custkey
                     GROUP BY 1, 2),
             sg AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
                           CAST(SUM(r) AS BIGINT) AS sr
                    FROM rev GROUP BY 1),
             gt AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
                           CAST(SUM(sr) AS BIGINT) AS tr FROM sg),
             wi AS (SELECT rev.seg,
                           CAST(SUM(CAST(round(CAST(r AS DOUBLE) / sr
                                  * ln(CAST(r AS DOUBLE) * n / sr)
                                  * 1000000000000) AS BIGINT))
                                AS BIGINT) AS twq
                    FROM rev JOIN sg ON rev.seg = sg.seg
                    GROUP BY rev.seg),
             parts AS (SELECT sg.seg, sg.n, sg.sr, wi.twq, gt.nn, gt.tr,
                              CAST(round(CAST(sg.sr AS DOUBLE) / gt.tr
                                     * ln((CAST(sg.sr AS DOUBLE)
                                           / gt.tr)
                                          / (CAST(sg.n AS DOUBLE)
                                             / gt.nn))
                                     * 1000000000000) AS BIGINT) AS tbq
                       FROM sg JOIN wi ON sg.seg = wi.seg CROSS JOIN gt)
        SELECT seg AS c_mktsegment,
               round(CAST(twq AS DOUBLE) / 1000000000000.0D, 6)
                 AS theil_within,
               round(CAST(sr AS DOUBLE) / tr, 6) AS revenue_share,
               round(CAST(tbq AS DOUBLE) / 1000000000000.0D, 6)
                 AS between_term
        FROM parts ORDER BY c_mktsegment""")
    },
    Some("""WITH rev AS (SELECT c.c_mktsegment AS seg, o.o_custkey,
                                CAST(SUM(CAST(round(o.o_totalprice * 100)
                                              AS BIGINT)) AS BIGINT)
                                  AS r
                         FROM orders o
                         JOIN customer c ON o.o_custkey = c.c_custkey
                         GROUP BY 1, 2),
                 sg AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
                               CAST(SUM(r) AS BIGINT) AS sr
                        FROM rev GROUP BY 1),
                 gt AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
                               CAST(SUM(sr) AS BIGINT) AS tr FROM sg),
                 wi AS (SELECT rev.seg,
                               CAST(SUM(CAST(round(CAST(r AS DOUBLE)
                                      / sr
                                      * ln(CAST(r AS DOUBLE) * n / sr)
                                      * 1000000000000) AS BIGINT))
                                    AS BIGINT) AS twq
                        FROM rev JOIN sg ON rev.seg = sg.seg
                        GROUP BY rev.seg),
                 parts AS (SELECT sg.seg, sg.n, sg.sr, wi.twq, gt.nn,
                                  gt.tr,
                                  CAST(round(CAST(sg.sr AS DOUBLE)
                                         / gt.tr
                                         * ln((CAST(sg.sr AS DOUBLE)
                                               / gt.tr)
                                              / (CAST(sg.n AS DOUBLE)
                                                 / gt.nn))
                                         * 1000000000000) AS BIGINT)
                                    AS tbq
                           FROM sg JOIN wi ON sg.seg = wi.seg
                           CROSS JOIN gt)
            SELECT seg AS c_mktsegment,
                   round(CAST(twq AS DOUBLE) / 1000000000000.0, 6)
                     AS theil_within,
                   round(CAST(sr AS DOUBLE) / tr, 6) AS revenue_share,
                   round(CAST(tbq AS DOUBLE) / 1000000000000.0, 6)
                     AS between_term
            FROM parts ORDER BY c_mktsegment"""))

  // Hill tail-index estimator — how heavy the order-value tail is
  // (α < 2 means infinite variance: percentile SLAs and mean-based
  // capacity plans break). Uses the top-k=100 order statistics only:
  // one rank window, each ln(x_(i)/x_(k)) quantized to 1e-9 before the
  // mean, α = 1/H once. The top-k filter takes the WindowGroupLimit
  // pre-limit, so the sort never materializes the full table.
  private val aggHillTail = Op(
    "agg_hill_tail",
    (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_hl")
      s.sql("""
        WITH b AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
                            AS pc,
                          o_orderkey
                   FROM orders_hl),
             rk AS (SELECT pc, ROW_NUMBER() OVER (ORDER BY pc DESC,
                              o_orderkey) AS rn
                    FROM b),
             tk AS (SELECT pc, rn FROM rk WHERE rn <= 100),
             kth AS (SELECT CAST(MAX(CASE WHEN rn = 100 THEN pc END)
                                 AS BIGINT) AS xk
                     FROM tk),
             q AS (SELECT CAST(round(ln(CAST(tk.pc AS DOUBLE) / kth.xk)
                            * 1000000000) AS BIGINT) AS lq
                   FROM tk CROSS JOIN kth WHERE tk.rn < 100)
        SELECT CAST(100 AS BIGINT) AS k,
               round(CAST(SUM(lq) AS DOUBLE) / 99 / 1000000000.0D, 6)
                 AS hill_h,
               -- all-ties top-k (H = 0): the Hill alpha is undefined —
               -- publish NULL instead of dividing by zero (ANSI mode
               -- throws; heavy duplication makes this REACHABLE on real
               -- data — the r14 sf10 probe hit it when replication put 100
               -- copies of the max in the top-100)
               round(99 * 1000000000.0D /
                     NULLIF(CAST(SUM(lq) AS DOUBLE), 0.0D), 6)
                 AS tail_alpha
        FROM q""")
    },
    Some("""WITH b AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
                                AS pc,
                              o_orderkey
                       FROM orders),
                 rk AS (SELECT pc, ROW_NUMBER() OVER (ORDER BY pc DESC,
                                  o_orderkey) AS rn
                        FROM b),
                 tk AS (SELECT pc, rn FROM rk WHERE rn <= 100),
                 kth AS (SELECT CAST(MAX(CASE WHEN rn = 100 THEN pc
                                        END) AS BIGINT) AS xk
                         FROM tk),
                 q AS (SELECT CAST(round(ln(CAST(tk.pc AS DOUBLE)
                                / kth.xk) * 1000000000) AS BIGINT)
                                AS lq
                       FROM tk CROSS JOIN kth WHERE tk.rn < 100)
            SELECT CAST(100 AS BIGINT) AS k,
                   round(CAST(SUM(lq) AS DOUBLE) / 99 / 1000000000.0,
                         6) AS hill_h,
                   round(99 * 1000000000.0 /
                         NULLIF(CAST(SUM(lq) AS DOUBLE), 0.0),
                         6) AS tail_alpha
            FROM q"""))

  // Cumulative-gains (lift) chart — per score decile: share of all
  // positives captured when targeting the top-d deciles, and the lift
  // over random: the model-eval readout a campaign planner reads
  // (agg_auc_roc says "ranked well", this says "mail the top 30%").
  // Deciles come from a bucket-partitioned two-phase global rank (the
  // corpus_curriculum pattern — no Exchange SinglePartition; the event
  // count scales with volume) with the floor-decile formula mirrored in
  // the oracle's plain global rank; exact integer cumulative positives.
  private val aggGainChart = Op(
    "agg_gain_chart",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_gc")
      s.sql("""
        WITH b AS (SELECT event_id,
                          CAST(round(value * 100) AS BIGINT) AS score,
                          CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END AS pos
                   FROM events_gc),
             bkt AS (SELECT event_id, score, pos,
                            (-score) div 500 AS bu
                     FROM b),
             win AS (SELECT pos, bu,
                            CAST(row_number() OVER (PARTITION BY bu
                              ORDER BY score DESC, event_id)
                              AS BIGINT) AS rin
                     FROM bkt),
             bt AS (SELECT bu, CAST(COUNT(*) AS BIGINT) AS c
                    FROM bkt GROUP BY 1),
             off AS (SELECT bu,
                            CAST(COALESCE(SUM(c) OVER (ORDER BY bu
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS BIGINT) AS o
                     FROM bt),
             nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM bt),
             dec AS (SELECT win.pos,
                            CAST(((win.rin + off.o - 1) * 10) div nn.n
                                 + 1 AS INT) AS d
                     FROM win JOIN off ON win.bu = off.bu
                     CROSS JOIN nn),
             g AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(pos) AS BIGINT) AS p
                   FROM dec GROUP BY 1),
             c AS (SELECT d, n, p,
                          CAST(SUM(p) OVER (ORDER BY d
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp,
                          CAST(SUM(n) OVER (ORDER BY d
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn,
                          CAST(SUM(p) OVER () AS BIGINT) AS tp,
                          CAST(SUM(n) OVER () AS BIGINT) AS tn
                   FROM g)
        SELECT CAST(d AS BIGINT) AS decile, n, p,
               round(CAST(cp AS DOUBLE) / tp, 6) AS cum_gain,
               round((CAST(cp AS DOUBLE) / tp)
                     / (CAST(cn AS DOUBLE) / tn), 6) AS lift
        FROM c ORDER BY decile""")
    },
    Some("""WITH b AS (SELECT event_id,
                              CAST(round(value * 100) AS BIGINT)
                                AS score,
                              CASE WHEN event_type = 'purchase'
                                   THEN 1 ELSE 0 END AS pos
                       FROM events),
                 rk AS (SELECT pos,
                               CAST(row_number() OVER (
                                 ORDER BY score DESC, event_id)
                                 AS BIGINT) AS rn,
                               CAST(count(*) OVER () AS BIGINT) AS n
                        FROM b),
                 dec AS (SELECT pos,
                                CAST(((rn - 1) * 10) // n + 1 AS INT)
                                  AS d
                         FROM rk),
                 g AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(SUM(pos) AS BIGINT) AS p
                       FROM dec GROUP BY 1),
                 c AS (SELECT d, n, p,
                              CAST(SUM(p) OVER (ORDER BY d
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
                                AS cp,
                              CAST(SUM(n) OVER (ORDER BY d
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
                                AS cn,
                              CAST(SUM(p) OVER () AS BIGINT) AS tp,
                              CAST(SUM(n) OVER () AS BIGINT) AS tn
                       FROM g)
            SELECT CAST(d AS BIGINT) AS decile, n, p,
                   round(CAST(cp AS DOUBLE) / tp, 6) AS cum_gain,
                   round((CAST(cp AS DOUBLE) / tp)
                         / (CAST(cn AS DOUBLE) / tn), 6) AS lift
            FROM c ORDER BY decile"""))

  // Mean dwell time per journey transition — how long users sit between
  // consecutive action types (event_markov gives WHERE they go; this
  // gives HOW FAST): one lead window shared for next-type and next-ts,
  // exact second gaps, partial-aggregated rollup bounded by the type
  // alphabet squared.
  private lazy val eventTransitionTime = Op(
    "event_transition_time",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_tt")
      s.sql("""
        WITH seq AS (SELECT event_type AS src,
                            lead(event_type) OVER w AS dst,
                            CAST(unix_timestamp(lead(ts) OVER w)
                                 - unix_timestamp(ts) AS BIGINT) AS gap
                     FROM events_tt
                     WINDOW w AS (PARTITION BY user_id
                                  ORDER BY ts, event_id))
        SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(gap) AS BIGINT) AS min_gap_s,
               CAST(MAX(gap) AS BIGINT) AS max_gap_s,
               CAST(SUM(gap) div COUNT(*) AS BIGINT) AS mean_gap_floor_s
        FROM seq WHERE dst IS NOT NULL
        GROUP BY src, dst ORDER BY src, dst""")
    },
    Some("""WITH seq AS (SELECT event_type AS src,
                                lead(event_type) OVER w AS dst,
                                CAST(floor(epoch(lead(ts) OVER w))
                                     AS BIGINT)
                                  - CAST(floor(epoch(ts)) AS BIGINT)
                                  AS gap
                         FROM events
                         WINDOW w AS (PARTITION BY user_id
                                      ORDER BY ts, event_id))
            SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(MIN(gap) AS BIGINT) AS min_gap_s,
                   CAST(MAX(gap) AS BIGINT) AS max_gap_s,
                   CAST(SUM(gap) // COUNT(*) AS BIGINT)
                     AS mean_gap_floor_s
            FROM seq WHERE dst IS NOT NULL
            GROUP BY src, dst ORDER BY src, dst"""))

  // Embedding-space drift per label — L2 distance between each label's
  // centroid in the first vs second half of the corpus: the retraining
  // trigger ("did this class move"). Centroids come from two (label, dim)
  // posexplode rollups (sums quantized to 1e-6 integers — exact partial
  // aggregation at any parallelism); the distance is one fixed
  // per-label expression over the 64-dim join.
  private lazy val embCentroidDrift = Op(
    "emb_centroid_drift",
    (s, d) => {
      t(s, d, "embeddings").createOrReplaceTempView("embeddings_cd")
      s.sql("""
        WITH mid AS (SELECT CAST(MAX(vec_id) div 2 AS BIGINT) AS m
                     FROM embeddings_cd),
             ex AS (SELECT label,
                           CASE WHEN vec_id <= mid.m THEN 0 ELSE 1 END
                             AS half,
                           pos AS dim,
                           CAST(round(CAST(val AS DOUBLE) * 1000000)
                                AS BIGINT) AS vq
                    FROM embeddings_cd CROSS JOIN mid
                    LATERAL VIEW posexplode(embedding) t AS pos, val),
             cen AS (SELECT label, half, dim,
                            CAST(SUM(vq) AS BIGINT) AS s,
                            CAST(COUNT(*) AS BIGINT) AS n
                     FROM ex GROUP BY 1, 2, 3),
             j AS (SELECT a.label, a.dim,
                          CAST(a.s AS DOUBLE) / a.n
                            - CAST(b.s AS DOUBLE) / b.n AS dd,
                          a.n AS n0, b.n AS n1
                   FROM cen a JOIN cen b
                     ON a.label = b.label AND a.dim = b.dim
                    AND a.half = 0 AND b.half = 1)
        SELECT CAST(label AS BIGINT) AS label,
               CAST(MAX(n0) AS BIGINT) AS n_first,
               CAST(MAX(n1) AS BIGINT) AS n_second,
               round(sqrt(SUM(dd * dd)) / 1000000.0D, 6) AS l2_drift
        FROM j GROUP BY label ORDER BY label""")
    },
    Some("""WITH mid AS (SELECT CAST(MAX(vec_id) // 2 AS BIGINT) AS m
                         FROM embeddings),
                 ex AS (SELECT label,
                               CASE WHEN vec_id <= mid.m THEN 0
                                    ELSE 1 END AS half,
                               x.i - 1 AS dim,
                               CAST(round(CAST(x.v AS DOUBLE) * 1000000)
                                    AS BIGINT) AS vq
                        FROM embeddings CROSS JOIN mid
                        CROSS JOIN LATERAL (
                          SELECT unnest(embedding) AS v,
                                 unnest(generate_series(1,
                                   len(embedding))) AS i) x),
                 cen AS (SELECT label, half, dim,
                                CAST(SUM(vq) AS BIGINT) AS s,
                                CAST(COUNT(*) AS BIGINT) AS n
                         FROM ex GROUP BY 1, 2, 3),
                 j AS (SELECT a.label, a.dim,
                              CAST(a.s AS DOUBLE) / a.n
                                - CAST(b.s AS DOUBLE) / b.n AS dd,
                              a.n AS n0, b.n AS n1
                       FROM cen a JOIN cen b
                         ON a.label = b.label AND a.dim = b.dim
                        AND a.half = 0 AND b.half = 1)
            SELECT CAST(label AS BIGINT) AS label,
                   CAST(MAX(n0) AS BIGINT) AS n_first,
                   CAST(MAX(n1) AS BIGINT) AS n_second,
                   round(sqrt(SUM(dd * dd)) / 1000000.0, 6) AS l2_drift
            FROM j GROUP BY label ORDER BY label"""))

  // Cochran–Armitage trend test — is the high-value-purchase RATE
  // monotonically trending across ordered calendar weeks, unit =
  // (user, active week) (the ordered
  // version of the chi-square independence test, with far more power
  // against trend alternatives). All sums are exact BIGINTs over the
  // ≤5-row week table; z evaluates once.
  private lazy val aggCochranArmitage = Op(
    "agg_cochran_armitage",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_ca")
      s.sql("""
        WITH u AS (SELECT user_id,
                          unix_timestamp(ts) div 604800 AS w0,
                          MAX(CASE WHEN event_type = 'purchase'
                                    AND value >= 95 THEN 1 ELSE 0 END)
                            AS conv
                   FROM events_ca GROUP BY 1, 2),
             wk AS (SELECT w0 - (SELECT MIN(w0) FROM u) AS wi,
                           CAST(COUNT(*) AS BIGINT) AS n,
                           CAST(SUM(conv) AS BIGINT) AS r
                    FROM u GROUP BY 1),
             g AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
                          CAST(SUM(r) AS BIGINT) AS rr,
                          CAST(SUM(wi * r) AS BIGINT) AS swr,
                          CAST(SUM(wi * n) AS BIGINT) AS swn,
                          CAST(SUM(wi * wi * n) AS BIGINT) AS swwn
                   FROM wk)
        SELECT nn AS n_users, rr AS n_conv,
               round((CAST(swr AS DOUBLE)
                      - CAST(rr AS DOUBLE) * swn / nn)
                     / sqrt(CAST(rr AS DOUBLE) / nn
                            * (1.0D - CAST(rr AS DOUBLE) / nn)
                            * (CAST(swwn AS DOUBLE)
                               - CAST(swn AS DOUBLE) * swn / nn)), 6)
                 AS trend_z
        FROM g""")
    },
    Some("""WITH u AS (SELECT user_id,
                              CAST(floor(epoch(ts)) AS BIGINT)
                                // 604800 AS w0,
                              MAX(CASE WHEN event_type = 'purchase'
                                        AND value >= 95
                                       THEN 1 ELSE 0 END) AS conv
                       FROM events GROUP BY 1, 2),
                 wk AS (SELECT w0 - (SELECT MIN(w0) FROM u) AS wi,
                               CAST(COUNT(*) AS BIGINT) AS n,
                               CAST(SUM(conv) AS BIGINT) AS r
                        FROM u GROUP BY 1),
                 g AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
                              CAST(SUM(r) AS BIGINT) AS rr,
                              CAST(SUM(wi * r) AS BIGINT) AS swr,
                              CAST(SUM(wi * n) AS BIGINT) AS swn,
                              CAST(SUM(wi * wi * n) AS BIGINT) AS swwn
                       FROM wk)
            SELECT nn AS n_users, rr AS n_conv,
                   round((CAST(swr AS DOUBLE)
                          - CAST(rr AS DOUBLE) * swn / nn)
                         / sqrt(CAST(rr AS DOUBLE) / nn
                                * (1.0 - CAST(rr AS DOUBLE) / nn)
                                * (CAST(swwn AS DOUBLE)
                                   - CAST(swn AS DOUBLE) * swn / nn)),
                         6) AS trend_z
            FROM g"""))

  // Newman modularity of the region partition over the trade graph —
  // does the geographic community structure explain the edges
  // (Q = Σ_c (e_c/m − (d_c/2m)²))? The quality score behind every
  // community-detection loop, here evaluated for a GIVEN partition:
  // exact integer edge/degree sums per community (nation→region is a
  // broadcast dimension), one float combine per community, quantized
  // before the final sum.
  private val graphModularity = Op(
    "graph_modularity",
    (s, d) => {
      for (n <- Seq("customer", "orders", "lineitem", "supplier",
        "nation"))
        t(s, d, n).createOrReplaceTempView(s"${n}_md")
      // the edge list IS the shared supply-graph relation (identical
      // algebra: sparsified undirected nation pairs, both directions) —
      // ride GraphOps' session-pinned cross-key cache instead of
      // re-deriving the 4-table fact join here
      GraphOps.supplyEdges(s, d).createOrReplaceTempView("ed_md")
      s.sql("""
        WITH ed AS (SELECT src, dst FROM ed_md),
             cm AS (SELECT CAST(n_nationkey AS BIGINT) AS nk,
                           CAST(n_regionkey AS BIGINT) AS rk
                    FROM nation_md),
             m2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS deg2 FROM ed),
             ec AS (SELECT ca.rk,
                           CAST(SUM(CASE WHEN ca.rk = cb.rk
                                         THEN 1 ELSE 0 END) AS BIGINT)
                             AS within2,
                           CAST(COUNT(*) AS BIGINT) AS dc
                    FROM ed JOIN cm ca ON ed.src = ca.nk
                            JOIN cm cb ON ed.dst = cb.nk
                    GROUP BY 1),
             q AS (SELECT ec.rk,
                          CAST(round((CAST(ec.within2 AS DOUBLE)
                                      / m2.deg2
                                 - (CAST(ec.dc AS DOUBLE) / m2.deg2)
                                   * (CAST(ec.dc AS DOUBLE) / m2.deg2))
                                * 1000000000) AS BIGINT) AS qq
                   FROM ec CROSS JOIN m2)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
               round(CAST(SUM(qq) AS DOUBLE) / 1000000000.0D, 6)
                 AS modularity
        FROM q""")
    },
    Some("""WITH pairs AS (
                   SELECT CAST(c_nationkey AS BIGINT) AS a,
                          CAST(s_nationkey AS BIGINT) AS b, count(*)
                            AS w
                   FROM customer
                   JOIN orders ON c_custkey = o_custkey
                   JOIN lineitem ON l_orderkey = o_orderkey
                   JOIN supplier ON l_suppkey = s_suppkey
                   GROUP BY 1, 2),
                 und AS (SELECT DISTINCT least(a, b) AS u,
                                greatest(a, b) AS v
                         FROM pairs WHERE w % 7 = 0 AND a <> b),
                 ed AS (SELECT u AS src, v AS dst FROM und
                        UNION ALL SELECT v, u FROM und),
                 cm AS (SELECT CAST(n_nationkey AS BIGINT) AS nk,
                               CAST(n_regionkey AS BIGINT) AS rk
                        FROM nation),
                 m2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS deg2
                        FROM ed),
                 ec AS (SELECT ca.rk,
                               CAST(SUM(CASE WHEN ca.rk = cb.rk
                                             THEN 1 ELSE 0 END)
                                    AS BIGINT) AS within2,
                               CAST(COUNT(*) AS BIGINT) AS dc
                        FROM ed JOIN cm ca ON ed.src = ca.nk
                                JOIN cm cb ON ed.dst = cb.nk
                        GROUP BY 1),
                 q AS (SELECT ec.rk,
                              CAST(round((CAST(ec.within2 AS DOUBLE)
                                          / m2.deg2
                                     - (CAST(ec.dc AS DOUBLE)
                                        / m2.deg2)
                                       * (CAST(ec.dc AS DOUBLE)
                                          / m2.deg2))
                                    * 1000000000) AS BIGINT) AS qq
                       FROM ec CROSS JOIN m2)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
                   round(CAST(SUM(qq) AS DOUBLE) / 1000000000.0, 6)
                     AS modularity
            FROM q"""))

  // Delete-one-day jackknife variance of the mean — the resampling
  // sibling of agg_bootstrap_ci for when replicates must partition the
  // data (day groups here): each leave-one-out mean is EXACT rational
  // arithmetic on group sums ((S − S_i)/(N − n_i)), so the only float is
  // the final variance combine. ~30 replicates at any data volume.
  private val aggJackknife = Op(
    "agg_jackknife",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_jk")
      // materialize the per-day sums (g) and the leave-one-out estimates
      // (lo) once (guide §2.4): lo feeds both the jackknife mean and the
      // variance CTE — the inline spelling re-scanned events 6x in the
      // r18 before-plan. Both relations are day-bounded.
      s.sql("""SELECT unix_timestamp(ts) div 86400 AS day,
                      CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(CAST(round(value * 100) AS BIGINT))
                           AS BIGINT) AS sx
               FROM events_jk GROUP BY 1""")
        .trackedCkpt().createOrReplaceTempView("g_jk")
      s.sql("""
        WITH tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS gg,
                            CAST(SUM(n) AS BIGINT) AS nn,
                            CAST(SUM(sx) AS BIGINT) AS ss FROM g_jk)
        SELECT g.day,
               (CAST(tot.ss - g.sx AS DOUBLE)) / (tot.nn - g.n) AS theta_i,
               tot.gg, tot.nn, tot.ss
        FROM g_jk g CROSS JOIN tot""")
        .trackedCkpt().createOrReplaceTempView("lo_jk")
      s.sql("""
        WITH lo AS (SELECT day, theta_i, gg, nn, ss FROM lo_jk),
             mj AS (SELECT MAX(gg) AS gg,
                           SUM(theta_i) / MAX(gg) AS tbar,
                           MAX(nn) AS nn, MAX(ss) AS ss
                    FROM lo),
             v AS (SELECT SUM((lo.theta_i - mj.tbar)
                              * (lo.theta_i - mj.tbar)) AS sv
                   FROM lo CROSS JOIN mj)
        SELECT mj.gg AS n_groups,
               round(CAST(mj.ss AS DOUBLE) / mj.nn / 100.0D, 6)
                 AS mean_usd,
               round(sqrt((mj.gg - 1.0D) / mj.gg * v.sv) / 100.0D, 6)
                 AS jackknife_se_usd
        FROM mj CROSS JOIN v""")
    },
    Some("""WITH g AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400
                                AS day,
                              CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(SUM(CAST(round(value * 100)
                                            AS BIGINT)) AS BIGINT)
                                AS sx
                       FROM events GROUP BY 1),
                 tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS gg,
                                CAST(SUM(n) AS BIGINT) AS nn,
                                CAST(SUM(sx) AS BIGINT) AS ss FROM g),
                 lo AS (SELECT g.day,
                               (CAST(tot.ss - g.sx AS DOUBLE))
                                 / (tot.nn - g.n) AS theta_i,
                               tot.gg, tot.nn, tot.ss
                        FROM g CROSS JOIN tot),
                 mj AS (SELECT MAX(gg) AS gg,
                               SUM(theta_i) / MAX(gg) AS tbar,
                               MAX(nn) AS nn, MAX(ss) AS ss
                        FROM lo),
                 v AS (SELECT SUM((lo.theta_i - mj.tbar)
                                  * (lo.theta_i - mj.tbar)) AS sv
                       FROM lo CROSS JOIN mj)
            SELECT mj.gg AS n_groups,
                   round(CAST(mj.ss AS DOUBLE) / mj.nn / 100.0, 6)
                     AS mean_usd,
                   round(sqrt((mj.gg - 1.0) / mj.gg * v.sv) / 100.0, 6)
                     AS jackknife_se_usd
            FROM mj CROSS JOIN v"""))

  // Weibull fit by median-rank regression — parametric survival on top
  // of agg_survival_km's nonparametric curve: time-to-first-purchase
  // durations collapse to the HOUR domain, the empirical CDF comes from
  // one bucket cumsum, and ln(−ln(1−F)) vs ln(t) is an exact-quantized
  // OLS (shape k and scale λ once per output). Shape k < 1 means
  // conversion hazard FALLS with time — convert-early-or-never, the
  // product question the fit answers.
  private val aggWeibullFit = Op(
    "agg_weibull_fit",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_wb")
      s.sql("""
        WITH u AS (SELECT user_id,
                          CAST((MIN(CASE WHEN event_type = 'purchase'
                                    THEN unix_timestamp(ts) END)
                                - MIN(unix_timestamp(ts))) div 3600
                               AS BIGINT) AS t_h
                   FROM events_wb GROUP BY 1),
             g AS (SELECT t_h, CAST(COUNT(*) AS BIGINT) AS c
                   FROM u WHERE t_h IS NOT NULL AND t_h > 0
                   GROUP BY 1),
             n AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM g),
             cdf AS (SELECT t_h,
                            CAST(SUM(c) OVER (ORDER BY t_h
                              ROWS UNBOUNDED PRECEDING) AS BIGINT)
                              AS cum
                     FROM g),
             pts AS (SELECT CAST(round(ln(CAST(t_h AS DOUBLE))
                              * 1000000000) AS BIGINT) AS xq,
                            CAST(round(ln(-ln(1.0D
                                  - (CAST(cum AS DOUBLE) - 0.3D)
                                    / (n.nn + 0.4D)))
                              * 1000000000) AS BIGINT) AS yq
                     FROM cdf CROSS JOIN n WHERE cum < n.nn),
             m AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                          CAST(SUM(xq) AS BIGINT) AS sx,
                          CAST(SUM(yq) AS BIGINT) AS sy,
                          CAST(SUM(xq div 1000 * (xq div 1000))
                               AS BIGINT) AS sxx,
                          CAST(SUM(xq div 1000 * (yq div 1000))
                               AS BIGINT) AS sxy
                   FROM pts)
        SELECT k AS n_points,
               round((CAST(k AS DOUBLE) * sxy
                      - CAST(sx AS DOUBLE) / 1000
                        * (CAST(sy AS DOUBLE) / 1000))
                     / (CAST(k AS DOUBLE) * sxx
                        - (CAST(sx AS DOUBLE) / 1000)
                          * (CAST(sx AS DOUBLE) / 1000)), 6)
                 AS weibull_shape,
               round(exp((CAST(sx AS DOUBLE) / 1000000000 / k)
                     - (CAST(sy AS DOUBLE) / 1000000000 / k)
                       / ((CAST(k AS DOUBLE) * sxy
                           - CAST(sx AS DOUBLE) / 1000
                             * (CAST(sy AS DOUBLE) / 1000))
                          / (CAST(k AS DOUBLE) * sxx
                             - (CAST(sx AS DOUBLE) / 1000)
                               * (CAST(sx AS DOUBLE) / 1000)))), 4)
                 AS weibull_scale_h
        FROM m""")
    },
    Some("""WITH u AS (SELECT user_id,
                              CAST((MIN(CASE WHEN event_type
                                             = 'purchase'
                                        THEN CAST(floor(epoch(ts))
                                                  AS BIGINT) END)
                                    - MIN(CAST(floor(epoch(ts))
                                               AS BIGINT))) // 3600
                                   AS BIGINT) AS t_h
                       FROM events GROUP BY 1),
                 g AS (SELECT t_h, CAST(COUNT(*) AS BIGINT) AS c
                       FROM u WHERE t_h IS NOT NULL AND t_h > 0
                       GROUP BY 1),
                 n AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM g),
                 cdf AS (SELECT t_h,
                                CAST(SUM(c) OVER (ORDER BY t_h
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
                                  AS cum
                         FROM g),
                 pts AS (SELECT CAST(round(ln(CAST(t_h AS DOUBLE))
                                  * 1000000000) AS BIGINT) AS xq,
                                CAST(round(ln(-ln(1.0
                                      - (CAST(cum AS DOUBLE) - 0.3)
                                        / (n.nn + 0.4)))
                                  * 1000000000) AS BIGINT) AS yq
                         FROM cdf CROSS JOIN n WHERE cum < n.nn),
                 m AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                              CAST(SUM(xq) AS BIGINT) AS sx,
                              CAST(SUM(yq) AS BIGINT) AS sy,
                              CAST(SUM(xq // 1000 * (xq // 1000))
                                   AS BIGINT) AS sxx,
                              CAST(SUM(xq // 1000 * (yq // 1000))
                                   AS BIGINT) AS sxy
                       FROM pts)
            SELECT k AS n_points,
                   round((CAST(k AS DOUBLE) * sxy
                          - CAST(sx AS DOUBLE) / 1000
                            * (CAST(sy AS DOUBLE) / 1000))
                         / (CAST(k AS DOUBLE) * sxx
                            - (CAST(sx AS DOUBLE) / 1000)
                              * (CAST(sx AS DOUBLE) / 1000)), 6)
                     AS weibull_shape,
                   round(exp((CAST(sx AS DOUBLE) / 1000000000 / k)
                         - (CAST(sy AS DOUBLE) / 1000000000 / k)
                           / ((CAST(k AS DOUBLE) * sxy
                               - CAST(sx AS DOUBLE) / 1000
                                 * (CAST(sy AS DOUBLE) / 1000))
                              / (CAST(k AS DOUBLE) * sxx
                                 - (CAST(sx AS DOUBLE) / 1000)
                                   * (CAST(sx AS DOUBLE) / 1000)))),
                         4) AS weibull_scale_h
            FROM m"""))

  val ops: Seq[Op] =
    Seq(aggMannKendall, aggTheilSen, resampleOhlcVolatility, dqSrmCheck,
      aggDiffInDiff, fnUuidNs, aggHurstExponent, resampleAtr,
      aggCovMatrix, aggPriceElasticity, resampleDeseasonalize,
      eventSeqPairs, aggCaptureRecapture, textBigramLmScore,
      embPrefixRecall, aggCuped, embKnnClassify, resampleLttb,
      aggTheilDecompose, aggHillTail, aggGainChart,
      eventTransitionTime, embCentroidDrift, aggCochranArmitage,
      graphModularity, aggJackknife, aggWeibullFit, aggCohensD,
      dqBenfordMad, aggOddsRatio, aggSimpsonParadox, privacyRiskCurve,
      aggKruskalWallis, aggRevenueBridge, aggSequentialPeeking,
      aggJamesStein, aggTukeyHsd, aggBenjaminiHochberg, aggNegbinFit,
      aggPowerAnalysis, aggRareCollapse, eventHodDivergence, aggWilsonCi)

  // Hour-of-day profile divergence per event type — Jensen–Shannon
  // distance between each type's 24-cell hour-of-day distribution and
  // the all-traffic profile: the "which behavior is temporally
  // anomalous" readout on top of event_heatmap_hod_dow's raw cells
  // (bots and batch jobs jump out as high-JS types). One rollup bounded
  // by 24×|types| cells; JS from exact counts with 0·ln0 = 0 handled by
  // the CASE guards; base-2 via /ln(2) so the distance is in bits.
  // The grid is DENSIFIED (types × observed hours, COALESCE(n, 0)):
  // a type with zero events in some hour still owes that cell's
  // qq·ln2/2 contribution — dropping absent cells would under-count JS
  // for exactly the temporally-anomalous types this op exists to flag.
  // (Any hour with pp > 0 also has qq > 0, so types × g covers every
  // nonzero cell.)
  private lazy val eventHodDivergence = Op(
    "event_hod_divergence",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_hd")
      s.sql("""
        WITH c AS (SELECT event_type,
                          CAST(unix_timestamp(ts) div 3600 % 24
                               AS BIGINT) AS hod,
                          CAST(COUNT(*) AS BIGINT) AS n
                   FROM events_hd GROUP BY 1, 2),
             tt AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS tn
                    FROM c GROUP BY 1),
             g AS (SELECT hod, CAST(SUM(n) AS BIGINT) AS gn
                   FROM c GROUP BY 1),
             gt AS (SELECT CAST(SUM(gn) AS BIGINT) AS gtot FROM g),
             p AS (SELECT tt.event_type, g.hod,
                          CAST(COALESCE(c.n, 0) AS DOUBLE) / tt.tn AS pp,
                          CAST(g.gn AS DOUBLE) / gt.gtot AS qq
                   FROM tt CROSS JOIN g
                        LEFT JOIN c ON c.event_type = tt.event_type
                                   AND c.hod = g.hod
                        CROSS JOIN gt),
             js AS (SELECT event_type,
                           SUM(CASE WHEN pp > 0
                                    THEN pp * ln(pp / ((pp + qq) / 2))
                                    ELSE 0 END) / 2 / ln(2.0D)
                           + SUM(CASE WHEN qq > 0
                                      THEN qq * ln(qq / ((pp + qq)
                                                         / 2))
                                      ELSE 0 END) / 2 / ln(2.0D)
                             AS jsd
                    FROM p GROUP BY 1)
        SELECT event_type, round(jsd, 6) AS js_divergence_bits,
               round(sqrt(jsd), 6) AS js_distance
        FROM js ORDER BY event_type""")
    },
    Some("""WITH c AS (SELECT event_type,
                              (CAST(floor(epoch(ts)) AS BIGINT)
                               // 3600) % 24 AS hod,
                              CAST(COUNT(*) AS BIGINT) AS n
                       FROM events GROUP BY 1, 2),
                 tt AS (SELECT event_type,
                               CAST(SUM(n) AS BIGINT) AS tn
                        FROM c GROUP BY 1),
                 g AS (SELECT hod, CAST(SUM(n) AS BIGINT) AS gn
                       FROM c GROUP BY 1),
                 gt AS (SELECT CAST(SUM(gn) AS BIGINT) AS gtot
                        FROM g),
                 p AS (SELECT tt.event_type, g.hod,
                              CAST(COALESCE(c.n, 0) AS DOUBLE)
                                / tt.tn AS pp,
                              CAST(g.gn AS DOUBLE) / gt.gtot AS qq
                       FROM tt CROSS JOIN g
                            LEFT JOIN c
                              ON c.event_type = tt.event_type
                             AND c.hod = g.hod
                            CROSS JOIN gt),
                 js AS (SELECT event_type,
                               SUM(CASE WHEN pp > 0
                                        THEN pp * ln(pp / ((pp + qq)
                                                           / 2))
                                        ELSE 0 END) / 2 / ln(2.0)
                               + SUM(CASE WHEN qq > 0
                                          THEN qq * ln(qq
                                                 / ((pp + qq) / 2))
                                          ELSE 0 END) / 2 / ln(2.0)
                                 AS jsd
                        FROM p GROUP BY 1)
            SELECT event_type, round(jsd, 6) AS js_divergence_bits,
                   round(sqrt(jsd), 6) AS js_distance
            FROM js ORDER BY event_type"""))

  // Wilson score interval per event type — the proportion CI that stays
  // honest at extreme rates and small n, where the Wald interval
  // (p̂ ± 1.96·SE) collapses to zero width at p̂ ∈ {0,1} and overshoots
  // [0,1]: center (p̂ + z²/2n)/(1 + z²/n), half-width
  // z·√(p̂q̂/n + z²/4n²)/(1 + z²/n). Exact counts from one scan; the
  // interval is scalar IEEE arithmetic (sqrt only — no libm drift).
  private lazy val aggWilsonCi = Op(
    "agg_wilson_ci",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_wc")
      s.sql("""
        WITH c AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(CASE WHEN value >= 100 THEN 1
                                   ELSE 0 END) AS BIGINT) AS k
                   FROM events_wc GROUP BY 1),
             w AS (SELECT event_type, n, k,
                          CAST(k AS DOUBLE) / n AS p,
                          3.841458820694124D / n AS z2n
                   FROM c)
        SELECT event_type, n, k,
               round(p, 6) AS p_hat,
               round((p + z2n / 2) / (1 + z2n)
                     - 1.959963984540054D
                       * sqrt(p * (1 - p) / n + z2n / (4 * n))
                       / (1 + z2n), 6) AS wilson_lo,
               round((p + z2n / 2) / (1 + z2n)
                     + 1.959963984540054D
                       * sqrt(p * (1 - p) / n + z2n / (4 * n))
                       / (1 + z2n), 6) AS wilson_hi
        FROM w ORDER BY event_type""")
    },
    Some("""WITH c AS (SELECT event_type,
                              CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(SUM(CASE WHEN value >= 100 THEN 1
                                       ELSE 0 END) AS BIGINT) AS k
                       FROM events GROUP BY 1),
                 w AS (SELECT event_type, n, k,
                              CAST(k AS DOUBLE) / n AS p,
                              3.841458820694124 / n AS z2n
                       FROM c)
            SELECT event_type, n, k,
                   round(p, 6) AS p_hat,
                   round((p + z2n / 2) / (1 + z2n)
                         - 1.959963984540054
                           * sqrt(p * (1 - p) / n + z2n / (4 * n))
                           / (1 + z2n), 6) AS wilson_lo,
                   round((p + z2n / 2) / (1 + z2n)
                         + 1.959963984540054
                           * sqrt(p * (1 - p) / n + z2n / (4 * n))
                           / (1 + z2n), 6) AS wilson_hi
            FROM w ORDER BY event_type"""))

  // Experiment power analysis from MEASURED baselines — required n per
  // arm and days-to-run for relative MDEs {5,10,20,50}%, using the
  // standard two-proportion formula (z₀.₉₇₅+z₀.₈)²·(p₀q₀+p₁q₁)/δ² with
  // the baseline conversion and daily traffic taken from the events
  // table itself (the planning table you consult BEFORE
  // agg_sequential_peeking monitors the run). One scan for three exact
  // counts, then pure scalar IEEE arithmetic (no libm transcendentals),
  // so the ceil'd integers agree across engines.
  private lazy val aggPowerAnalysis = Op(
    "agg_power_analysis",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_pw")
      s.sql("""
        WITH base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                             CAST(SUM(CASE WHEN value >= 100 THEN 1
                                      ELSE 0 END) AS BIGINT) AS c,
                             CAST(COUNT(DISTINCT unix_timestamp(ts)
                                        div 86400) AS BIGINT) AS days
                      FROM events_pw),
             p AS (SELECT n, c, days,
                          CAST(c AS DOUBLE) / n AS p0,
                          CAST(n AS DOUBLE) / days AS daily
                   FROM base),
             m AS (SELECT explode(array(5, 10, 20, 50)) AS mde_pct)
        SELECT CAST(m.mde_pct AS BIGINT) AS mde_pct,
               round(p.p0, 6) AS baseline_rate,
               round(p.p0 * (1 + m.mde_pct / 100.0D), 6)
                 AS target_rate,
               CAST(ceil(
                 (1.959963984540054D + 0.8416212335729143D)
                 * (1.959963984540054D + 0.8416212335729143D)
                 * (p.p0 * (1 - p.p0)
                    + p.p0 * (1 + m.mde_pct / 100.0D)
                      * (1 - p.p0 * (1 + m.mde_pct / 100.0D)))
                 / ((p.p0 * m.mde_pct / 100.0D)
                    * (p.p0 * m.mde_pct / 100.0D))) AS BIGINT)
                 AS n_per_arm,
               CAST(ceil(2.0D * ceil(
                 (1.959963984540054D + 0.8416212335729143D)
                 * (1.959963984540054D + 0.8416212335729143D)
                 * (p.p0 * (1 - p.p0)
                    + p.p0 * (1 + m.mde_pct / 100.0D)
                      * (1 - p.p0 * (1 + m.mde_pct / 100.0D)))
                 / ((p.p0 * m.mde_pct / 100.0D)
                    * (p.p0 * m.mde_pct / 100.0D))) / p.daily)
                 AS BIGINT) AS days_required
        FROM p CROSS JOIN m ORDER BY mde_pct""")
    },
    Some("""WITH base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                                 CAST(SUM(CASE WHEN value >= 100
                                          THEN 1 ELSE 0 END)
                                      AS BIGINT) AS c,
                                 CAST(COUNT(DISTINCT
                                        CAST(floor(epoch(ts))
                                             AS BIGINT) // 86400)
                                      AS BIGINT) AS days
                          FROM events),
                 p AS (SELECT n, c, days,
                              CAST(c AS DOUBLE) / n AS p0,
                              CAST(n AS DOUBLE) / days AS daily
                       FROM base),
                 m AS (SELECT unnest([5, 10, 20, 50]) AS mde_pct)
            SELECT CAST(m.mde_pct AS BIGINT) AS mde_pct,
                   round(p.p0, 6) AS baseline_rate,
                   round(p.p0 * (1 + m.mde_pct / 100.0), 6)
                     AS target_rate,
                   CAST(ceil(
                     (1.959963984540054 + 0.8416212335729143)
                     * (1.959963984540054 + 0.8416212335729143)
                     * (p.p0 * (1 - p.p0)
                        + p.p0 * (1 + m.mde_pct / 100.0)
                          * (1 - p.p0 * (1 + m.mde_pct / 100.0)))
                     / ((p.p0 * m.mde_pct / 100.0)
                        * (p.p0 * m.mde_pct / 100.0))) AS BIGINT)
                     AS n_per_arm,
                   CAST(ceil(2.0 * ceil(
                     (1.959963984540054 + 0.8416212335729143)
                     * (1.959963984540054 + 0.8416212335729143)
                     * (p.p0 * (1 - p.p0)
                        + p.p0 * (1 + m.mde_pct / 100.0)
                          * (1 - p.p0 * (1 + m.mde_pct / 100.0)))
                     / ((p.p0 * m.mde_pct / 100.0)
                        * (p.p0 * m.mde_pct / 100.0))) / p.daily)
                     AS BIGINT) AS days_required
            FROM p CROSS JOIN m ORDER BY mde_pct"""))

  // Rare-category collapse — the "long tail → OTHER" feature-hygiene
  // step (one-hot/feature-store prep chokes on 150 part types; models
  // overfit categories with a handful of rows). Keep categories holding
  // ≥ 1% of rows, fold the rest into OTHER; the threshold compare is
  // pure integer (100·n ≥ total — no float share), so membership is
  // engine-exact. One count rollup bounded by the category domain, a
  // scalar total broadcast back, one 2nd rollup over the relabeled
  // categories.
  private lazy val aggRareCollapse = Op(
    "agg_rare_collapse",
    (s, d) => {
      t(s, d, "part").createOrReplaceTempView("part_rc")
      s.sql("""
        WITH g AS (SELECT p_type AS cat, CAST(COUNT(*) AS BIGINT) AS n
                   FROM part_rc GROUP BY 1),
             t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM g),
             lab AS (SELECT CASE WHEN g.n * 100 >= t.tot THEN g.cat
                                 ELSE 'OTHER' END AS category, g.n
                     FROM g CROSS JOIN t)
        SELECT lab.category, CAST(SUM(lab.n) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_source_cats,
               round(CAST(SUM(lab.n) AS DOUBLE) / MAX(t.tot), 6)
                 AS share
        FROM lab CROSS JOIN t GROUP BY lab.category
        ORDER BY n_rows DESC, category""")
    },
    Some("""WITH g AS (SELECT p_type AS cat,
                              CAST(COUNT(*) AS BIGINT) AS n
                       FROM part GROUP BY 1),
                 t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM g),
                 lab AS (SELECT CASE WHEN g.n * 100 >= t.tot
                                     THEN g.cat
                                     ELSE 'OTHER' END AS category,
                                g.n
                         FROM g CROSS JOIN t)
            SELECT lab.category, CAST(SUM(lab.n) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) AS BIGINT) AS n_source_cats,
                   round(CAST(SUM(lab.n) AS DOUBLE) / MAX(t.tot), 6)
                     AS share
            FROM lab CROSS JOIN t GROUP BY lab.category
            ORDER BY n_rows DESC, category"""))

  // Benjamini–Hochberg FDR step-up over the 25 per-nation mean-value
  // z-tests — at 100 TB you test EVERY segment, and 5% false positives
  // per test means guaranteed false discoveries; BH caps the FALSE
  // DISCOVERY RATE at α = 0.10 instead. Two-sided p-values come from
  // the Abramowitz–Stegun 7.1.26 erf polynomial (spelled identically in
  // both engines — no erf builtin in either SQL dialect); the p-rank,
  // the step-up cutoff max{i : p₍ᵢ₎ ≤ iα/k}, and the final flags are
  // all windows over the 25-row nation domain. Moments are the
  // james_stein dollar-unit rollup — one scan, one broadcast dim join.
  private lazy val aggBenjaminiHochberg = Op(
    "agg_benjamini_hochberg",
    (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_bh")
      t(s, d, "customer").createOrReplaceTempView("customer_bh")
      s.sql("""
        WITH b AS (SELECT c_nationkey AS nk,
                          CAST(round(o_totalprice) AS BIGINT) AS v
                   FROM orders_bh JOIN customer_bh
                     ON o_custkey = c_custkey),
             g AS (SELECT nk, CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(v) AS BIGINT) AS s,
                          CAST(SUM(v * v) AS BIGINT) AS ss
                   FROM b GROUP BY 1),
             p AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                          SUM(CAST(ss AS DOUBLE)
                              - CAST(s AS DOUBLE) * s / n)
                            / SUM(CAST(n AS DOUBLE) - 1) AS var_w,
                          CAST(SUM(s) AS BIGINT) AS ts,
                          CAST(SUM(n) AS BIGINT) AS tn
                   FROM g),
             z AS (SELECT g.nk, g.n, p.k,
                          abs((CAST(g.s AS DOUBLE) / g.n
                               - CAST(p.ts AS DOUBLE) / p.tn)
                              / sqrt(p.var_w / g.n)) AS az
                   FROM g CROSS JOIN p),
             pv AS (SELECT nk, n, k,
                           (0.254829592D
                              / (1 + 0.3275911D * az
                                     / 1.4142135623730951D)
                            - 0.284496736D
                              / pow(1 + 0.3275911D * az
                                        / 1.4142135623730951D, 2)
                            + 1.421413741D
                              / pow(1 + 0.3275911D * az
                                        / 1.4142135623730951D, 3)
                            - 1.453152027D
                              / pow(1 + 0.3275911D * az
                                        / 1.4142135623730951D, 4)
                            + 1.061405429D
                              / pow(1 + 0.3275911D * az
                                        / 1.4142135623730951D, 5))
                           * exp(-az * az / 2) AS pval
                    FROM z),
             rk AS (SELECT nk, n, k, pval,
                           CAST(ROW_NUMBER() OVER (ORDER BY pval, nk)
                                AS BIGINT) AS i
                    FROM pv),
             cut AS (SELECT MAX(CASE WHEN pval <= 0.10D * i / k
                                     THEN i ELSE 0 END) AS cutoff
                     FROM rk)
        SELECT rk.nk AS nationkey, rk.n, rk.i AS p_rank,
               round(rk.pval, 6) AS p_value,
               round(0.10D * rk.i / rk.k, 6) AS bh_threshold,
               CASE WHEN rk.i <= cut.cutoff THEN 1 ELSE 0 END
                 AS discovery
        FROM rk CROSS JOIN cut ORDER BY p_rank, nationkey""")
    },
    Some("""WITH b AS (SELECT c_nationkey AS nk,
                              CAST(round(o_totalprice) AS BIGINT) AS v
                       FROM orders JOIN customer
                         ON o_custkey = c_custkey),
                 g AS (SELECT nk, CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(SUM(v) AS BIGINT) AS s,
                              CAST(SUM(v * v) AS BIGINT) AS ss
                       FROM b GROUP BY 1),
                 p AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                              SUM(CAST(ss AS DOUBLE)
                                  - CAST(s AS DOUBLE) * s / n)
                                / SUM(CAST(n AS DOUBLE) - 1) AS var_w,
                              CAST(SUM(s) AS BIGINT) AS ts,
                              CAST(SUM(n) AS BIGINT) AS tn
                       FROM g),
                 z AS (SELECT g.nk, g.n, p.k,
                              abs((CAST(g.s AS DOUBLE) / g.n
                                   - CAST(p.ts AS DOUBLE) / p.tn)
                                  / sqrt(p.var_w / g.n)) AS az
                       FROM g CROSS JOIN p),
                 pv AS (SELECT nk, n, k,
                               (0.254829592
                                  / (1 + 0.3275911 * az
                                         / 1.4142135623730951)
                                - 0.284496736
                                  / pow(1 + 0.3275911 * az
                                            / 1.4142135623730951, 2)
                                + 1.421413741
                                  / pow(1 + 0.3275911 * az
                                            / 1.4142135623730951, 3)
                                - 1.453152027
                                  / pow(1 + 0.3275911 * az
                                            / 1.4142135623730951, 4)
                                + 1.061405429
                                  / pow(1 + 0.3275911 * az
                                            / 1.4142135623730951, 5))
                               * exp(-az * az / 2) AS pval
                        FROM z),
                 rk AS (SELECT nk, n, k, pval,
                               CAST(ROW_NUMBER() OVER (
                                      ORDER BY pval, nk) AS BIGINT)
                                 AS i
                        FROM pv),
                 cut AS (SELECT MAX(CASE WHEN pval <= 0.10 * i / k
                                         THEN i ELSE 0 END) AS cutoff
                         FROM rk)
            SELECT rk.nk AS nationkey, rk.n, rk.i AS p_rank,
                   round(rk.pval, 6) AS p_value,
                   round(0.10 * rk.i / rk.k, 6) AS bh_threshold,
                   CASE WHEN rk.i <= cut.cutoff THEN 1 ELSE 0 END
                     AS discovery
            FROM rk CROSS JOIN cut ORDER BY p_rank, nationkey"""))

  // Negative-binomial overdispersion fit per event type — daily counts
  // are almost never Poisson (var = mean); the moment fit
  // r = m²/(v−m), p = m/v quantifies HOW overdispersed, which is what
  // sizes alert thresholds and capacity buffers honestly (a Poisson
  // assumption under-alarms). Day-domain rollup (one shuffle bounded by
  // |days|×|types|), exact integer day-count moments, scalar doubles at
  // the end; dispersion ≤ 1 (under-dispersed) yields NULL r/p by the
  // NULLIF guard rather than a negative "fit".
  private lazy val aggNegbinFit = Op(
    "agg_negbin_fit",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_nb")
      s.sql("""
        WITH dc AS (SELECT event_type,
                           CAST(unix_timestamp(ts) div 86400 AS BIGINT)
                             AS day,
                           CAST(COUNT(*) AS BIGINT) AS c
                    FROM events_nb GROUP BY 1, 2),
             m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(c) AS BIGINT) AS s,
                          CAST(SUM(c * c) AS BIGINT) AS ss
                   FROM dc GROUP BY 1),
             f AS (SELECT event_type, n,
                          CAST(s AS DOUBLE) / n AS mean_d,
                          (CAST(ss AS DOUBLE)
                           - CAST(s AS DOUBLE) * s / n) / (n - 1)
                            AS var_d
                   FROM m)
        SELECT event_type, n AS n_days,
               round(mean_d, 4) AS mean_daily,
               round(var_d, 4) AS var_daily,
               round(var_d / mean_d, 4) AS dispersion,
               round(mean_d * mean_d
                     / NULLIF(greatest(var_d - mean_d, 0.0D), 0.0D),
                     4) AS nb_r,
               round(mean_d / NULLIF(CASE WHEN var_d > mean_d
                                          THEN var_d END, 0.0D), 6)
                 AS nb_p
        FROM f ORDER BY event_type""")
    },
    Some("""WITH dc AS (SELECT event_type,
                               CAST(floor(epoch(ts)) AS BIGINT)
                                 // 86400 AS day,
                               CAST(COUNT(*) AS BIGINT) AS c
                        FROM events GROUP BY 1, 2),
                 m AS (SELECT event_type,
                              CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(SUM(c) AS BIGINT) AS s,
                              CAST(SUM(c * c) AS BIGINT) AS ss
                       FROM dc GROUP BY 1),
                 f AS (SELECT event_type, n,
                              CAST(s AS DOUBLE) / n AS mean_d,
                              (CAST(ss AS DOUBLE)
                               - CAST(s AS DOUBLE) * s / n) / (n - 1)
                                AS var_d
                       FROM m)
            SELECT event_type, n AS n_days,
                   round(mean_d, 4) AS mean_daily,
                   round(var_d, 4) AS var_daily,
                   round(var_d / mean_d, 4) AS dispersion,
                   round(mean_d * mean_d
                         / NULLIF(greatest(var_d - mean_d, 0.0), 0.0),
                         4) AS nb_r,
                   round(mean_d / NULLIF(CASE WHEN var_d > mean_d
                                              THEN var_d END, 0.0),
                         6) AS nb_p
            FROM f ORDER BY event_type"""))

  // James–Stein shrinkage of per-nation mean order values toward the
  // grand mean — the empirical-Bayes answer to the winner's-curse
  // leaderboard (the raw top nation is partly luck; the shrunk mean is
  // the honest estimate). Equal-variance JS: factor
  // c = max(0, 1 − (k−3)·avg(σ̂²/nᵢ)/Σ(x̄ᵢ−x̄)²) with σ̂² pooled
  // within-group. One broadcast customer-dim join, one 25-row rollup of
  // DOLLAR-unit integer moments (cents² overflows BIGINT at sf ≥ 0.1 —
  // the agg_cov_matrix lesson), then scalar doubles; x̄ is the
  // unweighted mean of the k group means, as JS acts on the means
  // vector.
  private lazy val aggJamesStein = Op(
    "agg_james_stein",
    (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_js")
      t(s, d, "customer").createOrReplaceTempView("customer_js")
      s.sql("""
        WITH b AS (SELECT c_nationkey AS nk,
                          CAST(round(o_totalprice) AS BIGINT) AS v
                   FROM orders_js JOIN customer_js
                     ON o_custkey = c_custkey),
             g AS (SELECT nk, CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(v) AS BIGINT) AS s,
                          CAST(SUM(v * v) AS BIGINT) AS ss
                   FROM b GROUP BY 1),
             p AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                          SUM(CAST(ss AS DOUBLE)
                              - CAST(s AS DOUBLE) * s / n)
                            / SUM(CAST(n AS DOUBLE) - 1) AS var_w,
                          SUM(CAST(s AS DOUBLE) / n) / COUNT(*) AS gm
                   FROM g),
             sq AS (SELECT SUM((CAST(g.s AS DOUBLE) / g.n - p.gm)
                               * (CAST(g.s AS DOUBLE) / g.n - p.gm))
                             AS ssb,
                           MAX(p.k) AS k, MAX(p.gm) AS gm,
                           SUM(p.var_w / g.n) / MAX(p.k) AS avg_se2
                    FROM g CROSS JOIN p),
             c AS (SELECT k, gm,
                          greatest(0.0D, 1.0D - (k - 3) * avg_se2
                                                / ssb) AS shrink
                   FROM sq)
        SELECT g.nk AS nationkey, g.n,
               round(CAST(g.s AS DOUBLE) / g.n, 4) AS raw_mean,
               round(c.gm + c.shrink
                     * (CAST(g.s AS DOUBLE) / g.n - c.gm), 4)
                 AS js_mean,
               round(c.shrink, 6) AS shrink_factor
        FROM g CROSS JOIN c ORDER BY nationkey""")
    },
    Some("""WITH b AS (SELECT c_nationkey AS nk,
                              CAST(round(o_totalprice) AS BIGINT) AS v
                       FROM orders JOIN customer
                         ON o_custkey = c_custkey),
                 g AS (SELECT nk, CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(SUM(v) AS BIGINT) AS s,
                              CAST(SUM(v * v) AS BIGINT) AS ss
                       FROM b GROUP BY 1),
                 p AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                              SUM(CAST(ss AS DOUBLE)
                                  - CAST(s AS DOUBLE) * s / n)
                                / SUM(CAST(n AS DOUBLE) - 1) AS var_w,
                              SUM(CAST(s AS DOUBLE) / n) / COUNT(*)
                                AS gm
                       FROM g),
                 sq AS (SELECT SUM((CAST(g.s AS DOUBLE) / g.n - p.gm)
                                   * (CAST(g.s AS DOUBLE) / g.n
                                      - p.gm)) AS ssb,
                               MAX(p.k) AS k, MAX(p.gm) AS gm,
                               SUM(p.var_w / g.n) / MAX(p.k)
                                 AS avg_se2
                        FROM g CROSS JOIN p),
                 c AS (SELECT k, gm,
                              greatest(0.0, 1.0 - (k - 3) * avg_se2
                                                  / ssb) AS shrink
                       FROM sq)
            SELECT g.nk AS nationkey, g.n,
                   round(CAST(g.s AS DOUBLE) / g.n, 4) AS raw_mean,
                   round(c.gm + c.shrink
                         * (CAST(g.s AS DOUBLE) / g.n - c.gm), 4)
                     AS js_mean,
                   round(c.shrink, 6) AS shrink_factor
            FROM g CROSS JOIN c ORDER BY nationkey"""))

  // Tukey HSD post-hoc — agg_anova says "some return-flag group
  // differs"; this says WHICH pairs do, at a familywise-honest level:
  // studentized-range statistic q = |x̄ᵢ−x̄ⱼ|/√(MSW/2·(1/nᵢ+1/nⱼ))
  // against q₀.₉₅(k=3, df=∞) = 3.314 (pairwise t would triple the
  // false-alarm rate). Same single pass of exact quantity moments as
  // the ANOVA, a 3-row self-join for the pairs, scalar doubles after.
  private lazy val aggTukeyHsd = Op(
    "agg_tukey_hsd",
    (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_th")
      s.sql("""
        WITH g AS (SELECT l_returnflag AS g,
                          CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(CAST(round(l_quantity) AS BIGINT))
                               AS BIGINT) AS s,
                          CAST(SUM(CAST(round(l_quantity) AS BIGINT)
                                   * CAST(round(l_quantity) AS BIGINT))
                               AS BIGINT) AS ss
                   FROM lineitem_th GROUP BY 1),
             w AS (SELECT SUM(CAST(ss AS DOUBLE)
                              - CAST(s AS DOUBLE) * s / n)
                            / SUM(CAST(n AS DOUBLE) - 1) AS msw
                   FROM g),
             pr AS (SELECT a.g AS grp_a, b.g AS grp_b,
                           a.n AS na, b.n AS nb,
                           CAST(a.s AS DOUBLE) / a.n AS ma,
                           CAST(b.s AS DOUBLE) / b.n AS mb
                    FROM g a JOIN g b ON a.g < b.g)
        SELECT pr.grp_a, pr.grp_b,
               round(pr.ma, 4) AS mean_a, round(pr.mb, 4) AS mean_b,
               round(pr.mb - pr.ma, 4) AS diff,
               round(abs(pr.mb - pr.ma)
                     / sqrt(w.msw / 2 * (1.0D / pr.na
                                         + 1.0D / pr.nb)), 4)
                 AS q_stat,
               CASE WHEN abs(pr.mb - pr.ma)
                         / sqrt(w.msw / 2 * (1.0D / pr.na
                                             + 1.0D / pr.nb))
                         > 3.314D THEN 1 ELSE 0 END AS significant
        FROM pr CROSS JOIN w ORDER BY grp_a, grp_b""")
    },
    Some("""WITH g AS (SELECT l_returnflag AS g,
                              CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(SUM(CAST(round(l_quantity)
                                            AS BIGINT)) AS BIGINT)
                                AS s,
                              CAST(SUM(CAST(round(l_quantity)
                                            AS BIGINT)
                                       * CAST(round(l_quantity)
                                              AS BIGINT)) AS BIGINT)
                                AS ss
                       FROM lineitem GROUP BY 1),
                 w AS (SELECT SUM(CAST(ss AS DOUBLE)
                                  - CAST(s AS DOUBLE) * s / n)
                                / SUM(CAST(n AS DOUBLE) - 1) AS msw
                       FROM g),
                 pr AS (SELECT a.g AS grp_a, b.g AS grp_b,
                               a.n AS na, b.n AS nb,
                               CAST(a.s AS DOUBLE) / a.n AS ma,
                               CAST(b.s AS DOUBLE) / b.n AS mb
                        FROM g a JOIN g b ON a.g < b.g)
            SELECT pr.grp_a, pr.grp_b,
                   round(pr.ma, 4) AS mean_a,
                   round(pr.mb, 4) AS mean_b,
                   round(pr.mb - pr.ma, 4) AS diff,
                   round(abs(pr.mb - pr.ma)
                         / sqrt(w.msw / 2 * (1.0 / pr.na
                                             + 1.0 / pr.nb)), 4)
                     AS q_stat,
                   CASE WHEN abs(pr.mb - pr.ma)
                             / sqrt(w.msw / 2 * (1.0 / pr.na
                                                 + 1.0 / pr.nb))
                             > 3.314 THEN 1 ELSE 0 END
                     AS significant
            FROM pr CROSS JOIN w ORDER BY grp_a, grp_b"""))

  // Sequential-monitoring ("peeking") curve — the day-by-day cumulative
  // two-proportion z between the even/odd user arms, against an
  // O'Brien–Fleming-shaped spending boundary c/√(information fraction)
  // (c = 2.963, the classic 5-look OBF critical value at α = 0.05):
  // the daily dashboard agg_two_proportion_z must NOT be read against
  // 1.96 — this key produces the boundary that makes daily peeking
  // honest. Cumulative counts come from day-domain-bounded windows over
  // the (day, arm) rollup; the z and boundary are scalar doubles on
  // exact BIGINT cumulatives, so every row is engine-stable after
  // rounding.
  private lazy val aggSequentialPeeking = Op(
    "agg_sequential_peeking",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_pk")
      s.sql("""
        WITH e AS (SELECT CAST(unix_timestamp(ts) div 86400 AS BIGINT)
                            AS day,
                          CAST(user_id % 2 AS BIGINT) AS arm,
                          CASE WHEN value >= 100 THEN 1L ELSE 0L END
                            AS conv
                   FROM events_pk),
             dd AS (SELECT day, arm, CAST(COUNT(*) AS BIGINT) AS n,
                           CAST(SUM(conv) AS BIGINT) AS c
                    FROM e GROUP BY 1, 2),
             cum AS (SELECT day, arm,
                            CAST(SUM(n) OVER (PARTITION BY arm
                                              ORDER BY day) AS BIGINT)
                              AS cn,
                            CAST(SUM(c) OVER (PARTITION BY arm
                                              ORDER BY day) AS BIGINT)
                              AS cc
                     FROM dd),
             pr AS (SELECT a.day, a.cn AS n0, a.cc AS c0,
                           b.cn AS n1, b.cc AS c1
                    FROM cum a JOIN cum b
                      ON a.day = b.day AND a.arm = 0 AND b.arm = 1),
             ix AS (SELECT pr.*,
                           CAST(ROW_NUMBER() OVER (ORDER BY day)
                                AS BIGINT) AS k
                    FROM pr),
             tt AS (SELECT CAST(MAX(k) AS BIGINT) AS t_days FROM ix),
             z AS (SELECT ix.day, ix.k, tt.t_days,
                          ix.n0, ix.c0, ix.n1, ix.c1,
                          (CAST(ix.c1 AS DOUBLE) / ix.n1
                           - CAST(ix.c0 AS DOUBLE) / ix.n0)
                          / sqrt((CAST(ix.c0 + ix.c1 AS DOUBLE)
                                  / (ix.n0 + ix.n1))
                                 * (1 - CAST(ix.c0 + ix.c1 AS DOUBLE)
                                        / (ix.n0 + ix.n1))
                                 * (1.0D / ix.n0 + 1.0D / ix.n1))
                            AS zs,
                          2.963D / sqrt(CAST(ix.k AS DOUBLE)
                                        / tt.t_days) AS bound
                   FROM ix CROSS JOIN tt
                   WHERE ix.c0 + ix.c1 > 0
                     AND ix.c0 + ix.c1 < ix.n0 + ix.n1)
        SELECT day AS epoch_day, k AS look_no, n0, c0, n1, c1,
               round(zs, 6) AS z_cum,
               round(bound, 6) AS obf_bound,
               CASE WHEN abs(zs) > bound THEN 1 ELSE 0 END AS crossed
        FROM z ORDER BY epoch_day""")
    },
    Some("""WITH e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400
                                AS day,
                              CAST(user_id % 2 AS BIGINT) AS arm,
                              CASE WHEN value >= 100 THEN 1 ELSE 0 END
                                AS conv
                       FROM events),
                 dd AS (SELECT day, arm, CAST(COUNT(*) AS BIGINT) AS n,
                               CAST(SUM(conv) AS BIGINT) AS c
                        FROM e GROUP BY 1, 2),
                 cum AS (SELECT day, arm,
                                CAST(SUM(n) OVER (PARTITION BY arm
                                                  ORDER BY day)
                                     AS BIGINT) AS cn,
                                CAST(SUM(c) OVER (PARTITION BY arm
                                                  ORDER BY day)
                                     AS BIGINT) AS cc
                         FROM dd),
                 pr AS (SELECT a.day, a.cn AS n0, a.cc AS c0,
                               b.cn AS n1, b.cc AS c1
                        FROM cum a JOIN cum b
                          ON a.day = b.day AND a.arm = 0
                         AND b.arm = 1),
                 ix AS (SELECT pr.*,
                               CAST(ROW_NUMBER() OVER (ORDER BY day)
                                    AS BIGINT) AS k
                        FROM pr),
                 tt AS (SELECT CAST(MAX(k) AS BIGINT) AS t_days
                        FROM ix),
                 z AS (SELECT ix.day, ix.k, tt.t_days,
                              ix.n0, ix.c0, ix.n1, ix.c1,
                              (CAST(ix.c1 AS DOUBLE) / ix.n1
                               - CAST(ix.c0 AS DOUBLE) / ix.n0)
                              / sqrt((CAST(ix.c0 + ix.c1 AS DOUBLE)
                                      / (ix.n0 + ix.n1))
                                     * (1 - CAST(ix.c0 + ix.c1
                                                 AS DOUBLE)
                                            / (ix.n0 + ix.n1))
                                     * (1.0 / ix.n0 + 1.0 / ix.n1))
                                AS zs,
                              2.963 / sqrt(CAST(ix.k AS DOUBLE)
                                           / tt.t_days) AS bound
                       FROM ix CROSS JOIN tt
                       WHERE ix.c0 + ix.c1 > 0
                         AND ix.c0 + ix.c1 < ix.n0 + ix.n1)
            SELECT day AS epoch_day, k AS look_no, n0, c0, n1, c1,
                   round(zs, 6) AS z_cum,
                   round(bound, 6) AS obf_bound,
                   CASE WHEN abs(zs) > bound THEN 1 ELSE 0 END
                     AS crossed
            FROM z ORDER BY epoch_day"""))

  // Kruskal–Wallis H — the rank-based one-way ANOVA (the nonparametric
  // sibling of agg_anova, as agg_mann_whitney is of agg_ttest): do the
  // return-flag populations draw quantity from the same distribution?
  // Globally ranking N rows is the classic partition-less-window trap;
  // tied-average ranks are instead computed on the QUANTITY DOMAIN
  // (≤ 50 distinct values: cum-count-before + (t+1)/2), so the only
  // window runs over a value-bounded relation and the per-group rank
  // sums reuse the same (group × value) rollup. Integer moments stay
  // exact end-to-end (c·avg_rank is a multiple of 0.5 — exactly
  // representable); the tie-corrected H divides out 1 − Σ(t³−t)/(N³−N).
  private lazy val aggKruskalWallis = Op(
    "agg_kruskal_wallis",
    (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_kw")
      // materialize the domain-collapsed (group, value) counts once
      // (guide §2.4): gv feeds the pooled tie counts AND the per-group
      // rank sums, and gr feeds three readout CTEs — the inline spelling
      // re-scanned lineitem 7x in the r18 before-plan.
      s.sql("""SELECT l_returnflag AS g,
                      CAST(round(l_quantity) AS BIGINT) AS v,
                      CAST(COUNT(*) AS BIGINT) AS c
               FROM lineitem_kw GROUP BY 1, 2""")
        .trackedCkpt().createOrReplaceTempView("gv_kw")
      s.sql("""
        WITH gv AS (SELECT g, v, c FROM gv_kw),
             dv AS (SELECT v, CAST(SUM(c) AS BIGINT) AS tc
                    FROM gv GROUP BY 1),
             ar AS (SELECT v, tc,
                           CAST(SUM(tc) OVER (ORDER BY v) AS BIGINT) - tc
                             AS cb
                    FROM dv),
             gr AS (SELECT gv.g, CAST(SUM(gv.c) AS BIGINT) AS n,
                           SUM(CAST(gv.c AS DOUBLE)
                               * (CAST(ar.cb AS DOUBLE)
                                  + (CAST(ar.tc AS DOUBLE) + 1) / 2))
                             AS r
                    FROM gv JOIN ar ON gv.v = ar.v GROUP BY 1),
             tt AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM gr),
             tie AS (SELECT SUM(CAST(tc AS DOUBLE) * tc * tc - tc) AS s3
                     FROM dv),
             h AS (SELECT tt.nn,
                          12.0D / (CAST(tt.nn AS DOUBLE) * (tt.nn + 1))
                            * SUM(r * r / n)
                            - 3.0D * (tt.nn + 1) AS hraw
                   FROM gr CROSS JOIN tt GROUP BY tt.nn),
             hc AS (SELECT h.hraw,
                           h.hraw / (1.0D - tie.s3
                                     / (CAST(h.nn AS DOUBLE) * h.nn
                                        * h.nn - h.nn)) AS hcorr
                    FROM h CROSS JOIN tie)
        SELECT gr.g AS flag, gr.n,
               round(gr.r / gr.n, 6) AS mean_rank,
               round(hc.hraw, 6) AS h_stat,
               round(hc.hcorr, 6) AS h_tie_corrected,
               CASE WHEN hc.hcorr > 5.991464547107979D THEN 1 ELSE 0 END
                 AS reject_95
        FROM gr CROSS JOIN hc ORDER BY flag""")
    },
    Some("""WITH gv AS (SELECT l_returnflag AS g,
                               CAST(round(l_quantity) AS BIGINT) AS v,
                               CAST(COUNT(*) AS BIGINT) AS c
                        FROM lineitem GROUP BY 1, 2),
                 dv AS (SELECT v, CAST(SUM(c) AS BIGINT) AS tc
                        FROM gv GROUP BY 1),
                 ar AS (SELECT v, tc,
                               CAST(SUM(tc) OVER (ORDER BY v) AS BIGINT)
                                 - tc AS cb
                        FROM dv),
                 gr AS (SELECT gv.g, CAST(SUM(gv.c) AS BIGINT) AS n,
                               SUM(CAST(gv.c AS DOUBLE)
                                   * (CAST(ar.cb AS DOUBLE)
                                      + (CAST(ar.tc AS DOUBLE) + 1) / 2))
                                 AS r
                        FROM gv JOIN ar ON gv.v = ar.v GROUP BY 1),
                 tt AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM gr),
                 tie AS (SELECT SUM(CAST(tc AS DOUBLE) * tc * tc - tc)
                                  AS s3
                         FROM dv),
                 h AS (SELECT tt.nn,
                              12.0 / (CAST(tt.nn AS DOUBLE)
                                      * (tt.nn + 1))
                                * SUM(r * r / n)
                                - 3.0 * (tt.nn + 1) AS hraw
                       FROM gr CROSS JOIN tt GROUP BY tt.nn),
                 hc AS (SELECT h.hraw,
                               h.hraw / (1.0 - tie.s3
                                         / (CAST(h.nn AS DOUBLE) * h.nn
                                            * h.nn - h.nn)) AS hcorr
                        FROM h CROSS JOIN tie)
            SELECT gr.g AS flag, gr.n,
                   round(gr.r / gr.n, 6) AS mean_rank,
                   round(hc.hraw, 6) AS h_stat,
                   round(hc.hcorr, 6) AS h_tie_corrected,
                   CASE WHEN hc.hcorr > 5.991464547107979
                        THEN 1 ELSE 0 END AS reject_95
            FROM gr CROSS JOIN hc ORDER BY flag"""))

  // Revenue bridge (price/volume/mix) — the FP&A waterfall: decompose
  // each supplier-nation's 1996→1997 revenue change into pure-volume
  // (period-0 price × period-0 mix scaled by total-quantity growth),
  // mix-shift (period-0 price × deviation from that scaling), and price
  // (rate change × period-1 volume); the three sum to Δrevenue exactly.
  // One year-filtered lineitem scan rolled up to (nation, year) cents
  // via a broadcast supplier→nation dim join; everything after the
  // 25-row pivot is scalar double arithmetic on exact BIGINT moments.
  private lazy val aggRevenueBridge = Op(
    "agg_revenue_bridge",
    (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_rb")
      t(s, d, "supplier").createOrReplaceTempView("supplier_rb")
      t(s, d, "nation").createOrReplaceTempView("nation_rb")
      s.sql("""
        WITH li AS (SELECT l_suppkey, year(l_shipdate) AS yr,
                           CAST(round(l_quantity) AS BIGINT) AS q,
                           CAST(round(l_extendedprice * (1 - l_discount)
                                      * 100) AS BIGINT) AS rc
                    FROM lineitem_rb
                    WHERE year(l_shipdate) IN (1996, 1997)),
             sn AS (SELECT s_suppkey, n_name
                    FROM supplier_rb JOIN nation_rb
                      ON s_nationkey = n_nationkey),
             seg AS (SELECT sn.n_name AS nation, li.yr,
                            CAST(SUM(li.q) AS BIGINT) AS q,
                            CAST(SUM(li.rc) AS BIGINT) AS rev
                     FROM li JOIN sn ON li.l_suppkey = sn.s_suppkey
                     GROUP BY 1, 2),
             pv AS (SELECT nation,
                           MAX(CASE WHEN yr = 1996 THEN q END) AS q0,
                           MAX(CASE WHEN yr = 1996 THEN rev END) AS r0,
                           MAX(CASE WHEN yr = 1997 THEN q END) AS q1,
                           MAX(CASE WHEN yr = 1997 THEN rev END) AS r1
                    FROM seg GROUP BY 1),
             pb AS (SELECT * FROM pv
                    WHERE q0 IS NOT NULL AND q1 IS NOT NULL
                      AND q0 > 0 AND q1 > 0),
             tq AS (SELECT CAST(SUM(q0) AS BIGINT) AS tq0,
                           CAST(SUM(q1) AS BIGINT) AS tq1
                    FROM pb)
        SELECT pb.nation, pb.q0, pb.q1,
               round((pb.r1 - pb.r0) / 100.0D, 4) AS delta_rev_usd,
               round(CAST(pb.r0 AS DOUBLE)
                     * (CAST(tq.tq1 AS DOUBLE) / tq.tq0 - 1)
                     / 100.0D, 4) AS volume_effect_usd,
               round((CAST(pb.r0 AS DOUBLE) * pb.q1 / pb.q0
                      - CAST(pb.r0 AS DOUBLE) * tq.tq1 / tq.tq0)
                     / 100.0D, 4) AS mix_effect_usd,
               round((pb.r1 - CAST(pb.r0 AS DOUBLE) * pb.q1 / pb.q0)
                     / 100.0D, 4) AS price_effect_usd
        FROM pb CROSS JOIN tq ORDER BY nation""")
    },
    Some("""WITH li AS (SELECT l_suppkey, year(l_shipdate) AS yr,
                               CAST(round(l_quantity) AS BIGINT) AS q,
                               CAST(round(l_extendedprice
                                          * (1 - l_discount) * 100)
                                    AS BIGINT) AS rc
                        FROM lineitem
                        WHERE year(l_shipdate) IN (1996, 1997)),
                 sn AS (SELECT s_suppkey, n_name
                        FROM supplier JOIN nation
                          ON s_nationkey = n_nationkey),
                 seg AS (SELECT sn.n_name AS nation, li.yr,
                                CAST(SUM(li.q) AS BIGINT) AS q,
                                CAST(SUM(li.rc) AS BIGINT) AS rev
                         FROM li JOIN sn
                           ON li.l_suppkey = sn.s_suppkey
                         GROUP BY 1, 2),
                 pv AS (SELECT nation,
                               MAX(CASE WHEN yr = 1996 THEN q END)
                                 AS q0,
                               MAX(CASE WHEN yr = 1996 THEN rev END)
                                 AS r0,
                               MAX(CASE WHEN yr = 1997 THEN q END)
                                 AS q1,
                               MAX(CASE WHEN yr = 1997 THEN rev END)
                                 AS r1
                        FROM seg GROUP BY 1),
                 pb AS (SELECT * FROM pv
                        WHERE q0 IS NOT NULL AND q1 IS NOT NULL
                          AND q0 > 0 AND q1 > 0),
                 tq AS (SELECT CAST(SUM(q0) AS BIGINT) AS tq0,
                               CAST(SUM(q1) AS BIGINT) AS tq1
                        FROM pb)
            SELECT pb.nation, pb.q0, pb.q1,
                   round((pb.r1 - pb.r0) / 100.0, 4) AS delta_rev_usd,
                   round(CAST(pb.r0 AS DOUBLE)
                         * (CAST(tq.tq1 AS DOUBLE) / tq.tq0 - 1)
                         / 100.0, 4) AS volume_effect_usd,
                   round((CAST(pb.r0 AS DOUBLE) * pb.q1 / pb.q0
                          - CAST(pb.r0 AS DOUBLE) * tq.tq1 / tq.tq0)
                         / 100.0, 4) AS mix_effect_usd,
                   round((pb.r1 - CAST(pb.r0 AS DOUBLE) * pb.q1
                                    / pb.q0)
                         / 100.0, 4) AS price_effect_usd
            FROM pb CROSS JOIN tq ORDER BY nation"""))

  // Simpson's-paradox probe — does the aggregate association between
  // discount and quantity reverse inside the return-flag segments? The
  // canonical aggregation trap, checked mechanically: overall OLS slope
  // sign vs each segment's slope sign, all from ONE scan of exact
  // per-segment moments (the overall moments are their sums — nothing is
  // scanned twice).
  private lazy val aggSimpsonParadox = Op(
    "agg_simpson_paradox",
    (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_sx")
      s.sql("""
        WITH b AS (SELECT l_returnflag AS g,
                          CAST(round(l_discount * 100) AS BIGINT) AS x,
                          CAST(round(l_quantity) AS BIGINT) AS y
                   FROM lineitem_sx),
             m AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(x) AS BIGINT) AS sx,
                          CAST(SUM(y) AS BIGINT) AS sy,
                          CAST(SUM(x * x) AS BIGINT) AS sxx,
                          CAST(SUM(x * y) AS BIGINT) AS sxy
                   FROM b GROUP BY 1),
             seg AS (SELECT g,
                            CAST(n AS DOUBLE) * sxy
                              - CAST(sx AS DOUBLE) * sy AS num
                     FROM m),
             tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n,
                            CAST(SUM(sx) AS BIGINT) AS sx,
                            CAST(SUM(sy) AS BIGINT) AS sy,
                            CAST(SUM(sxx) AS BIGINT) AS sxx,
                            CAST(SUM(sxy) AS BIGINT) AS sxy
                     FROM m),
             ov AS (SELECT CAST(n AS DOUBLE) * sxy
                             - CAST(sx AS DOUBLE) * sy AS num
                    FROM tot)
        SELECT round(ov.num / 1.0e12D, 6) AS overall_assoc_scaled,
               CAST(SUM(CASE WHEN SIGN(seg.num) <> SIGN(ov.num)
                        THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_segments_reversed,
               CASE WHEN SUM(CASE WHEN SIGN(seg.num) <> SIGN(ov.num)
                             THEN 1 ELSE 0 END) = COUNT(*)
                    THEN 1 ELSE 0 END AS full_paradox
        FROM seg CROSS JOIN ov GROUP BY ov.num""")
    },
    Some("""WITH b AS (SELECT l_returnflag AS g,
                              CAST(round(l_discount * 100) AS BIGINT)
                                AS x,
                              CAST(round(l_quantity) AS BIGINT) AS y
                       FROM lineitem),
                 m AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(SUM(x) AS BIGINT) AS sx,
                              CAST(SUM(y) AS BIGINT) AS sy,
                              CAST(SUM(x * x) AS BIGINT) AS sxx,
                              CAST(SUM(x * y) AS BIGINT) AS sxy
                       FROM b GROUP BY 1),
                 seg AS (SELECT g,
                                CAST(n AS DOUBLE) * sxy
                                  - CAST(sx AS DOUBLE) * sy AS num
                         FROM m),
                 tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n,
                                CAST(SUM(sx) AS BIGINT) AS sx,
                                CAST(SUM(sy) AS BIGINT) AS sy,
                                CAST(SUM(sxx) AS BIGINT) AS sxx,
                                CAST(SUM(sxy) AS BIGINT) AS sxy
                         FROM m),
                 ov AS (SELECT CAST(n AS DOUBLE) * sxy
                                 - CAST(sx AS DOUBLE) * sy AS num
                        FROM tot)
            SELECT round(ov.num / 1.0e12, 6) AS overall_assoc_scaled,
                   CAST(SUM(CASE WHEN SIGN(seg.num) <> SIGN(ov.num)
                            THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_segments_reversed,
                   CASE WHEN SUM(CASE WHEN SIGN(seg.num)
                                           <> SIGN(ov.num)
                                 THEN 1 ELSE 0 END) = COUNT(*)
                        THEN 1 ELSE 0 END AS full_paradox
            FROM seg CROSS JOIN ov GROUP BY ov.num"""))

  // k-anonymity risk curve — the share of rows sitting in
  // quasi-identifier groups smaller than k, swept across the k values a
  // privacy review actually debates (2/5/10/20): one group rollup, four
  // conditional sums, the "how much must we generalize" planning table
  // (privacy_kanon audits ONE k; this prices the policy options).
  private lazy val privacyRiskCurve = Op(
    "privacy_risk_curve",
    (s, d) => {
      t(s, d, "customer").createOrReplaceTempView("customer_rk2")
      s.sql("""
        WITH g AS (SELECT c_mktsegment, c_nationkey,
                          CAST(COUNT(*) AS BIGINT) AS n
                   FROM customer_rk2 GROUP BY 1, 2),
             tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM g),
             k AS (SELECT kk FROM (SELECT explode(array(2, 5, 10, 20))
                                     AS kk))
        SELECT CAST(k.kk AS BIGINT) AS k,
               CAST(SUM(CASE WHEN g.n < k.kk THEN g.n ELSE 0 END)
                    AS BIGINT) AS rows_at_risk,
               round(CAST(SUM(CASE WHEN g.n < k.kk THEN g.n
                                   ELSE 0 END) AS DOUBLE) / MAX(tot.t),
                     6) AS risk_share
        FROM g CROSS JOIN k CROSS JOIN tot
        GROUP BY k.kk ORDER BY k""")
    },
    Some("""WITH g AS (SELECT c_mktsegment, c_nationkey,
                              CAST(COUNT(*) AS BIGINT) AS n
                       FROM customer GROUP BY 1, 2),
                 tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM g),
                 k AS (SELECT unnest([2, 5, 10, 20]) AS kk)
            SELECT CAST(k.kk AS BIGINT) AS k,
                   CAST(SUM(CASE WHEN g.n < k.kk THEN g.n ELSE 0 END)
                        AS BIGINT) AS rows_at_risk,
                   round(CAST(SUM(CASE WHEN g.n < k.kk THEN g.n
                                       ELSE 0 END) AS DOUBLE)
                         / MAX(tot.t), 6) AS risk_share
            FROM g CROSS JOIN k CROSS JOIN tot
            GROUP BY k.kk ORDER BY k"""))

  // Cohen's d — the standardized effect size that belongs next to every
  // significant t-test (agg_ttest says "real", d says "big enough to
  // care": 0.2 small / 0.5 medium / 0.8 large). Pooled-SD version from
  // the same one-scan exact moment triples.
  private lazy val aggCohensD = Op(
    "agg_cohens_d",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_cd2")
      s.sql("""
        WITH b AS (SELECT CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END AS g,
                          CAST(round(value * 100) AS BIGINT) AS x
                   FROM events_cd2
                   WHERE event_type IN ('purchase', 'view')),
             m AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(x) AS BIGINT) AS sx,
                          CAST(SUM(x * x) AS BIGINT) AS sxx
                   FROM b GROUP BY 1),
             w AS (SELECT MAX(CASE WHEN g = 1 THEN n END) AS n1,
                          MAX(CASE WHEN g = 1 THEN sx END) AS s1,
                          MAX(CASE WHEN g = 1 THEN sxx END) AS q1,
                          MAX(CASE WHEN g = 0 THEN n END) AS n0,
                          MAX(CASE WHEN g = 0 THEN sx END) AS s0,
                          MAX(CASE WHEN g = 0 THEN sxx END) AS q0
                   FROM m)
        SELECT n1, n0,
               round((CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
                     / sqrt(((CAST(q1 AS DOUBLE)
                              - CAST(s1 AS DOUBLE) * s1 / n1)
                             + (CAST(q0 AS DOUBLE)
                                - CAST(s0 AS DOUBLE) * s0 / n0))
                            / (n1 + n0 - 2)), 6) AS cohens_d
        FROM w""")
    },
    Some("""WITH b AS (SELECT CASE WHEN event_type = 'purchase'
                                   THEN 1 ELSE 0 END AS g,
                              CAST(round(value * 100) AS BIGINT) AS x
                       FROM events
                       WHERE event_type IN ('purchase', 'view')),
                 m AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(SUM(x) AS BIGINT) AS sx,
                              CAST(SUM(x * x) AS BIGINT) AS sxx
                       FROM b GROUP BY 1),
                 w AS (SELECT MAX(CASE WHEN g = 1 THEN n END) AS n1,
                              MAX(CASE WHEN g = 1 THEN sx END) AS s1,
                              MAX(CASE WHEN g = 1 THEN sxx END) AS q1,
                              MAX(CASE WHEN g = 0 THEN n END) AS n0,
                              MAX(CASE WHEN g = 0 THEN sx END) AS s0,
                              MAX(CASE WHEN g = 0 THEN sxx END) AS q0
                       FROM m)
            SELECT n1, n0,
                   round((CAST(s1 AS DOUBLE) / n1
                          - CAST(s0 AS DOUBLE) / n0)
                         / sqrt(((CAST(q1 AS DOUBLE)
                                  - CAST(s1 AS DOUBLE) * s1 / n1)
                                 + (CAST(q0 AS DOUBLE)
                                    - CAST(s0 AS DOUBLE) * s0 / n0))
                                / (n1 + n0 - 2)), 6) AS cohens_d
            FROM w"""))

  // Benford conformity verdict — the Nigrini MAD thresholds on top of
  // dq_benford's digit table: one scalar + a verdict string instead of
  // nine rows to eyeball. Each |share − benford| term quantizes to 1e-9
  // before the order-independent sum.
  private lazy val dqBenfordMad = Op(
    "dq_benford_mad",
    (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_bm2")
      s.sql("""
        WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
                            AS cents
                   FROM orders_bm2 WHERE o_totalprice > 0),
             n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM c),
             dg AS (SELECT CAST(substr(CAST(cents AS STRING), 1, 1)
                                AS BIGINT) AS digit,
                           CAST(COUNT(*) AS BIGINT) AS cnt
                    FROM c GROUP BY 1),
             t AS (SELECT CAST(SUM(CAST(round(abs(
                            CAST(dg.cnt AS DOUBLE) / n.nn
                            - log10(1.0D + 1.0D / dg.digit))
                            * 1000000000) AS BIGINT)) AS BIGINT) AS sq,
                          CAST(COUNT(*) AS BIGINT) AS k
                   FROM dg CROSS JOIN n)
        SELECT round(CAST(sq AS DOUBLE) / k / 1000000000.0D, 6) AS mad,
               CASE
                 WHEN CAST(sq AS DOUBLE) / k / 1000000000.0D < 0.006D
                 THEN 'close'
                 WHEN CAST(sq AS DOUBLE) / k / 1000000000.0D < 0.012D
                 THEN 'acceptable'
                 WHEN CAST(sq AS DOUBLE) / k / 1000000000.0D < 0.015D
                 THEN 'marginal'
                 ELSE 'nonconforming' END AS verdict
        FROM t""")
    },
    Some("""WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
                                AS cents
                       FROM orders WHERE o_totalprice > 0),
                 n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM c),
                 dg AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1,
                                     1) AS BIGINT) AS digit,
                               CAST(COUNT(*) AS BIGINT) AS cnt
                        FROM c GROUP BY 1),
                 t AS (SELECT CAST(SUM(CAST(round(abs(
                                CAST(dg.cnt AS DOUBLE) / n.nn
                                - log10(1.0 + 1.0 / dg.digit))
                                * 1000000000) AS BIGINT)) AS BIGINT)
                                AS sq,
                              CAST(COUNT(*) AS BIGINT) AS k
                       FROM dg CROSS JOIN n)
            SELECT round(CAST(sq AS DOUBLE) / k / 1000000000.0, 6)
                     AS mad,
                   CASE
                     WHEN CAST(sq AS DOUBLE) / k / 1000000000.0
                          < 0.006 THEN 'close'
                     WHEN CAST(sq AS DOUBLE) / k / 1000000000.0
                          < 0.012 THEN 'acceptable'
                     WHEN CAST(sq AS DOUBLE) / k / 1000000000.0
                          < 0.015 THEN 'marginal'
                     ELSE 'nonconforming' END AS verdict
            FROM t"""))

  // Odds ratio with Woolf confidence interval — the 2×2 association
  // readout (high-value purchase × weekend) epidemiology and churn
  // analysis both speak: OR, ln-scale CI from Σ1/cell. Four exact cell
  // counts from one scan; the CI is one fixed expression.
  // Weekend flag: epoch day 0 = Thursday, so (day + 4) % 7 maps Sunday→0
  // … Saturday→6; weekend = {0, 6} (Sun/Sat), not >= 5 (which would
  // misclassify Friday as weekend and Sunday as weekday).
  private lazy val aggOddsRatio = Op(
    "agg_odds_ratio",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_or")
      s.sql("""
        WITH b AS (SELECT CASE WHEN (unix_timestamp(ts) div 86400 + 4)
                                    % 7 IN (0, 6) THEN 1 ELSE 0 END AS wknd,
                          CASE WHEN event_type = 'purchase'
                                AND value >= 95 THEN 1 ELSE 0 END AS hi
                   FROM events_or),
             c AS (SELECT
                     CAST(SUM(CASE WHEN wknd = 1 AND hi = 1
                              THEN 1 ELSE 0 END) AS BIGINT) AS a,
                     CAST(SUM(CASE WHEN wknd = 1 AND hi = 0
                              THEN 1 ELSE 0 END) AS BIGINT) AS b,
                     CAST(SUM(CASE WHEN wknd = 0 AND hi = 1
                              THEN 1 ELSE 0 END) AS BIGINT) AS c,
                     CAST(SUM(CASE WHEN wknd = 0 AND hi = 0
                              THEN 1 ELSE 0 END) AS BIGINT) AS dd
                   FROM b)
        SELECT a, b, c, dd AS d,
               round(CAST(a AS DOUBLE) * dd
                     / (CAST(b AS DOUBLE) * c), 6) AS odds_ratio,
               round(exp(ln(CAST(a AS DOUBLE) * dd
                            / (CAST(b AS DOUBLE) * c))
                         - 1.96D * sqrt(1.0D / a + 1.0D / b
                                        + 1.0D / c + 1.0D / dd)), 6)
                 AS ci_lo,
               round(exp(ln(CAST(a AS DOUBLE) * dd
                            / (CAST(b AS DOUBLE) * c))
                         + 1.96D * sqrt(1.0D / a + 1.0D / b
                                        + 1.0D / c + 1.0D / dd)), 6)
                 AS ci_hi
        FROM c""")
    },
    Some("""WITH b AS (SELECT CASE WHEN (CAST(floor(epoch(ts))
                                          AS BIGINT) // 86400 + 4)
                                        % 7 IN (0, 6) THEN 1 ELSE 0 END
                                AS wknd,
                              CASE WHEN event_type = 'purchase'
                                    AND value >= 95 THEN 1 ELSE 0 END
                                AS hi
                       FROM events),
                 c AS (SELECT
                         CAST(SUM(CASE WHEN wknd = 1 AND hi = 1
                                  THEN 1 ELSE 0 END) AS BIGINT) AS a,
                         CAST(SUM(CASE WHEN wknd = 1 AND hi = 0
                                  THEN 1 ELSE 0 END) AS BIGINT) AS b,
                         CAST(SUM(CASE WHEN wknd = 0 AND hi = 1
                                  THEN 1 ELSE 0 END) AS BIGINT) AS c,
                         CAST(SUM(CASE WHEN wknd = 0 AND hi = 0
                                  THEN 1 ELSE 0 END) AS BIGINT) AS dd
                       FROM b)
            SELECT a, b, c, dd AS d,
                   round(CAST(a AS DOUBLE) * dd
                         / (CAST(b AS DOUBLE) * c), 6) AS odds_ratio,
                   round(exp(ln(CAST(a AS DOUBLE) * dd
                                / (CAST(b AS DOUBLE) * c))
                             - 1.96 * sqrt(1.0 / a + 1.0 / b
                                           + 1.0 / c + 1.0 / dd)), 6)
                     AS ci_lo,
                   round(exp(ln(CAST(a AS DOUBLE) * dd
                                / (CAST(b AS DOUBLE) * c))
                             + 1.96 * sqrt(1.0 / a + 1.0 / b
                                           + 1.0 / c + 1.0 / dd)), 6)
                     AS ci_hi
            FROM c"""))
}
