package graft.operators

import graft.Mats.MatOps
import graft.{Op, Tables}
import org.apache.spark.sql.SparkSession

/** Round-8 batch: concentration / association / directional statistics —
  * the model-monitoring and behavioral-analytics aggregates a training-data
  * pipeline runs next to its quality gates (cf. the drift family:
  * agg_psi_drift, agg_auc_roc, agg_calibration_bins in
  * TemporalSketchOps.scala).
  *
  * Provenance: the reference's sales-events domain (framework.py:310-349)
  * delegates all analytics to engine SQL; these are the standard shapes a
  * user of that pipeline would run, expressed Spark-first.
  *
  * Engine-determinism: every sum that crosses the DuckDB oracle boundary is
  * an exact BIGINT (values quantized per-row BEFORE aggregation, so the sum
  * is order-independent); floats enter only in per-row IEEE arithmetic or
  * the final division — see core.scala's driver-boundary protocol.
  */
object StatsMlOps {
  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  // Herfindahl–Hirschman concentration index of revenue by customer within
  // each order priority. Per-customer revenue is an exact BIGINT cents sum
  // (one partial-aggregated shuffle on (priority, custkey)); each squared
  // share is computed per-GROUP in IEEE double (identical in both engines)
  // and quantized to 1e12 BEFORE the final sum, so the HHI total is an
  // order-independent BIGINT sum — no float-accumulation drift at any
  // parallelism. Two shuffles total (customer rollup, priority rollup);
  // the priority totals join back by broadcast (5 rows). At 100 TB the
  // per-customer rollup is the only big exchange and it partial-aggregates
  // map-side.
  private val aggHhi = Op(
    "agg_hhi",
    (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_hhi")
      s.sql("""
        WITH rev AS (SELECT o_orderpriority AS prio, o_custkey,
                            CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                                 AS BIGINT) AS r
                     FROM orders_hhi GROUP BY 1, 2),
             tot AS (SELECT prio, CAST(SUM(r) AS BIGINT) AS t,
                            CAST(COUNT(*) AS BIGINT) AS n_firms
                     FROM rev GROUP BY 1),
             q AS (SELECT rev.prio, n_firms,
                          CAST(round((CAST(r AS DOUBLE) / t) *
                                     (CAST(r AS DOUBLE) / t) * 1000000000000)
                               AS BIGINT) AS sq
                   FROM rev JOIN tot ON rev.prio = tot.prio)
        SELECT prio AS o_orderpriority, n_firms,
               round(CAST(SUM(sq) AS DOUBLE) / 1000000000000.0D, 6) AS hhi
        FROM q GROUP BY prio, n_firms ORDER BY prio""")
    },
    Some("""WITH rev AS (SELECT o_orderpriority AS prio, o_custkey,
                                CAST(SUM(CAST(round(o_totalprice * 100)
                                              AS BIGINT)) AS BIGINT) AS r
                         FROM orders GROUP BY 1, 2),
                 tot AS (SELECT prio, CAST(SUM(r) AS BIGINT) AS t,
                                CAST(COUNT(*) AS BIGINT) AS n_firms
                         FROM rev GROUP BY 1),
                 q AS (SELECT rev.prio, n_firms,
                              CAST(round((CAST(r AS DOUBLE) / t) *
                                         (CAST(r AS DOUBLE) / t)
                                         * 1000000000000) AS BIGINT) AS sq
                       FROM rev JOIN tot ON rev.prio = tot.prio)
            SELECT prio AS o_orderpriority, n_firms,
                   round(CAST(SUM(sq) AS DOUBLE) / 1000000000000.0, 6) AS hhi
            FROM q GROUP BY prio, n_firms ORDER BY prio"""))

  // Spearman rank correlation (quantity vs extended price per return flag).
  // Tied ranks use the textbook AVERAGE-rank convention, kept integral by
  // doubling: 2·avgrank = 2·RANK() + tiecount − 1 (RANK is the tie group's
  // min rank; avg = min + (cnt−1)/2). The three second-moment sums are
  // exact DECIMAL(38,0)/HUGEINT (max sum ≈ (2n)²·n ≈ 3e19 at sf1 — a
  // BIGINT overflows past n ≈ 1.3M/group, caught by the round-9 sf1 scale
  // run; first moments stay BIGINT at 2n·n); the
  // Pearson-on-ranks combination happens in double AFTER the exact sums,
  // so the result is bit-stable across partitionings. Cost: two windows
  // over the same (flag) partitioning — ONE shuffle, two in-partition
  // sorts — then a partial-aggregated rollup.
  private val aggSpearman = Op(
    "agg_spearman",
    (s, d) => {
      // DOMAIN-COLLAPSED ranks: the tie-averaged rank doubled
      // (2·RANK + ties − 1, kept integer) depends only on the VALUE, so
      // ranks come from cumulative windows over the per-(group, value)
      // count relations — bounded by the value domains — and the moment
      // sums ride the (g, x, y) joint-count relation, which one map-side-
      // combinable groupBy collapses before any shuffle. The row-level
      // spelling ranked 60 M rows inside the THREE returnflag partitions
      // (259 s at the r13 sf10 probe). Identical output: rx/ry take the
      // same integer values (2·cum − cnt + 1 ≡ 2·RANK + ties − 1), and
      // the moments are exact integer sums — order-independent.
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_sp")
      // materialize the joint-count relation once: Spark inlines CTEs, so
      // the three consumers (xs, ys, m) would each re-scan the fact and
      // re-run the collapse shuffle (3 scans in the r18 before-plan,
      // guide §2.4). Cardinality is domain-bounded (distinct (flag, qty,
      // price) triples), so the cache is small at any SF.
      s.sql("""SELECT l_returnflag AS g, l_quantity AS x,
                      l_extendedprice AS y, CAST(COUNT(*) AS BIGINT) AS c
               FROM lineitem_sp GROUP BY 1, 2, 3""")
        .matCache(s, d).createOrReplaceTempView("joint_sp")
      s.sql("""
        WITH joint AS (SELECT g, x, y, c FROM joint_sp),
             xs AS (SELECT g, x, CAST(SUM(c) AS BIGINT) AS cx
                    FROM joint GROUP BY g, x),
             xr AS (SELECT g, x,
                           2 * SUM(cx) OVER (PARTITION BY g ORDER BY x)
                             - cx + 1 AS rx
                    FROM xs),
             ys AS (SELECT g, y, CAST(SUM(c) AS BIGINT) AS cy
                    FROM joint GROUP BY g, y),
             yr AS (SELECT g, y,
                           2 * SUM(cy) OVER (PARTITION BY g ORDER BY y)
                             - cy + 1 AS ry
                    FROM ys),
             m AS (SELECT j.g, CAST(SUM(c) AS BIGINT) AS n,
                          CAST(SUM(c * rx) AS BIGINT) AS sx,
                          CAST(SUM(c * ry) AS BIGINT) AS sy,
                          SUM(CAST(c AS DECIMAL(38,0)) * rx * rx) AS sxx,
                          SUM(CAST(c AS DECIMAL(38,0)) * ry * ry) AS syy,
                          SUM(CAST(c AS DECIMAL(38,0)) * rx * ry) AS sxy
                   FROM joint j
                   JOIN xr ON j.g = xr.g AND j.x = xr.x
                   JOIN yr ON j.g = yr.g AND j.y = yr.y
                   GROUP BY j.g)
        SELECT g AS l_returnflag, n,
               round((CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
                     / (sqrt(CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                        * sqrt(CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)),
                     6) AS spearman
        FROM m ORDER BY g""")
    },
    Some("""WITH r AS (SELECT l_returnflag AS g,
                              2 * RANK() OVER (PARTITION BY l_returnflag
                                               ORDER BY l_quantity)
                                + COUNT(*) OVER (PARTITION BY l_returnflag,
                                                              l_quantity) - 1
                                AS rx,
                              2 * RANK() OVER (PARTITION BY l_returnflag
                                               ORDER BY l_extendedprice)
                                + COUNT(*) OVER (PARTITION BY l_returnflag,
                                                       l_extendedprice) - 1
                                AS ry
                       FROM lineitem),
                 m AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(SUM(rx) AS BIGINT) AS sx,
                              CAST(SUM(ry) AS BIGINT) AS sy,
                              SUM(CAST(rx AS HUGEINT) * rx) AS sxx,
                              SUM(CAST(ry AS HUGEINT) * ry) AS syy,
                              SUM(CAST(rx AS HUGEINT) * ry) AS sxy
                       FROM r GROUP BY g)
            SELECT g AS l_returnflag, n,
                   round((CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
                         / (sqrt(CAST(sxx AS DOUBLE)
                                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                            * sqrt(CAST(syy AS DOUBLE)
                                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)),
                         6) AS spearman
            FROM m ORDER BY g"""))

  // Bollinger bands — the rolling mean ± 2σ envelope over each user's
  // trailing 20 events. The frame keeps THREE exact integer accumulators
  // (count, Σcents, Σcents²; max Σx² ≈ 20 · 2.4e9 ≈ 5e10 — no overflow),
  // so mean/σ come out of per-row double math on exact ints — identical
  // in both engines, no running-float drift. ONE shuffle on user_id;
  // both windows share the same (user_id / ts) sort. 100 TB: per-user
  // state is O(frame), never whole-history.
  // Rounding protocol: Σcents/n yields TERMINATING 5-decimal values that
  // sit exactly on the 4-decimal half boundary (66.55375), where Spark's
  // shortest-repr HALF_UP and DuckDB's scaled nearbyint disagree by one
  // ulp of output. So each band is rounded ON THE 1e-4 GRID as an integer
  // (round(x·100 cents) — exact halves are then binary-representable and
  // both engines tie away from zero) and divided back once.
  private val windowBollinger = Op(
    "window_bollinger",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_bb")
      s.sql("""
        WITH e AS (SELECT user_id, event_id, ts,
                          CAST(round(value * 100) AS BIGINT) AS cents
                   FROM events_bb WHERE user_id % 10 = 0),
             w AS (SELECT user_id, event_id, cents,
                          CAST(COUNT(*) OVER fr AS BIGINT) AS n,
                          CAST(SUM(cents) OVER fr AS BIGINT) AS s1,
                          CAST(SUM(cents * cents) OVER fr AS BIGINT) AS s2
                   FROM e
                   WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        SELECT user_id, event_id, n,
               CAST(round(CAST(s1 AS DOUBLE) * 100 / n) AS BIGINT)
                 / 10000.0D AS mid,
               CAST(round((CAST(s1 AS DOUBLE) / n
                           + 2 * sqrt((CAST(s2 AS DOUBLE)
                                       - CAST(s1 AS DOUBLE) * s1 / n) / n))
                          * 100) AS BIGINT) / 10000.0D AS upper,
               CAST(round((CAST(s1 AS DOUBLE) / n
                           - 2 * sqrt((CAST(s2 AS DOUBLE)
                                       - CAST(s1 AS DOUBLE) * s1 / n) / n))
                          * 100) AS BIGINT) / 10000.0D AS lower
        FROM w ORDER BY user_id, event_id""")
    },
    Some("""WITH e AS (SELECT user_id, event_id, ts,
                              CAST(round(value * 100) AS BIGINT) AS cents
                       FROM events WHERE user_id % 10 = 0),
                 w AS (SELECT user_id, event_id, cents,
                              CAST(COUNT(*) OVER fr AS BIGINT) AS n,
                              CAST(SUM(cents) OVER fr AS BIGINT) AS s1,
                              CAST(SUM(cents * cents) OVER fr AS BIGINT) AS s2
                       FROM e
                       WINDOW fr AS (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS BETWEEN 19 PRECEDING
                                              AND CURRENT ROW))
            SELECT user_id, event_id, n,
                   CAST(round(CAST(s1 AS DOUBLE) * 100 / n) AS BIGINT)
                     / 10000.0 AS mid,
                   CAST(round((CAST(s1 AS DOUBLE) / n
                               + 2 * sqrt((CAST(s2 AS DOUBLE)
                                       - CAST(s1 AS DOUBLE) * s1 / n) / n))
                              * 100) AS BIGINT) / 10000.0 AS upper,
                   CAST(round((CAST(s1 AS DOUBLE) / n
                               - 2 * sqrt((CAST(s2 AS DOUBLE)
                                       - CAST(s1 AS DOUBLE) * s1 / n) / n))
                              * 100) AS BIGINT) / 10000.0 AS lower
            FROM w ORDER BY user_id, event_id"""))

  // Circular (directional) mean of event time-of-day per event type — the
  // correct average for angles, where 23:50 and 00:10 average to midnight,
  // not noon. Each row's unit vector (sin θ, cos θ) is quantized to 1e6
  // BEFORE summation (coarse enough that a last-ulp libm difference between
  // JVM and C never crosses a rounding boundary, fine enough for 4-decimal
  // output), so the resultant vector is an exact BIGINT sum — order-
  // independent at any parallelism. One partial-aggregated shuffle on
  // event_type; atan2/sqrt run once per group on identical inputs.
  private val aggCircularMean = Op(
    "agg_circular_mean",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_cm")
      s.sql("""
        WITH a AS (SELECT event_type,
                          2 * pi() * (CAST(unix_timestamp(ts) % 86400
                                           AS DOUBLE) / 86400.0D) AS th
                   FROM events_cm),
             q AS (SELECT event_type,
                          CAST(round(sin(th) * 1000000) AS BIGINT) AS s,
                          CAST(round(cos(th) * 1000000) AS BIGINT) AS c
                   FROM a),
             m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(s) AS BIGINT) AS ss,
                          CAST(SUM(c) AS BIGINT) AS sc
                   FROM q GROUP BY 1)
        SELECT event_type, n,
               round(degrees(atan2(CAST(ss AS DOUBLE), CAST(sc AS DOUBLE))),
                     4) AS mean_dir_deg,
               round(sqrt(CAST(ss AS DOUBLE) * ss + CAST(sc AS DOUBLE) * sc)
                     / (1000000.0D * n), 6) AS resultant_len
        FROM m ORDER BY event_type""")
    },
    Some("""WITH a AS (SELECT event_type,
                              2 * pi() * (CAST(CAST(floor(epoch(ts)) AS BIGINT)
                                               % 86400 AS DOUBLE)
                                          / 86400.0) AS th
                       FROM events),
                 q AS (SELECT event_type,
                              CAST(round(sin(th) * 1000000) AS BIGINT) AS s,
                              CAST(round(cos(th) * 1000000) AS BIGINT) AS c
                       FROM a),
                 m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(SUM(s) AS BIGINT) AS ss,
                              CAST(SUM(c) AS BIGINT) AS sc
                       FROM q GROUP BY 1)
            SELECT event_type, n,
                   round(degrees(atan2(CAST(ss AS DOUBLE),
                                       CAST(sc AS DOUBLE))), 4)
                     AS mean_dir_deg,
                   round(sqrt(CAST(ss AS DOUBLE) * ss
                              + CAST(sc AS DOUBLE) * sc)
                         / (1000000.0 * n), 6) AS resultant_len
            FROM m ORDER BY event_type"""))

  // Event-type co-occurrence with association lift — market-basket over
  // user histories, restricted to HIGH-VALUE events (value ≥ 100) so the
  // baskets are discriminative. The candidate space is the distinct
  // (user, type) set (≤ 5 types per user), so the self-join fans out to
  // ≤ |types|² rows per USER — linear in users, never events². Shuffles:
  // one distinct, one equi-join on user_id, one pair rollup; the per-type
  // totals (5 rows) and the scalar user count join back by broadcast.
  // lift > 1 ⇒ the behaviors co-occur more than independence predicts.
  private val eventCooccurrence = Op(
    "event_cooccurrence",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_co")
      s.sql("""
        WITH ut AS (SELECT DISTINCT user_id, event_type FROM events_co
                    WHERE value >= 100),
             u AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
                   FROM ut),
             tc AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt
                    FROM ut GROUP BY 1),
             pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                              CAST(COUNT(*) AS BIGINT) AS n_both
                       FROM ut a JOIN ut b
                         ON a.user_id = b.user_id
                        AND a.event_type < b.event_type
                       GROUP BY 1, 2)
        SELECT type_a, type_b, n_both, x.cnt AS n_a, y.cnt AS n_b,
               round(CAST(n_both AS DOUBLE) / n_users, 6) AS support,
               round(CAST(n_both AS DOUBLE) * n_users
                     / (CAST(x.cnt AS DOUBLE) * y.cnt), 6) AS lift
        FROM pairs JOIN tc x ON x.event_type = type_a
                   JOIN tc y ON y.event_type = type_b
                   CROSS JOIN u
        ORDER BY type_a, type_b""")
    },
    Some("""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events
                        WHERE value >= 100),
                 u AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT)
                                AS n_users FROM ut),
                 tc AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt
                        FROM ut GROUP BY 1),
                 pairs AS (SELECT a.event_type AS type_a,
                                  b.event_type AS type_b,
                                  CAST(COUNT(*) AS BIGINT) AS n_both
                           FROM ut a JOIN ut b
                             ON a.user_id = b.user_id
                            AND a.event_type < b.event_type
                           GROUP BY 1, 2)
            SELECT type_a, type_b, n_both, x.cnt AS n_a, y.cnt AS n_b,
                   round(CAST(n_both AS DOUBLE) / n_users, 6) AS support,
                   round(CAST(n_both AS DOUBLE) * n_users
                         / (CAST(x.cnt AS DOUBLE) * y.cnt), 6) AS lift
            FROM pairs JOIN tc x ON x.event_type = type_a
                       JOIN tc y ON y.event_type = type_b
                       CROSS JOIN u
            ORDER BY type_a, type_b"""))

  // Simpson lexical diversity per corpus source — 1 − Σ nᵢ(nᵢ−1)/(N(N−1)),
  // the repeat-probability complement used as a cheap corpus-quality
  // signal next to text_entropy/text_repetition. Token counts roll up in
  // ONE partial-aggregated shuffle on (source, word); the Σnᵢ(nᵢ−1) and N
  // moments stay exact BIGINT to the single final division. At 100 TB the
  // (source, word) rollup is the only big exchange — vocabulary-bounded
  // output, map-side combinable.
  private val textSimpsonDiversity = Op(
    "text_simpson_diversity",
    (s, d) => {
      t(s, d, "documents").createOrReplaceTempView("docs_sd")
      s.sql("""
        WITH w AS (SELECT source, w AS word
                   FROM docs_sd
                   LATERAL VIEW explode(split(lower(trim(text)), '\\s+'))
                     AS w),
             wc AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
                    FROM w GROUP BY 1, 2),
             m AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n,
                          CAST(COUNT(*) AS BIGINT) AS vocab,
                          CAST(SUM(c * (c - 1)) AS BIGINT) AS rep
                   FROM wc GROUP BY 1)
        SELECT source, n, vocab,
               round(1.0D - CAST(rep AS DOUBLE)
                            / (CAST(n AS DOUBLE) * (n - 1)), 6)
                 AS simpson_diversity
        FROM m ORDER BY source""")
    },
    Some("""WITH w AS (SELECT source,
                              unnest(string_split_regex(lower(trim(text)),
                                                        '\s+')) AS word
                       FROM documents),
                 wc AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
                        FROM w GROUP BY 1, 2),
                 m AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n,
                              CAST(COUNT(*) AS BIGINT) AS vocab,
                              CAST(SUM(c * (c - 1)) AS BIGINT) AS rep
                       FROM wc GROUP BY 1)
            SELECT source, n, vocab,
                   round(1.0 - CAST(rep AS DOUBLE)
                               / (CAST(n AS DOUBLE) * (n - 1)), 6)
                     AS simpson_diversity
            FROM m ORDER BY source"""))

  // Jensen–Shannon divergence between the event-type distributions of two
  // user cohorts (even vs odd user_id) — the bounded, symmetric drift
  // metric (0 = identical, ln 2 = disjoint) used for A/B sanity and
  // feature-drift monitoring alongside agg_psi_drift. Counts are ONE
  // conditional-aggregate scan (no per-cohort subqueries); each category's
  // KL term is computed in double and quantized to 1e9 BEFORE the final
  // sum, so the result is order-independent. 5 categories ⇒ the divergence
  // combine is driver-trivial; the scan is the only distributed work.
  private val aggJsDivergence = Op(
    "agg_js_divergence",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_js")
      s.sql("""
        WITH c AS (SELECT event_type,
                          CAST(SUM(CASE WHEN user_id % 2 = 0
                                        THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                          CAST(SUM(user_id % 2) AS BIGINT) AS cb
                   FROM events_js GROUP BY 1),
             tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
                            CAST(SUM(cb) AS BIGINT) AS nb FROM c),
             terms AS (SELECT event_type,
                              CAST(ca AS DOUBLE) / na AS p,
                              CAST(cb AS DOUBLE) / nb AS q
                       FROM c CROSS JOIN tot),
             qt AS (SELECT event_type,
                           CAST(round((CASE WHEN p > 0
                                            THEN p * ln(2 * p / (p + q))
                                            ELSE 0 END
                                     + CASE WHEN q > 0
                                            THEN q * ln(2 * q / (p + q))
                                            ELSE 0 END) * 1000000000)
                                AS BIGINT) AS t2
                    FROM terms)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
               round(CAST(SUM(t2) AS DOUBLE) / 2000000000.0D, 6) AS jsd
        FROM qt""")
    },
    Some("""WITH c AS (SELECT event_type,
                              CAST(SUM(CASE WHEN user_id % 2 = 0
                                            THEN 1 ELSE 0 END) AS BIGINT)
                                AS ca,
                              CAST(SUM(user_id % 2) AS BIGINT) AS cb
                       FROM events GROUP BY 1),
                 tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
                                CAST(SUM(cb) AS BIGINT) AS nb FROM c),
                 terms AS (SELECT event_type,
                                  CAST(ca AS DOUBLE) / na AS p,
                                  CAST(cb AS DOUBLE) / nb AS q
                           FROM c CROSS JOIN tot),
                 qt AS (SELECT event_type,
                               CAST(round((CASE WHEN p > 0
                                                THEN p * ln(2 * p / (p + q))
                                                ELSE 0 END
                                         + CASE WHEN q > 0
                                                THEN q * ln(2 * q / (p + q))
                                                ELSE 0 END) * 1000000000)
                                    AS BIGINT) AS t2
                        FROM terms)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
                   round(CAST(SUM(t2) AS DOUBLE) / 2000000000.0, 6) AS jsd
            FROM qt"""))

  // t-closeness — the distribution-aware successor to k-anonymity /
  // l-diversity (privacy_kanon, privacy_ldiversity): for each
  // quasi-identifier group (market segment), the Earth-Mover's Distance
  // between the group's sensitive-attribute distribution (account-balance
  // decile) and the GLOBAL one, over the ordered buckets:
  // EMD = Σₖ |cumP − cumQ| / (B−1), summed over the buckets k < 9 that hold
  // any row globally. customer is scanned twice: once for the min/max, once
  // for ONE aggregate of per-segment bucket counts (a row per segment); the
  // global counts are sums over those few rows, collected into one row with
  // them, and the cumulative sums are array folds, so nothing joins back to
  // the scan and no window runs on one partition. Counts stay exact BIGINT,
  // each |Δcdf| term quantizes to 1e9 before the sum. A null segment counts
  // toward the global distribution but gets no row; a null balance lands in
  // bucket 9 (LEAST skips nulls). A release gate would reject segments with
  // t > threshold.
  private val privacyTcloseness = Op(
    "privacy_tcloseness",
    (s, d) => {
      t(s, d, "customer").createOrReplaceTempView("customer_tc")
      def buckets(f: Int => String) = (0 to 9).map(f).mkString(", ")
      def cum(a: String) =
        s"transform(sequence(0, 8), k -> aggregate(slice($a, 1, k + 1), 0L, (x, y) -> x + y))"
      s.sql(s"""
        WITH mm AS (SELECT MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi
                    FROM customer_tc),
             b AS (SELECT c_mktsegment AS seg,
                          LEAST(CAST(FLOOR((c_acctbal - lo) / (hi - lo) * 10)
                                     AS INT), 9) AS bkt
                   FROM customer_tc CROSS JOIN mm),
             h AS (SELECT seg, COUNT(*) AS n,
                          array(${buckets(k => s"COUNT_IF(bkt = $k)")}) AS c
                   FROM b GROUP BY seg),
             tot AS (SELECT SUM(n) AS gn,
                            array(${buckets(k => s"SUM(c[$k])")}) AS gc,
                            collect_list(struct(seg, n, c)) AS segs
                     FROM h),
             per AS (SELECT inline(segs), gn, gc FROM tot),
             cum AS (SELECT seg, n, gn, gc, ${cum("c")} AS cc, ${cum("gc")} AS cg
                     FROM per
                     WHERE seg IS NOT NULL AND exists(slice(gc, 1, 9), x -> x > 0))
        SELECT seg AS c_mktsegment, n,
               round(CAST(aggregate(sequence(0, 8), 0L, (acc, k) -> acc +
                       IF(gc[k] > 0,
                          CAST(round(abs(CAST(cc[k] AS DOUBLE) / n
                                         - CAST(cg[k] AS DOUBLE) / gn)
                                     * 1000000000) AS BIGINT),
                          0L)) AS DOUBLE) / 9000000000.0D, 6) AS t_closeness
        FROM cum ORDER BY 1""")
    },
    Some("""WITH mm AS (SELECT MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi
                        FROM customer),
                 b AS (SELECT c_mktsegment AS seg,
                              LEAST(CAST(FLOOR((c_acctbal - lo)
                                               / (hi - lo) * 10)
                                         AS INT), 9) AS bkt
                       FROM customer CROSS JOIN mm),
                 g AS (SELECT seg, bkt, CAST(COUNT(*) AS BIGINT) AS c
                       FROM b GROUP BY 1, 2),
                 gl AS (SELECT bkt, CAST(SUM(c) AS BIGINT) AS gc
                        FROM g GROUP BY 1),
                 grid AS (SELECT s.seg, k.bkt, COALESCE(g.c, 0) AS c, gl.gc
                          FROM (SELECT DISTINCT seg FROM g) s
                          CROSS JOIN (SELECT DISTINCT bkt FROM gl) k
                          LEFT JOIN g ON g.seg = s.seg AND g.bkt = k.bkt
                          JOIN gl ON gl.bkt = k.bkt),
                 tots AS (SELECT seg, CAST(SUM(c) AS BIGINT) AS n
                          FROM grid GROUP BY 1),
                 gtot AS (SELECT CAST(SUM(gc) AS BIGINT) AS gn FROM gl),
                 cum AS (SELECT seg, bkt,
                                CAST(SUM(c) OVER (PARTITION BY seg
                                                  ORDER BY bkt) AS BIGINT)
                                  AS cc,
                                CAST(SUM(gc) OVER (PARTITION BY seg
                                                   ORDER BY bkt) AS BIGINT)
                                  AS cg
                         FROM grid),
                 emd AS (SELECT c1.seg,
                                CAST(SUM(CAST(round(abs(
                                         CAST(cc AS DOUBLE) / t.n
                                       - CAST(cg AS DOUBLE) / gtot.gn)
                                                    * 1000000000) AS BIGINT))
                                     AS BIGINT) AS s
                         FROM cum c1 JOIN tots t ON t.seg = c1.seg
                         CROSS JOIN gtot
                         WHERE bkt < 9 GROUP BY 1)
            SELECT emd.seg AS c_mktsegment, t.n,
                   round(CAST(s AS DOUBLE) / 9000000000.0, 6) AS t_closeness
            FROM emd JOIN tots t ON t.seg = emd.seg ORDER BY 1"""))

  // Lorenz curve by revenue decile — the inequality profile behind
  // agg_gini, materialized as the decile table an analyst actually reads.
  // The global rank runs bucket-partitioned (two-phase, broadcast
  // offsets) because the customer domain scales with volume — no
  // Exchange SinglePartition; the oracle keeps the plain global rank
  // ("top decile holds 17% of revenue"). Customer revenue rolls up in one
  // partial-aggregated shuffle (exact cents); deciles come from ONE global
  // row_number with a deterministic (rev, custkey) tie-break — the only
  // single-partition sort, over the already-aggregated per-customer
  // relation, which is |customers| rows, not |orders| (at 100 TB one
  // would range-repartition the rank; the decile rollup after it is 10
  // rows). Shares divide exact BIGINTs once, rounded 6.
  private val aggLorenz = Op(
    "agg_lorenz",
    (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_lz")
      // materialize the per-customer revenue once (guide §2.4): bkt
      // feeds both the in-bucket rank window and the bucket counts — the
      // inline spelling re-scanned orders 6x in the r18 before-plan.
      s.sql("""SELECT o_custkey,
                      CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                           AS BIGINT) AS rev
               FROM orders_lz GROUP BY 1""")
        .matCkpt(s, d).createOrReplaceTempView("r_lz")
      s.sql("""
        WITH bkt AS (SELECT o_custkey, rev, rev div 10000000 AS bu
                     FROM r_lz),
             win AS (SELECT rev, bu,
                            CAST(row_number() OVER (PARTITION BY bu
                              ORDER BY rev, o_custkey) AS BIGINT)
                              AS rin
                     FROM bkt),
             bt AS (SELECT bu, CAST(COUNT(*) AS BIGINT) AS c
                    FROM bkt GROUP BY 1),
             off AS (SELECT bu,
                            CAST(COALESCE(SUM(c) OVER (ORDER BY bu
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS BIGINT) AS o
                     FROM bt),
             nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM bt),
             rk AS (SELECT win.rev,
                           CAST(win.rin + off.o AS BIGINT) AS rn,
                           nn.n
                    FROM win JOIN off ON win.bu = off.bu
                    CROSS JOIN nn),
             dd AS (SELECT CAST(((rn - 1) * 10) div n AS BIGINT) AS decile,
                           rev
                    FROM rk),
             g AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_cust,
                          CAST(SUM(rev) AS BIGINT) AS drev
                   FROM dd GROUP BY 1),
             tot AS (SELECT CAST(SUM(drev) AS BIGINT) AS trev FROM g)
        SELECT decile, n_cust,
               round(CAST(drev AS DOUBLE) / trev, 6) AS rev_share,
               round(CAST(SUM(drev) OVER (ORDER BY decile) AS BIGINT)
                     / CAST(trev AS DOUBLE), 6) AS cum_share
        FROM g CROSS JOIN tot ORDER BY decile""")
    },
    Some("""WITH r AS (SELECT o_custkey,
                              CAST(SUM(CAST(round(o_totalprice * 100)
                                            AS BIGINT)) AS BIGINT) AS rev
                       FROM orders GROUP BY 1),
                 rk AS (SELECT rev,
                               CAST(row_number() OVER (ORDER BY rev,
                                                       o_custkey)
                                    AS BIGINT) AS rn,
                               CAST(count(*) OVER () AS BIGINT) AS n
                        FROM r),
                 dd AS (SELECT CAST(((rn - 1) * 10) // n AS BIGINT)
                                 AS decile,
                               rev
                        FROM rk),
                 g AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_cust,
                              CAST(SUM(rev) AS BIGINT) AS drev
                       FROM dd GROUP BY 1),
                 tot AS (SELECT CAST(SUM(drev) AS BIGINT) AS trev FROM g)
            SELECT decile, n_cust,
                   round(CAST(drev AS DOUBLE) / trev, 6) AS rev_share,
                   round(CAST(SUM(drev) OVER (ORDER BY decile) AS BIGINT)
                         / CAST(trev AS DOUBLE), 6) AS cum_share
            FROM g CROSS JOIN tot ORDER BY decile"""))

  // Relative Strength Index (Cutler's SMA variant, 14-period) — trailing
  // gain/loss balance per user. The lag-diff and the two frame sums share
  // ONE (user_id / ts) sort; gains and losses stay exact BIGINT cents, so
  // RSI = 100·Σgain/(Σgain+Σloss) divides exact ints once per row —
  // rounded on the 1e-4 grid (see window_bollinger's protocol) because
  // integer ratios hit terminating-decimal half boundaries. Flat frames
  // (no movement) pin to the conventional neutral 50.
  private val windowRsi = Op(
    "window_rsi",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_rsi")
      s.sql("""
        WITH e AS (SELECT user_id, event_id, ts,
                          CAST(round(value * 100) AS BIGINT) AS cents
                   FROM events_rsi WHERE user_id % 10 = 0),
             df AS (SELECT user_id, event_id, ts,
                           cents - lag(cents) OVER (PARTITION BY user_id
                                                    ORDER BY ts, event_id)
                             AS diff
                    FROM e),
             fr AS (SELECT user_id, event_id,
                           CAST(SUM(GREATEST(diff, 0)) OVER w AS BIGINT)
                             AS sg,
                           CAST(SUM(GREATEST(-diff, 0)) OVER w AS BIGINT)
                             AS sl,
                           CAST(COUNT(diff) OVER w AS BIGINT) AS nd
                    FROM df WHERE diff IS NOT NULL
                    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        SELECT user_id, event_id, nd,
               CASE WHEN sg + sl = 0 THEN 50.0D
                    ELSE CAST(round(1000000.0D * sg / (sg + sl)) AS BIGINT)
                         / 10000.0D END AS rsi
        FROM fr ORDER BY user_id, event_id""")
    },
    Some("""WITH e AS (SELECT user_id, event_id, ts,
                              CAST(round(value * 100) AS BIGINT) AS cents
                       FROM events WHERE user_id % 10 = 0),
                 df AS (SELECT user_id, event_id, ts,
                               cents - lag(cents)
                                 OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS diff
                        FROM e),
                 fr AS (SELECT user_id, event_id,
                               CAST(SUM(GREATEST(diff, 0)) OVER w AS BIGINT)
                                 AS sg,
                               CAST(SUM(GREATEST(-diff, 0)) OVER w AS BIGINT)
                                 AS sl,
                               CAST(COUNT(diff) OVER w AS BIGINT) AS nd
                        FROM df WHERE diff IS NOT NULL
                        WINDOW w AS (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS BETWEEN 13 PRECEDING
                                              AND CURRENT ROW))
            SELECT user_id, event_id, nd,
                   CASE WHEN sg + sl = 0 THEN 50.0
                        ELSE CAST(round(1000000.0 * sg / (sg + sl))
                                  AS BIGINT) / 10000.0 END AS rsi
            FROM fr ORDER BY user_id, event_id"""))

  // Inter-arrival time profile per event type — the traffic-shape
  // diagnostic (burstiness, dead-air gaps) run before sizing streaming
  // watermarks. One window lag per (user, type) stream, then a
  // partial-aggregated rollup of exact integer second gaps; the mean
  // rounds on the 1e-2 grid (integer-ratio half boundary, as in
  // window_bollinger).
  private val eventInterarrival = Op(
    "event_interarrival",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_ia")
      s.sql("""
        WITH s AS (SELECT user_id, event_type, ts, event_id,
                          lag(ts) OVER (PARTITION BY user_id, event_type
                                        ORDER BY ts, event_id) AS pts
                   FROM events_ia),
             dd AS (SELECT event_type,
                           unix_timestamp(ts) - unix_timestamp(pts) AS gap
                    FROM s WHERE pts IS NOT NULL)
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(gap) AS BIGINT) AS min_gap,
               CAST(MAX(gap) AS BIGINT) AS max_gap,
               CAST(round(CAST(SUM(gap) AS DOUBLE) * 100 / COUNT(*))
                    AS BIGINT) / 100.0D AS mean_gap
        FROM dd GROUP BY 1 ORDER BY 1""")
    },
    Some("""WITH s AS (SELECT user_id, event_type, ts, event_id,
                              lag(ts) OVER (PARTITION BY user_id, event_type
                                            ORDER BY ts, event_id) AS pts
                       FROM events),
                 dd AS (SELECT event_type,
                               CAST(floor(epoch(ts)) AS BIGINT)
                                 - CAST(floor(epoch(pts)) AS BIGINT) AS gap
                        FROM s WHERE pts IS NOT NULL)
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(MIN(gap) AS BIGINT) AS min_gap,
                   CAST(MAX(gap) AS BIGINT) AS max_gap,
                   CAST(round(CAST(SUM(gap) AS DOUBLE) * 100 / COUNT(*))
                        AS BIGINT) / 100.0 AS mean_gap
            FROM dd GROUP BY 1 ORDER BY 1"""))

  // Duplicate-key audit — multiplicity histogram of a CANDIDATE key the
  // synthetic data deliberately violates ((l_orderkey, l_linenumber) is
  // NOT unique here — the gotcha every detail query's ORDER BY works
  // around). Two partial-aggregated rollups: count per key, then key
  // count per multiplicity — the second input is one row per distinct
  // key, the output one row per multiplicity. The shape a DQ suite runs
  // before declaring a primary key.
  private val dqDuplicateKeys = Op(
    "dq_duplicate_keys",
    (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_dk")
      s.sql("""
        WITH k AS (SELECT l_orderkey, l_linenumber,
                          CAST(COUNT(*) AS BIGINT) AS c
                   FROM lineitem_dk GROUP BY 1, 2)
        SELECT c AS multiplicity, CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(c) AS BIGINT) AS n_rows
        FROM k GROUP BY c ORDER BY c""")
    },
    Some("""WITH k AS (SELECT l_orderkey, l_linenumber,
                              CAST(COUNT(*) AS BIGINT) AS c
                       FROM lineitem GROUP BY 1, 2)
            SELECT c AS multiplicity, CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(SUM(c) AS BIGINT) AS n_rows
            FROM k GROUP BY c ORDER BY c"""))

  // Cramér's V — the NORMALIZED effect size over a contingency table
  // (agg_chi_square reports raw χ², which grows with n; V ∈ [0,1] is the
  // comparable-across-datasets number). The table here crosses event_type
  // with a JSON-extracted property bucket — one scan with map-side JSON
  // pathing, a cells rollup bounded by the category product, and the χ²
  // terms quantized to 1e9 before the exact BIGINT sum.
  private val aggCramersV = Op(
    "agg_cramers_v",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_cv")
      s.sql("""
        WITH ct AS (SELECT event_type,
                           CAST(get_json_object(props, '$.k') AS BIGINT) % 4
                             AS kb,
                           CAST(COUNT(*) AS BIGINT) AS o
                    FROM events_cv GROUP BY 1, 2),
             rt AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r
                    FROM ct GROUP BY 1),
             cl AS (SELECT kb, CAST(SUM(o) AS BIGINT) AS c
                    FROM ct GROUP BY 1),
             n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM ct),
             chi AS (SELECT CAST(SUM(CAST(round(
                              (CAST(o AS DOUBLE) - CAST(r AS DOUBLE)*c/n.n)
                            * (CAST(o AS DOUBLE) - CAST(r AS DOUBLE)*c/n.n)
                            / (CAST(r AS DOUBLE)*c/n.n) * 1000000000)
                              AS BIGINT)) AS BIGINT) AS chi_q,
                            CAST(COUNT(DISTINCT event_type) AS BIGINT) AS nr,
                            CAST(COUNT(DISTINCT kb) AS BIGINT) AS nc,
                            MIN(n.n) AS n
                     FROM ct JOIN rt USING (event_type)
                             JOIN cl USING (kb) CROSS JOIN n)
        SELECT nr AS n_rows_cat, nc AS n_cols_cat,
               round(CAST(chi_q AS DOUBLE) / 1000000000.0D, 6) AS chi2,
               round(sqrt(CAST(chi_q AS DOUBLE) / 1000000000.0D
                          / (CAST(n AS DOUBLE) * (LEAST(nr, nc) - 1))), 6)
                 AS cramers_v
        FROM chi""")
    },
    Some("""WITH ct AS (SELECT event_type,
                               CAST(json_extract(props, '$.k') AS BIGINT) % 4
                                 AS kb,
                               CAST(COUNT(*) AS BIGINT) AS o
                        FROM events GROUP BY 1, 2),
                 rt AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r
                        FROM ct GROUP BY 1),
                 cl AS (SELECT kb, CAST(SUM(o) AS BIGINT) AS c
                        FROM ct GROUP BY 1),
                 n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM ct),
                 chi AS (SELECT CAST(SUM(CAST(round(
                                  (CAST(o AS DOUBLE) - CAST(r AS DOUBLE)*c/n.n)
                                * (CAST(o AS DOUBLE) - CAST(r AS DOUBLE)*c/n.n)
                                / (CAST(r AS DOUBLE)*c/n.n) * 1000000000)
                                  AS BIGINT)) AS BIGINT) AS chi_q,
                                CAST(COUNT(DISTINCT event_type) AS BIGINT)
                                  AS nr,
                                CAST(COUNT(DISTINCT kb) AS BIGINT) AS nc,
                                MIN(n.n) AS n
                         FROM ct JOIN rt USING (event_type)
                                 JOIN cl USING (kb) CROSS JOIN n)
            SELECT nr AS n_rows_cat, nc AS n_cols_cat,
                   round(CAST(chi_q AS DOUBLE) / 1000000000.0, 6) AS chi2,
                   round(sqrt(CAST(chi_q AS DOUBLE) / 1000000000.0
                              / (CAST(n AS DOUBLE) * (LEAST(nr, nc) - 1))),
                         6) AS cramers_v
            FROM chi"""))

  // Distance-to-centroid outlier scoring per embedding label — the cheap
  // mislabel/contamination screen run before training on a labeled
  // embedding corpus. Per-label centroids come from ONE posexplode rollup
  // ((label, dim) partial aggregates — 640 rows — collapsed to arrays and
  // broadcast back); distances are a map-side zip_with fold. Each distance
  // quantizes to 1e6 BEFORE the per-label moment sums, so the z-scores are
  // order-independent exactly like window_bollinger's bands. Top-20 by z
  // is a TakeOrdered, not a global sort.
  private val embOutlierDistance = Op(
    "emb_outlier_distance",
    (s, d) => {
      t(s, d, "embeddings")
        .selectExpr("vec_id", "label",
          "CAST(embedding AS ARRAY<DOUBLE>) AS va")
        .createOrReplaceTempView("emb_od")
      s.sql("""
        WITH cen AS (SELECT label, i, round(avg(x), 6) AS m
                     FROM (SELECT label, posexplode(va) AS (i, x)
                           FROM emb_od)
                     GROUP BY 1, 2),
             cl AS (SELECT label,
                           transform(array_sort(collect_list(
                             struct(i, m))), s -> s.m) AS cv
                    FROM cen GROUP BY 1),
             dq AS (SELECT vec_id, v.label,
                           CAST(round(sqrt(aggregate(zip_with(va, cv,
                                  (x, m) -> (x - m) * (x - m)),
                                0.0D, (acc, t) -> acc + t)) * 1000000)
                                AS BIGINT) AS dq
                    FROM emb_od v JOIN cl ON v.label = cl.label),
             st AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
                           CAST(SUM(dq) AS BIGINT) AS s1,
                           CAST(SUM(dq * dq) AS BIGINT) AS s2
                    FROM dq GROUP BY 1)
        SELECT vec_id, dq.label,
               round(dq / 1000000.0D, 4) AS dist,
               round((dq - CAST(s1 AS DOUBLE) / n)
                     / sqrt((CAST(s2 AS DOUBLE)
                             - CAST(s1 AS DOUBLE) * s1 / n) / n), 4) AS z
        FROM dq JOIN st ON dq.label = st.label
        ORDER BY z DESC, vec_id LIMIT 20""")
    },
    Some("""WITH v AS (SELECT vec_id, label,
                              CAST(embedding AS DOUBLE[]) AS va
                       FROM embeddings),
                 cen AS (SELECT label, i, round(avg(x), 6) AS m
                         FROM (SELECT label,
                                      unnest(range(len(va))) AS i,
                                      unnest(va) AS x
                               FROM v)
                         GROUP BY 1, 2),
                 cl AS (SELECT label, list(m ORDER BY i) AS cv
                        FROM cen GROUP BY 1),
                 dq AS (SELECT vec_id, v.label,
                               CAST(round(sqrt(list_sum(list_transform(
                                      range(len(va)),
                                      i -> (va[i+1] - cv[i+1])
                                         * (va[i+1] - cv[i+1]))))
                                          * 1000000) AS BIGINT) AS dq
                        FROM v JOIN cl ON v.label = cl.label),
                 st AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
                               CAST(SUM(dq) AS BIGINT) AS s1,
                               CAST(SUM(dq * dq) AS BIGINT) AS s2
                        FROM dq GROUP BY 1)
            SELECT vec_id, dq.label,
                   round(dq / 1000000.0, 4) AS dist,
                   round((dq - CAST(s1 AS DOUBLE) / n)
                         / sqrt((CAST(s2 AS DOUBLE)
                                 - CAST(s1 AS DOUBLE) * s1 / n) / n), 4)
                     AS z
            FROM dq JOIN st ON dq.label = st.label
            ORDER BY z DESC, vec_id LIMIT 20"""))

  // Bigram conditional entropy H(next | current) per language — the
  // sequence-level predictability score that separates natural text from
  // shuffled/templated filler (unigram entropy — text_entropy — can't:
  // it ignores order). Bigrams derive map-side from the token array (the
  // dedup_minhash shingle pattern, no self-join); the (lang, w1) marginal
  // reuses the (lang, bigram) rollup. Each −p·ln(p(w2|w1)) term quantizes
  // to 1e9 before the final exact sum.
  private val textBigramEntropy = Op(
    "text_bigram_entropy",
    (s, d) => {
      t(s, d, "documents").createOrReplaceTempView("docs_be")
      s.sql("""
        WITH toks AS (SELECT lang, split(lower(trim(text)), '\\s+') AS t
                      FROM docs_be),
             bg AS (SELECT lang, b
                    FROM toks
                    LATERAL VIEW explode(transform(sequence(1, size(t) - 1),
                      i -> concat(element_at(t, i), ' ',
                                  element_at(t, i + 1)))) AS b
                    WHERE size(t) >= 2),
             c12 AS (SELECT lang, b, CAST(COUNT(*) AS BIGINT) AS c
                     FROM bg GROUP BY 1, 2),
             c1 AS (SELECT lang, split(b, ' ')[0] AS w1,
                           CAST(SUM(c) AS BIGINT) AS c1
                    FROM c12 GROUP BY 1, 2),
             n AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n
                   FROM c12 GROUP BY 1),
             q AS (SELECT c12.lang,
                          CAST(round(CAST(c12.c AS DOUBLE) / n.n
                                     * ln(CAST(c1.c1 AS DOUBLE) / c12.c)
                                     * 1000000000) AS BIGINT) AS t
                   FROM c12 JOIN c1 ON c12.lang = c1.lang
                                   AND split(c12.b, ' ')[0] = c1.w1
                   JOIN n ON n.lang = c12.lang)
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               round(CAST(SUM(t) AS DOUBLE) / 1000000000.0D, 6)
                 AS cond_entropy
        FROM q GROUP BY 1 ORDER BY 1""")
    },
    Some("""WITH toks AS (SELECT lang,
                                 string_split_regex(lower(trim(text)),
                                                    '\s+') AS t
                          FROM documents),
                 bg AS (SELECT lang,
                               unnest(list_transform(range(1, len(t)),
                                 i -> t[i] || ' ' || t[i+1])) AS b
                        FROM toks WHERE len(t) >= 2),
                 c12 AS (SELECT lang, b, CAST(COUNT(*) AS BIGINT) AS c
                         FROM bg GROUP BY 1, 2),
                 c1 AS (SELECT lang, string_split(b, ' ')[1] AS w1,
                               CAST(SUM(c) AS BIGINT) AS c1
                        FROM c12 GROUP BY 1, 2),
                 n AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n
                       FROM c12 GROUP BY 1),
                 q AS (SELECT c12.lang,
                              CAST(round(CAST(c12.c AS DOUBLE) / n.n
                                       * ln(CAST(c1.c1 AS DOUBLE) / c12.c)
                                         * 1000000000) AS BIGINT) AS t
                       FROM c12 JOIN c1 ON c12.lang = c1.lang
                               AND string_split(c12.b, ' ')[1] = c1.w1
                       JOIN n ON n.lang = c12.lang)
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   round(CAST(SUM(t) AS DOUBLE) / 1000000000.0, 6)
                     AS cond_entropy
            FROM q GROUP BY 1 ORDER BY 1"""))

  // Cohort lifetime value — cumulative purchase revenue by signup-week
  // cohort over weeks-since-signup, the revenue companion to
  // agg_retention_cohort. ENTIRELY exact integer arithmetic: week indices
  // are epoch floor-divisions, revenue is BIGINT cents, and the running
  // total is a cumulative window over the (cohort, week) rollup — so the
  // oracle match is exact with NO rounding protocol at all. Shuffles: the
  // per-user min (partial-aggregated), one broadcast-able join back, the
  // (cohort, week) rollup, and a window over the tiny rollup.
  private val aggCohortLtv = Op(
    "agg_cohort_ltv",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_ltv")
      s.sql("""
        WITH fu AS (SELECT user_id,
                           CAST(MIN(unix_timestamp(ts) div 604800)
                                AS BIGINT) AS cw
                    FROM events_ltv GROUP BY 1),
             p AS (SELECT fu.cw,
                          CAST(unix_timestamp(e.ts) div 604800 AS BIGINT)
                            - fu.cw AS ws,
                          CAST(round(e.value * 100) AS BIGINT) AS cents
                   FROM events_ltv e JOIN fu ON e.user_id = fu.user_id
                   WHERE e.event_type = 'purchase'),
             g AS (SELECT cw, ws, CAST(SUM(cents) AS BIGINT) AS rev
                   FROM p GROUP BY 1, 2)
        SELECT cw AS cohort_week, ws AS weeks_since, rev,
               CAST(SUM(rev) OVER (PARTITION BY cw ORDER BY ws) AS BIGINT)
                 AS cum_rev
        FROM g ORDER BY cohort_week, weeks_since""")
    },
    Some("""WITH fu AS (SELECT user_id,
                               CAST(MIN(CAST(floor(epoch(ts)) AS BIGINT)
                                        // 604800) AS BIGINT) AS cw
                        FROM events GROUP BY 1),
                 p AS (SELECT fu.cw,
                              CAST(floor(epoch(e.ts)) AS BIGINT) // 604800
                                - fu.cw AS ws,
                              CAST(round(e.value * 100) AS BIGINT) AS cents
                       FROM events e JOIN fu ON e.user_id = fu.user_id
                       WHERE e.event_type = 'purchase'),
                 g AS (SELECT cw, ws, CAST(SUM(cents) AS BIGINT) AS rev
                       FROM p GROUP BY 1, 2)
            SELECT cw AS cohort_week, ws AS weeks_since, rev,
                   CAST(SUM(rev) OVER (PARTITION BY cw ORDER BY ws)
                        AS BIGINT) AS cum_rev
            FROM g ORDER BY cohort_week, weeks_since"""))

  // Seasonal-naive forecast error — MAE and sMAPE of the "same hour
  // yesterday" baseline over per-type hourly counts: the first number a
  // forecasting effort must beat, and the capacity-planning sanity check.
  // The hourly rollup is one partial-aggregated shuffle; the lag-24 pairing
  // is an equi-join on (type, hr−24) — hash join, no window over a sparse
  // hour axis. Counts are exact ints; MAE rounds on the 1e-4 grid and each
  // sMAPE term quantizes to 1e9 before its exact sum.
  private val resampleForecastNaive = Op(
    "resample_forecast_naive",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_fc")
      s.sql("""
        WITH h AS (SELECT event_type,
                          CAST(unix_timestamp(ts) div 3600 AS BIGINT) AS hr,
                          CAST(COUNT(*) AS BIGINT) AS c
                   FROM events_fc GROUP BY 1, 2),
             l AS (SELECT a.event_type, a.c, b.c AS p
                   FROM h a JOIN h b ON a.event_type = b.event_type
                                    AND b.hr = a.hr - 24),
             q AS (SELECT event_type, abs(c - p) AS ae,
                          CAST(round(2.0D * abs(c - p) / (c + p)
                                     * 1000000000) AS BIGINT) AS sm
                   FROM l)
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
               CAST(round(CAST(SUM(ae) AS DOUBLE) * 10000 / COUNT(*))
                    AS BIGINT) / 10000.0D AS mae,
               round(CAST(SUM(sm) AS DOUBLE) / COUNT(*) / 1000000000.0D, 6)
                 AS smape
        FROM q GROUP BY 1 ORDER BY 1""")
    },
    Some("""WITH h AS (SELECT event_type,
                              CAST(floor(epoch(ts)) AS BIGINT) // 3600
                                AS hr,
                              CAST(COUNT(*) AS BIGINT) AS c
                       FROM events GROUP BY 1, 2),
                 l AS (SELECT a.event_type, a.c, b.c AS p
                       FROM h a JOIN h b ON a.event_type = b.event_type
                                        AND b.hr = a.hr - 24),
                 q AS (SELECT event_type, abs(c - p) AS ae,
                              CAST(round(2.0 * abs(c - p) / (c + p)
                                         * 1000000000) AS BIGINT) AS sm
                       FROM l)
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
                   CAST(round(CAST(SUM(ae) AS DOUBLE) * 10000 / COUNT(*))
                        AS BIGINT) / 10000.0 AS mae,
                   round(CAST(SUM(sm) AS DOUBLE) / COUNT(*)
                         / 1000000000.0, 6) AS smape
            FROM q GROUP BY 1 ORDER BY 1"""))

  // Rate-spike detection — hours whose event count exceeds the trailing
  // 24-observed-hour mean + 3σ, per type: the batch analog of a streaming
  // alerting rule (and the query you run to backfill one). Same exact
  // integer frame-accumulator discipline as window_bollinger, over the
  // hourly rollup instead of raw events — the window input is |hours|
  // rows, so the per-type sort is trivial at any corpus size. Warm-up
  // frames (< 12 observations) are excluded rather than alerted on.
  private val eventSpikeDetect = Op(
    "event_spike_detect",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_sp")
      s.sql("""
        WITH h AS (SELECT event_type,
                          CAST(unix_timestamp(ts) div 3600 AS BIGINT) AS hr,
                          CAST(COUNT(*) AS BIGINT) AS c
                   FROM events_sp GROUP BY 1, 2),
             w AS (SELECT event_type, hr, c,
                          CAST(COUNT(*) OVER fr AS BIGINT) AS n,
                          CAST(SUM(c) OVER fr AS BIGINT) AS s1,
                          CAST(SUM(c * c) OVER fr AS BIGINT) AS s2
                   FROM h
                   WINDOW fr AS (PARTITION BY event_type ORDER BY hr
                                 ROWS BETWEEN 24 PRECEDING
                                          AND 1 PRECEDING))
        SELECT event_type, hr, c,
               CAST(round(CAST(s1 AS DOUBLE) * 10000 / n) AS BIGINT)
                 / 10000.0D AS base_mean
        FROM w
        WHERE n >= 12
          AND CAST(c AS DOUBLE) > CAST(s1 AS DOUBLE) / n
                + 3 * sqrt((CAST(s2 AS DOUBLE)
                            - CAST(s1 AS DOUBLE) * s1 / n) / n)
        ORDER BY event_type, hr""")
    },
    Some("""WITH h AS (SELECT event_type,
                              CAST(floor(epoch(ts)) AS BIGINT) // 3600
                                AS hr,
                              CAST(COUNT(*) AS BIGINT) AS c
                       FROM events GROUP BY 1, 2),
                 w AS (SELECT event_type, hr, c,
                              CAST(COUNT(*) OVER fr AS BIGINT) AS n,
                              CAST(SUM(c) OVER fr AS BIGINT) AS s1,
                              CAST(SUM(c * c) OVER fr AS BIGINT) AS s2
                       FROM h
                       WINDOW fr AS (PARTITION BY event_type ORDER BY hr
                                     ROWS BETWEEN 24 PRECEDING
                                              AND 1 PRECEDING))
            SELECT event_type, hr, c,
                   CAST(round(CAST(s1 AS DOUBLE) * 10000 / n) AS BIGINT)
                     / 10000.0 AS base_mean
            FROM w
            WHERE n >= 12
              AND CAST(c AS DOUBLE) > CAST(s1 AS DOUBLE) / n
                    + 3 * sqrt((CAST(s2 AS DOUBLE)
                                - CAST(s1 AS DOUBLE) * s1 / n) / n)
            ORDER BY event_type, hr"""))

  // Longest monotone-up streak per user — the gaps-and-islands run-length
  // idiom (row_number − cumulative-flag-sum groups consecutive ups), the
  // shape behind "N consecutive increases" alerts. Everything after the
  // single (user_id / ts) window sort is exact integer arithmetic; the
  // run rollup and per-user max partial-aggregate. ONE shuffle total —
  // all three windows share the user_id partitioning.
  private val windowStreak = Op(
    "window_streak",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_st")
      s.sql("""
        WITH e AS (SELECT user_id, event_id, ts,
                          CAST(round(value * 100) AS BIGINT) AS cents
                   FROM events_st WHERE user_id % 10 = 0),
             df AS (SELECT user_id, event_id, ts,
                           CASE WHEN cents > lag(cents) OVER w
                                THEN 1 ELSE 0 END AS up
                    FROM e
                    WINDOW w AS (PARTITION BY user_id
                                 ORDER BY ts, event_id)),
             gr AS (SELECT user_id, up,
                           CAST(row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS BIGINT)
                         - CAST(SUM(up) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS BIGINT) AS grp
                    FROM df),
             runs AS (SELECT user_id, grp, CAST(SUM(up) AS BIGINT) AS len
                      FROM gr WHERE up = 1 GROUP BY 1, 2)
        SELECT user_id, CAST(MAX(len) AS BIGINT) AS longest_up_streak,
               CAST(COUNT(*) AS BIGINT) AS n_runs
        FROM runs GROUP BY 1 ORDER BY 1""")
    },
    Some("""WITH e AS (SELECT user_id, event_id, ts,
                              CAST(round(value * 100) AS BIGINT) AS cents
                       FROM events WHERE user_id % 10 = 0),
                 df AS (SELECT user_id, event_id, ts,
                               CASE WHEN cents > lag(cents) OVER w
                                    THEN 1 ELSE 0 END AS up
                        FROM e
                        WINDOW w AS (PARTITION BY user_id
                                     ORDER BY ts, event_id)),
                 gr AS (SELECT user_id, up,
                               CAST(row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS BIGINT)
                             - CAST(SUM(up) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS BIGINT)
                                 AS grp
                        FROM df),
                 runs AS (SELECT user_id, grp,
                                 CAST(SUM(up) AS BIGINT) AS len
                          FROM gr WHERE up = 1 GROUP BY 1, 2)
            SELECT user_id, CAST(MAX(len) AS BIGINT) AS longest_up_streak,
                   CAST(COUNT(*) AS BIGINT) AS n_runs
            FROM runs GROUP BY 1 ORDER BY 1"""))

  // Source-pair vocabulary overlap (Jaccard) — the corpus-curation matrix
  // that decides which sources are redundant before mixing weights
  // (corpus_mix) are assigned. Candidate pairs come from the SHARED-WORD
  // equi-join over the distinct (source, word) relation — work scales with
  // Σ_word df(word)², the dedup_ngram_jaccard shape, never |sources|²
  // scans of the corpus. Intersections and vocab sizes are exact ints.
  private val corpusSourceOverlap = Op(
    "corpus_source_overlap",
    (s, d) => {
      t(s, d, "documents").createOrReplaceTempView("docs_so")
      s.sql("""
        WITH w AS (SELECT DISTINCT source, w AS word
                   FROM docs_so
                   LATERAL VIEW explode(split(lower(trim(text)), '\\s+'))
                     AS w),
             sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS v
                    FROM w GROUP BY 1),
             inter AS (SELECT a.source AS s1, b.source AS s2,
                              CAST(COUNT(*) AS BIGINT) AS i
                       FROM w a JOIN w b ON a.word = b.word
                                        AND a.source < b.source
                       GROUP BY 1, 2)
        SELECT s1, s2, i, x.v AS v1, y.v AS v2,
               round(CAST(i AS DOUBLE) / (x.v + y.v - i), 6) AS jaccard
        FROM inter JOIN sz x ON x.source = s1
                   JOIN sz y ON y.source = s2
        ORDER BY s1, s2""")
    },
    Some("""WITH w AS (SELECT DISTINCT source,
                              unnest(string_split_regex(lower(trim(text)),
                                                        '\s+')) AS word
                       FROM documents),
                 sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS v
                        FROM w GROUP BY 1),
                 inter AS (SELECT a.source AS s1, b.source AS s2,
                                  CAST(COUNT(*) AS BIGINT) AS i
                           FROM w a JOIN w b ON a.word = b.word
                                            AND a.source < b.source
                           GROUP BY 1, 2)
            SELECT s1, s2, i, x.v AS v1, y.v AS v2,
                   round(CAST(i AS DOUBLE) / (x.v + y.v - i), 6) AS jaccard
            FROM inter JOIN sz x ON x.source = s1
                       JOIN sz y ON y.source = s2
            ORDER BY s1, s2"""))

  // Fano factor (index of dispersion) of hourly arrival counts per event
  // type — variance/mean of a Poisson process is 1, so F≫1 quantifies
  // burstiness and F<1 regularity; the number that justifies (or kills)
  // a Poisson capacity model before event_spike_detect thresholds are
  // trusted. Two partial-aggregated rollups over exact integer moments;
  // one double division at the boundary.
  private val eventBurstiness = Op(
    "event_burstiness",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_bf")
      s.sql("""
        WITH h AS (SELECT event_type,
                          CAST(unix_timestamp(ts) div 3600 AS BIGINT) AS hr,
                          CAST(COUNT(*) AS BIGINT) AS c
                   FROM events_bf GROUP BY 1, 2),
             m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(c) AS BIGINT) AS s1,
                          CAST(SUM(c * c) AS BIGINT) AS s2
                   FROM h GROUP BY 1)
        SELECT event_type, n,
               round((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / n
                     / (CAST(s1 AS DOUBLE) / n), 6) AS fano
        FROM m ORDER BY 1""")
    },
    Some("""WITH h AS (SELECT event_type,
                              CAST(floor(epoch(ts)) AS BIGINT) // 3600
                                AS hr,
                              CAST(COUNT(*) AS BIGINT) AS c
                       FROM events GROUP BY 1, 2),
                 m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(SUM(c) AS BIGINT) AS s1,
                              CAST(SUM(c * c) AS BIGINT) AS s2
                       FROM h GROUP BY 1)
            SELECT event_type, n,
                   round((CAST(s2 AS DOUBLE)
                          - CAST(s1 AS DOUBLE) * s1 / n) / n
                         / (CAST(s1 AS DOUBLE) / n), 6) AS fano
            FROM m ORDER BY 1"""))

  // Per-source Jensen–Shannon divergence against the corpus-wide unigram
  // distribution — the upweight/downweight signal for corpus mixing (a
  // source whose word distribution diverges is either a valuable domain
  // or junk; either way it is the one to look at). Full JSD: terms for
  // words PRESENT in the source come from the (source, word) rollup
  // joined to the global marginal; the mass of corpus words ABSENT from
  // the source contributes its exact closed form (q·ln 2 per missing
  // word ⇒ (1 − Σq_present)·ln 2 in total) — no densified grid needed.
  // All counts exact; every term 1e9-quantized before summation.
  private val corpusSourceDivergence = Op(
    "corpus_source_divergence",
    (s, d) => {
      t(s, d, "documents").createOrReplaceTempView("docs_sv")
      s.sql("""
        WITH w AS (SELECT source, w AS word
                   FROM docs_sv
                   LATERAL VIEW explode(split(lower(trim(text)), '\\s+'))
                     AS w),
             sc AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
                    FROM w GROUP BY 1, 2),
             st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
                    FROM sc GROUP BY 1),
             gc AS (SELECT word, CAST(SUM(c) AS BIGINT) AS g
                    FROM sc GROUP BY 1),
             gt AS (SELECT CAST(SUM(g) AS BIGINT) AS gn FROM gc),
             terms AS (SELECT sc.source,
                              CAST(sc.c AS DOUBLE) / st.n AS p,
                              CAST(gc.g AS DOUBLE) / gt.gn AS q
                       FROM sc JOIN st USING (source)
                               JOIN gc USING (word) CROSS JOIN gt),
             qs AS (SELECT source,
                           CAST(round(p * ln(2 * p / (p + q)) * 1000000000)
                                AS BIGINT) AS tp,
                           CAST(round(q * ln(2 * q / (p + q)) * 1000000000)
                                AS BIGINT) AS tq,
                           CAST(round(q * 1000000000) AS BIGINT) AS qq
                    FROM terms)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
               round((CAST(SUM(tp) AS DOUBLE) + SUM(tq)
                      + (1000000000 - SUM(qq)) * ln(2.0D))
                     / 2000000000.0D, 6) AS jsd_vs_corpus
        FROM qs GROUP BY 1 ORDER BY 1""")
    },
    Some("""WITH w AS (SELECT source,
                              unnest(string_split_regex(lower(trim(text)),
                                                        '\s+')) AS word
                       FROM documents),
                 sc AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
                        FROM w GROUP BY 1, 2),
                 st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
                        FROM sc GROUP BY 1),
                 gc AS (SELECT word, CAST(SUM(c) AS BIGINT) AS g
                        FROM sc GROUP BY 1),
                 gt AS (SELECT CAST(SUM(g) AS BIGINT) AS gn FROM gc),
                 terms AS (SELECT sc.source,
                                  CAST(sc.c AS DOUBLE) / st.n AS p,
                                  CAST(gc.g AS DOUBLE) / gt.gn AS q
                           FROM sc JOIN st USING (source)
                                   JOIN gc USING (word) CROSS JOIN gt),
                 qs AS (SELECT source,
                               CAST(round(p * ln(2 * p / (p + q))
                                          * 1000000000) AS BIGINT) AS tp,
                               CAST(round(q * ln(2 * q / (p + q))
                                          * 1000000000) AS BIGINT) AS tq,
                               CAST(round(q * 1000000000) AS BIGINT) AS qq
                        FROM terms)
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
                   round((CAST(SUM(tp) AS DOUBLE) + SUM(tq)
                          + (1000000000 - SUM(qq)) * ln(2.0))
                         / 2000000000.0, 6) AS jsd_vs_corpus
            FROM qs GROUP BY 1 ORDER BY 1"""))

  // Wald–Wolfowitz runs test per user — is the above/below-median
  // sequence of a user's values random, or does it trend/oscillate?
  // (|z| > 1.96 rejects randomness; the behavioral-bot screen.) The
  // median is the exact global inverse-CDF (value-domain collapse, as in
  // agg_winsorized_mean); runs count via the lag-compare flag sum; n₁/n₂/R
  // are exact ints and the normal-approximation z is one double formula,
  // rounded 6.
  private val aggRunsTest = Op(
    "agg_runs_test",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_rt")
      s.sql("""
        WITH g AS (SELECT CAST(round(value * 100) AS BIGINT) AS x,
                          CAST(COUNT(*) AS BIGINT) AS cnt
                   FROM events_rt GROUP BY 1),
             c AS (SELECT x, CAST(SUM(cnt) OVER (ORDER BY x) AS BIGINT)
                             AS cum
                   FROM g),
             nn AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM g),
             med AS (SELECT MIN(CASE WHEN cum * 2 >= nn.n THEN x END)
                              AS med
                     FROM c CROSS JOIN nn),
             b AS (SELECT user_id, ts, event_id,
                          CASE WHEN CAST(round(value * 100) AS BIGINT)
                                    > med THEN 1 ELSE 0 END AS hi
                   FROM events_rt CROSS JOIN med
                   WHERE user_id % 10 = 0),
             fl AS (SELECT user_id, hi,
                           CASE WHEN lag(hi) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) IS NULL
                                  OR lag(hi) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) <> hi
                                THEN 1 ELSE 0 END AS brk
                    FROM b),
             m AS (SELECT user_id,
                          CAST(SUM(hi) AS BIGINT) AS n1,
                          CAST(SUM(1 - hi) AS BIGINT) AS n2,
                          CAST(SUM(brk) AS BIGINT) AS r
                   FROM fl GROUP BY 1)
        SELECT user_id, n1, n2, r,
               round((r - (2.0D * n1 * n2 / (n1 + n2) + 1))
                     / sqrt(2.0D * n1 * n2 * (2.0D * n1 * n2 - n1 - n2)
                            / ((n1 + n2) * (n1 + n2)
                               * CAST(n1 + n2 - 1 AS DOUBLE))), 6) AS z
        FROM m WHERE n1 > 0 AND n2 > 0 ORDER BY user_id""")
    },
    Some("""WITH g AS (SELECT CAST(round(value * 100) AS BIGINT) AS x,
                              CAST(COUNT(*) AS BIGINT) AS cnt
                       FROM events GROUP BY 1),
                 c AS (SELECT x, CAST(SUM(cnt) OVER (ORDER BY x) AS BIGINT)
                                 AS cum
                       FROM g),
                 nn AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM g),
                 med AS (SELECT MIN(CASE WHEN cum * 2 >= nn.n THEN x END)
                                  AS med
                         FROM c CROSS JOIN nn),
                 b AS (SELECT user_id, ts, event_id,
                              CASE WHEN CAST(round(value * 100) AS BIGINT)
                                        > med THEN 1 ELSE 0 END AS hi
                       FROM events CROSS JOIN med
                       WHERE user_id % 10 = 0),
                 fl AS (SELECT user_id, hi,
                               CASE WHEN lag(hi) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) IS NULL
                                      OR lag(hi) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) <> hi
                                    THEN 1 ELSE 0 END AS brk
                        FROM b),
                 m AS (SELECT user_id,
                              CAST(SUM(hi) AS BIGINT) AS n1,
                              CAST(SUM(1 - hi) AS BIGINT) AS n2,
                              CAST(SUM(brk) AS BIGINT) AS r
                       FROM fl GROUP BY 1)
            SELECT user_id, n1, n2, r,
                   round((r - (2.0 * n1 * n2 / (n1 + n2) + 1))
                         / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                                / ((n1 + n2) * (n1 + n2)
                                   * CAST(n1 + n2 - 1 AS DOUBLE))), 6)
                     AS z
            FROM m WHERE n1 > 0 AND n2 > 0 ORDER BY user_id"""))

  // Offline binary change-point per event type — the split of the daily
  // count series that maximizes the between-segment variance reduction
  // (the first step of binary-segmentation / offline CUSUM), i.e. "when
  // did the regime change", where event_spike_detect / window_cusum only
  // flag points online. Scored on the DAY DOMAIN: one rollup bounds the
  // candidate set to |days| rows per type, the split statistic
  // (n·Sₖ − k·Sₙ)²/(k(n−k)) stays BIGINT-exact in the numerator and is
  // quantized to 1e-3 before the per-type argmax (the stump-split
  // discipline), so the winner is engine-independent; windows are
  // partitioned by type over the bounded day relation.
  private val aggChangepointBinary = Op(
    "agg_changepoint_binary",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_cp")
      s.sql("""
        WITH dc AS (SELECT event_type,
                           CAST(unix_timestamp(ts) div 86400 AS BIGINT)
                             AS day,
                           CAST(COUNT(*) AS BIGINT) AS c
                    FROM events_cp GROUP BY 1, 2),
             ix AS (SELECT event_type, day, c,
                           CAST(ROW_NUMBER() OVER (
                                  PARTITION BY event_type ORDER BY day)
                                AS BIGINT) AS k,
                           CAST(SUM(c) OVER (
                                  PARTITION BY event_type ORDER BY day)
                                AS BIGINT) AS s
                    FROM dc),
             tt AS (SELECT event_type, CAST(MAX(k) AS BIGINT) AS n,
                           CAST(MAX(s) AS BIGINT) AS st
                    FROM ix GROUP BY 1),
             sc AS (SELECT i.event_type, i.day, i.k, i.s, t.n, t.st,
                           t.n * i.s - i.k * t.st AS num,
                           i.k * (t.n - i.k) AS den
                    FROM ix i JOIN tt t
                      ON i.event_type = t.event_type
                    WHERE i.k < t.n),
             q AS (SELECT event_type, day, k, s, n, st,
                          CAST(round(CAST(num AS DOUBLE) * num / den
                                     * 1000) AS BIGINT) AS score_q
                   FROM sc),
             r AS (SELECT *, ROW_NUMBER() OVER (
                               PARTITION BY event_type
                               ORDER BY score_q DESC, day) AS rn
                   FROM q)
        SELECT event_type, n AS n_days, day AS change_epoch_day,
               round(CAST(s AS DOUBLE) / k, 4) AS mean_before,
               round(CAST(st - s AS DOUBLE) / (n - k), 4) AS mean_after,
               round(score_q / 1000.0D, 3) AS split_score
        FROM r WHERE rn = 1 ORDER BY event_type""")
    },
    Some("""WITH dc AS (SELECT event_type,
                               CAST(floor(epoch(ts)) AS BIGINT) // 86400
                                 AS day,
                               CAST(COUNT(*) AS BIGINT) AS c
                        FROM events GROUP BY 1, 2),
                 ix AS (SELECT event_type, day, c,
                               CAST(ROW_NUMBER() OVER (
                                      PARTITION BY event_type
                                      ORDER BY day) AS BIGINT) AS k,
                               CAST(SUM(c) OVER (
                                      PARTITION BY event_type
                                      ORDER BY day) AS BIGINT) AS s
                        FROM dc),
                 tt AS (SELECT event_type, CAST(MAX(k) AS BIGINT) AS n,
                               CAST(MAX(s) AS BIGINT) AS st
                        FROM ix GROUP BY 1),
                 sc AS (SELECT i.event_type, i.day, i.k, i.s, t.n,
                               t.st,
                               t.n * i.s - i.k * t.st AS num,
                               i.k * (t.n - i.k) AS den
                        FROM ix i JOIN tt t
                          ON i.event_type = t.event_type
                        WHERE i.k < t.n),
                 q AS (SELECT event_type, day, k, s, n, st,
                              CAST(round(CAST(num AS DOUBLE) * num
                                         / den * 1000) AS BIGINT)
                                AS score_q
                       FROM sc),
                 r AS (SELECT *, ROW_NUMBER() OVER (
                                   PARTITION BY event_type
                                   ORDER BY score_q DESC, day) AS rn
                       FROM q)
            SELECT event_type, n AS n_days, day AS change_epoch_day,
                   round(CAST(s AS DOUBLE) / k, 4) AS mean_before,
                   round(CAST(st - s AS DOUBLE) / (n - k), 4)
                     AS mean_after,
                   round(score_q / 1000.0, 3) AS split_score
            FROM r WHERE rn = 1 ORDER BY event_type"""))

  val ops: Seq[Op] =
    Seq(aggChangepointBinary,
      aggHhi, aggSpearman, windowBollinger, aggCircularMean,
      eventCooccurrence, textSimpsonDiversity, aggJsDivergence,
      privacyTcloseness, aggLorenz, windowRsi, eventInterarrival,
      dqDuplicateKeys, aggCramersV, embOutlierDistance, textBigramEntropy,
      aggCohortLtv, resampleForecastNaive, eventSpikeDetect, windowStreak,
      corpusSourceOverlap, eventBurstiness, corpusSourceDivergence,
      aggRunsTest)
}
