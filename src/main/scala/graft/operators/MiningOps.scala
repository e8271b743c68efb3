package graft.operators

import graft.Mats.MatOps
import graft.{Op, Tables}
import org.apache.spark.sql.SparkSession

/** Round-8 continuation batch 2: data-mining operators — association
  * rules, time-series decomposition, chart decimation, hard-example
  * mining, and single-feature split search. Same engine-determinism
  * protocol as the rest of the registry (core.scala): exact BIGINT sums
  * via per-row quantization, fixed IEEE expressions for the float step,
  * total ORDER BY with key tie-breaks.
  */
object MiningOps {
  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  // Market-basket association over order contents — support / confidence /
  // lift for part pairs co-purchased in one order (the item-granularity
  // sibling of event_cooccurrence's user-level lift). Pair generation is
  // the basket-ARRAY expansion (the graph_triangles trick): one shuffle
  // collects each order's sorted part set (bounded by basket size ≈4),
  // pairs explode MAP-SIDE with i<j, and the pair counts partial-aggregate
  // — no second shuffle of the basket relation, where the naive self-join
  // on the order key shuffles it twice. Per-order work stays quadratic in
  // basket size, never in catalog size; hot parts cost nothing. Exact
  // integer counts; three ratios in one fixed float expression; top-20 by
  // count heaps via TakeOrderedAndProject. The oracle keeps the self-join
  // spelling — identical pairs, independently derived.
  private val aggMarketBasket = Op(
    "agg_market_basket",
    (s, d) => {
      import org.apache.spark.sql.functions._
      // cached: the basket relation feeds three branches (order count,
      // per-item counts, pair counts) — a CTE would inline and replay the
      // 600 k-row collect_set shuffle three times
      val ba = t(s, d, "lineitem")
        .groupBy(col("l_orderkey").as("ok"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .trackedCache()
      val n = ba.agg(count(lit(1)).cast("long").as("n_orders"))
      val ic = ba.select(explode(col("ps")).as("pk"))
        .groupBy("pk").agg(count(lit(1)).cast("long").as("c"))
      ba.select(col("ps")).createOrReplaceTempView("baskets_mb")
      s.sql("""
        SELECT pa, pb, CAST(COUNT(*) AS BIGINT) AS c_ab
        FROM baskets_mb
        LATERAL VIEW posexplode(ps) a AS i, pa
        LATERAL VIEW posexplode(ps) b AS j, pb
        WHERE i < j GROUP BY 1, 2""").createOrReplaceTempView("pairs_mb")
      ic.createOrReplaceTempView("ic_mb")
      n.createOrReplaceTempView("n_mb")
      val out = s.sql("""
        SELECT pr.pa, pr.pb, pr.c_ab,
               round(CAST(pr.c_ab AS DOUBLE) / n.n_orders, 6) AS support,
               round(CAST(pr.c_ab AS DOUBLE) / ia.c, 6) AS confidence,
               round(CAST(pr.c_ab AS DOUBLE) * n.n_orders
                     / (CAST(ia.c AS DOUBLE) * ib.c), 6) AS lift
        FROM pairs_mb pr JOIN ic_mb ia ON pr.pa = ia.pk
                JOIN ic_mb ib ON pr.pb = ib.pk
                CROSS JOIN n_mb n
        ORDER BY pr.c_ab DESC, pr.pa, pr.pb LIMIT 20""")
      // the basket cache is tracked: Mats.release frees it at the key
      // boundary, so no eager 20-row checkpoint job is needed to let it
      // be unpersisted before the result is consumed (r18 paid an extra
      // full materialization here just to unpersist early)
      out
    },
    Some("""WITH bk AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                        FROM lineitem),
                 n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT)
                                AS n_orders FROM bk),
                 ic AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS c FROM bk
                        GROUP BY 1),
                 pr AS (SELECT a.pk AS pa, b.pk AS pb,
                               CAST(COUNT(*) AS BIGINT) AS c_ab
                        FROM bk a JOIN bk b
                          ON a.ok = b.ok AND a.pk < b.pk
                        GROUP BY 1, 2)
            SELECT pr.pa, pr.pb, pr.c_ab,
                   round(CAST(pr.c_ab AS DOUBLE) / n.n_orders, 6)
                     AS support,
                   round(CAST(pr.c_ab AS DOUBLE) / ia.c, 6) AS confidence,
                   round(CAST(pr.c_ab AS DOUBLE) * n.n_orders
                         / (CAST(ia.c AS DOUBLE) * ib.c), 6) AS lift
            FROM pr JOIN ic ia ON pr.pa = ia.pk
                    JOIN ic ib ON pr.pb = ib.pk
                    CROSS JOIN n
            ORDER BY pr.c_ab DESC, pr.pa, pr.pb LIMIT 20"""))

  // Min/max downsampling (chart decimation) — per (type, hour) bucket keep
  // exactly the extreme rows, the lossless-envelope reduction a plotting
  // front-end requests instead of raw points. Both ranks ride ONE
  // (type, hour) partitioning (two in-partition sorts); ties break on
  // event_id so the kept row is engine-unique. Output is 2 rows per
  // bucket — bounded by the time range, not the data volume.
  private val resampleMinmaxDecimate = Op(
    "resample_minmax_decimate",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_dc")
      s.sql("""
        WITH b AS (SELECT event_type, event_id,
                          unix_timestamp(ts) div 3600 AS hr,
                          CAST(round(value * 100) AS BIGINT) AS xc
                   FROM events_dc),
             r AS (SELECT event_type, hr, event_id, xc,
                          ROW_NUMBER() OVER (PARTITION BY event_type, hr
                            ORDER BY xc, event_id) AS rlo,
                          ROW_NUMBER() OVER (PARTITION BY event_type, hr
                            ORDER BY xc DESC, event_id) AS rhi
                   FROM b)
        SELECT event_type, hr AS hour_idx,
               CASE WHEN rlo = 1 THEN 'min' ELSE 'max' END AS kind,
               event_id, CAST(xc AS DOUBLE) / 100.0D AS value_usd
        FROM r WHERE rlo = 1 OR rhi = 1
        ORDER BY event_type, hour_idx, kind, event_id""")
    },
    Some("""WITH b AS (SELECT event_type, event_id,
                              CAST(floor(epoch(ts)) AS BIGINT) // 3600
                                AS hr,
                              CAST(round(value * 100) AS BIGINT) AS xc
                       FROM events),
                 r AS (SELECT event_type, hr, event_id, xc,
                              ROW_NUMBER() OVER (PARTITION BY event_type,
                                hr ORDER BY xc, event_id) AS rlo,
                              ROW_NUMBER() OVER (PARTITION BY event_type,
                                hr ORDER BY xc DESC, event_id) AS rhi
                       FROM b)
            SELECT event_type, hr AS hour_idx,
                   CASE WHEN rlo = 1 THEN 'min' ELSE 'max' END AS kind,
                   event_id, CAST(xc AS DOUBLE) / 100.0 AS value_usd
            FROM r WHERE rlo = 1 OR rhi = 1
            ORDER BY event_type, hour_idx, kind, event_id"""))

  // Classical additive seasonal decomposition of hourly traffic — the
  // hour-of-day seasonal profile after removing a centered 24-hour
  // moving-average trend (resample_seasonality's by-bucket means WITHOUT
  // detrending conflate trend with season; this is the textbook fix).
  // ENTIRELY integer until the last division: the detrended value scaled
  // by 24 is (24·cnt − Σ₂₄cnt), an exact BIGINT, summed per hour-of-day
  // and divided once — engine-identical with no quantization needed. The
  // hourly rollup bounds everything downstream by the time range.
  private val resampleSeasonalDecompose = Op(
    "resample_seasonal_decompose",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_sd")
      s.sql("""
        WITH hc AS (SELECT event_type,
                           unix_timestamp(ts) div 3600 AS h,
                           CAST(COUNT(*) AS BIGINT) AS cnt
                    FROM events_sd GROUP BY 1, 2),
             tr AS (SELECT event_type, h, cnt,
                           CAST(SUM(cnt) OVER (PARTITION BY event_type
                             ORDER BY h ROWS BETWEEN 12 PRECEDING
                             AND 11 FOLLOWING) AS BIGINT) AS s24,
                           CAST(COUNT(*) OVER (PARTITION BY event_type
                             ORDER BY h ROWS BETWEEN 12 PRECEDING
                             AND 11 FOLLOWING) AS BIGINT) AS n24
                    FROM hc),
             dt AS (SELECT event_type, h % 24 AS hod,
                           24 * cnt - s24 AS d24
                    FROM tr WHERE n24 = 24)
        SELECT event_type, CAST(hod AS BIGINT) AS hod,
               CAST(COUNT(*) AS BIGINT) AS n_hours,
               round(CAST(SUM(d24) AS DOUBLE) / (24.0D * COUNT(*)), 6)
                 AS seasonal
        FROM dt GROUP BY event_type, hod
        ORDER BY event_type, hod""")
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
                 dt AS (SELECT event_type, h % 24 AS hod,
                               24 * cnt - s24 AS d24
                        FROM tr WHERE n24 = 24)
            SELECT event_type, CAST(hod AS BIGINT) AS hod,
                   CAST(COUNT(*) AS BIGINT) AS n_hours,
                   round(CAST(SUM(d24) AS DOUBLE) / (24.0 * COUNT(*)), 6)
                     AS seasonal
            FROM dt GROUP BY event_type, hod
            ORDER BY event_type, hod"""))

  // Hard-example (triplet) mining — for each anchor: hardest positive
  // (same label, LOWEST cosine) and hardest negative (other label,
  // HIGHEST cosine), the batch that makes a metric-learning step
  // informative. Anchors broadcast; the corpus streams ONCE through the
  // codegen'd cosine; both ranks share one (anchor, side) partitioning.
  // Round-6 cosine + vec_id tie-break keeps the picked rows
  // engine-unique (the sim_* family's proven discipline).
  private val embTripletMining = Op(
    "emb_triplet_mining",
    (s, d) => {
      graft.functions.GraftExtensions.register(s)
      t(s, d, "embeddings").createOrReplaceTempView("embeddings_tm")
      s.sql("""
        WITH e AS (SELECT vec_id, label,
                          CAST(embedding AS ARRAY<DOUBLE>) AS v
                   FROM embeddings_tm),
             a AS (SELECT vec_id AS a_id, label AS a_lab, v AS av
                   FROM e WHERE vec_id < 5),
             sc AS (SELECT a.a_id, e.vec_id, e.label = a.a_lab AS pos,
                           round(graft_cosine(e.v, a.av), 6) AS cs
                    FROM e CROSS JOIN a WHERE e.vec_id <> a.a_id),
             rk AS (SELECT a_id, vec_id, pos, cs,
                           ROW_NUMBER() OVER (PARTITION BY a_id, pos
                             ORDER BY CASE WHEN pos THEN cs ELSE -cs END,
                                      vec_id) AS rn
                    FROM sc)
        SELECT p.a_id, p.vec_id AS pos_id, p.cs AS pos_cos,
               q.vec_id AS neg_id, q.cs AS neg_cos
        FROM (SELECT * FROM rk WHERE pos AND rn = 1) p
        JOIN (SELECT * FROM rk WHERE NOT pos AND rn = 1) q
          ON p.a_id = q.a_id
        ORDER BY p.a_id""")
    },
    Some("""WITH e AS (SELECT vec_id, label,
                              CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
                 a AS (SELECT vec_id AS a_id, label AS a_lab, v AS av
                       FROM e WHERE vec_id < 5),
                 sc AS (SELECT a.a_id, e.vec_id,
                               e.label = a.a_lab AS pos,
                               round(list_cosine_similarity(e.v, a.av), 6)
                                 AS cs
                        FROM e CROSS JOIN a WHERE e.vec_id <> a.a_id),
                 rk AS (SELECT a_id, vec_id, pos, cs,
                               ROW_NUMBER() OVER (PARTITION BY a_id, pos
                                 ORDER BY CASE WHEN pos THEN cs
                                               ELSE -cs END, vec_id)
                                 AS rn
                        FROM sc)
            SELECT p.a_id, p.vec_id AS pos_id, p.cs AS pos_cos,
                   q.vec_id AS neg_id, q.cs AS neg_cos
            FROM (SELECT * FROM rk WHERE pos AND rn = 1) p
            JOIN (SELECT * FROM rk WHERE NOT pos AND rn = 1) q
              ON p.a_id = q.a_id
            ORDER BY p.a_id"""))

  // Decision-stump split search — the best single threshold on `value`
  // separating purchases from the rest by weighted Gini impurity: the
  // inner loop of tree building and the strongest simple feature probe.
  // The input collapses to the VALUE DOMAIN (cent granularity) in one
  // map-side aggregate, the left/right class counts come from one
  // cumulative pass over that bounded domain, and every candidate's
  // impurity is a fixed IEEE expression rounded to 1e-9 BEFORE the argmin
  // (so the winning threshold cannot differ by an ulp between engines).
  private val aggStumpSplit = Op(
    "agg_stump_split",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_st")
      s.sql("""
        WITH g AS (SELECT CAST(round(value * 100) AS BIGINT) AS x,
                          CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(CASE WHEN event_type = 'purchase'
                                        THEN 1 ELSE 0 END) AS BIGINT)
                            AS p
                   FROM events_st GROUP BY 1),
             tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
                            CAST(SUM(p) AS BIGINT) AS pp FROM g),
             c AS (SELECT x,
                          CAST(SUM(n) OVER (ORDER BY x) AS BIGINT) AS nl,
                          CAST(SUM(p) OVER (ORDER BY x) AS BIGINT) AS pl
                   FROM g),
             s AS (SELECT c.x, c.nl, c.pl, tot.nn, tot.pp
                   FROM c CROSS JOIN tot
                   WHERE c.nl > 0 AND c.nl < tot.nn),
             gi AS (SELECT x, nl, nn - nl AS nr,
                           round((CAST(nl AS DOUBLE) / nn)
                                 * (1.0D - (CAST(pl AS DOUBLE) / nl)
                                           * (CAST(pl AS DOUBLE) / nl)
                                         - (CAST(nl - pl AS DOUBLE) / nl)
                                           * (CAST(nl - pl AS DOUBLE)
                                              / nl))
                                 + (CAST(nn - nl AS DOUBLE) / nn)
                                 * (1.0D - (CAST(pp - pl AS DOUBLE)
                                            / (nn - nl))
                                           * (CAST(pp - pl AS DOUBLE)
                                              / (nn - nl))
                                         - (CAST(nn - nl - pp + pl
                                                 AS DOUBLE) / (nn - nl))
                                           * (CAST(nn - nl - pp + pl
                                                   AS DOUBLE)
                                              / (nn - nl))), 9) AS gini
                    FROM s)
        SELECT CAST(x AS DOUBLE) / 100.0D AS threshold_usd, gini,
               nl AS n_left, nr AS n_right
        FROM gi ORDER BY gini, x LIMIT 1""")
    },
    Some("""WITH g AS (SELECT CAST(round(value * 100) AS BIGINT) AS x,
                              CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(SUM(CASE WHEN event_type = 'purchase'
                                            THEN 1 ELSE 0 END) AS BIGINT)
                                AS p
                       FROM events GROUP BY 1),
                 tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
                                CAST(SUM(p) AS BIGINT) AS pp FROM g),
                 c AS (SELECT x,
                              CAST(SUM(n) OVER (ORDER BY x) AS BIGINT)
                                AS nl,
                              CAST(SUM(p) OVER (ORDER BY x) AS BIGINT)
                                AS pl
                       FROM g),
                 s AS (SELECT c.x, c.nl, c.pl, tot.nn, tot.pp
                       FROM c CROSS JOIN tot
                       WHERE c.nl > 0 AND c.nl < tot.nn),
                 gi AS (SELECT x, nl, nn - nl AS nr,
                               round((CAST(nl AS DOUBLE) / nn)
                                     * (1.0 - (CAST(pl AS DOUBLE) / nl)
                                              * (CAST(pl AS DOUBLE) / nl)
                                            - (CAST(nl - pl AS DOUBLE)
                                               / nl)
                                              * (CAST(nl - pl AS DOUBLE)
                                                 / nl))
                                     + (CAST(nn - nl AS DOUBLE) / nn)
                                     * (1.0 - (CAST(pp - pl AS DOUBLE)
                                               / (nn - nl))
                                             * (CAST(pp - pl AS DOUBLE)
                                                / (nn - nl))
                                           - (CAST(nn - nl - pp + pl
                                                   AS DOUBLE) / (nn - nl))
                                             * (CAST(nn - nl - pp + pl
                                                     AS DOUBLE)
                                                / (nn - nl))), 9)
                                 AS gini
                        FROM s)
            SELECT CAST(x AS DOUBLE) / 100.0 AS threshold_usd, gini,
                   nl AS n_left, nr AS n_right
            FROM gi ORDER BY gini, x LIMIT 1"""))

  // Deterministic keyed pseudonymization — user ids replaced by a salted
  // one-way token (md5 over a pepper + id), the release transform that
  // keeps joins working across pseudonymized extracts without exposing
  // the key. Pure map-side (zero shuffles for the transform itself; the
  // published sample just heaps 20 rows). Swapping md5 for HMAC-SHA256
  // with a vaulted pepper is the one-line production change — the
  // plumbing (column contract, determinism, join-stability) is the
  // operator.
  private val privacyPseudonymize = Op(
    "privacy_pseudonymize",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_ps")
      s.sql("""
        SELECT event_id, event_type,
               md5(concat('pepper:', CAST(user_id AS STRING))) AS user_token
        FROM events_ps ORDER BY event_id LIMIT 20""")
    },
    Some("""SELECT event_id, event_type,
                   md5(concat('pepper:', CAST(user_id AS VARCHAR)))
                     AS user_token
            FROM events ORDER BY event_id LIMIT 20"""))

  // Gap-fill by last observation carried forward (LOCF) — the step-function
  // fill for state-like series (sensor readings, prices), where
  // resample_interpolate's linear fill would invent values. The hourly grid
  // comes from one sequence explode per type; the carried value is a
  // last_value IGNORE NULLS running frame over the grid — O(1) state per
  // row, one (type / hour) sort, engine-identical because the carried
  // value is the exact integer-cents LAST event in its hour (ts, event_id
  // tie-break), not a float aggregate.
  private val resampleLocf = Op(
    "resample_locf",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_lf")
      s.sql("""
        WITH b AS (SELECT event_type, unix_timestamp(ts) div 3600 AS h,
                          ts, event_id,
                          CAST(round(value * 100) AS BIGINT) AS xc
                   FROM events_lf WHERE user_id % 20 = 0),
             obs AS (SELECT event_type, h, xc FROM (
                       SELECT event_type, h, xc,
                              ROW_NUMBER() OVER (PARTITION BY event_type, h
                                ORDER BY ts DESC, event_id DESC) AS rn
                       FROM b) r WHERE rn = 1),
             span AS (SELECT event_type, MIN(h) AS h0, MAX(h) AS h1
                      FROM b GROUP BY 1),
             grid AS (SELECT event_type, explode(sequence(h0, h1)) AS h
                      FROM span),
             j AS (SELECT g.event_type, g.h, obs.xc
                   FROM grid g LEFT JOIN obs
                     ON obs.event_type = g.event_type AND obs.h = g.h)
        SELECT event_type, h AS hour_idx,
               CASE WHEN xc IS NULL THEN 1 ELSE 0 END AS filled,
               CAST(last_value(xc) IGNORE NULLS OVER (
                 PARTITION BY event_type ORDER BY h
                 ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100.0D
                 AS value_usd
        FROM j ORDER BY event_type, hour_idx""")
    },
    Some("""WITH b AS (SELECT event_type,
                              CAST(floor(epoch(ts)) AS BIGINT) // 3600
                                AS h,
                              ts, event_id,
                              CAST(round(value * 100) AS BIGINT) AS xc
                       FROM events WHERE user_id % 20 = 0),
                 obs AS (SELECT event_type, h, xc FROM (
                           SELECT event_type, h, xc,
                                  ROW_NUMBER() OVER (
                                    PARTITION BY event_type, h
                                    ORDER BY ts DESC, event_id DESC) AS rn
                           FROM b) r WHERE rn = 1),
                 span AS (SELECT event_type, MIN(h) AS h0, MAX(h) AS h1
                          FROM b GROUP BY 1),
                 grid AS (SELECT event_type,
                                 unnest(generate_series(h0, h1)) AS h
                          FROM span),
                 j AS (SELECT g.event_type, g.h, obs.xc
                       FROM grid g LEFT JOIN obs
                         ON obs.event_type = g.event_type
                        AND obs.h = g.h)
            SELECT event_type, h AS hour_idx,
                   CASE WHEN xc IS NULL THEN 1 ELSE 0 END AS filled,
                   CAST(last_value(xc IGNORE NULLS) OVER (
                     PARTITION BY event_type ORDER BY h
                     ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100.0
                     AS value_usd
            FROM j ORDER BY event_type, hour_idx"""))

  // Stratified evaluation-set sampling — k docs per computed length decile
  // (strata computed over the corpus via a bucket-partitioned two-phase
  // global rank — the doc count scales with volume, so no NTILE global
  // sort; not a pre-existing category — the
  // difference from sample_stratified), picked deterministically by hashed
  // rank so the eval set is reproducible across runs and engines. Two
  // window passes (decile assignment, per-stratum hash rank) over one
  // partitioning each; the rank-≤-k filter takes the WindowGroupLimit
  // pre-limit like sample_reservoir.
  private val corpusEvalSample = Op(
    "corpus_eval_sample",
    (s, d) => {
      t(s, d, "documents").createOrReplaceTempView("documents_es")
      s.sql("""
        WITH b AS (SELECT doc_id, n_chars,
                          n_chars div 100 AS bu
                   FROM documents_es),
             win AS (SELECT doc_id, bu,
                            CAST(row_number() OVER (PARTITION BY bu
                              ORDER BY n_chars, doc_id) AS BIGINT)
                              AS rin
                     FROM b),
             bt AS (SELECT bu, CAST(COUNT(*) AS BIGINT) AS c
                    FROM b GROUP BY 1),
             off AS (SELECT bu,
                            CAST(COALESCE(SUM(c) OVER (ORDER BY bu
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS BIGINT) AS o
                     FROM bt),
             nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM bt),
             dec AS (SELECT win.doc_id,
                            CAST(((win.rin + off.o - 1) * 10) div nn.n
                                 + 1 AS INT) AS decile
                     FROM win JOIN off ON win.bu = off.bu
                     CROSS JOIN nn),
             rk AS (SELECT decile, doc_id,
                           ROW_NUMBER() OVER (PARTITION BY decile
                             ORDER BY md5(CAST(doc_id AS STRING)), doc_id)
                             AS rn
                    FROM dec)
        SELECT CAST(decile AS BIGINT) AS decile, CAST(rn AS BIGINT) AS rn,
               doc_id
        FROM rk WHERE rn <= 5 ORDER BY decile, rn""")
    },
    Some("""WITH rk0 AS (SELECT doc_id,
                                CAST(row_number() OVER (
                                  ORDER BY n_chars, doc_id) AS BIGINT)
                                  AS rn,
                                CAST(count(*) OVER () AS BIGINT) AS n
                         FROM documents),
                 dec AS (SELECT doc_id,
                                CAST(((rn - 1) * 10) // n + 1 AS INT)
                                  AS decile
                         FROM rk0),
                 rk AS (SELECT decile, doc_id,
                               ROW_NUMBER() OVER (PARTITION BY decile
                                 ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                          doc_id) AS rn
                        FROM dec)
            SELECT CAST(decile AS BIGINT) AS decile,
                   CAST(rn AS BIGINT) AS rn, doc_id
            FROM rk WHERE rn <= 5 ORDER BY decile, rn"""))

  // User lifecycle staging — each (user, week) of activity classified as
  // new / retained / resurrected from the gap to the PREVIOUS active week,
  // plus churn rows for users who go silent: the growth-accounting table
  // behind every "DAU is up but is it new or resurrected?" question.
  // Weekly presence collapses first (the pair set is tiny vs the event
  // stream); the stage is one lag over (user / week) — a single shuffle;
  // churn is the same lag read forward. Counts roll up per (week, stage).
  private val eventLifecycleStages = Op(
    "event_lifecycle_stages",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_lc")
      s.sql("""
        WITH wk AS (SELECT DISTINCT user_id,
                           unix_timestamp(ts) div 604800 AS w
                    FROM events_lc),
             mx AS (SELECT CAST(MAX(w) AS BIGINT) AS wmax FROM wk),
             st AS (SELECT user_id, w,
                           lag(w) OVER (PARTITION BY user_id ORDER BY w)
                             AS pw,
                           lead(w) OVER (PARTITION BY user_id ORDER BY w)
                             AS nw
                    FROM wk),
             act AS (SELECT w,
                            CASE WHEN pw IS NULL THEN 'new'
                                 WHEN w = pw + 1 THEN 'retained'
                                 ELSE 'resurrected' END AS stage
                     FROM st),
             ch AS (SELECT st.w + 1 AS w, 'churned' AS stage
                    FROM st CROSS JOIN mx
                    WHERE st.w < mx.wmax
                      AND (st.nw IS NULL OR st.nw > st.w + 1)),
             u AS (SELECT w, stage FROM act
                   UNION ALL SELECT w, stage FROM ch)
        SELECT w AS week_idx, stage, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM u GROUP BY w, stage ORDER BY week_idx, stage""")
    },
    Some("""WITH wk AS (SELECT DISTINCT user_id,
                               CAST(floor(epoch(ts)) AS BIGINT) // 604800
                                 AS w
                        FROM events),
                 mx AS (SELECT CAST(MAX(w) AS BIGINT) AS wmax FROM wk),
                 st AS (SELECT user_id, w,
                               lag(w) OVER (PARTITION BY user_id
                                            ORDER BY w) AS pw,
                               lead(w) OVER (PARTITION BY user_id
                                             ORDER BY w) AS nw
                        FROM wk),
                 act AS (SELECT w,
                                CASE WHEN pw IS NULL THEN 'new'
                                     WHEN w = pw + 1 THEN 'retained'
                                     ELSE 'resurrected' END AS stage
                         FROM st),
                 ch AS (SELECT st.w + 1 AS w, 'churned' AS stage
                        FROM st CROSS JOIN mx
                        WHERE st.w < mx.wmax
                          AND (st.nw IS NULL OR st.nw > st.w + 1)),
                 u AS (SELECT w, stage FROM act
                       UNION ALL SELECT w, stage FROM ch)
            SELECT w AS week_idx, stage, CAST(COUNT(*) AS BIGINT)
                     AS n_users
            FROM u GROUP BY w, stage ORDER BY week_idx, stage"""))

  // Corpus length profile — docs per power-of-two length bucket per
  // source: the first plot on a corpus dashboard and the input to length
  // curriculum decisions. Pure map-side bucketing (one int log2) + one
  // partial-aggregated rollup bounded by sources × ~30 buckets.
  private val corpusLengthHistogram = Op(
    "corpus_length_histogram",
    (s, d) => {
      t(s, d, "documents").createOrReplaceTempView("documents_lh")
      s.sql("""
        WITH b AS (SELECT source,
                          CAST(floor(ln(CAST(n_chars AS DOUBLE)) / ln(2.0D))
                               AS BIGINT) AS lb
                   FROM documents_lh WHERE n_chars > 0)
        SELECT source, lb AS log2_bucket, CAST(COUNT(*) AS BIGINT) AS docs
        FROM b GROUP BY source, lb ORDER BY source, lb""")
    },
    Some("""WITH b AS (SELECT source,
                              CAST(floor(ln(CAST(n_chars AS DOUBLE))
                                         / ln(2.0)) AS BIGINT) AS lb
                       FROM documents WHERE n_chars > 0)
            SELECT source, lb AS log2_bucket,
                   CAST(COUNT(*) AS BIGINT) AS docs
            FROM b GROUP BY source, lb ORDER BY source, lb"""))

  // Extreme-value analysis by block maxima — daily maxima per event type
  // fitted to a Gumbel distribution by method of moments (β = σ√6/π,
  // μ = x̄ − γβ), then the 100-block return level μ − β·ln(−ln(1−1/100)):
  // the "how bad can a day get" capacity question answered from exact
  // daily-max cents. Block maxima are one partial-aggregated rollup
  // (bounded by the time range); the fit runs on those ~30 rows.
  private val aggBlockMaxima = Op(
    "agg_block_maxima",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_bm")
      s.sql("""
        WITH dm AS (SELECT event_type,
                           unix_timestamp(ts) div 86400 AS day,
                           CAST(MAX(CAST(round(value * 100) AS BIGINT))
                                AS BIGINT) AS mx
                    FROM events_bm GROUP BY 1, 2),
             m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(mx) AS BIGINT) AS sx,
                          CAST(SUM(mx * mx) AS BIGINT) AS sxx
                   FROM dm GROUP BY 1),
             f AS (SELECT event_type, n,
                          CAST(sx AS DOUBLE) / n AS mean_c,
                          sqrt((CAST(sxx AS DOUBLE)
                                - CAST(sx AS DOUBLE) * sx / n)
                               / (n - 1)) AS sd_c
                   FROM m),
             g AS (SELECT event_type, n,
                          sd_c * sqrt(6.0D) / pi() AS beta_c,
                          mean_c - 0.5772156649D * sd_c * sqrt(6.0D) / pi()
                            AS mu_c
                   FROM f)
        SELECT event_type, n AS n_blocks,
               round(mu_c / 100.0D, 6) AS gumbel_mu_usd,
               round(beta_c / 100.0D, 6) AS gumbel_beta_usd,
               round((mu_c - beta_c * ln(-ln(1.0D - 1.0D / 100.0D)))
                     / 100.0D, 6) AS return_level_100_usd
        FROM g ORDER BY event_type""")
    },
    Some("""WITH dm AS (SELECT event_type,
                               CAST(floor(epoch(ts)) AS BIGINT) // 86400
                                 AS day,
                               CAST(MAX(CAST(round(value * 100)
                                             AS BIGINT)) AS BIGINT) AS mx
                        FROM events GROUP BY 1, 2),
                 m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(SUM(mx) AS BIGINT) AS sx,
                              CAST(SUM(mx * mx) AS BIGINT) AS sxx
                       FROM dm GROUP BY 1),
                 f AS (SELECT event_type, n,
                              CAST(sx AS DOUBLE) / n AS mean_c,
                              sqrt((CAST(sxx AS DOUBLE)
                                    - CAST(sx AS DOUBLE) * sx / n)
                                   / (n - 1)) AS sd_c
                       FROM m),
                 g AS (SELECT event_type, n,
                              sd_c * sqrt(6.0) / pi() AS beta_c,
                              mean_c - 0.5772156649 * sd_c * sqrt(6.0)
                                / pi() AS mu_c
                       FROM f)
            SELECT event_type, n AS n_blocks,
                   round(mu_c / 100.0, 6) AS gumbel_mu_usd,
                   round(beta_c / 100.0, 6) AS gumbel_beta_usd,
                   round((mu_c - beta_c * ln(-ln(1.0 - 1.0 / 100.0)))
                         / 100.0, 6) AS return_level_100_usd
            FROM g ORDER BY event_type"""))

  // Daily realized volatility from log returns per event type — the
  // risk-metric shape (each day's Σ r², r = ln(xₜ/xₜ₋₁)) over the hourly
  // mean-value series. Each log return quantizes to 1e-9 BIGINT per row
  // BEFORE the square/sum, so the realized variance is an
  // order-independent integer sum; one (type / hour) lag window over the
  // hourly rollup — everything downstream of the first aggregate is
  // bounded by the time range.
  private val windowLogReturns = Op(
    "window_log_returns",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_lr")
      s.sql("""
        WITH hb AS (SELECT event_type,
                           unix_timestamp(ts) div 3600 AS h,
                           CAST(SUM(CAST(round(value * 100) AS BIGINT))
                                AS BIGINT) AS sc,
                           CAST(COUNT(*) AS BIGINT) AS n
                    FROM events_lr GROUP BY 1, 2),
             mv AS (SELECT event_type, h,
                           CAST(sc AS DOUBLE) / n AS m
                    FROM hb),
             lr AS (SELECT event_type, h div 24 AS day,
                           CAST(round(ln(m / lag(m) OVER (
                                  PARTITION BY event_type ORDER BY h))
                                * 1000000) AS BIGINT) AS rq
                    FROM mv),
             dd AS (SELECT event_type, day,
                           CAST(COUNT(rq) AS BIGINT) AS n_rets,
                           CAST(SUM(rq * rq) AS BIGINT) AS svq
                    FROM lr WHERE rq IS NOT NULL GROUP BY 1, 2)
        SELECT event_type, day AS day_idx, n_rets,
               round(sqrt(CAST(svq AS DOUBLE) / 1000000000000.0D), 6)
                 AS realized_vol
        FROM dd ORDER BY event_type, day_idx""")
    },
    Some("""WITH hb AS (SELECT event_type,
                               CAST(floor(epoch(ts)) AS BIGINT) // 3600
                                 AS h,
                               CAST(SUM(CAST(round(value * 100)
                                             AS BIGINT)) AS BIGINT) AS sc,
                               CAST(COUNT(*) AS BIGINT) AS n
                        FROM events GROUP BY 1, 2),
                 mv AS (SELECT event_type, h,
                               CAST(sc AS DOUBLE) / n AS m
                        FROM hb),
                 lr AS (SELECT event_type, h // 24 AS day,
                               CAST(round(ln(m / lag(m) OVER (
                                      PARTITION BY event_type ORDER BY h))
                                    * 1000000) AS BIGINT) AS rq
                        FROM mv),
                 dd AS (SELECT event_type, day,
                               CAST(COUNT(rq) AS BIGINT) AS n_rets,
                               CAST(SUM(rq * rq) AS BIGINT) AS svq
                        FROM lr WHERE rq IS NOT NULL GROUP BY 1, 2)
            SELECT event_type, day AS day_idx, n_rets,
                   round(sqrt(CAST(svq AS DOUBLE) / 1000000000000.0), 6)
                     AS realized_vol
            FROM dd ORDER BY event_type, day_idx"""))

  // Two-proportion z-test — conversion-rate comparison between user
  // cohorts (even vs odd id), the A/B readout product teams act on
  // (agg_ttest compares MEANS; this compares RATES with the pooled-
  // variance z). Conversion = a high-value purchase, keeping both rates
  // interior — an everyone-converts definition degenerates the pooled
  // variance to zero. Both cohorts' numerators and denominators are exact
  // BIGINT counts from ONE scan; the z statistic is a fixed IEEE
  // expression evaluated once.
  private val aggTwoProportionZ = Op(
    "agg_two_proportion_z",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_zp")
      s.sql("""
        WITH c AS (SELECT user_id % 2 AS grp,
                          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n,
                          CAST(COUNT(DISTINCT CASE
                                 WHEN event_type = 'purchase'
                                  AND value >= 95 THEN user_id END)
                               AS BIGINT) AS conv
                   FROM events_zp GROUP BY 1),
             w AS (SELECT MAX(CASE WHEN grp = 0 THEN n END) AS n0,
                          MAX(CASE WHEN grp = 0 THEN conv END) AS c0,
                          MAX(CASE WHEN grp = 1 THEN n END) AS n1,
                          MAX(CASE WHEN grp = 1 THEN conv END) AS c1
                   FROM c)
        SELECT n0, c0, n1, c1,
               round(CAST(c0 AS DOUBLE) / n0, 6) AS rate0,
               round(CAST(c1 AS DOUBLE) / n1, 6) AS rate1,
               round((CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1)
                     / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                            * (1.0D - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                            * (1.0D / n0 + 1.0D / n1)), 6) AS z
        FROM w""")
    },
    Some("""WITH c AS (SELECT user_id % 2 AS grp,
                              CAST(COUNT(DISTINCT user_id) AS BIGINT)
                                AS n,
                              CAST(COUNT(DISTINCT CASE
                                     WHEN event_type = 'purchase'
                                      AND value >= 95 THEN user_id END)
                                   AS BIGINT) AS conv
                       FROM events GROUP BY 1),
                 w AS (SELECT MAX(CASE WHEN grp = 0 THEN n END) AS n0,
                              MAX(CASE WHEN grp = 0 THEN conv END) AS c0,
                              MAX(CASE WHEN grp = 1 THEN n END) AS n1,
                              MAX(CASE WHEN grp = 1 THEN conv END) AS c1
                       FROM c)
            SELECT n0, c0, n1, c1,
                   round(CAST(c0 AS DOUBLE) / n0, 6) AS rate0,
                   round(CAST(c1 AS DOUBLE) / n1, 6) AS rate1,
                   round((CAST(c0 AS DOUBLE) / n0
                          - CAST(c1 AS DOUBLE) / n1)
                         / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                                * (1.0 - CAST(c0 + c1 AS DOUBLE)
                                         / (n0 + n1))
                                * (1.0 / n0 + 1.0 / n1)), 6) AS z
            FROM w"""))

  // Anchored time bucketing (date_bin analog) — 15-minute buckets and
  // 4-hour buckets anchored at 02:00, the arbitrary-origin binning
  // date_trunc can't express (its grid is calendar-aligned only). Pure
  // integer epoch arithmetic (floor division against the anchor offset,
  // Spark DIV ≡ DuckDB //), zero shuffles for the transform; the
  // published sample heaps 20 rows.
  private val fnTimeBucket = Op(
    "fn_time_bucket",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_tb")
      s.sql("""
        SELECT event_id,
               (unix_timestamp(ts) div 900) * 900 AS q15_start_s,
               ((unix_timestamp(ts) - 7200) div 14400) * 14400 + 7200
                 AS b4h_start_s
        FROM events_tb ORDER BY event_id LIMIT 20""")
    },
    Some("""SELECT event_id,
                   (CAST(floor(epoch(ts)) AS BIGINT) // 900) * 900
                     AS q15_start_s,
                   ((CAST(floor(epoch(ts)) AS BIGINT) - 7200) // 14400)
                     * 14400 + 7200 AS b4h_start_s
            FROM events ORDER BY event_id LIMIT 20"""))

  // Delta-method confidence interval for a RATIO metric (revenue per
  // event, per type) — the experimentation-platform math for metrics
  // whose unit of analysis (user) differs from the unit of measurement
  // (event): Var(X̄/Ȳ) via the bivariate delta expansion over per-user
  // totals. Both aggregation levels are exact BIGINT (per-user cents and
  // counts, then five moments over users); the CI is one fixed IEEE
  // expression. Two partial-aggregated shuffles, nothing else.
  private val aggRatioDeltaCi = Op(
    "agg_ratio_delta_ci",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_rc2")
      s.sql("""
        WITH pu AS (SELECT event_type, user_id,
                           CAST(SUM(CAST(round(value * 100) AS BIGINT))
                                AS BIGINT) AS sx,
                           CAST(COUNT(*) AS BIGINT) AS sn
                    FROM events_rc2 GROUP BY 1, 2),
             m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nu,
                          CAST(SUM(sx) AS BIGINT) AS tx,
                          CAST(SUM(sn) AS BIGINT) AS tn,
                          CAST(SUM(sx * sx) AS BIGINT) AS txx,
                          CAST(SUM(sn * sn) AS BIGINT) AS tnn,
                          CAST(SUM(sx * sn) AS BIGINT) AS txn
                   FROM pu GROUP BY 1),
             f AS (SELECT event_type, nu,
                          CAST(tx AS DOUBLE) / tn AS r,
                          (CAST(txx AS DOUBLE)
                           - CAST(tx AS DOUBLE) * tx / nu) / (nu - 1)
                            AS vx,
                          (CAST(tnn AS DOUBLE)
                           - CAST(tn AS DOUBLE) * tn / nu) / (nu - 1)
                            AS vn,
                          (CAST(txn AS DOUBLE)
                           - CAST(tx AS DOUBLE) * tn / nu) / (nu - 1)
                            AS vxn,
                          CAST(tn AS DOUBLE) / nu AS mn
                   FROM m)
        SELECT event_type, nu AS n_users,
               round(r / 100.0D, 6) AS ratio_usd,
               round((r - 1.96D * sqrt((vx + r * r * vn
                        - 2.0D * r * vxn) / nu) / mn) / 100.0D, 6)
                 AS ci_lo_usd,
               round((r + 1.96D * sqrt((vx + r * r * vn
                        - 2.0D * r * vxn) / nu) / mn) / 100.0D, 6)
                 AS ci_hi_usd
        FROM f ORDER BY event_type""")
    },
    Some("""WITH pu AS (SELECT event_type, user_id,
                               CAST(SUM(CAST(round(value * 100)
                                             AS BIGINT)) AS BIGINT) AS sx,
                               CAST(COUNT(*) AS BIGINT) AS sn
                        FROM events GROUP BY 1, 2),
                 m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nu,
                              CAST(SUM(sx) AS BIGINT) AS tx,
                              CAST(SUM(sn) AS BIGINT) AS tn,
                              CAST(SUM(sx * sx) AS BIGINT) AS txx,
                              CAST(SUM(sn * sn) AS BIGINT) AS tnn,
                              CAST(SUM(sx * sn) AS BIGINT) AS txn
                       FROM pu GROUP BY 1),
                 f AS (SELECT event_type, nu,
                              CAST(tx AS DOUBLE) / tn AS r,
                              (CAST(txx AS DOUBLE)
                               - CAST(tx AS DOUBLE) * tx / nu) / (nu - 1)
                                AS vx,
                              (CAST(tnn AS DOUBLE)
                               - CAST(tn AS DOUBLE) * tn / nu) / (nu - 1)
                                AS vn,
                              (CAST(txn AS DOUBLE)
                               - CAST(tx AS DOUBLE) * tn / nu) / (nu - 1)
                                AS vxn,
                              CAST(tn AS DOUBLE) / nu AS mn
                       FROM m)
            SELECT event_type, nu AS n_users,
                   round(r / 100.0, 6) AS ratio_usd,
                   round((r - 1.96 * sqrt((vx + r * r * vn
                            - 2.0 * r * vxn) / nu) / mn) / 100.0, 6)
                     AS ci_lo_usd,
                   round((r + 1.96 * sqrt((vx + r * r * vn
                            - 2.0 * r * vxn) / nu) / mn) / 100.0, 6)
                     AS ci_hi_usd
            FROM f ORDER BY event_type"""))

  // Day-over-day volume drift — the row-count alarm next to dq_freshness's
  // recency alarm: per (type, day) exact counts, one lag, relative change
  // flagged beyond ±50%. The shape that catches a silently-dropped
  // upstream partition before any consumer does.
  private val dqVolumeDrift = Op(
    "dq_volume_drift",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_vd")
      s.sql("""
        WITH dc AS (SELECT event_type,
                           unix_timestamp(ts) div 86400 AS day,
                           CAST(COUNT(*) AS BIGINT) AS n
                    FROM events_vd GROUP BY 1, 2),
             l AS (SELECT event_type, day, n,
                          lag(n) OVER (PARTITION BY event_type
                                       ORDER BY day) AS pn
                   FROM dc)
        SELECT event_type, day AS day_idx, n, pn,
               round((CAST(n AS DOUBLE) - pn) / pn, 6) AS rel_change,
               CASE WHEN abs(CAST(n AS DOUBLE) - pn) > 0.5D * pn
                    THEN 1 ELSE 0 END AS alarm
        FROM l WHERE pn IS NOT NULL
        ORDER BY event_type, day_idx""")
    },
    Some("""WITH dc AS (SELECT event_type,
                               CAST(floor(epoch(ts)) AS BIGINT) // 86400
                                 AS day,
                               CAST(COUNT(*) AS BIGINT) AS n
                        FROM events GROUP BY 1, 2),
                 l AS (SELECT event_type, day, n,
                              lag(n) OVER (PARTITION BY event_type
                                           ORDER BY day) AS pn
                       FROM dc)
            SELECT event_type, day AS day_idx, n, pn,
                   round((CAST(n AS DOUBLE) - pn) / pn, 6) AS rel_change,
                   CASE WHEN abs(CAST(n AS DOUBLE) - pn) > 0.5 * pn
                        THEN 1 ELSE 0 END AS alarm
            FROM l WHERE pn IS NOT NULL
            ORDER BY event_type, day_idx"""))

  lazy val ops: Seq[Op] =
    Seq(aggMarketBasket, resampleMinmaxDecimate, resampleSeasonalDecompose,
      embTripletMining, aggStumpSplit, privacyPseudonymize, resampleLocf,
      corpusEvalSample, eventLifecycleStages, corpusLengthHistogram,
      aggBlockMaxima, windowLogReturns, aggTwoProportionZ, fnTimeBucket,
      aggRatioDeltaCi, dqVolumeDrift) ++ ops2

  // 2-D skyline (Pareto front) — orders maximizing BOTH total price and
  // recency: no other order is at least as good on both axes and strictly
  // better on one. The input collapses to the price DOMAIN first (max
  // order-day per distinct price — dominated same-price rows die
  // map-side), then one descending-price scan keeps rows whose day beats
  // the running max — the sort-scan skyline algorithm. Skylines are
  // associative (skyline of per-partition skylines = global skyline), so
  // at 100 TB the same operator runs per-partition first; here the
  // domain-collapsed relation is already small.
  private val aggSkyline2d = Op(
    "agg_skyline_2d",
    (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_sk")
      s.sql("""
        WITH b AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS pc,
                          CAST(MAX(unix_timestamp(o_orderdate) div 86400)
                               AS BIGINT) AS dd
                   FROM orders_sk GROUP BY 1),
             r AS (SELECT pc, dd,
                          MAX(dd) OVER (ORDER BY pc DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS prev_max
                   FROM b)
        SELECT CAST(pc AS DOUBLE) / 100.0D AS price_usd, dd AS day_idx
        FROM r WHERE prev_max IS NULL OR dd > prev_max
        ORDER BY price_usd DESC""")
    },
    Some("""WITH b AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
                                AS pc,
                              CAST(MAX(CAST(floor(epoch(o_orderdate))
                                            AS BIGINT) // 86400)
                                   AS BIGINT) AS dd
                       FROM orders GROUP BY 1),
                 r AS (SELECT pc, dd,
                              MAX(dd) OVER (ORDER BY pc DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS prev_max
                       FROM b)
            SELECT CAST(pc AS DOUBLE) / 100.0 AS price_usd, dd AS day_idx
            FROM r WHERE prev_max IS NULL OR dd > prev_max
            ORDER BY price_usd DESC"""))

  // Nearest-VALUE neighbor join — for each order, the closest-priced other
  // order in its priority class: the sorted-neighbor spelling (sort once
  // per class, candidates are the adjacent rows) of what a naive engine
  // does as an O(n²) |a−b| cross join. One (priority / price) sort; the
  // winner picks the smaller absolute gap with a key tie-break. Published
  // for a deterministic customer slice to bound the output.
  private val joinNearestValue = Op(
    "join_nearest_value",
    (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_nv")
      s.sql("""
        WITH b AS (SELECT o_orderkey AS ok, o_custkey,
                          o_orderpriority AS prio,
                          CAST(round(o_totalprice * 100) AS BIGINT) AS pc
                   FROM orders_nv),
             n AS (SELECT ok, o_custkey, prio, pc,
                          lag(ok) OVER w AS pok, lag(pc) OVER w AS ppc,
                          lead(ok) OVER w AS nok, lead(pc) OVER w AS npc
                   FROM b
                   WINDOW w AS (PARTITION BY prio ORDER BY pc, ok)),
             c AS (SELECT ok, o_custkey, prio, pc,
                          CASE
                            WHEN pok IS NULL THEN nok
                            WHEN nok IS NULL THEN pok
                            WHEN pc - ppc < npc - pc THEN pok
                            WHEN npc - pc < pc - ppc THEN nok
                            WHEN pok < nok THEN pok ELSE nok END
                            AS neighbor_key,
                          CASE
                            WHEN pok IS NULL THEN npc - pc
                            WHEN nok IS NULL THEN pc - ppc
                            ELSE LEAST(pc - ppc, npc - pc) END AS gap_c
                   FROM n)
        SELECT ok AS o_orderkey, prio AS o_orderpriority, neighbor_key,
               CAST(gap_c AS BIGINT) AS gap_cents
        FROM c WHERE o_custkey % 100 = 0 AND neighbor_key IS NOT NULL
        ORDER BY o_orderkey""")
    },
    Some("""WITH b AS (SELECT o_orderkey AS ok, o_custkey,
                              o_orderpriority AS prio,
                              CAST(round(o_totalprice * 100) AS BIGINT)
                                AS pc
                       FROM orders),
                 n AS (SELECT ok, o_custkey, prio, pc,
                              lag(ok) OVER w AS pok,
                              lag(pc) OVER w AS ppc,
                              lead(ok) OVER w AS nok,
                              lead(pc) OVER w AS npc
                       FROM b
                       WINDOW w AS (PARTITION BY prio ORDER BY pc, ok)),
                 c AS (SELECT ok, o_custkey, prio, pc,
                              CASE
                                WHEN pok IS NULL THEN nok
                                WHEN nok IS NULL THEN pok
                                WHEN pc - ppc < npc - pc THEN pok
                                WHEN npc - pc < pc - ppc THEN nok
                                WHEN pok < nok THEN pok ELSE nok END
                                AS neighbor_key,
                              CASE
                                WHEN pok IS NULL THEN npc - pc
                                WHEN nok IS NULL THEN pc - ppc
                                ELSE LEAST(pc - ppc, npc - pc) END
                                AS gap_c
                       FROM n)
            SELECT ok AS o_orderkey, prio AS o_orderpriority,
                   neighbor_key, CAST(gap_c AS BIGINT) AS gap_cents
            FROM c WHERE o_custkey % 100 = 0
              AND neighbor_key IS NOT NULL
            ORDER BY o_orderkey"""))

  // ABC (Pareto) classification — parts bucketed A/B/C by cumulative
  // revenue share (top 80% / next 15% / tail), the inventory-prioritization
  // standard. Revenue rolls up exactly per part; the class boundaries are
  // INTEGER cross-multiplications against the total (cum·10 ≤ tot·8,
  // cum·20 ≤ tot·19) so no float share ever decides a boundary row. The
  // cumulative runs BUCKET-PARTITIONED (per revenue-range bucket, lifted
  // by per-bucket offsets windowed over the tiny counts relation): the part
  // domain GROWS with data volume, so a global single-partition window
  // would be the 100 TB bottleneck. The oracle keeps the plain global
  // spelling — identical cumulative, independently derived.
  private val aggAbcClass = Op(
    "agg_abc_class",
    (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_abc")
      // per-part revenue: rev feeds tot, the bucketed cumsum AND the
      // bucket totals. Left a plain view, which Spark inlines at each
      // reference: a cache measured slower at sf1 (MATS.md).
      s.sql("""
        SELECT l_partkey AS pk,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS r
        FROM lineitem_abc GROUP BY 1""")
        .createOrReplaceTempView("rev_abc")
      s.sql("""
        WITH rev AS (SELECT pk, r FROM rev_abc),
             tot AS (SELECT CAST(SUM(r) AS BIGINT) AS t FROM rev),
             bkt AS (SELECT pk, r, (-r) div 10000000 AS bu FROM rev),
             win AS (SELECT pk, r, bu,
                            CAST(SUM(r) OVER (PARTITION BY bu
                              ORDER BY -r, pk) AS BIGINT) AS cin
                     FROM bkt),
             bt AS (SELECT bu, CAST(SUM(r) AS BIGINT) AS sb
                    FROM bkt GROUP BY 1),
             off AS (SELECT bu,
                            CAST(COALESCE(SUM(sb) OVER (ORDER BY bu
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS BIGINT) AS o
                     FROM bt),
             c AS (SELECT win.pk, win.r,
                          CAST(win.cin + off.o AS BIGINT) AS cum
                   FROM win JOIN off ON win.bu = off.bu),
             cl AS (SELECT pk, r,
                           CASE WHEN cum * 10 <= t * 8 THEN 'A'
                                WHEN cum * 20 <= t * 19 THEN 'B'
                                ELSE 'C' END AS abc
                    FROM c CROSS JOIN tot)
        SELECT abc, CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(r) AS BIGINT) AS revenue_cents
        FROM cl GROUP BY abc ORDER BY abc""")
    },
    Some("""WITH rev AS (SELECT l_partkey AS pk,
                                CAST(SUM(CAST(round(l_extendedprice * 100)
                                              AS BIGINT)) AS BIGINT) AS r
                         FROM lineitem GROUP BY 1),
                 tot AS (SELECT CAST(SUM(r) AS BIGINT) AS t FROM rev),
                 c AS (SELECT pk, r,
                              CAST(SUM(r) OVER (ORDER BY r DESC, pk)
                                   AS BIGINT) AS cum
                       FROM rev),
                 cl AS (SELECT pk, r,
                               CASE WHEN cum * 10 <= t * 8 THEN 'A'
                                    WHEN cum * 20 <= t * 19 THEN 'B'
                                    ELSE 'C' END AS abc
                        FROM c CROSS JOIN tot)
            SELECT abc, CAST(COUNT(*) AS BIGINT) AS n_parts,
                   CAST(SUM(r) AS BIGINT) AS revenue_cents
            FROM cl GROUP BY abc ORDER BY abc"""))

  // Backlog aging — open (non-final) orders bucketed by 30-day age bands
  // per status: the operations report behind "how stale is the queue".
  // Age is exact integer day arithmetic against the snapshot (global max
  // date, a 1-row broadcast); one partial-aggregated rollup.
  private val aggBacklogAging = Op(
    "agg_backlog_aging",
    (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_ba")
      s.sql("""
        WITH mx AS (SELECT CAST(MAX(unix_timestamp(o_orderdate) div 86400)
                                AS BIGINT) AS dmax FROM orders_ba),
             b AS (SELECT o_orderstatus,
                          (dmax - unix_timestamp(o_orderdate) div 86400)
                            div 30 AS bucket
                   FROM orders_ba CROSS JOIN mx
                   WHERE o_orderstatus <> 'F')
        SELECT o_orderstatus, CAST(bucket AS BIGINT) AS age_bucket_30d,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM b GROUP BY 1, 2 ORDER BY o_orderstatus, age_bucket_30d""")
    },
    Some("""WITH mx AS (SELECT CAST(MAX(CAST(floor(epoch(o_orderdate))
                                             AS BIGINT) // 86400)
                                    AS BIGINT) AS dmax FROM orders),
                 b AS (SELECT o_orderstatus,
                              (dmax - CAST(floor(epoch(o_orderdate))
                                           AS BIGINT) // 86400) // 30
                                AS bucket
                       FROM orders CROSS JOIN mx
                       WHERE o_orderstatus <> 'F')
            SELECT o_orderstatus, CAST(bucket AS BIGINT)
                     AS age_bucket_30d,
                   CAST(COUNT(*) AS BIGINT) AS n_orders
            FROM b GROUP BY 1, 2 ORDER BY o_orderstatus,
                     age_bucket_30d"""))

  // Hidden file-metadata projection — Spark's `_metadata` struct on file
  // sources surfaces provenance (file path, per-file row accounting)
  // without a separate listing job: the lineage audit a landing-zone
  // triage runs ("which file contributed these rows"). The basename
  // extraction and per-file rollup are map-side + one bounded aggregate
  // (one row per input FILE, not per data row).
  private val scanFileMetadata = Op(
    "scan_file_metadata",
    (s, d) => {
      import org.apache.spark.sql.functions._
      // the oracle hardcodes the basename 'lineitem.parquet' (one row):
      // assert the single-file layout HERE so a testdata change to a
      // multi-file directory (part-*.parquet) fails loudly instead of as a
      // silent oracle row-count divergence. Driver-side FS metadata only —
      // no data read.
      val p = new org.apache.hadoop.fs.Path(s"$d/lineitem.parquet")
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      val nFiles =
        if (st.isFile) 1
        else fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
      require(nFiles == 1,
        s"scan_file_metadata oracle assumes a single-file lineitem layout; found $nFiles parquet files")
      s.read.parquet(s"$d/lineitem.parquet")
        .select(regexp_extract(col("_metadata.file_path"), "[^/]+$", 0)
            .as("file"), col("l_orderkey"))
        .groupBy("file")
        .agg(count(lit(1)).cast("long").as("n_rows"),
          min("l_orderkey").cast("long").as("min_key"),
          max("l_orderkey").cast("long").as("max_key"))
        .orderBy("file")
    },
    // the basename is invariant across scale factors by testdata layout;
    // the row accounting is the live check
    Some("""SELECT 'lineitem.parquet' AS file,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(MIN(l_orderkey) AS BIGINT) AS min_key,
                   CAST(MAX(l_orderkey) AS BIGINT) AS max_key
            FROM lineitem GROUP BY 1 ORDER BY file"""))

  // Interval-concurrency sweep line — max simultaneously-open orders per
  // 30-day window, treating each order as a [start, start+10d) interval:
  // the classic +1/−1 event-sweep that answers "peak concurrent load"
  // without expanding intervals to days. Deltas aggregate per day FIRST
  // (domain-collapsed — the sweep runs over the day DOMAIN, not the
  // order count), one cumulative pass, one month rollup.
  private val aggConcurrencySweep = Op(
    "agg_concurrency_sweep",
    (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_cs")
      s.sql("""
        WITH ev AS (SELECT unix_timestamp(o_orderdate) div 86400 AS day,
                           1 AS delta
                    FROM orders_cs
                    UNION ALL
                    SELECT unix_timestamp(o_orderdate) div 86400 + 10, -1
                    FROM orders_cs),
             dd AS (SELECT day, CAST(SUM(delta) AS BIGINT) AS net
                    FROM ev GROUP BY 1),
             c AS (SELECT day,
                          CAST(SUM(net) OVER (ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS open
                   FROM dd)
        SELECT day div 30 AS month_idx, CAST(MAX(open) AS BIGINT)
                 AS max_open
        FROM c GROUP BY 1 ORDER BY month_idx""")
    },
    Some("""WITH ev AS (SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT)
                                 // 86400 AS day,
                               1 AS delta
                        FROM orders
                        UNION ALL
                        SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT)
                                 // 86400 + 10, -1
                        FROM orders),
                 dd AS (SELECT day, CAST(SUM(delta) AS BIGINT) AS net
                        FROM ev GROUP BY 1),
                 c AS (SELECT day,
                              CAST(SUM(net) OVER (ORDER BY day
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
                                AS open
                       FROM dd)
            SELECT day // 30 AS month_idx, CAST(MAX(open) AS BIGINT)
                     AS max_open
            FROM c GROUP BY 1 ORDER BY month_idx"""))

  // Leaderboard movement — part revenue ranks in the early vs late half
  // of the ship history, top movers by absolute rank delta: the
  // "trending items" report. Two partial-aggregated rollups share one
  // scan shape; ranks are ROW_NUMBER with key tie-breaks (engine-unique)
  // and run BUCKET-PARTITIONED two-phase per half (the part domain
  // scales with volume); movers heap via TakeOrderedAndProject. The
  // oracle keeps the plain per-half rank.
  private val windowRankChange = Op(
    "window_rank_change",
    (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_rk")
      s.sql("""
        WITH h AS (SELECT l_partkey AS pk,
                          CASE WHEN l_shipdate <
                                    TIMESTAMP '1995-06-01 00:00:00'
                               THEN 0 ELSE 1 END AS half,
                          CAST(round(l_extendedprice * 100) AS BIGINT)
                            AS pc
                   FROM lineitem_rk),
             rv AS (SELECT pk, half, CAST(SUM(pc) AS BIGINT) AS r
                    FROM h GROUP BY 1, 2),
             bkt AS (SELECT pk, half, r, (-r) div 10000000 AS bu
                     FROM rv),
             win AS (SELECT pk, half, r, bu,
                            CAST(ROW_NUMBER() OVER (PARTITION BY half,
                              bu ORDER BY r DESC, pk) AS BIGINT)
                              AS rin
                     FROM bkt),
             bt AS (SELECT half, bu, CAST(COUNT(*) AS BIGINT) AS c
                    FROM bkt GROUP BY 1, 2),
             off AS (SELECT half, bu,
                            CAST(COALESCE(SUM(c) OVER (
                              PARTITION BY half ORDER BY bu
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS BIGINT) AS o
                     FROM bt),
             rk AS (SELECT win.pk, win.half, win.r,
                           CAST(win.rin + off.o AS BIGINT) AS rnk
                    FROM win JOIN off
                      ON win.half = off.half AND win.bu = off.bu)
        SELECT a.pk AS l_partkey, a.rnk AS rank_early,
               b.rnk AS rank_late,
               CAST(a.rnk - b.rnk AS BIGINT) AS rank_gain
        FROM rk a JOIN rk b ON a.pk = b.pk AND a.half = 0 AND b.half = 1
        ORDER BY abs(a.rnk - b.rnk) DESC, a.pk LIMIT 20""")
    },
    Some("""WITH h AS (SELECT l_partkey AS pk,
                              CASE WHEN l_shipdate <
                                        TIMESTAMP '1995-06-01 00:00:00'
                                   THEN 0 ELSE 1 END AS half,
                              CAST(round(l_extendedprice * 100) AS BIGINT)
                                AS pc
                       FROM lineitem),
                 rv AS (SELECT pk, half, CAST(SUM(pc) AS BIGINT) AS r
                        FROM h GROUP BY 1, 2),
                 rk AS (SELECT pk, half, r,
                               ROW_NUMBER() OVER (PARTITION BY half
                                 ORDER BY r DESC, pk) AS rnk
                        FROM rv)
            SELECT a.pk AS l_partkey, a.rnk AS rank_early,
                   b.rnk AS rank_late,
                   CAST(a.rnk - b.rnk AS BIGINT) AS rank_gain
            FROM rk a JOIN rk b
              ON a.pk = b.pk AND a.half = 0 AND b.half = 1
            ORDER BY abs(a.rnk - b.rnk) DESC, a.pk LIMIT 20"""))

  // Unicode-script composition per corpus source — CJK / Latin / other
  // character shares from explicit codepoint-range classes (literal range
  // characters, identical semantics in Java regex and RE2 — no
  // engine-specific \p{script} names). Map-side regexp counting + one
  // bounded rollup; the mixed-script ratio is a standard corpus-quality
  // and mislabel signal next to text_langid.
  private val textScriptDetect = Op(
    "text_script_detect", {
      val cjk = "一-鿿"
      (s, d) => {
        t(s, d, "documents").createOrReplaceTempView("documents_sc")
        s.sql(s"""
          WITH b AS (SELECT source,
                            length(text) AS n,
                            length(regexp_replace(text, '[^$cjk]', ''))
                              AS n_cjk,
                            length(regexp_replace(text, '[^A-Za-z]', ''))
                              AS n_latin
                     FROM documents_sc)
          SELECT source,
                 CAST(SUM(n) AS BIGINT) AS chars,
                 CAST(SUM(n_cjk) AS BIGINT) AS cjk_chars,
                 CAST(SUM(n_latin) AS BIGINT) AS latin_chars,
                 round(CAST(SUM(n_cjk) AS DOUBLE) / SUM(n), 6)
                   AS cjk_share,
                 round(CAST(SUM(n_latin) AS DOUBLE) / SUM(n), 6)
                   AS latin_share
          FROM b GROUP BY source ORDER BY source""")
      }
    },
    Some {
      val cjk = "一-鿿"
      s"""WITH b AS (SELECT source,
                            length(text) AS n,
                            length(regexp_replace(text, '[^$cjk]', '',
                                                  'g')) AS n_cjk,
                            length(regexp_replace(text, '[^A-Za-z]', '',
                                                  'g')) AS n_latin
                     FROM documents)
          SELECT source,
                 CAST(SUM(n) AS BIGINT) AS chars,
                 CAST(SUM(n_cjk) AS BIGINT) AS cjk_chars,
                 CAST(SUM(n_latin) AS BIGINT) AS latin_chars,
                 round(CAST(SUM(n_cjk) AS DOUBLE) / SUM(n), 6)
                   AS cjk_share,
                 round(CAST(SUM(n_latin) AS DOUBLE) / SUM(n), 6)
                   AS latin_share
          FROM b GROUP BY source ORDER BY source"""
    })

  // Entropy rate of the user-journey Markov chain — how predictable the
  // next action is, per source state and overall (the sequence-level
  // complement of event_markov's transition matrix). Transition counts
  // are one lag + one rollup (exact BIGINT); each −(c/T)·ln(c/tot_src)
  // term quantizes to 1e-12 BEFORE the order-independent BIGINT sum.
  private val eventMarkovEntropy = Op(
    "event_markov_entropy",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_me")
      s.sql("""
        WITH seq AS (SELECT event_type,
                            lead(event_type) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS next_type
                     FROM events_me),
             tr AS (SELECT event_type AS src, next_type AS dst,
                           CAST(COUNT(*) AS BIGINT) AS c
                    FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
             st AS (SELECT src, CAST(SUM(c) AS BIGINT) AS tot FROM tr
                    GROUP BY 1),
             tt AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM tr),
             q AS (SELECT tr.src, tr.c, st.tot, tt.t,
                          CAST(round(-(CAST(tr.c AS DOUBLE) / tt.t)
                                 * ln(CAST(tr.c AS DOUBLE) / st.tot)
                                 * 1000000000000) AS BIGINT) AS hq
                   FROM tr JOIN st ON tr.src = st.src CROSS JOIN tt)
        SELECT src, CAST(SUM(c) AS BIGINT) AS n_transitions,
               round(CAST(SUM(hq) AS DOUBLE) / 1000000000000.0D
                     * MAX(t) / SUM(c), 6) AS h_cond_nats,
               round(CAST(SUM(hq) AS DOUBLE) / 1000000000000.0D, 6)
                 AS h_contrib_nats
        FROM q GROUP BY src ORDER BY src""")
    },
    Some("""WITH seq AS (SELECT event_type,
                                lead(event_type) OVER (
                                  PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type
                         FROM events),
                 tr AS (SELECT event_type AS src, next_type AS dst,
                               CAST(COUNT(*) AS BIGINT) AS c
                        FROM seq WHERE next_type IS NOT NULL
                        GROUP BY 1, 2),
                 st AS (SELECT src, CAST(SUM(c) AS BIGINT) AS tot FROM tr
                        GROUP BY 1),
                 tt AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM tr),
                 q AS (SELECT tr.src, tr.c, st.tot, tt.t,
                              CAST(round(-(CAST(tr.c AS DOUBLE) / tt.t)
                                     * ln(CAST(tr.c AS DOUBLE) / st.tot)
                                     * 1000000000000) AS BIGINT) AS hq
                       FROM tr JOIN st ON tr.src = st.src CROSS JOIN tt)
            SELECT src, CAST(SUM(c) AS BIGINT) AS n_transitions,
                   round(CAST(SUM(hq) AS DOUBLE) / 1000000000000.0
                         * MAX(t) / SUM(c), 6) AS h_cond_nats,
                   round(CAST(SUM(hq) AS DOUBLE) / 1000000000000.0, 6)
                     AS h_contrib_nats
            FROM q GROUP BY src ORDER BY src"""))

  // Vocabulary coverage curve — what share of all token occurrences the
  // top-k terms cover, read out at standard k checkpoints: the curve that
  // sizes a tokenizer vocabulary. Term frequencies are one map-side
  // aggregate (vocab-bounded); the rank takes a df ≥ 5 floor first so
  // the ranked relation is the head, not the corpus-scaled tail (the
  // checkpoints at k ≤ 1000 are unaffected — every head term clears the
  // floor); coverage denominators stay over ALL tokens.
  private val textCoverageCurve = Op(
    "text_coverage_curve",
    (s, d) => {
      t(s, d, "documents").createOrReplaceTempView("documents_cc")
      s.sql("""
        WITH tk AS (SELECT explode(split(trim(regexp_replace(lower(text),
                             '\\s+', ' ')), ' ')) AS w
                    FROM documents_cc),
             tf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tk
                    WHERE w <> '' GROUP BY 1),
             tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t,
                            CAST(COUNT(*) AS BIGINT) AS vocab FROM tf),
             rk AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w)
                              AS rnk
                    FROM tf WHERE c >= 5),
             cum AS (SELECT rnk, CAST(SUM(c) OVER (ORDER BY rnk
                              ROWS UNBOUNDED PRECEDING) AS BIGINT)
                              AS cc
                     FROM rk)
        SELECT cum.rnk AS top_k, cum.cc AS covered, tot.t AS total,
               tot.vocab,
               round(CAST(cum.cc AS DOUBLE) / tot.t, 6) AS coverage
        FROM cum CROSS JOIN tot
        WHERE cum.rnk IN (10, 50, 100, 500, 1000)
        ORDER BY top_k""")
    },
    Some("""WITH tk AS (SELECT unnest(string_split(trim(regexp_replace(
                             lower(text), '\s+', ' ', 'g')), ' ')) AS w
                        FROM documents),
                 tf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tk
                        WHERE w <> '' GROUP BY 1),
                 tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t,
                                CAST(COUNT(*) AS BIGINT) AS vocab
                         FROM tf),
                 rk AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC,
                                  w) AS rnk
                        FROM tf WHERE c >= 5),
                 cum AS (SELECT rnk, CAST(SUM(c) OVER (ORDER BY rnk
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
                                  AS cc
                         FROM rk)
            SELECT cum.rnk AS top_k, cum.cc AS covered, tot.t AS total,
                   tot.vocab,
                   round(CAST(cum.cc AS DOUBLE) / tot.t, 6) AS coverage
            FROM cum CROSS JOIN tot
            WHERE cum.rnk IN (10, 50, 100, 500, 1000)
            ORDER BY top_k"""))

  // Seasonal strength — share of detrended variance explained by the
  // hour-of-day profile (F_s = 1 − Var(remainder)/Var(detrended)), the
  // scalar that says whether resample_seasonal_decompose's profile is
  // signal or noise. Works entirely on the 24-scaled detrended BIGINTs
  // (the ×24 cancels in the ratio); the per-hod mean terms quantize to
  // 1e-6 before the final sums.
  private val resampleSeasonalStrength = Op(
    "resample_seasonal_strength",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_ss")
      s.sql("""
        WITH hc AS (SELECT event_type,
                           unix_timestamp(ts) div 3600 AS h,
                           CAST(COUNT(*) AS BIGINT) AS cnt
                    FROM events_ss GROUP BY 1, 2),
             tr AS (SELECT event_type, h, cnt,
                           CAST(SUM(cnt) OVER (PARTITION BY event_type
                             ORDER BY h ROWS BETWEEN 12 PRECEDING
                             AND 11 FOLLOWING) AS BIGINT) AS s24,
                           CAST(COUNT(*) OVER (PARTITION BY event_type
                             ORDER BY h ROWS BETWEEN 12 PRECEDING
                             AND 11 FOLLOWING) AS BIGINT) AS n24
                    FROM hc),
             dt AS (SELECT event_type, h % 24 AS hod,
                           24 * cnt - s24 AS d
                    FROM tr WHERE n24 = 24),
             hm AS (SELECT event_type, hod,
                           CAST(COUNT(*) AS BIGINT) AS nh,
                           CAST(SUM(d) AS BIGINT) AS sh
                    FROM dt GROUP BY 1, 2),
             g AS (SELECT dt.event_type,
                          CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(d) AS BIGINT) AS sd,
                          CAST(SUM(d * d) AS BIGINT) AS sdd
                   FROM dt GROUP BY 1),
             hs AS (SELECT event_type,
                           CAST(SUM(CAST(round(CAST(sh AS DOUBLE) * sh
                                  / nh * 1000000) AS BIGINT)) AS BIGINT)
                             AS shm_q
                    FROM hm GROUP BY 1)
        SELECT g.event_type,
               round(GREATEST(0.0D, 1.0D -
                 (CAST(g.sdd AS DOUBLE)
                  - CAST(hs.shm_q AS DOUBLE) / 1000000.0D)
                 / (CAST(g.sdd AS DOUBLE)
                    - CAST(g.sd AS DOUBLE) * g.sd / g.n)), 6)
                 AS seasonal_strength
        FROM g JOIN hs ON g.event_type = hs.event_type
        ORDER BY g.event_type""")
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
                 dt AS (SELECT event_type, h % 24 AS hod,
                               24 * cnt - s24 AS d
                        FROM tr WHERE n24 = 24),
                 hm AS (SELECT event_type, hod,
                               CAST(COUNT(*) AS BIGINT) AS nh,
                               CAST(SUM(d) AS BIGINT) AS sh
                        FROM dt GROUP BY 1, 2),
                 g AS (SELECT dt.event_type,
                              CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(SUM(d) AS BIGINT) AS sd,
                              CAST(SUM(d * d) AS BIGINT) AS sdd
                       FROM dt GROUP BY 1),
                 hs AS (SELECT event_type,
                               CAST(SUM(CAST(round(CAST(sh AS DOUBLE)
                                      * sh / nh * 1000000) AS BIGINT))
                                    AS BIGINT) AS shm_q
                        FROM hm GROUP BY 1)
            SELECT g.event_type,
                   round(GREATEST(0.0, 1.0 -
                     (CAST(g.sdd AS DOUBLE)
                      - CAST(hs.shm_q AS DOUBLE) / 1000000.0)
                     / (CAST(g.sdd AS DOUBLE)
                        - CAST(g.sd AS DOUBLE) * g.sd / g.n)), 6)
                     AS seasonal_strength
            FROM g JOIN hs ON g.event_type = hs.event_type
            ORDER BY g.event_type"""))

  // Generalization-hierarchy release — cells failing the n ≥ 5 rule at
  // nation granularity generalize UP to region granularity; region cells
  // still failing are suppressed outright: the lattice step behind
  // k-anonymization (privacy_kanon audits; privacy_suppress_cells drops;
  // this COARSENS, the standard middle ground). Cell rollups are exact
  // and bounded by the category product; the hierarchy is the broadcast
  // nation→region dimension.
  private val privacyGeneralize = Op(
    "privacy_generalize",
    (s, d) => {
      t(s, d, "customer").createOrReplaceTempView("customer_pg")
      t(s, d, "nation").createOrReplaceTempView("nation_pg")
      s.sql("""
        WITH cells AS (SELECT c.c_mktsegment AS seg,
                              CAST(c.c_nationkey AS BIGINT) AS nk,
                              CAST(n.n_regionkey AS BIGINT) AS rk,
                              CAST(COUNT(*) AS BIGINT) AS n
                       FROM customer_pg c
                       JOIN nation_pg n ON c.c_nationkey = n.n_nationkey
                       WHERE c.c_custkey % 7 = 0
                       GROUP BY 1, 2, 3),
             fine AS (SELECT seg, 'nation' AS level, nk AS key, n
                      FROM cells WHERE n >= 5),
             up AS (SELECT seg, rk, CAST(SUM(n) AS BIGINT) AS n
                    FROM cells WHERE n < 5 GROUP BY 1, 2),
             coarse AS (SELECT seg, 'region' AS level, rk AS key, n
                        FROM up WHERE n >= 5),
             sup AS (SELECT seg, 'suppressed' AS level, rk AS key,
                            CAST(NULL AS BIGINT) AS n
                     FROM up WHERE n < 5)
        SELECT seg AS c_mktsegment, level, key, n AS published_n
        FROM (SELECT * FROM fine UNION ALL SELECT * FROM coarse
              UNION ALL SELECT * FROM sup) u
        ORDER BY c_mktsegment, level, key""")
    },
    Some("""WITH cells AS (SELECT c.c_mktsegment AS seg,
                                  CAST(c.c_nationkey AS BIGINT) AS nk,
                                  CAST(n.n_regionkey AS BIGINT) AS rk,
                                  CAST(COUNT(*) AS BIGINT) AS n
                           FROM customer c
                           JOIN nation n
                             ON c.c_nationkey = n.n_nationkey
                           WHERE c.c_custkey % 7 = 0
                           GROUP BY 1, 2, 3),
                 fine AS (SELECT seg, 'nation' AS level, nk AS key, n
                          FROM cells WHERE n >= 5),
                 up AS (SELECT seg, rk, CAST(SUM(n) AS BIGINT) AS n
                        FROM cells WHERE n < 5 GROUP BY 1, 2),
                 coarse AS (SELECT seg, 'region' AS level, rk AS key, n
                            FROM up WHERE n >= 5),
                 sup AS (SELECT seg, 'suppressed' AS level, rk AS key,
                                CAST(NULL AS BIGINT) AS n
                         FROM up WHERE n < 5)
            SELECT seg AS c_mktsegment, level, key, n AS published_n
            FROM (SELECT * FROM fine UNION ALL SELECT * FROM coarse
                  UNION ALL SELECT * FROM sup) u
            ORDER BY c_mktsegment, level, key"""))

  // Hapax legomena profile — share of the vocabulary seen exactly once
  // and the token share those words carry, per source: the classic
  // "productive vs templated" corpus signal (natural text runs ~40-60%
  // hapax vocab; templated filler collapses). One token rollup per
  // (source, word), one bounded source rollup, exact counts.
  private val textHapaxRatio = Op(
    "text_hapax_ratio",
    (s, d) => {
      t(s, d, "documents").createOrReplaceTempView("documents_hx")
      s.sql("""
        WITH tk AS (SELECT source,
                           explode(split(trim(regexp_replace(lower(text),
                             '\\s+', ' ')), ' ')) AS w
                    FROM documents_hx),
             tf AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
                    FROM tk WHERE w <> '' GROUP BY 1, 2)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS vocab,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS hapax,
               CAST(SUM(c) AS BIGINT) AS tokens,
               round(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                          AS DOUBLE) / COUNT(*), 6) AS hapax_vocab_share,
               round(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                          AS DOUBLE) / SUM(c), 6) AS hapax_token_share
        FROM tf GROUP BY source ORDER BY source""")
    },
    Some("""WITH tk AS (SELECT source,
                               unnest(string_split(trim(regexp_replace(
                                 lower(text), '\s+', ' ', 'g')), ' '))
                                 AS w
                        FROM documents),
                 tf AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
                        FROM tk WHERE w <> '' GROUP BY 1, 2)
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS vocab,
                   CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS hapax,
                   CAST(SUM(c) AS BIGINT) AS tokens,
                   round(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                              AS DOUBLE) / COUNT(*), 6)
                     AS hapax_vocab_share,
                   round(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                              AS DOUBLE) / SUM(c), 6)
                     AS hapax_token_share
            FROM tf GROUP BY source ORDER BY source"""))

  // Cohen's kappa for the language classifier — chance-corrected
  // agreement between text_langid's prediction and the labeled lang
  // (accuracy looks great on skewed label mixes; kappa doesn't). Reuses
  // the zero-shuffle argmax; po and pe come from exact confusion-cell
  // counts, one float combine.
  private val textLangidKappa = Op(
    "text_langid_kappa",
    (s, d) => {
      // prediction must match text_langid exactly — reuse its confusion
      // cells through the registered operator
      // checkpoint the tiny confusion matrix: the view is referenced by
      // three CTEs below, and an un-materialized reference re-ran the
      // whole langid scoring pipeline per reference (6 document scans in
      // the r18 before-plan, guide §2.4)
      // unconditionally checkpointed (lazy, tracked): the upstream here is
      // the whole langid scoring pipeline, expensive at EVERY scale — the
      // scale-aware skip only applies where the inlined upstream is cheap
      val cells = graft.SparkEntry.queries("text_langid_confusion")(s, d)
        .trackedCkpt()
      cells.createOrReplaceTempView("langid_cells_k")
      s.sql("""
        WITH m AS (SELECT CAST(SUM(n) AS BIGINT) AS t,
                          CAST(SUM(CASE WHEN actual = predicted THEN n
                                        ELSE 0 END) AS BIGINT) AS agree
                   FROM langid_cells_k),
             ra AS (SELECT actual AS lab, CAST(SUM(n) AS BIGINT) AS r
                    FROM langid_cells_k GROUP BY 1),
             pa AS (SELECT predicted AS lab,
                           CAST(SUM(n) AS BIGINT) AS p
                    FROM langid_cells_k GROUP BY 1),
             pe AS (SELECT CAST(SUM(ra.r * pa.p) AS BIGINT) AS spe
                    FROM ra JOIN pa ON ra.lab = pa.lab)
        SELECT m.t AS n_docs,
               round(CAST(m.agree AS DOUBLE) / m.t, 6) AS accuracy,
               round((CAST(m.agree AS DOUBLE) / m.t
                      - CAST(pe.spe AS DOUBLE) / (CAST(m.t AS DOUBLE)
                                                  * m.t))
                     / (1.0D - CAST(pe.spe AS DOUBLE)
                               / (CAST(m.t AS DOUBLE) * m.t)), 6)
                 AS kappa
        FROM m CROSS JOIN pe""")
    },
    Some("""WITH toks AS (
              SELECT doc_id, lang,
                     string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
              FROM documents),
            cand(cand_lang, markers) AS (VALUES
              ('de', ['der','die','und']), ('en', ['the','a','of']),
              ('es', ['el','la','de']), ('fr', ['le','la','et']),
              ('zh', ['的','了','是'])),
            scored AS (
              SELECT doc_id, lang, cand_lang,
                     len(list_filter(tk, t -> list_contains(markers, t))) AS score
              FROM toks CROSS JOIN cand),
            r AS (SELECT doc_id, lang, cand_lang, score,
                         row_number() OVER (PARTITION BY doc_id
                           ORDER BY score DESC, cand_lang) AS rn
                  FROM scored),
            pred AS (SELECT lang AS actual,
                            CASE WHEN score = 0 THEN 'und'
                                 ELSE cand_lang END AS predicted
                     FROM r WHERE rn = 1),
            cells AS (SELECT actual, predicted,
                             CAST(COUNT(*) AS BIGINT) AS n
                      FROM pred GROUP BY 1, 2),
            m AS (SELECT CAST(SUM(n) AS BIGINT) AS t,
                         CAST(SUM(CASE WHEN actual = predicted THEN n
                                       ELSE 0 END) AS BIGINT) AS agree
                  FROM cells),
            ra AS (SELECT actual AS lab, CAST(SUM(n) AS BIGINT) AS r
                   FROM cells GROUP BY 1),
            pa AS (SELECT predicted AS lab,
                          CAST(SUM(n) AS BIGINT) AS p
                   FROM cells GROUP BY 1),
            pe AS (SELECT CAST(SUM(ra.r * pa.p) AS BIGINT) AS spe
                   FROM ra JOIN pa ON ra.lab = pa.lab)
            SELECT m.t AS n_docs,
                   round(CAST(m.agree AS DOUBLE) / m.t, 6) AS accuracy,
                   round((CAST(m.agree AS DOUBLE) / m.t
                          - CAST(pe.spe AS DOUBLE)
                            / (CAST(m.t AS DOUBLE) * m.t))
                         / (1.0 - CAST(pe.spe AS DOUBLE)
                                  / (CAST(m.t AS DOUBLE) * m.t)), 6)
                     AS kappa
            FROM m CROSS JOIN pe"""))

  // Single-source supply risk — how much revenue rides on parts with
  // exactly one supplier: the n-supplier histogram with its revenue
  // exposure. Two partial-aggregated rollups over the fact; nothing
  // grows past the part count.
  private val aggSupplierRisk = Op(
    "agg_supplier_risk",
    (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_sr")
      s.sql("""
        WITH ps AS (SELECT l_partkey AS pk,
                           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT)
                             AS n_supp,
                           CAST(SUM(CAST(round(l_extendedprice * 100)
                                         AS BIGINT)) AS BIGINT) AS r
                    FROM lineitem_sr GROUP BY 1),
             tot AS (SELECT CAST(SUM(r) AS BIGINT) AS tr FROM ps)
        SELECT n_supp AS n_suppliers,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(r) AS BIGINT) AS revenue_cents,
               round(CAST(SUM(r) AS DOUBLE) / MAX(tot.tr), 6)
                 AS revenue_share
        FROM ps CROSS JOIN tot
        GROUP BY n_supp ORDER BY n_supp""")
    },
    Some("""WITH ps AS (SELECT l_partkey AS pk,
                               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT)
                                 AS n_supp,
                               CAST(SUM(CAST(round(l_extendedprice
                                      * 100) AS BIGINT)) AS BIGINT)
                                 AS r
                        FROM lineitem GROUP BY 1),
                 tot AS (SELECT CAST(SUM(r) AS BIGINT) AS tr FROM ps)
            SELECT n_supp AS n_suppliers,
                   CAST(COUNT(*) AS BIGINT) AS n_parts,
                   CAST(SUM(r) AS BIGINT) AS revenue_cents,
                   round(CAST(SUM(r) AS DOUBLE) / MAX(tot.tr), 6)
                     AS revenue_share
            FROM ps CROSS JOIN tot
            GROUP BY n_supp ORDER BY n_supp"""))

  // Newsvendor critical fractile — the optimal stocking quantile
  // q* = cu/(cu+co) read EXACTLY off the demand CDF (daily order counts;
  // underage cost 3× overage here → stock at the 75th percentile): the
  // operations-research readout the exact-quantile machinery exists for.
  // Day-domain collapse + one cumulative pass + inverse-CDF readout —
  // pure integer comparisons.
  private val aggNewsvendor = Op(
    "agg_newsvendor",
    (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_nv2")
      s.sql("""
        WITH dd AS (SELECT unix_timestamp(o_orderdate) div 86400 AS day,
                           CAST(COUNT(*) AS BIGINT) AS demand
                    FROM orders_nv2 GROUP BY 1),
             g AS (SELECT demand, CAST(COUNT(*) AS BIGINT) AS c
                   FROM dd GROUP BY 1),
             n AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM g),
             cdf AS (SELECT demand,
                            CAST(SUM(c) OVER (ORDER BY demand
                              ROWS UNBOUNDED PRECEDING) AS BIGINT)
                              AS cum
                     FROM g)
        SELECT CAST(3 AS BIGINT) AS cost_ratio_under_over,
               round(3.0D / 4.0D, 6) AS critical_fractile,
               CAST(MIN(CASE WHEN cum * 4 >= nn * 3 THEN demand END)
                    AS BIGINT) AS stock_level
        FROM cdf CROSS JOIN n""")
    },
    Some("""WITH dd AS (SELECT CAST(floor(epoch(o_orderdate))
                                    AS BIGINT) // 86400 AS day,
                               CAST(COUNT(*) AS BIGINT) AS demand
                        FROM orders GROUP BY 1),
                 g AS (SELECT demand, CAST(COUNT(*) AS BIGINT) AS c
                       FROM dd GROUP BY 1),
                 n AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM g),
                 cdf AS (SELECT demand,
                                CAST(SUM(c) OVER (ORDER BY demand
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
                                  AS cum
                         FROM g)
            SELECT CAST(3 AS BIGINT) AS cost_ratio_under_over,
                   round(3.0 / 4.0, 6) AS critical_fractile,
                   CAST(MIN(CASE WHEN cum * 4 >= nn * 3 THEN demand
                            END) AS BIGINT) AS stock_level
            FROM cdf CROSS JOIN n"""))

  // ABC–XYZ matrix — the inventory-planning 9-cell grid: revenue class
  // (A/B/C cumulative share, integer cross-multiplied boundaries) crossed
  // with demand-variability class (X/Y/Z by the coefficient of variation
  // of weekly demand, CV² kept as an exact integer ratio comparison).
  // Everything collapses to the part domain before classification, and
  // the revenue cumulative runs bucket-partitioned (two-phase, like
  // agg_abc_class) because the part domain scales with volume.
  private val aggAbcXyz = Op(
    "agg_abc_xyz",
    (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_ax")
      // ONE fact scan (guide §2.4): the weekly buckets carry BOTH the
      // quantity and the revenue sums, and the per-part rollup is cached —
      // the CTE spelling re-scanned lineitem 4× in the r18 before-plan
      // (wk and rev inlined into every downstream reference). Revenue per
      // part as a sum of exact per-week BIGINT cents is the same integer.
      s.sql("""
        WITH wk AS (SELECT l_partkey AS pk,
                           unix_timestamp(l_shipdate) div 604800 AS w,
                           CAST(SUM(CAST(round(l_quantity) AS BIGINT))
                                AS BIGINT) AS q,
                           CAST(SUM(CAST(round(l_extendedprice * 100)
                                         AS BIGINT)) AS BIGINT) AS rc
                    FROM lineitem_ax GROUP BY 1, 2)
        SELECT pk, CAST(COUNT(*) AS BIGINT) AS nw,
               CAST(SUM(q) AS BIGINT) AS sq,
               CAST(SUM(q * q) AS BIGINT) AS sqq,
               CAST(SUM(rc) AS BIGINT) AS r
        FROM wk GROUP BY 1""")
        // unconditional (not scale-aware): ~5 inlined copies of a TWO-level
        // fact aggregation — measured +0.6 s at sf0.1 when skipped (r19 m1)
        .trackedCkpt().createOrReplaceTempView("ps_ax")
      s.sql("""
        WITH vs AS (SELECT pk, nw, sq, sqq FROM ps_ax),
             rev AS (SELECT pk, r FROM ps_ax),
             tot AS (SELECT CAST(SUM(r) AS BIGINT) AS t FROM rev),
             bkt AS (SELECT pk, r, (-r) div 10000000 AS bu FROM rev),
             win AS (SELECT pk, r, bu,
                            CAST(SUM(r) OVER (PARTITION BY bu
                              ORDER BY -r, pk) AS BIGINT) AS cin
                     FROM bkt),
             bt AS (SELECT bu, CAST(SUM(r) AS BIGINT) AS sb
                    FROM bkt GROUP BY 1),
             off AS (SELECT bu,
                            CAST(COALESCE(SUM(sb) OVER (ORDER BY bu
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS BIGINT) AS o
                     FROM bt),
             cum AS (SELECT win.pk, win.r,
                            CAST(win.cin + off.o AS BIGINT) AS cr
                     FROM win JOIN off ON win.bu = off.bu),
             cls AS (SELECT cum.pk,
                            CASE WHEN cum.cr * 10 <= tot.t * 8 THEN 'A'
                                 WHEN cum.cr * 20 <= tot.t * 19
                                 THEN 'B' ELSE 'C' END AS abc,
                            CASE
                              WHEN (vs.nw * vs.sqq - vs.sq * vs.sq) * 4
                                   <= vs.sq * vs.sq THEN 'X'
                              WHEN (vs.nw * vs.sqq - vs.sq * vs.sq)
                                   <= vs.sq * vs.sq THEN 'Y'
                              ELSE 'Z' END AS xyz
                     FROM cum JOIN vs ON cum.pk = vs.pk
                     CROSS JOIN tot)
        SELECT abc, xyz, CAST(COUNT(*) AS BIGINT) AS n_parts
        FROM cls GROUP BY abc, xyz ORDER BY abc, xyz""")
    },
    Some("""WITH wk AS (SELECT l_partkey AS pk,
                               CAST(floor(epoch(l_shipdate)) AS BIGINT)
                                 // 604800 AS w,
                               CAST(SUM(CAST(round(l_quantity)
                                             AS BIGINT)) AS BIGINT)
                                 AS q
                        FROM lineitem GROUP BY 1, 2),
                 vs AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS nw,
                               CAST(SUM(q) AS BIGINT) AS sq,
                               CAST(SUM(q * q) AS BIGINT) AS sqq
                        FROM wk GROUP BY 1),
                 rev AS (SELECT l_partkey AS pk,
                                CAST(SUM(CAST(round(l_extendedprice
                                       * 100) AS BIGINT)) AS BIGINT)
                                  AS r
                         FROM lineitem GROUP BY 1),
                 tot AS (SELECT CAST(SUM(r) AS BIGINT) AS t FROM rev),
                 cum AS (SELECT pk, r,
                                CAST(SUM(r) OVER (ORDER BY r DESC, pk)
                                     AS BIGINT) AS cr
                         FROM rev),
                 cls AS (SELECT cum.pk,
                                CASE WHEN cum.cr * 10 <= tot.t * 8
                                     THEN 'A'
                                     WHEN cum.cr * 20 <= tot.t * 19
                                     THEN 'B' ELSE 'C' END AS abc,
                                CASE
                                  WHEN (vs.nw * vs.sqq
                                        - vs.sq * vs.sq) * 4
                                       <= vs.sq * vs.sq THEN 'X'
                                  WHEN (vs.nw * vs.sqq
                                        - vs.sq * vs.sq)
                                       <= vs.sq * vs.sq THEN 'Y'
                                  ELSE 'Z' END AS xyz
                         FROM cum JOIN vs ON cum.pk = vs.pk
                         CROSS JOIN tot)
            SELECT abc, xyz, CAST(COUNT(*) AS BIGINT) AS n_parts
            FROM cls GROUP BY abc, xyz ORDER BY abc, xyz"""))

  // Hour-of-day × day-of-week traffic heatmap — the dashboard staple
  // behind staffing and maintenance-window decisions. Pure integer epoch
  // arithmetic (epoch day 0 = Thursday, hence the +4 weekday shift), one
  // partial-aggregated rollup bounded by 24×7 cells per type.
  private val eventHeatmapHodDow = Op(
    "event_heatmap_hod_dow",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_hm")
      s.sql("""
        SELECT event_type,
               (unix_timestamp(ts) div 86400 + 4) % 7 AS dow,
               (unix_timestamp(ts) % 86400) div 3600 AS hod,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events_hm GROUP BY 1, 2, 3
        ORDER BY event_type, dow, hod""")
    },
    Some("""SELECT event_type,
                   (CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 4) % 7
                     AS dow,
                   (CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 3600
                     AS hod,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2, 3
            ORDER BY event_type, dow, hod"""))

  // Discrete-time churn hazard — P(churned at week k | active through k):
  // the per-week risk curve behind retention planning, computed from each
  // user's (first, last) active week. RIGHT-CENSORING: a user whose last
  // activity falls in the final observed week has not been seen to churn —
  // they are censored at that offset (count in the at-risk denominator,
  // never in `ended`). Without this the terminal hazard is forced to 1.0
  // and every earlier hazard is biased upward. The at-risk denominator is
  // a reverse cumulative over the ≤5-row week domain; exact integer
  // counts, one division per week.
  private val eventChurnHazard = Op(
    "event_churn_hazard",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_ch")
      // materialize the per-user lifespan (w — feeds the global max AND
      // the offset rows) and the per-offset counts (dc — feeds tot, rc
      // and rc's correlated at-risk subquery): the inline spelling
      // re-ran the fact groupBy 10× in the r18 before-plan (guide §2.4).
      // Both relations are bounded (users; distinct week offsets).
      s.sql("""SELECT user_id,
                      MIN(unix_timestamp(ts) div 604800) AS fw,
                      MAX(unix_timestamp(ts) div 604800) AS lw
               FROM events_ch GROUP BY 1""")
        .trackedCkpt().createOrReplaceTempView("w_ch")
      s.sql("""
        WITH gm AS (SELECT MAX(lw) AS gw FROM w_ch),
             u AS (SELECT CAST(lw - fw AS BIGINT) AS off,
                          CASE WHEN lw = gw THEN 1 ELSE 0 END AS cens
                   FROM w_ch CROSS JOIN gm)
        SELECT off, CAST(SUM(1 - cens) AS BIGINT) AS ended,
               CAST(SUM(cens) AS BIGINT) AS censored
        FROM u GROUP BY 1""")
        .trackedCkpt().createOrReplaceTempView("dc_ch")
      s.sql("""
        WITH dc AS (SELECT off, ended, censored FROM dc_ch),
             tot AS (SELECT CAST(SUM(ended + censored) AS BIGINT) AS n
                     FROM dc),
             rc AS (SELECT dc.off, dc.ended, dc.censored,
                           CAST(tot.n - COALESCE(
                                  (SELECT SUM(d2.ended + d2.censored)
                                   FROM dc d2 WHERE d2.off < dc.off), 0)
                                AS BIGINT) AS at_risk
                    FROM dc CROSS JOIN tot)
        SELECT off AS week_offset, ended, censored, at_risk,
               round(CAST(ended AS DOUBLE) / at_risk, 6) AS hazard
        FROM rc ORDER BY week_offset""")
    },
    Some("""WITH w AS (SELECT user_id,
                              MIN(CAST(floor(epoch(ts)) AS BIGINT)
                                  // 604800) AS fw,
                              MAX(CAST(floor(epoch(ts)) AS BIGINT)
                                  // 604800) AS lw
                       FROM events GROUP BY 1),
                 gm AS (SELECT MAX(lw) AS gw FROM w),
                 u AS (SELECT CAST(lw - fw AS BIGINT) AS off,
                              CASE WHEN lw = gw THEN 1 ELSE 0 END
                                AS cens
                       FROM w CROSS JOIN gm),
                 dc AS (SELECT off,
                               CAST(SUM(1 - cens) AS BIGINT) AS ended,
                               CAST(SUM(cens) AS BIGINT) AS censored
                        FROM u GROUP BY 1),
                 tot AS (SELECT CAST(SUM(ended + censored) AS BIGINT)
                                  AS n FROM dc),
                 rc AS (SELECT dc.off, dc.ended, dc.censored,
                               CAST(tot.n - COALESCE(
                                      (SELECT SUM(d2.ended + d2.censored)
                                       FROM dc d2
                                       WHERE d2.off < dc.off), 0)
                                    AS BIGINT) AS at_risk
                        FROM dc CROSS JOIN tot)
            SELECT off AS week_offset, ended, censored, at_risk,
                   round(CAST(ended AS DOUBLE) / at_risk, 6) AS hazard
            FROM rc ORDER BY week_offset"""))

  // Embedding-norm health histogram — L2 norms per label in 0.1-wide
  // buckets: collapsed or exploded norms are the first symptom of a
  // broken encoder run (normalize-all embeddings read as a single spike
  // at 1.0). The norm is one map-side aggregate HOF over each vector;
  // the rollup is bounded by labels × buckets.
  private val embNormHistogram = Op(
    "emb_norm_histogram",
    (s, d) => {
      t(s, d, "embeddings").createOrReplaceTempView("embeddings_nh")
      s.sql("""
        WITH n AS (SELECT label,
                          CAST(floor(sqrt(aggregate(
                            CAST(embedding AS ARRAY<DOUBLE>),
                            CAST(0.0 AS DOUBLE),
                            (acc, x) -> acc + x * x)) * 10.0D)
                               AS BIGINT) AS nb
                   FROM embeddings_nh)
        SELECT CAST(label AS BIGINT) AS label, nb AS norm_bucket_01,
               CAST(COUNT(*) AS BIGINT) AS n_vectors
        FROM n GROUP BY 1, 2 ORDER BY label, norm_bucket_01""")
    },
    Some("""WITH n AS (SELECT label,
                              CAST(floor(sqrt(list_sum(
                                list_transform(
                                  CAST(embedding AS DOUBLE[]),
                                  x -> x * x))) * 10.0) AS BIGINT)
                                AS nb
                       FROM embeddings)
            SELECT CAST(label AS BIGINT) AS label,
                   nb AS norm_bucket_01,
                   CAST(COUNT(*) AS BIGINT) AS n_vectors
            FROM n GROUP BY 1, 2 ORDER BY label, norm_bucket_01"""))

  private val ops2: Seq[Op] =
    Seq(aggSkyline2d, joinNearestValue, aggAbcClass, aggBacklogAging,
      scanFileMetadata, aggConcurrencySweep, windowRankChange,
      textScriptDetect, eventMarkovEntropy, textCoverageCurve,
      resampleSeasonalStrength, privacyGeneralize, textHapaxRatio,
      textLangidKappa, aggSupplierRisk, aggNewsvendor, aggAbcXyz,
      eventHeatmapHodDow, eventChurnHazard, embNormHistogram)
}
