package graft.operators

import graft.Mats.MatOps
import graft.{Op, Tables}
import org.apache.spark.sql.SparkSession

/** Round-18 rank-statistics and indicator batch (SURVEY.md §2C.r18):
  * two-sample scale/distribution tests (Ansari–Bradley, Cramér–von Mises),
  * ordered-alternative trend tests (Jonckheere–Terpstra, Page's L), the
  * Dixon Q outlier gap ratio, and four exact-arithmetic indicators
  * (Vortex, Coppock, TRIX, dyadic mass index) over the established hourly
  * OHLC-bar / per-part price-series sources.
  *
  * Tie discipline — the r17 Wilcoxon lesson (ADVICE r17 #2) applied from
  * the start: wherever a classical test publishes a z, the variance is
  * EXACT UNDER TIES, computed from the observed score population itself
  * (finite-population sampling moments: drawing n of N fixed scores
  * without replacement gives Var = n(N−n)/(N−1)·σ²_pop — no no-tie
  * shortcut formula anywhere), or from the standard tie-corrected
  * expansion where the statistic is not a linear rank sum (Jonckheere).
  * Midranks are carried as EXACT integers (2·rank = 2·cum − count + 1)
  * and every reduction accumulates BIGINT/DECIMAL(38,0) ≡ HUGEINT; floats
  * appear once per output row.
  *
  * Scale discipline: rank windows run over the USER or bounded VALUE
  * domain (neither grows with fact volume — the wilcoxon/levene
  * precedent); bar recursions run over the bounded (event_type × hour)
  * bar relation; the per-part series keys filter to the bounded
  * l_partkey ≤ 100 probe window the indicator family shares.
  */
object RankStatsOps {
  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  private def onEvents(s: SparkSession, d: String, view: String): Unit =
    t(s, d, "events").createOrReplaceTempView(view)
  private def onLineitem(s: SparkSession, d: String, view: String): Unit =
    t(s, d, "lineitem").createOrReplaceTempView(view)

  // Ansari–Bradley two-sample SCALE test on per-user view vs click cent
  // totals (the sign-test/wilcoxon pairing source, unpaired here): scores
  // a(r) = min(r, N+1−r) fold the pooled midranks toward the middle, so a
  // small AB sum for the view sample means views are more spread out.
  // Everything is domain-collapsed: per-value pooled counts give exact
  // 2·midranks, 2·scores, and the three integer score moments; the z
  // uses the exact finite-population variance n·m/(N(N−1))·Σ(a−ā)²·N —
  // ties need no special case because the variance IS the observed score
  // population's.
  private val aggAnsariBradley = Op(
    "agg_ansari_bradley",
    (s, d) => {
      onEvents(s, d, "events_ab")
      s.sql("""
        WITH p AS (SELECT user_id, event_type AS g,
                          CAST(SUM(CAST(round(value * 100) AS BIGINT))
                               AS BIGINT) AS x
                   FROM events_ab WHERE event_type IN ('view', 'click')
                   GROUP BY user_id, event_type),
             vc AS (SELECT x,
                           CAST(COUNT(*) AS BIGINT) AS c,
                           CAST(SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END)
                                AS BIGINT) AS cx
                    FROM p GROUP BY x),
             r AS (SELECT x, c, cx,
                          CAST(SUM(c) OVER (ORDER BY x) AS BIGINT) AS cc,
                          CAST(SUM(c) OVER () AS BIGINT) AS nn
                   FROM vc),
             a AS (SELECT c, cx, nn,
                          LEAST(2 * cc - c + 1,
                                2 * (nn + 1) - (2 * cc - c + 1)) AS a2
                   FROM r),
             q AS (SELECT MAX(nn) AS nn,
                          CAST(SUM(cx) AS BIGINT) AS n,
                          CAST(SUM(c - cx) AS BIGINT) AS m,
                          CAST(SUM(cx * a2) AS BIGINT) AS ab2,
                          CAST(SUM(c * a2) AS BIGINT) AS s1,
                          SUM(CAST(c * a2 * a2 AS DECIMAL(38,0))) AS s2
                   FROM a)
        SELECT n, m, ab2,
               round((CAST(ab2 AS DOUBLE) / 2.0D
                      - n * (CAST(s1 AS DOUBLE) / (2.0D * nn)))
                     / sqrt(CAST(n AS DOUBLE) * m
                            * (nn * CAST(s2 AS DOUBLE)
                               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                            / (4.0D * nn * nn * (nn - 1))), 6) AS z
        FROM q""")
    },
    Some("""WITH p AS (SELECT user_id, event_type AS g,
                              CAST(SUM(CAST(round(value * 100) AS BIGINT))
                                   AS BIGINT) AS x
                       FROM events WHERE event_type IN ('view', 'click')
                       GROUP BY user_id, event_type),
                 vc AS (SELECT x,
                               CAST(COUNT(*) AS BIGINT) AS c,
                               CAST(SUM(CASE WHEN g = 'view' THEN 1
                                        ELSE 0 END) AS BIGINT) AS cx
                        FROM p GROUP BY x),
                 r AS (SELECT x, c, cx,
                              CAST(SUM(c) OVER (ORDER BY x) AS BIGINT)
                                AS cc,
                              CAST(SUM(c) OVER () AS BIGINT) AS nn
                       FROM vc),
                 a AS (SELECT c, cx, nn,
                              LEAST(2 * cc - c + 1,
                                    2 * (nn + 1) - (2 * cc - c + 1)) AS a2
                       FROM r),
                 q AS (SELECT MAX(nn) AS nn,
                              CAST(SUM(cx) AS BIGINT) AS n,
                              CAST(SUM(c - cx) AS BIGINT) AS m,
                              CAST(SUM(cx * a2) AS BIGINT) AS ab2,
                              CAST(SUM(c * a2) AS BIGINT) AS s1,
                              SUM(CAST(c * a2 * a2 AS HUGEINT)) AS s2
                       FROM a)
            SELECT n, m, ab2,
                   round((CAST(ab2 AS DOUBLE) / 2.0
                          - n * (CAST(s1 AS DOUBLE) / (2.0 * nn)))
                         / sqrt(CAST(n AS DOUBLE) * m
                                * (nn * CAST(s2 AS DOUBLE)
                                   - CAST(s1 AS DOUBLE)
                                     * CAST(s1 AS DOUBLE))
                                / (4.0 * nn * nn * (nn - 1))), 6) AS z
            FROM q"""))

  // Two-sample Cramér–von Mises on the same view/click user totals —
  // distribution-equality across the WHOLE shape, not just location
  // (Mann–Whitney) or scale (Ansari–Bradley). Anderson's rank form:
  // U = n·Σ(r_i − i)² + m·Σ(s_j − j)², T = U/(nmN) − (4nm−1)/(6N), with
  // pooled midranks carried as 2r integers and within-sample positions i
  // from a user-domain row_number — (2r − 2i)² sums are order-independent
  // within ties because the tied members' position SET is fixed. U stays
  // an exact integer (×4); T is one float expression.
  private val aggCvmTest = Op(
    "agg_cvm_test",
    (s, d) => {
      onEvents(s, d, "events_cvm")
      s.sql("""
        WITH p AS (SELECT user_id, event_type AS g,
                          CAST(SUM(CAST(round(value * 100) AS BIGINT))
                               AS BIGINT) AS x
                   FROM events_cvm WHERE event_type IN ('view', 'click')
                   GROUP BY user_id, event_type),
             vc AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS c
                    FROM p GROUP BY x),
             r AS (SELECT x, 2 * CAST(SUM(c) OVER (ORDER BY x) AS BIGINT)
                             - c + 1 AS r2
                   FROM vc),
             i AS (SELECT p.g, r.r2,
                          CAST(ROW_NUMBER() OVER (PARTITION BY p.g
                            ORDER BY p.x, p.user_id) AS BIGINT) AS pos
                   FROM p JOIN r ON p.x = r.x),
             q AS (SELECT CAST(SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END)
                               AS BIGINT) AS n,
                          CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END)
                               AS BIGINT) AS m,
                          SUM(CASE WHEN g = 'view'
                              THEN CAST((r2 - 2 * pos) * (r2 - 2 * pos)
                                        AS DECIMAL(38,0)) ELSE 0 END)
                            AS dx,
                          SUM(CASE WHEN g = 'click'
                              THEN CAST((r2 - 2 * pos) * (r2 - 2 * pos)
                                        AS DECIMAL(38,0)) ELSE 0 END)
                            AS dy
                   FROM i)
        SELECT n, m,
               CAST(n * dx + m * dy AS DOUBLE) AS u4,
               round(CAST(n * dx + m * dy AS DOUBLE)
                     / (4.0D * n * m * (n + m))
                     - (4.0D * n * m - 1) / (6.0D * (n + m)), 6) AS t_stat
        FROM q""")
    },
    Some("""WITH p AS (SELECT user_id, event_type AS g,
                              CAST(SUM(CAST(round(value * 100) AS BIGINT))
                                   AS BIGINT) AS x
                       FROM events WHERE event_type IN ('view', 'click')
                       GROUP BY user_id, event_type),
                 vc AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS c
                        FROM p GROUP BY x),
                 r AS (SELECT x,
                              2 * CAST(SUM(c) OVER (ORDER BY x) AS BIGINT)
                                - c + 1 AS r2
                       FROM vc),
                 i AS (SELECT p.g, r.r2,
                              CAST(ROW_NUMBER() OVER (PARTITION BY p.g
                                ORDER BY p.x, p.user_id) AS BIGINT) AS pos
                       FROM p JOIN r ON p.x = r.x),
                 q AS (SELECT CAST(SUM(CASE WHEN g = 'view' THEN 1
                                       ELSE 0 END) AS BIGINT) AS n,
                              CAST(SUM(CASE WHEN g = 'click' THEN 1
                                       ELSE 0 END) AS BIGINT) AS m,
                              SUM(CASE WHEN g = 'view'
                                  THEN CAST((r2 - 2 * pos) * (r2 - 2 * pos)
                                            AS HUGEINT) ELSE 0 END) AS dx,
                              SUM(CASE WHEN g = 'click'
                                  THEN CAST((r2 - 2 * pos) * (r2 - 2 * pos)
                                            AS HUGEINT) ELSE 0 END) AS dy
                       FROM i)
            SELECT n, m,
                   CAST(n * dx + m * dy AS DOUBLE) AS u4,
                   round(CAST(n * dx + m * dy AS DOUBLE)
                         / (4.0 * n * m * (n + m))
                         - (4.0 * n * m - 1) / (6.0 * (n + m)), 6) AS t_stat
            FROM q"""))

  // Jonckheere–Terpstra ordered-alternative test: do event-value levels
  // trend upward across the lexically-ordered event types? JT sums the
  // Mann–Whitney "greater" counts over every ordered group pair, with
  // half-credit for cross-group ties. The value domain is bounded
  // (cents), so the counting rides the FULL (pooled distinct value ×
  // group) grid — zero-filled so every group has a cumulative count at
  // every pooled value point — then one equi-join on the value axis:
  // D·k² rows, never an event-pair join. 2·JT stays an exact integer;
  // the z uses the standard tie-corrected variance (the Hollander–Wolfe
  // three-term form) with every tie/group moment an exact
  // DECIMAL(38,0)/HUGEINT.
  private val aggJonckheere = Op(
    "agg_jonckheere",
    (s, d) => {
      onEvents(s, d, "events_jt")
      // materialize the domain-collapsed counts (vc — 4 downstream refs)
      // and the zero-filled grid (self-joined) once: Spark inlines CTEs,
      // so the r18 before-plan re-ran the fact aggregation 8×. Both
      // relations are bounded by (groups × distinct cent values), never
      // by data volume (guide §2.4).
      s.sql("""
        WITH b AS (SELECT event_type AS g,
                          CAST(round(value * 100) AS BIGINT) AS x
                   FROM events_jt)
        SELECT g, x, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY g, x""")
        .trackedCkpt().createOrReplaceTempView("vc_jt")
      s.sql("""
        WITH vc AS (SELECT g, x, c FROM vc_jt),
             dv AS (SELECT DISTINCT x FROM vc),
             gs AS (SELECT g, CAST(SUM(c) AS BIGINT) AS ng
                    FROM vc GROUP BY g)
        SELECT gs.g, dv.x, gs.ng,
               CAST(COALESCE(vc.c, 0L) AS BIGINT) AS c,
               CAST(SUM(COALESCE(vc.c, 0L))
                    OVER (PARTITION BY gs.g ORDER BY dv.x)
                    AS BIGINT) AS cumle
        FROM dv CROSS JOIN gs
        LEFT JOIN vc ON vc.g = gs.g AND vc.x = dv.x""")
        .trackedCkpt().createOrReplaceTempView("grid_jt")
      s.sql("""
        WITH vc AS (SELECT g, x, c FROM vc_jt),
             gs AS (SELECT g, CAST(SUM(c) AS BIGINT) AS ng
                    FROM vc GROUP BY g),
             grid AS (SELECT g, x, ng, c, cumle FROM grid_jt),
             jt AS (SELECT CAST(SUM(a.c * (2 * (bb.ng - bb.cumle) + bb.c))
                                AS BIGINT) AS jt2
                    FROM grid a JOIN grid bb
                      ON a.g < bb.g AND a.x = bb.x),
             tv AS (SELECT x, CAST(SUM(c) AS BIGINT) AS tc
                    FROM vc GROUP BY x),
             mom AS (SELECT CAST(SUM(tc) AS BIGINT) AS nn,
                            SUM(CAST(tc AS DECIMAL(38,0)) * (tc - 1)
                                * (2 * tc + 5)) AS t25,
                            SUM(CAST(tc AS DECIMAL(38,0)) * (tc - 1)
                                * (tc - 2)) AS t3,
                            SUM(CAST(tc AS DECIMAL(38,0)) * (tc - 1)) AS t2
                     FROM tv),
             gmom AS (SELECT SUM(CAST(ng AS DECIMAL(38,0)) * ng) AS n2,
                             SUM(CAST(ng AS DECIMAL(38,0)) * (ng - 1)
                                 * (2 * ng + 5)) AS g25,
                             SUM(CAST(ng AS DECIMAL(38,0)) * (ng - 1)
                                 * (ng - 2)) AS g3,
                             SUM(CAST(ng AS DECIMAL(38,0)) * (ng - 1))
                               AS g2
                      FROM gs)
        SELECT mom.nn AS n, jt.jt2,
               round((CAST(jt.jt2 AS DOUBLE) / 2.0D
                      - (CAST(mom.nn AS DOUBLE) * mom.nn
                         - CAST(gmom.n2 AS DOUBLE)) / 4.0D)
                     / sqrt((CAST(mom.nn AS DOUBLE) * (mom.nn - 1)
                               * (2 * mom.nn + 5)
                             - CAST(gmom.g25 AS DOUBLE)
                             - CAST(mom.t25 AS DOUBLE)) / 72.0D
                            + CAST(gmom.g3 AS DOUBLE)
                              * CAST(mom.t3 AS DOUBLE)
                              / (36.0D * mom.nn * (mom.nn - 1)
                                 * (mom.nn - 2))
                            + CAST(gmom.g2 AS DOUBLE)
                              * CAST(mom.t2 AS DOUBLE)
                              / (8.0D * mom.nn * (mom.nn - 1))), 6) AS z
        FROM jt CROSS JOIN mom CROSS JOIN gmom""")
    },
    Some("""WITH b AS (SELECT event_type AS g,
                              CAST(round(value * 100) AS BIGINT) AS x
                       FROM events),
                 vc AS (SELECT g, x, CAST(COUNT(*) AS BIGINT) AS c
                        FROM b GROUP BY g, x),
                 dv AS (SELECT DISTINCT x FROM vc),
                 gs AS (SELECT g, CAST(SUM(c) AS BIGINT) AS ng
                        FROM vc GROUP BY g),
                 grid AS (SELECT gs.g, dv.x, gs.ng,
                                 CAST(COALESCE(vc.c, 0) AS BIGINT) AS c,
                                 CAST(SUM(COALESCE(vc.c, 0))
                                      OVER (PARTITION BY gs.g
                                            ORDER BY dv.x)
                                      AS BIGINT) AS cumle
                          FROM dv CROSS JOIN gs
                          LEFT JOIN vc ON vc.g = gs.g AND vc.x = dv.x),
                 jt AS (SELECT CAST(SUM(a.c * (2 * (bb.ng - bb.cumle)
                                              + bb.c)) AS BIGINT) AS jt2
                        FROM grid a JOIN grid bb
                          ON a.g < bb.g AND a.x = bb.x),
                 tv AS (SELECT x, CAST(SUM(c) AS BIGINT) AS tc
                        FROM vc GROUP BY x),
                 mom AS (SELECT CAST(SUM(tc) AS BIGINT) AS nn,
                                SUM(CAST(tc AS HUGEINT) * (tc - 1)
                                    * (2 * tc + 5)) AS t25,
                                SUM(CAST(tc AS HUGEINT) * (tc - 1)
                                    * (tc - 2)) AS t3,
                                SUM(CAST(tc AS HUGEINT) * (tc - 1)) AS t2
                         FROM tv),
                 gmom AS (SELECT SUM(CAST(ng AS HUGEINT) * ng) AS n2,
                                 SUM(CAST(ng AS HUGEINT) * (ng - 1)
                                     * (2 * ng + 5)) AS g25,
                                 SUM(CAST(ng AS HUGEINT) * (ng - 1)
                                     * (ng - 2)) AS g3,
                                 SUM(CAST(ng AS HUGEINT) * (ng - 1))
                                   AS g2
                          FROM gs)
            SELECT mom.nn AS n, jt.jt2,
                   round((CAST(jt.jt2 AS DOUBLE) / 2.0
                          - (CAST(mom.nn AS DOUBLE) * mom.nn
                             - CAST(gmom.n2 AS DOUBLE)) / 4.0)
                         / sqrt((CAST(mom.nn AS DOUBLE) * (mom.nn - 1)
                                   * (2 * mom.nn + 5)
                                 - CAST(gmom.g25 AS DOUBLE)
                                 - CAST(mom.t25 AS DOUBLE)) / 72.0
                                + CAST(gmom.g3 AS DOUBLE)
                                  * CAST(mom.t3 AS DOUBLE)
                                  / (36.0 * mom.nn * (mom.nn - 1)
                                     * (mom.nn - 2))
                                + CAST(gmom.g2 AS DOUBLE)
                                  * CAST(mom.t2 AS DOUBLE)
                                  / (8.0 * mom.nn * (mom.nn - 1))), 6)
                     AS z
            FROM jt CROSS JOIN mom CROSS JOIN gmom"""))

  // Page's L trend test — the ordered-alternative sibling of Friedman:
  // blocks are users observed under EVERY event type, treatments are the
  // lexically-ordered types, and L = Σ j·R_j grows when per-user value
  // totals trend with the type order. Within-block midranks stay exact
  // 2r integers; ties cost nothing because the variance is the exact
  // linear-permutation-statistic form Σ_b S_c·S_r,b/(k−1) computed from
  // each block's OBSERVED rank spread (midrank sums are invariant, so
  // E[L] is closed-form even under ties).
  private val aggPageTrend = Op(
    "agg_page_trend",
    (s, d) => {
      onEvents(s, d, "events_pg")
      s.sql("""
        WITH pt AS (SELECT user_id, event_type AS g,
                           CAST(SUM(CAST(round(value * 100) AS BIGINT))
                                AS BIGINT) AS x
                    FROM events_pg GROUP BY user_id, event_type),
             kk AS (SELECT CAST(COUNT(DISTINCT g) AS BIGINT) AS k FROM pt),
             cb AS (SELECT user_id FROM pt CROSS JOIN kk
                    GROUP BY user_id, kk.k
                    HAVING COUNT(*) = MAX(kk.k)),
             jr AS (SELECT p.user_id, p.g, p.x,
                           CAST(DENSE_RANK() OVER (ORDER BY p.g) AS BIGINT)
                             AS j,
                           2 * CAST(RANK() OVER (PARTITION BY p.user_id
                                 ORDER BY p.x) AS BIGINT)
                             + CAST(COUNT(*) OVER (PARTITION BY p.user_id,
                                 p.x) AS BIGINT) - 1 AS r2
                    FROM pt p JOIN cb ON p.user_id = cb.user_id),
             blk AS (SELECT user_id, jj.k,
                            CAST(SUM(j * r2) AS BIGINT) AS l2b,
                            CAST(SUM((r2 - jj.k - 1)
                                     * (r2 - jj.k - 1))
                                 AS BIGINT) AS sr4
                     FROM jr CROSS JOIN kk jj
                     GROUP BY user_id, jj.k),
             q AS (SELECT CAST(COUNT(*) AS BIGINT) AS b,
                          CAST(SUM(l2b) AS BIGINT) AS l2,
                          SUM(CAST(sr4 AS DECIMAL(38,0))) AS sr4t
                   FROM blk)
        SELECT q.b, kk.k, q.l2,
               round((CAST(q.l2 AS DOUBLE) / 2.0D
                      - q.b * kk.k * (kk.k + 1.0D) * (kk.k + 1) / 4.0D)
                     / sqrt(CAST(kk.k AS DOUBLE) * (kk.k * kk.k - 1)
                            / 12.0D
                            * CAST(q.sr4t AS DOUBLE)
                            / (4.0D * (kk.k - 1))), 6) AS z
        FROM q CROSS JOIN kk""")
    },
    Some("""WITH pt AS (SELECT user_id, event_type AS g,
                               CAST(SUM(CAST(round(value * 100)
                                    AS BIGINT)) AS BIGINT) AS x
                        FROM events GROUP BY user_id, event_type),
                 kk AS (SELECT CAST(COUNT(DISTINCT g) AS BIGINT) AS k
                        FROM pt),
                 cb AS (SELECT user_id FROM pt CROSS JOIN kk
                        GROUP BY user_id, kk.k
                        HAVING COUNT(*) = MAX(kk.k)),
                 jr AS (SELECT p.user_id, p.g, p.x,
                               CAST(DENSE_RANK() OVER (ORDER BY p.g)
                                    AS BIGINT) AS j,
                               2 * CAST(RANK() OVER (PARTITION BY
                                     p.user_id ORDER BY p.x) AS BIGINT)
                                 + CAST(COUNT(*) OVER (PARTITION BY
                                     p.user_id, p.x) AS BIGINT) - 1 AS r2
                        FROM pt p JOIN cb ON p.user_id = cb.user_id),
                 blk AS (SELECT user_id, jj.k,
                                CAST(SUM(j * r2) AS BIGINT) AS l2b,
                                CAST(SUM((r2 - jj.k - 1)
                                         * (r2 - jj.k - 1))
                                     AS BIGINT) AS sr4
                         FROM jr CROSS JOIN kk jj
                         GROUP BY user_id, jj.k),
                 q AS (SELECT CAST(COUNT(*) AS BIGINT) AS b,
                              CAST(SUM(l2b) AS BIGINT) AS l2,
                              SUM(CAST(sr4 AS HUGEINT)) AS sr4t
                       FROM blk)
            SELECT q.b, kk.k, q.l2,
                   round((CAST(q.l2 AS DOUBLE) / 2.0
                          - q.b * kk.k * (kk.k + 1.0) * (kk.k + 1) / 4.0)
                         / sqrt(CAST(kk.k AS DOUBLE) * (kk.k * kk.k - 1)
                                / 12.0
                                * CAST(q.sr4t AS DOUBLE)
                                / (4.0 * (kk.k - 1))), 6) AS z
            FROM q CROSS JOIN kk"""))

  // Dixon's Q gap ratios per event type — the small-sample outlier screen:
  // Q_low = (x(2)−x(1))/(x(n)−x(1)), Q_high = (x(n)−x(n−1))/(x(n)−x(1)),
  // POSITIONAL order statistics (a duplicated extreme means its gap is 0).
  // Two passes: extremes per group, then the conditional second extremes
  // against them — all exact cents, two divisions per output row.
  private val aggDixonQ = Op(
    "agg_dixon_q",
    (s, d) => {
      onEvents(s, d, "events_dq")
      s.sql("""
        WITH b AS (SELECT event_type AS g,
                          CAST(round(value * 100) AS BIGINT) AS x
                   FROM events_dq),
             m AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(MIN(x) AS BIGINT) AS x1,
                          CAST(MAX(x) AS BIGINT) AS xn
                   FROM b GROUP BY g),
             e AS (SELECT b.g,
                          CAST(SUM(CASE WHEN b.x = m.x1 THEN 1 ELSE 0 END)
                               AS BIGINT) AS c1,
                          CAST(SUM(CASE WHEN b.x = m.xn THEN 1 ELSE 0 END)
                               AS BIGINT) AS cn,
                          CAST(MIN(CASE WHEN b.x > m.x1 THEN b.x END)
                               AS BIGINT) AS above,
                          CAST(MAX(CASE WHEN b.x < m.xn THEN b.x END)
                               AS BIGINT) AS below
                   FROM b JOIN m ON b.g = m.g
                   GROUP BY b.g)
        SELECT m.g AS event_type, m.n, m.x1 AS min_c, m.xn AS max_c,
               round(CAST((CASE WHEN e.c1 > 1 THEN m.x1 ELSE e.above END)
                          - m.x1 AS DOUBLE)
                     / NULLIF(m.xn - m.x1, 0), 6) AS q_low,
               round(CAST(m.xn -
                          (CASE WHEN e.cn > 1 THEN m.xn ELSE e.below END)
                          AS DOUBLE)
                     / NULLIF(m.xn - m.x1, 0), 6) AS q_high
        FROM m JOIN e ON m.g = e.g
        ORDER BY event_type""")
    },
    Some("""WITH b AS (SELECT event_type AS g,
                              CAST(round(value * 100) AS BIGINT) AS x
                       FROM events),
                 m AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(MIN(x) AS BIGINT) AS x1,
                              CAST(MAX(x) AS BIGINT) AS xn
                       FROM b GROUP BY g),
                 e AS (SELECT b.g,
                              CAST(SUM(CASE WHEN b.x = m.x1 THEN 1
                                       ELSE 0 END) AS BIGINT) AS c1,
                              CAST(SUM(CASE WHEN b.x = m.xn THEN 1
                                       ELSE 0 END) AS BIGINT) AS cn,
                              CAST(MIN(CASE WHEN b.x > m.x1 THEN b.x END)
                                   AS BIGINT) AS above,
                              CAST(MAX(CASE WHEN b.x < m.xn THEN b.x END)
                                   AS BIGINT) AS below
                       FROM b JOIN m ON b.g = m.g
                       GROUP BY b.g)
            SELECT m.g AS event_type, m.n, m.x1 AS min_c, m.xn AS max_c,
                   round(CAST((CASE WHEN e.c1 > 1 THEN m.x1
                               ELSE e.above END) - m.x1 AS DOUBLE)
                         / NULLIF(m.xn - m.x1, 0), 6) AS q_low,
                   round(CAST(m.xn - (CASE WHEN e.cn > 1 THEN m.xn
                                      ELSE e.below END) AS DOUBLE)
                         / NULLIF(m.xn - m.x1, 0), 6) AS q_high
            FROM m JOIN e ON m.g = e.g
            ORDER BY event_type"""))

  // Vortex indicator from the hourly OHLC bars (the resample_atr bar
  // relation verbatim): VM+ = |hi − lo_prev|, VM− = |lo − hi_prev|,
  // TR the gap-aware true range; VI± are the 14-bar frame-sum ratios.
  // All frame sums are exact BIGINT cents; the two divisions run once
  // per output row. Same single (type / hour) sort carries every frame.
  private val windowVortex = Op(
    "window_vortex",
    (s, d) => {
      onEvents(s, d, "events_vtx")
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
                     FROM events_vtx GROUP BY 1, 2),
             vm AS (SELECT event_type, h,
                           abs(hi - lag(lo) OVER w) AS vmp,
                           abs(lo - lag(hi) OVER w) AS vmm,
                           GREATEST(hi - lo,
                             abs(hi - lag(cl) OVER w),
                             abs(lo - lag(cl) OVER w)) AS trng,
                           ROW_NUMBER() OVER w AS rn
                    FROM bar
                    WINDOW w AS (PARTITION BY event_type ORDER BY h)),
             f AS (SELECT event_type, h, rn,
                          CAST(SUM(vmp) OVER fr AS BIGINT) AS svp,
                          CAST(SUM(vmm) OVER fr AS BIGINT) AS svm,
                          CAST(SUM(trng) OVER fr AS BIGINT) AS str
                   FROM vm WHERE vmp IS NOT NULL
                   WINDOW fr AS (PARTITION BY event_type ORDER BY h
                                 ROWS 13 PRECEDING))
        SELECT event_type, h AS hour_idx,
               round(CAST(svp AS DOUBLE) / NULLIF(str, 0), 6) AS vi_plus,
               round(CAST(svm AS DOUBLE) / NULLIF(str, 0), 6) AS vi_minus
        FROM f WHERE rn >= 15
        ORDER BY event_type, hour_idx""")
    },
    Some("""WITH bar AS (SELECT event_type,
                                CAST(floor(epoch(ts)) AS BIGINT) // 3600
                                  AS h,
                                CAST(MAX(CAST(round(value * 100)
                                     AS BIGINT)) AS BIGINT) AS hi,
                                CAST(MIN(CAST(round(value * 100)
                                     AS BIGINT)) AS BIGINT) AS lo,
                                (MAX({'ts': ts, 'eid': event_id,
                                      'c': CAST(round(value * 100)
                                               AS BIGINT)})).c AS cl
                         FROM events GROUP BY 1, 2),
                 vm AS (SELECT event_type, h,
                               abs(hi - lag(lo) OVER w) AS vmp,
                               abs(lo - lag(hi) OVER w) AS vmm,
                               GREATEST(hi - lo,
                                 abs(hi - lag(cl) OVER w),
                                 abs(lo - lag(cl) OVER w)) AS trng,
                               ROW_NUMBER() OVER w AS rn
                        FROM bar
                        WINDOW w AS (PARTITION BY event_type ORDER BY h)),
                 f AS (SELECT event_type, h, rn,
                              CAST(SUM(vmp) OVER fr AS BIGINT) AS svp,
                              CAST(SUM(vmm) OVER fr AS BIGINT) AS svm,
                              CAST(SUM(trng) OVER fr AS BIGINT) AS str
                       FROM vm WHERE vmp IS NOT NULL
                       WINDOW fr AS (PARTITION BY event_type ORDER BY h
                                     ROWS 13 PRECEDING))
            SELECT event_type, h AS hour_idx,
                   round(CAST(svp AS DOUBLE) / NULLIF(str, 0), 6)
                     AS vi_plus,
                   round(CAST(svm AS DOUBLE) / NULLIF(str, 0), 6)
                     AS vi_minus
            FROM f WHERE rn >= 15
            ORDER BY event_type, hour_idx"""))

  // Coppock curve on the per-part price series (the price_roc probe
  // window): ROC14 + ROC11 in exact truncating-division basis points,
  // then the 10-bar front-weighted WMA as an explicit Σ(10−k)·lag sum —
  // the weighted numerator is an exact BIGINT (no positional float
  // weights), one /55 division per row. Emission gates on the full
  // 24-bar lookback so both engines publish identical first rows.
  private val windowCoppock = Op(
    "window_coppock",
    (s, d) => {
      onLineitem(s, d, "lineitem_cop")
      s.sql("""
        WITH b AS (SELECT l_partkey, l_orderkey, l_linenumber,
                          CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
                          ROW_NUMBER() OVER w AS rn,
                          LAG(CAST(round(l_extendedprice * 100) AS BIGINT),
                              14) OVER w AS c14,
                          LAG(CAST(round(l_extendedprice * 100) AS BIGINT),
                              11) OVER w AS c11
                   FROM lineitem_cop WHERE l_partkey <= 100
                   WINDOW w AS (PARTITION BY l_partkey
                                ORDER BY l_shipdate, l_orderkey,
                                         l_linenumber)),
             s AS (SELECT l_partkey, l_orderkey, l_linenumber, rn,
                          ((c - c14) * 10000) div c14
                          + ((c - c11) * 10000) div c11 AS roc2
                   FROM b),
             wm AS (SELECT l_partkey, l_orderkey, l_linenumber, rn,
                           10 * roc2
                           + 9 * LAG(roc2, 1) OVER w
                           + 8 * LAG(roc2, 2) OVER w
                           + 7 * LAG(roc2, 3) OVER w
                           + 6 * LAG(roc2, 4) OVER w
                           + 5 * LAG(roc2, 5) OVER w
                           + 4 * LAG(roc2, 6) OVER w
                           + 3 * LAG(roc2, 7) OVER w
                           + 2 * LAG(roc2, 8) OVER w
                           + 1 * LAG(roc2, 9) OVER w AS num
                    FROM s
                    WINDOW w AS (PARTITION BY l_partkey
                                 ORDER BY rn))
        SELECT l_partkey, l_orderkey, l_linenumber, num AS wma_num,
               round(CAST(num AS DOUBLE) / 55.0D, 4) AS coppock_bp
        FROM wm WHERE rn >= 24
        ORDER BY l_partkey, l_orderkey, l_linenumber""")
    },
    Some("""WITH b AS (SELECT l_partkey, l_orderkey, l_linenumber,
                              CAST(round(l_extendedprice * 100) AS BIGINT)
                                AS c,
                              ROW_NUMBER() OVER w AS rn,
                              LAG(CAST(round(l_extendedprice * 100)
                                       AS BIGINT), 14) OVER w AS c14,
                              LAG(CAST(round(l_extendedprice * 100)
                                       AS BIGINT), 11) OVER w AS c11
                       FROM lineitem WHERE l_partkey <= 100
                       WINDOW w AS (PARTITION BY l_partkey
                                    ORDER BY l_shipdate, l_orderkey,
                                             l_linenumber)),
                 s AS (SELECT l_partkey, l_orderkey, l_linenumber, rn,
                              ((c - c14) * 10000) // c14
                              + ((c - c11) * 10000) // c11 AS roc2
                       FROM b),
                 wm AS (SELECT l_partkey, l_orderkey, l_linenumber, rn,
                               10 * roc2
                               + 9 * LAG(roc2, 1) OVER w
                               + 8 * LAG(roc2, 2) OVER w
                               + 7 * LAG(roc2, 3) OVER w
                               + 6 * LAG(roc2, 4) OVER w
                               + 5 * LAG(roc2, 5) OVER w
                               + 4 * LAG(roc2, 6) OVER w
                               + 3 * LAG(roc2, 7) OVER w
                               + 2 * LAG(roc2, 8) OVER w
                               + 1 * LAG(roc2, 9) OVER w AS num
                        FROM s
                        WINDOW w AS (PARTITION BY l_partkey
                                     ORDER BY rn))
            SELECT l_partkey, l_orderkey, l_linenumber, num AS wma_num,
                   round(CAST(num AS DOUBLE) / 55.0, 4) AS coppock_bp
            FROM wm WHERE rn >= 24
            ORDER BY l_partkey, l_orderkey, l_linenumber"""))

  // Gunning fog index per document: 0.4·(words/sentences +
  // 100·complex/words) where a complex word carries ≥3 vowel groups —
  // the same dictionary-free syllable proxy text_readability pins, here
  // applied per WORD (one explode) instead of per document. The only
  // shuffle is the per-doc regroup; scores cross the boundary under the
  // floor(x·1e4+0.5)/1e4 protocol the readability family uses.
  private val textGunningFog = Op(
    "text_gunning_fog",
    (s, d) => {
      t(s, d, "documents").createOrReplaceTempView("docs_fog")
      s.sql("""
        WITH w AS (SELECT doc_id,
                          greatest(CAST(regexp_count(text, '[.!?]+')
                                        AS BIGINT), 1L) AS ns,
                          explode(split(trim(text), '\\s+')) AS word
                   FROM docs_fog),
             c AS (SELECT doc_id, MAX(ns) AS ns,
                          CAST(COUNT(*) AS BIGINT) AS nw,
                          CAST(SUM(CASE WHEN
                                 regexp_count(lower(word), '[aeiouy]+') >= 3
                               THEN 1 ELSE 0 END) AS BIGINT) AS ncx
                   FROM w GROUP BY doc_id)
        SELECT doc_id, ns AS n_sentences, nw AS n_words,
               ncx AS n_complex,
               floor(0.4D * (CAST(nw AS DOUBLE) / ns
                             + 100.0D * ncx / nw)
                     * 10000.0D + 0.5D) / 10000.0D AS fog_index
        FROM c ORDER BY doc_id""")
    },
    Some("""WITH w AS (SELECT doc_id,
                              greatest(CAST(len(regexp_extract_all(
                                    text, '[.!?]+')) AS BIGINT), 1) AS ns,
                              unnest(string_split_regex(trim(text),
                                    '\s+')) AS word
                       FROM documents),
                 c AS (SELECT doc_id, MAX(ns) AS ns,
                              CAST(COUNT(*) AS BIGINT) AS nw,
                              CAST(SUM(CASE WHEN len(regexp_extract_all(
                                       lower(word), '[aeiouy]+')) >= 3
                                   THEN 1 ELSE 0 END) AS BIGINT) AS ncx
                       FROM w GROUP BY doc_id)
            SELECT doc_id, ns AS n_sentences, nw AS n_words,
                   ncx AS n_complex,
                   floor(0.4::DOUBLE * (CAST(nw AS DOUBLE) / ns
                                        + 100.0::DOUBLE * ncx / nw)
                         * 10000.0::DOUBLE + 0.5::DOUBLE)
                     / 10000.0::DOUBLE AS fog_index
            FROM c ORDER BY doc_id"""))

  // TRIX on the per-part price series: 1-bar rate-of-change of a TRIPLE
  // dyadic EMA (α = 1/2 at each stage — the window_macd integer-recursion
  // discipline, so the whole triple smoothing is exact BIGINT cents and
  // ANY engine reproduces it bit-for-bit). The Spark side runs the
  // recursion in one mapPartitions pass over the part-sorted series (the
  // macd idiom: partition by the series key, O(1) state per row); the
  // oracle replays it with a recursive CTE. trix_bp is the truncating
  // integer-division basis-point change of e3 — Spark `div` ≡ DuckDB `//`.
  private val windowTrix = Op(
    "window_trix",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.col
      t(s, d, "lineitem")
        .where(col("l_partkey") <= 100)
        .select(col("l_partkey"),
          org.apache.spark.sql.functions.expr(
            "CAST(round(l_extendedprice * 100) AS BIGINT)").as("c"),
          col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .repartition(col("l_partkey"))
        .sortWithinPartitions("l_partkey", "l_shipdate", "l_orderkey",
          "l_linenumber")
        .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
          col("c"))
        .as[(Long, Long, Long, Long)]
        .mapPartitions { it =>
          var curPart = Long.MinValue
          var e1 = 0L; var e2 = 0L; var e3 = 0L; var prev3 = 0L
          it.map { case (p, o, l, c) =>
            if (p != curPart) {
              e1 = c; e2 = c; e3 = c; prev3 = 0L; curPart = p
            } else {
              prev3 = e3
              e1 = (c + e1) / 2
              e2 = (e1 + e2) / 2
              e3 = (e2 + e3) / 2
            }
            (p, o, l, e3,
              if (prev3 > 0) (e3 - prev3) * 10000 / prev3 else Long.MinValue)
          }
        }
        .toDF("l_partkey", "l_orderkey", "l_linenumber", "e3_c", "trix_bp")
        .where(col("trix_bp") =!= Long.MinValue)
        .orderBy("l_partkey", "l_orderkey", "l_linenumber")
    },
    Some("""WITH RECURSIVE e AS (
              SELECT l_partkey, l_orderkey, l_linenumber,
                     CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
                     row_number() OVER (PARTITION BY l_partkey
                       ORDER BY l_shipdate, l_orderkey, l_linenumber)
                       AS rn
              FROM lineitem WHERE l_partkey <= 100),
            r(l_partkey, l_orderkey, l_linenumber, rn, e1, e2, e3, p3) AS (
              SELECT l_partkey, l_orderkey, l_linenumber, rn,
                     c, c, c, CAST(0 AS BIGINT)
              FROM e WHERE rn = 1
              UNION ALL
              SELECT e.l_partkey, e.l_orderkey, e.l_linenumber, e.rn,
                     (e.c + r.e1) // 2,
                     (((e.c + r.e1) // 2) + r.e2) // 2,
                     (((((e.c + r.e1) // 2) + r.e2) // 2) + r.e3) // 2,
                     r.e3
              FROM e JOIN r ON e.l_partkey = r.l_partkey
                           AND e.rn = r.rn + 1)
            SELECT l_partkey, l_orderkey, l_linenumber, e3 AS e3_c,
                   ((e3 - p3) * 10000) // p3 AS trix_bp
            FROM r WHERE p3 > 0
            ORDER BY l_partkey, l_orderkey, l_linenumber"""))

  // Dyadic mass index from the hourly bars: EMA(range) and EMA(EMA(range))
  // at α = 1/2 (exact integer recursion, the TRIX/macd discipline), the
  // per-bar ratio quantized once to 1e6 (both engines divide the SAME two
  // integers, so the rounded quotient is identical), then the classic
  // 25-bar sum of ratios — an exact integer again. Flat-channel bars
  // (e2 = 0) publish ratio 1e6 by the stochastic flat-window convention.
  private val windowMassIndex = Op(
    "window_mass_index",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.{col, expr}
      onEvents(s, d, "events_mi")
      val bars = s.sql("""
        SELECT event_type,
               unix_timestamp(ts) div 3600 AS h,
               CAST(MAX(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 - CAST(MIN(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS rng
        FROM events_mi GROUP BY 1, 2""")
      val rq = bars
        .repartition(col("event_type"))
        .sortWithinPartitions("event_type", "h")
        .as[(String, Long, Long)]
        .mapPartitions { it =>
          var cur = ""
          var e1 = 0L; var e2 = 0L
          it.map { case (g, h, rng) =>
            if (g != cur) { e1 = rng; e2 = rng; cur = g }
            else { e1 = (rng + e1) / 2; e2 = (e1 + e2) / 2 }
            val ratioQ =
              if (e2 == 0L) 1000000L
              else math.floor(e1.toDouble * 1000000.0 / e2 + 0.5).toLong
            (g, h, e1, e2, ratioQ)
          }
        }
        .toDF("event_type", "h", "e1", "e2", "ratio_q")
      rq.createOrReplaceTempView("mi_rq")
      s.sql("""
        SELECT event_type, h AS hour_idx, mass_q,
               floor(mass_q / 100.0D + 0.5D) / 10000.0D AS mass_index
        FROM (SELECT event_type, h,
                     CAST(SUM(ratio_q) OVER (PARTITION BY event_type
                       ORDER BY h ROWS 24 PRECEDING) AS BIGINT) AS mass_q,
                     ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY h) AS rn
              FROM mi_rq)
        WHERE rn >= 25
        ORDER BY event_type, hour_idx""")
    },
    Some("""WITH RECURSIVE bar AS (
              SELECT event_type,
                     CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
                     CAST(MAX(CAST(round(value * 100) AS BIGINT))
                          AS BIGINT)
                     - CAST(MIN(CAST(round(value * 100) AS BIGINT))
                            AS BIGINT) AS rng,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY CAST(floor(epoch(ts)) AS BIGINT) // 3600)
                       AS rn
              FROM events GROUP BY 1, 2),
            r(event_type, h, rn, e1, e2) AS (
              SELECT event_type, h, rn, rng, rng FROM bar WHERE rn = 1
              UNION ALL
              SELECT b.event_type, b.h, b.rn,
                     (b.rng + r.e1) // 2,
                     (((b.rng + r.e1) // 2) + r.e2) // 2
              FROM bar b JOIN r ON b.event_type = r.event_type
                               AND b.rn = r.rn + 1),
            rq AS (SELECT event_type, h, rn,
                          CASE WHEN e2 = 0 THEN CAST(1000000 AS BIGINT)
                               ELSE CAST(floor(CAST(e1 AS DOUBLE)
                                          * 1000000.0 / e2 + 0.5)
                                         AS BIGINT) END AS ratio_q
                   FROM r),
            f AS (SELECT event_type, h, rn,
                         CAST(SUM(ratio_q) OVER (PARTITION BY event_type
                           ORDER BY h ROWS 24 PRECEDING) AS BIGINT)
                           AS mass_q
                  FROM rq)
            SELECT event_type, h AS hour_idx, mass_q,
                   floor(mass_q / 100.0 + 0.5) / 10000.0 AS mass_index
            FROM f WHERE rn >= 25
            ORDER BY event_type, hour_idx"""))

  // ------------------------------------------------------------------
  // Grid-association family: every key below reduces lineitem to the
  // bounded (quantity × discount-bp) contingency GRID (≤ 50×11 cells at
  // any SF — the domains are fixed by the generator), then computes the
  // association measure from exact integer grid moments. Concordant /
  // discordant pair counts ride one grid self-join (≤ 550² rows — a
  // constant), never a row-pair join; at 100 TB the only data-sized work
  // is the first groupBy. 2·C and 2·D are NOT needed: counting strictly
  // from one side (x'<x ∧ y'<y at the upper cell) counts each unordered
  // pair exactly once, so C and D are plain BIGINTs.

  // Goodman–Kruskal gamma: (C − D)/(C + D) — ordinal association that
  // ignores ties entirely.
  private val aggGkGamma = Op(
    "agg_gk_gamma",
    (s, d) => {
      onLineitem(s, d, "lineitem_gk")
      s.sql("""
        WITH g AS (SELECT CAST(round(l_quantity) AS BIGINT) AS x,
                          CAST(round(l_discount * 10000) AS BIGINT) AS y,
                          CAST(COUNT(*) AS BIGINT) AS c
                   FROM lineitem_gk GROUP BY 1, 2),
             cd AS (SELECT
                      CAST(SUM(a.c * b.c *
                        CASE WHEN a.x < b.x AND a.y < b.y THEN 1 ELSE 0 END)
                        AS DECIMAL(38,0)) AS cc,
                      CAST(SUM(a.c * b.c *
                        CASE WHEN a.x < b.x AND a.y > b.y THEN 1 ELSE 0 END)
                        AS DECIMAL(38,0)) AS dd
                    FROM g a CROSS JOIN g b)
        SELECT CAST(cc AS DOUBLE) AS concordant,
               CAST(dd AS DOUBLE) AS discordant,
               round((CAST(cc AS DOUBLE) - CAST(dd AS DOUBLE))
                     / (CAST(cc AS DOUBLE) + CAST(dd AS DOUBLE)), 6)
                 AS gamma
        FROM cd""")
    },
    Some("""WITH g AS (SELECT CAST(round(l_quantity) AS BIGINT) AS x,
                              CAST(round(l_discount * 10000) AS BIGINT)
                                AS y,
                              CAST(COUNT(*) AS BIGINT) AS c
                       FROM lineitem GROUP BY 1, 2),
                 cd AS (SELECT
                          CAST(SUM(a.c * b.c *
                            CASE WHEN a.x < b.x AND a.y < b.y
                                 THEN 1 ELSE 0 END) AS HUGEINT) AS cc,
                          CAST(SUM(a.c * b.c *
                            CASE WHEN a.x < b.x AND a.y > b.y
                                 THEN 1 ELSE 0 END) AS HUGEINT) AS dd
                        FROM g a CROSS JOIN g b)
            SELECT CAST(cc AS DOUBLE) AS concordant,
                   CAST(dd AS DOUBLE) AS discordant,
                   round((CAST(cc AS DOUBLE) - CAST(dd AS DOUBLE))
                         / (CAST(cc AS DOUBLE) + CAST(dd AS DOUBLE)), 6)
                 AS gamma
            FROM cd"""))

  // Somers' d_yx: (C − D)/(C + D + T_y) — gamma's asymmetric sibling,
  // penalizing pairs tied on the DEPENDENT variable only. T_y = pairs
  // tied on y but not on x = Σ_y t(t−1)/2 − Σ_cell c(c−1)/2, exact.
  private val aggSomersD = Op(
    "agg_somers_d",
    (s, d) => {
      onLineitem(s, d, "lineitem_sd")
      s.sql("""
        WITH g AS (SELECT CAST(round(l_quantity) AS BIGINT) AS x,
                          CAST(round(l_discount * 10000) AS BIGINT) AS y,
                          CAST(COUNT(*) AS BIGINT) AS c
                   FROM lineitem_sd GROUP BY 1, 2),
             cd AS (SELECT
                      CAST(SUM(a.c * b.c *
                        CASE WHEN a.x < b.x AND a.y < b.y THEN 1 ELSE 0 END)
                        AS DECIMAL(38,0)) AS cc,
                      CAST(SUM(a.c * b.c *
                        CASE WHEN a.x < b.x AND a.y > b.y THEN 1 ELSE 0 END)
                        AS DECIMAL(38,0)) AS dd
                    FROM g a CROSS JOIN g b),
             ty AS (SELECT
                      CAST(SUM(ty2) AS DECIMAL(38,0)) AS ypairs2
                    FROM (SELECT y, CAST(SUM(c) AS BIGINT) AS t,
                                 CAST(SUM(c) * (SUM(c) - 1) AS BIGINT)
                                   AS ty2
                          FROM g GROUP BY y)),
             tc AS (SELECT CAST(SUM(c * (c - 1)) AS DECIMAL(38,0))
                             AS cellpairs2
                    FROM g)
        SELECT CAST(cc AS DOUBLE) AS concordant,
               CAST(dd AS DOUBLE) AS discordant,
               round((CAST(cc AS DOUBLE) - CAST(dd AS DOUBLE))
                     / (CAST(cc AS DOUBLE) + CAST(dd AS DOUBLE)
                        + (CAST(ypairs2 AS DOUBLE)
                           - CAST(cellpairs2 AS DOUBLE)) / 2.0D), 6)
                 AS somers_d
        FROM cd CROSS JOIN ty CROSS JOIN tc""")
    },
    Some("""WITH g AS (SELECT CAST(round(l_quantity) AS BIGINT) AS x,
                              CAST(round(l_discount * 10000) AS BIGINT)
                                AS y,
                              CAST(COUNT(*) AS BIGINT) AS c
                       FROM lineitem GROUP BY 1, 2),
                 cd AS (SELECT
                          CAST(SUM(a.c * b.c *
                            CASE WHEN a.x < b.x AND a.y < b.y
                                 THEN 1 ELSE 0 END) AS HUGEINT) AS cc,
                          CAST(SUM(a.c * b.c *
                            CASE WHEN a.x < b.x AND a.y > b.y
                                 THEN 1 ELSE 0 END) AS HUGEINT) AS dd
                        FROM g a CROSS JOIN g b),
                 ty AS (SELECT CAST(SUM(ty2) AS HUGEINT) AS ypairs2
                        FROM (SELECT y, CAST(SUM(c) AS BIGINT) AS t,
                                     CAST(SUM(c) * (SUM(c) - 1)
                                          AS BIGINT) AS ty2
                              FROM g GROUP BY y)),
                 tc AS (SELECT CAST(SUM(c * (c - 1)) AS HUGEINT)
                                 AS cellpairs2
                        FROM g)
            SELECT CAST(cc AS DOUBLE) AS concordant,
                   CAST(dd AS DOUBLE) AS discordant,
                   round((CAST(cc AS DOUBLE) - CAST(dd AS DOUBLE))
                         / (CAST(cc AS DOUBLE) + CAST(dd AS DOUBLE)
                            + (CAST(ypairs2 AS DOUBLE)
                               - CAST(cellpairs2 AS DOUBLE)) / 2.0), 6)
                 AS somers_d
            FROM cd CROSS JOIN ty CROSS JOIN tc"""))

  // Stuart's tau-c: 2m(C − D)/(n²(m − 1)) with m = min(#rows, #cols) —
  // the rectangular-table correction of Kendall's tau-b.
  private val aggStuartTauC = Op(
    "agg_stuart_tau_c",
    (s, d) => {
      onLineitem(s, d, "lineitem_tc")
      s.sql("""
        WITH g AS (SELECT CAST(round(l_quantity) AS BIGINT) AS x,
                          CAST(round(l_discount * 10000) AS BIGINT) AS y,
                          CAST(COUNT(*) AS BIGINT) AS c
                   FROM lineitem_tc GROUP BY 1, 2),
             cd AS (SELECT
                      CAST(SUM(a.c * b.c *
                        CASE WHEN a.x < b.x AND a.y < b.y THEN 1 ELSE 0 END)
                        AS DECIMAL(38,0)) AS cc,
                      CAST(SUM(a.c * b.c *
                        CASE WHEN a.x < b.x AND a.y > b.y THEN 1 ELSE 0 END)
                        AS DECIMAL(38,0)) AS dd
                    FROM g a CROSS JOIN g b),
             mm AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                           LEAST(CAST(COUNT(DISTINCT x) AS BIGINT),
                                 CAST(COUNT(DISTINCT y) AS BIGINT)) AS m
                    FROM g)
        SELECT n, m,
               round(2.0D * m * (CAST(cc AS DOUBLE) - CAST(dd AS DOUBLE))
                     / (CAST(n AS DOUBLE) * n * (m - 1)), 6) AS tau_c
        FROM cd CROSS JOIN mm""")
    },
    Some("""WITH g AS (SELECT CAST(round(l_quantity) AS BIGINT) AS x,
                              CAST(round(l_discount * 10000) AS BIGINT)
                                AS y,
                              CAST(COUNT(*) AS BIGINT) AS c
                       FROM lineitem GROUP BY 1, 2),
                 cd AS (SELECT
                          CAST(SUM(a.c * b.c *
                            CASE WHEN a.x < b.x AND a.y < b.y
                                 THEN 1 ELSE 0 END) AS HUGEINT) AS cc,
                          CAST(SUM(a.c * b.c *
                            CASE WHEN a.x < b.x AND a.y > b.y
                                 THEN 1 ELSE 0 END) AS HUGEINT) AS dd
                        FROM g a CROSS JOIN g b),
                 mm AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                               LEAST(CAST(COUNT(DISTINCT x) AS BIGINT),
                                     CAST(COUNT(DISTINCT y) AS BIGINT))
                                 AS m
                        FROM g)
            SELECT n, m,
                   round(2.0 * m * (CAST(cc AS DOUBLE)
                                    - CAST(dd AS DOUBLE))
                         / (CAST(n AS DOUBLE) * n * (m - 1)), 6) AS tau_c
            FROM cd CROSS JOIN mm"""))

  // Blomqvist's beta (medial correlation): quadrant counts around the
  // (lower-median x, lower-median y) center — β = (n1+n3−n2−n4)/Σnᵢ,
  // points ON either median excluded. Medians come from the same
  // domain-collapsed cumulative the levene family uses.
  private val aggBlomqvistBeta = Op(
    "agg_blomqvist_beta",
    (s, d) => {
      onLineitem(s, d, "lineitem_bb")
      s.sql("""
        WITH b AS (SELECT CAST(round(l_quantity) AS BIGINT) AS x,
                          CAST(round(l_discount * 10000) AS BIGINT) AS y
                   FROM lineitem_bb),
             mx AS (SELECT MIN(x) AS medx FROM (
                      SELECT x, SUM(COUNT(*))
                               OVER (ORDER BY x) AS cc,
                             SUM(COUNT(*)) OVER () AS n
                      FROM b GROUP BY x)
                    WHERE cc >= (n + 1) div 2),
             my AS (SELECT MIN(y) AS medy FROM (
                      SELECT y, SUM(COUNT(*))
                               OVER (ORDER BY y) AS cc,
                             SUM(COUNT(*)) OVER () AS n
                      FROM b GROUP BY y)
                    WHERE cc >= (n + 1) div 2),
             q AS (SELECT
                     CAST(SUM(CASE WHEN x > medx AND y > medy
                              THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                     CAST(SUM(CASE WHEN x < medx AND y > medy
                              THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                     CAST(SUM(CASE WHEN x < medx AND y < medy
                              THEN 1 ELSE 0 END) AS BIGINT) AS n3,
                     CAST(SUM(CASE WHEN x > medx AND y < medy
                              THEN 1 ELSE 0 END) AS BIGINT) AS n4
                   FROM b CROSS JOIN mx CROSS JOIN my)
        SELECT n1, n2, n3, n4,
               round(CAST(n1 + n3 - n2 - n4 AS DOUBLE)
                     / (n1 + n2 + n3 + n4), 6) AS beta
        FROM q""")
    },
    Some("""WITH b AS (SELECT CAST(round(l_quantity) AS BIGINT) AS x,
                              CAST(round(l_discount * 10000) AS BIGINT)
                                AS y
                       FROM lineitem),
                 mx AS (SELECT MIN(x) AS medx FROM (
                          SELECT x, SUM(COUNT(*)) OVER (ORDER BY x)
                                   AS cc,
                                 SUM(COUNT(*)) OVER () AS n
                          FROM b GROUP BY x)
                        WHERE cc >= (n + 1) // 2),
                 my AS (SELECT MIN(y) AS medy FROM (
                          SELECT y, SUM(COUNT(*)) OVER (ORDER BY y)
                                   AS cc,
                                 SUM(COUNT(*)) OVER () AS n
                          FROM b GROUP BY y)
                        WHERE cc >= (n + 1) // 2),
                 q AS (SELECT
                         CAST(SUM(CASE WHEN x > medx AND y > medy
                                  THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                         CAST(SUM(CASE WHEN x < medx AND y > medy
                                  THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                         CAST(SUM(CASE WHEN x < medx AND y < medy
                                  THEN 1 ELSE 0 END) AS BIGINT) AS n3,
                         CAST(SUM(CASE WHEN x > medx AND y < medy
                                  THEN 1 ELSE 0 END) AS BIGINT) AS n4
                       FROM b CROSS JOIN mx CROSS JOIN my)
            SELECT n1, n2, n3, n4,
                   round(CAST(n1 + n3 - n2 - n4 AS DOUBLE)
                         / (n1 + n2 + n3 + n4), 6) AS beta
            FROM q"""))

  // Theil's uncertainty coefficient U(y|x): how much knowing the quantity
  // reduces discount entropy — (H(x) + H(y) − H(x,y))/H(y). Each H is a
  // sum of ≤550 per-cell −p·ln p terms, each quantized to 1e12 BEFORE the
  // sum (the established order-independence idiom), one float readout.
  private val aggTheilU = Op(
    "agg_theil_u",
    (s, d) => {
      onLineitem(s, d, "lineitem_tu")
      // the domain-collapsed joint counts: g feeds nn and all three
      // entropy CTEs. Left a plain view, which Spark inlines at each
      // reference: a checkpoint measured slower at sf1 (MATS.md).
      s.sql("""SELECT CAST(round(l_quantity) AS BIGINT) AS x,
                      CAST(round(l_discount * 10000) AS BIGINT) AS y,
                      CAST(COUNT(*) AS BIGINT) AS c
               FROM lineitem_tu GROUP BY 1, 2""")
        .createOrReplaceTempView("g_tu")
      s.sql("""
        WITH g AS (SELECT x, y, c FROM g_tu),
             nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM g),
             hxy AS (SELECT CAST(SUM(CAST(round(
                       -(CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)
                       * 1000000000000.0D) AS BIGINT)) AS BIGINT) AS hq
                     FROM g CROSS JOIN nn),
             hx AS (SELECT CAST(SUM(CAST(round(
                      -(CAST(cx AS DOUBLE) / n) * ln(CAST(cx AS DOUBLE) / n)
                      * 1000000000000.0D) AS BIGINT)) AS BIGINT) AS hq
                    FROM (SELECT x, CAST(SUM(c) AS BIGINT) AS cx
                          FROM g GROUP BY x) CROSS JOIN nn),
             hy AS (SELECT CAST(SUM(CAST(round(
                      -(CAST(cy AS DOUBLE) / n) * ln(CAST(cy AS DOUBLE) / n)
                      * 1000000000000.0D) AS BIGINT)) AS BIGINT) AS hq
                    FROM (SELECT y, CAST(SUM(c) AS BIGINT) AS cy
                          FROM g GROUP BY y) CROSS JOIN nn)
        SELECT round(hx.hq / 1000000000000.0D, 6) AS h_x,
               round(hy.hq / 1000000000000.0D, 6) AS h_y,
               round(hxy.hq / 1000000000000.0D, 6) AS h_xy,
               round((CAST(hx.hq AS DOUBLE) + hy.hq - hxy.hq)
                     / hy.hq, 6) AS u_y_given_x
        FROM hx CROSS JOIN hy CROSS JOIN hxy""")
    },
    Some("""WITH g AS (SELECT CAST(round(l_quantity) AS BIGINT) AS x,
                              CAST(round(l_discount * 10000) AS BIGINT)
                                AS y,
                              CAST(COUNT(*) AS BIGINT) AS c
                       FROM lineitem GROUP BY 1, 2),
                 nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM g),
                 hxy AS (SELECT CAST(SUM(CAST(round(
                           -(CAST(c AS DOUBLE) / n)
                           * ln(CAST(c AS DOUBLE) / n)
                           * 1000000000000.0) AS BIGINT)) AS BIGINT) AS hq
                         FROM g CROSS JOIN nn),
                 hx AS (SELECT CAST(SUM(CAST(round(
                          -(CAST(cx AS DOUBLE) / n)
                          * ln(CAST(cx AS DOUBLE) / n)
                          * 1000000000000.0) AS BIGINT)) AS BIGINT) AS hq
                        FROM (SELECT x, CAST(SUM(c) AS BIGINT) AS cx
                              FROM g GROUP BY x) CROSS JOIN nn),
                 hy AS (SELECT CAST(SUM(CAST(round(
                          -(CAST(cy AS DOUBLE) / n)
                          * ln(CAST(cy AS DOUBLE) / n)
                          * 1000000000000.0) AS BIGINT)) AS BIGINT) AS hq
                        FROM (SELECT y, CAST(SUM(c) AS BIGINT) AS cy
                              FROM g GROUP BY y) CROSS JOIN nn)
            SELECT round(hx.hq / 1000000000000.0, 6) AS h_x,
                   round(hy.hq / 1000000000000.0, 6) AS h_y,
                   round(hxy.hq / 1000000000000.0, 6) AS h_xy,
                   round((CAST(hx.hq AS DOUBLE) + hy.hq - hxy.hq)
                         / hy.hq, 6) AS u_y_given_x
            FROM hx CROSS JOIN hy CROSS JOIN hxy"""))

  // QStick: the 8-bar SMA of (close − open) from the hourly bars — is the
  // market closing above its opens? open = the struct-MIN close twin of
  // the bar close; exact integer frame sum, one division per row.
  private val windowQstick = Op(
    "window_qstick",
    (s, d) => {
      onEvents(s, d, "events_qs")
      s.sql("""
        WITH bar AS (SELECT event_type,
                            unix_timestamp(ts) div 3600 AS h,
                            CAST(MIN(struct(ts, event_id,
                                 CAST(round(value * 100) AS BIGINT)))
                                 .col3 AS BIGINT) AS op,
                            CAST(MAX(struct(ts, event_id,
                                 CAST(round(value * 100) AS BIGINT)))
                                 .col3 AS BIGINT) AS cl
                     FROM events_qs GROUP BY 1, 2),
             f AS (SELECT event_type, h,
                          CAST(SUM(cl - op) OVER fr AS BIGINT) AS s8,
                          CAST(COUNT(*) OVER fr AS BIGINT) AS n8,
                          ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY h) AS rn
                   FROM bar
                   WINDOW fr AS (PARTITION BY event_type ORDER BY h
                                 ROWS 7 PRECEDING))
        SELECT event_type, h AS hour_idx, s8,
               round(CAST(s8 AS DOUBLE) / n8, 4) AS qstick_c
        FROM f WHERE rn >= 8
        ORDER BY event_type, hour_idx""")
    },
    Some("""WITH bar AS (SELECT event_type,
                                CAST(floor(epoch(ts)) AS BIGINT) // 3600
                                  AS h,
                                (MIN({'ts': ts, 'eid': event_id,
                                      'c': CAST(round(value * 100)
                                               AS BIGINT)})).c AS op,
                                (MAX({'ts': ts, 'eid': event_id,
                                      'c': CAST(round(value * 100)
                                               AS BIGINT)})).c AS cl
                         FROM events GROUP BY 1, 2),
                 f AS (SELECT event_type, h,
                              CAST(SUM(cl - op) OVER fr AS BIGINT) AS s8,
                              CAST(COUNT(*) OVER fr AS BIGINT) AS n8,
                              ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY h) AS rn
                       FROM bar
                       WINDOW fr AS (PARTITION BY event_type ORDER BY h
                                     ROWS 7 PRECEDING))
            SELECT event_type, h AS hour_idx, s8,
                   round(CAST(s8 AS DOUBLE) / n8, 4) AS qstick_c
            FROM f WHERE rn >= 8
            ORDER BY event_type, hour_idx"""))

  // Balance of power: (close − open)/(high − low) per bar quantized once
  // to 1e6 (identical integer division inputs on both engines; flat bars
  // publish 0), then the 14-bar SMA as an exact integer frame sum.
  private val windowBop = Op(
    "window_bop",
    (s, d) => {
      onEvents(s, d, "events_bop")
      s.sql("""
        WITH bar AS (SELECT event_type,
                            unix_timestamp(ts) div 3600 AS h,
                            CAST(MAX(CAST(round(value * 100) AS BIGINT))
                                 AS BIGINT) AS hi,
                            CAST(MIN(CAST(round(value * 100) AS BIGINT))
                                 AS BIGINT) AS lo,
                            CAST(MIN(struct(ts, event_id,
                                 CAST(round(value * 100) AS BIGINT)))
                                 .col3 AS BIGINT) AS op,
                            CAST(MAX(struct(ts, event_id,
                                 CAST(round(value * 100) AS BIGINT)))
                                 .col3 AS BIGINT) AS cl
                     FROM events_bop GROUP BY 1, 2),
             bq AS (SELECT event_type, h,
                           CASE WHEN hi = lo THEN 0L
                                ELSE CAST(floor(CAST(cl - op AS DOUBLE)
                                           * 1000000.0D / (hi - lo) + 0.5D)
                                          AS BIGINT) END AS bop_q
                    FROM bar),
             f AS (SELECT event_type, h,
                          CAST(SUM(bop_q) OVER fr AS BIGINT) AS s14,
                          CAST(COUNT(*) OVER fr AS BIGINT) AS n14,
                          ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY h) AS rn
                   FROM bq
                   WINDOW fr AS (PARTITION BY event_type ORDER BY h
                                 ROWS 13 PRECEDING))
        SELECT event_type, h AS hour_idx, s14,
               floor(CAST(s14 AS DOUBLE) / n14 / 100.0D + 0.5D)
                 / 10000.0D AS bop_sma
        FROM f WHERE rn >= 14
        ORDER BY event_type, hour_idx""")
    },
    Some("""WITH bar AS (SELECT event_type,
                                CAST(floor(epoch(ts)) AS BIGINT) // 3600
                                  AS h,
                                CAST(MAX(CAST(round(value * 100)
                                     AS BIGINT)) AS BIGINT) AS hi,
                                CAST(MIN(CAST(round(value * 100)
                                     AS BIGINT)) AS BIGINT) AS lo,
                                (MIN({'ts': ts, 'eid': event_id,
                                      'c': CAST(round(value * 100)
                                               AS BIGINT)})).c AS op,
                                (MAX({'ts': ts, 'eid': event_id,
                                      'c': CAST(round(value * 100)
                                               AS BIGINT)})).c AS cl
                         FROM events GROUP BY 1, 2),
                 bq AS (SELECT event_type, h,
                               CASE WHEN hi = lo THEN 0
                                    ELSE CAST(floor(CAST(cl - op
                                               AS DOUBLE) * 1000000.0
                                               / (hi - lo) + 0.5)
                                              AS BIGINT) END AS bop_q
                        FROM bar),
                 f AS (SELECT event_type, h,
                              CAST(SUM(bop_q) OVER fr AS BIGINT) AS s14,
                              CAST(COUNT(*) OVER fr AS BIGINT) AS n14,
                              ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY h) AS rn
                       FROM bq
                       WINDOW fr AS (PARTITION BY event_type ORDER BY h
                                     ROWS 13 PRECEDING))
            SELECT event_type, h AS hour_idx, s14,
                   floor(CAST(s14 AS DOUBLE) / n14 / 100.0 + 0.5)
                     / 10000.0 AS bop_sma
            FROM f WHERE rn >= 14
            ORDER BY event_type, hour_idx"""))

  // Elder-ray bull/bear power: hi − EMA13(cl) and lo − EMA13(cl) per bar
  // with the EMA as the dyadic integer recursion (mass-index machinery) —
  // entirely exact BIGINT cents, no float anywhere.
  private val windowElderRay = Op(
    "window_elder_ray",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.col
      onEvents(s, d, "events_er")
      val bars = s.sql("""
        SELECT event_type,
               unix_timestamp(ts) div 3600 AS h,
               CAST(MAX(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS hi,
               CAST(MIN(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS lo,
               CAST(MAX(struct(ts, event_id,
                    CAST(round(value * 100) AS BIGINT))).col3 AS BIGINT)
                 AS cl
        FROM events_er GROUP BY 1, 2""")
      bars
        .repartition(col("event_type"))
        .sortWithinPartitions("event_type", "h")
        .as[(String, Long, Long, Long, Long)]
        .mapPartitions { it =>
          var cur = ""
          var ema = 0L
          it.map { case (g, h, hi, lo, cl) =>
            if (g != cur) { ema = cl; cur = g }
            else ema = (cl + ema) / 2
            (g, h, ema, hi - ema, lo - ema)
          }
        }
        .toDF("event_type", "hour_idx", "ema_c", "bull_power", "bear_power")
        .orderBy("event_type", "hour_idx")
    },
    Some("""WITH RECURSIVE bar AS (
              SELECT event_type,
                     CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
                     CAST(MAX(CAST(round(value * 100) AS BIGINT))
                          AS BIGINT) AS hi,
                     CAST(MIN(CAST(round(value * 100) AS BIGINT))
                          AS BIGINT) AS lo,
                     (MAX({'ts': ts, 'eid': event_id,
                           'c': CAST(round(value * 100) AS BIGINT)})).c
                       AS cl,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY CAST(floor(epoch(ts)) AS BIGINT) // 3600)
                       AS rn
              FROM events GROUP BY 1, 2),
            r(event_type, h, rn, hi, lo, ema) AS (
              SELECT event_type, h, rn, hi, lo, cl FROM bar WHERE rn = 1
              UNION ALL
              SELECT b.event_type, b.h, b.rn, b.hi, b.lo,
                     (b.cl + r.ema) // 2
              FROM bar b JOIN r ON b.event_type = r.event_type
                               AND b.rn = r.rn + 1)
            SELECT event_type, h AS hour_idx, ema AS ema_c,
                   hi - ema AS bull_power, lo - ema AS bear_power
            FROM r ORDER BY event_type, hour_idx"""))

  // Kendall's W (coefficient of concordance) over complete user blocks —
  // how consistently do users rank the event types? Reuses the Page-test
  // block machinery; the tie-corrected form W = (3·ΣR2² − 3b²k(k+1)²) /
  // (b²k(k²−1) − b·ΣT) with R2_j = Σ_b 2·midrank and T = Σ(t³−t) per
  // block keeps EVERY term an exact integer (2·midranks again).
  private val aggKendallW = Op(
    "agg_kendall_w",
    (s, d) => {
      onEvents(s, d, "events_kw")
      // materialize the per-(user, type) sums (pt — 3 downstream refs)
      // and the joint-rank rows (jr — 2 refs): the inline spelling
      // re-ran the fact groupBy 9× in the r18 before-plan (guide §2.4).
      s.sql("""SELECT user_id, event_type AS g,
                      CAST(SUM(CAST(round(value * 100) AS BIGINT))
                           AS BIGINT) AS x
               FROM events_kw GROUP BY user_id, event_type""")
        .trackedCkpt().createOrReplaceTempView("pt_kw")
      s.sql("""
        WITH kk AS (SELECT CAST(COUNT(DISTINCT g) AS BIGINT) AS k
                    FROM pt_kw),
             cb AS (SELECT user_id FROM pt_kw CROSS JOIN kk
                    GROUP BY user_id, kk.k
                    HAVING COUNT(*) = MAX(kk.k))
        SELECT p.user_id, p.g, p.x,
               2 * CAST(RANK() OVER (PARTITION BY p.user_id
                     ORDER BY p.x) AS BIGINT)
                 + CAST(COUNT(*) OVER (PARTITION BY p.user_id,
                     p.x) AS BIGINT) - 1 AS r2,
               CAST(COUNT(*) OVER (PARTITION BY p.user_id,
                     p.x) AS BIGINT) AS tsz
        FROM pt_kw p JOIN cb ON p.user_id = cb.user_id""")
        .trackedCkpt().createOrReplaceTempView("jr_kw")
      s.sql("""
        WITH kk AS (SELECT CAST(COUNT(DISTINCT g) AS BIGINT) AS k
                    FROM pt_kw),
             cb AS (SELECT user_id FROM pt_kw CROSS JOIN kk
                    GROUP BY user_id, kk.k
                    HAVING COUNT(*) = MAX(kk.k)),
             jr AS (SELECT user_id, g, x, r2, tsz FROM jr_kw),
             rj AS (SELECT g, CAST(SUM(r2) AS BIGINT) AS r2j
                    FROM jr GROUP BY g),
             tb AS (SELECT CAST(COALESCE(SUM(t * t * t - t), 0) AS BIGINT)
                             AS tt
                    FROM (SELECT user_id, x,
                                 CAST(COUNT(*) AS BIGINT) AS t
                          FROM jr GROUP BY user_id, x)),
             bq AS (SELECT CAST(COUNT(*) AS BIGINT) AS b FROM cb),
             sq AS (SELECT SUM(CAST(r2j * r2j AS DECIMAL(38,0))) AS sr2
                    FROM rj)
        SELECT bq.b, kk.k,
               round((3.0D * CAST(sq.sr2 AS DOUBLE)
                      - 3.0D * bq.b * bq.b * kk.k
                        * (kk.k + 1) * (kk.k + 1))
                     / (CAST(bq.b AS DOUBLE) * bq.b * kk.k
                          * (kk.k * kk.k - 1)
                        - CAST(bq.b AS DOUBLE) * tb.tt), 6) AS w
        FROM bq CROSS JOIN kk CROSS JOIN sq CROSS JOIN tb""")
    },
    Some("""WITH pt AS (SELECT user_id, event_type AS g,
                               CAST(SUM(CAST(round(value * 100)
                                    AS BIGINT)) AS BIGINT) AS x
                        FROM events GROUP BY user_id, event_type),
                 kk AS (SELECT CAST(COUNT(DISTINCT g) AS BIGINT) AS k
                        FROM pt),
                 cb AS (SELECT user_id FROM pt CROSS JOIN kk
                        GROUP BY user_id, kk.k
                        HAVING COUNT(*) = MAX(kk.k)),
                 jr AS (SELECT p.user_id, p.g, p.x,
                               2 * CAST(RANK() OVER (PARTITION BY
                                     p.user_id ORDER BY p.x) AS BIGINT)
                                 + CAST(COUNT(*) OVER (PARTITION BY
                                     p.user_id, p.x) AS BIGINT) - 1 AS r2
                        FROM pt p JOIN cb ON p.user_id = cb.user_id),
                 rj AS (SELECT g, CAST(SUM(r2) AS BIGINT) AS r2j
                        FROM jr GROUP BY g),
                 tb AS (SELECT CAST(COALESCE(SUM(t * t * t - t), 0)
                                 AS BIGINT) AS tt
                        FROM (SELECT user_id, x,
                                     CAST(COUNT(*) AS BIGINT) AS t
                              FROM jr GROUP BY user_id, x)),
                 bq AS (SELECT CAST(COUNT(*) AS BIGINT) AS b FROM cb),
                 sq AS (SELECT SUM(CAST(r2j * r2j AS HUGEINT)) AS sr2
                        FROM rj)
            SELECT bq.b, kk.k,
                   round((3.0 * CAST(sq.sr2 AS DOUBLE)
                          - 3.0 * bq.b * bq.b * kk.k
                            * (kk.k + 1) * (kk.k + 1))
                         / (CAST(bq.b AS DOUBLE) * bq.b * kk.k
                              * (kk.k * kk.k - 1)
                            - CAST(bq.b AS DOUBLE) * tb.tt), 6) AS w
            FROM bq CROSS JOIN kk CROSS JOIN sq CROSS JOIN tb"""))

  // Lin's concordance correlation coefficient between paired per-user
  // view and click cent totals — agreement, not just correlation (a
  // systematic offset or scale difference costs CCC but not Pearson r).
  // Every moment is an exact DECIMAL(38,0)/HUGEINT; numerator and
  // denominator share the n² clearing so CCC is one division.
  private val aggLinCcc = Op(
    "agg_lin_ccc",
    (s, d) => {
      onEvents(s, d, "events_lc")
      s.sql("""
        WITH p AS (SELECT user_id,
                          CAST(SUM(CASE WHEN event_type = 'view'
                            THEN CAST(round(value * 100) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS x,
                          CAST(SUM(CASE WHEN event_type = 'click'
                            THEN CAST(round(value * 100) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS y
                   FROM events_lc
                   WHERE event_type IN ('view', 'click')
                   GROUP BY user_id
                   HAVING SUM(CASE WHEN event_type = 'view' THEN 1
                              ELSE 0 END) > 0
                      AND SUM(CASE WHEN event_type = 'click' THEN 1
                              ELSE 0 END) > 0),
             m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                          SUM(CAST(x AS DECIMAL(38,0))) AS sx,
                          SUM(CAST(y AS DECIMAL(38,0))) AS sy,
                          SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
                          SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy,
                          SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
                   FROM p)
        SELECT n,
               round(2.0D * (n * CAST(sxy AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / ((n * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        + (n * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                        + (CAST(sx AS DOUBLE) - CAST(sy AS DOUBLE))
                          * (CAST(sx AS DOUBLE) - CAST(sy AS DOUBLE))),
                     6) AS ccc
        FROM m""")
    },
    Some("""WITH p AS (SELECT user_id,
                              CAST(SUM(CASE WHEN event_type = 'view'
                                THEN CAST(round(value * 100) AS BIGINT)
                                ELSE 0 END) AS BIGINT) AS x,
                              CAST(SUM(CASE WHEN event_type = 'click'
                                THEN CAST(round(value * 100) AS BIGINT)
                                ELSE 0 END) AS BIGINT) AS y
                       FROM events
                       WHERE event_type IN ('view', 'click')
                       GROUP BY user_id
                       HAVING SUM(CASE WHEN event_type = 'view' THEN 1
                                  ELSE 0 END) > 0
                          AND SUM(CASE WHEN event_type = 'click' THEN 1
                                  ELSE 0 END) > 0),
                 m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                              SUM(CAST(x AS HUGEINT)) AS sx,
                              SUM(CAST(y AS HUGEINT)) AS sy,
                              SUM(CAST(x AS HUGEINT) * x) AS sxx,
                              SUM(CAST(y AS HUGEINT) * y) AS syy,
                              SUM(CAST(x AS HUGEINT) * y) AS sxy
                       FROM p)
            SELECT n,
                   round(2.0 * (n * CAST(sxy AS DOUBLE)
                                - CAST(sx AS DOUBLE)
                                  * CAST(sy AS DOUBLE))
                         / ((n * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            + (n * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                            + (CAST(sx AS DOUBLE) - CAST(sy AS DOUBLE))
                              * (CAST(sx AS DOUBLE)
                                 - CAST(sy AS DOUBLE))), 6) AS ccc
            FROM m"""))

  // Bland–Altman agreement bounds on the same pairs: mean difference and
  // the 95% limits of agreement (±1.96 sd). Σd and Σd² exact; mean, sd,
  // and the two limits are four float expressions off the integer moments.
  private val aggBlandAltman = Op(
    "agg_bland_altman",
    (s, d) => {
      onEvents(s, d, "events_ba")
      s.sql("""
        WITH p AS (SELECT user_id,
                          CAST(SUM(CASE WHEN event_type = 'view'
                            THEN CAST(round(value * 100) AS BIGINT)
                            ELSE 0 END) AS BIGINT)
                          - CAST(SUM(CASE WHEN event_type = 'click'
                            THEN CAST(round(value * 100) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS dd
                   FROM events_ba
                   WHERE event_type IN ('view', 'click')
                   GROUP BY user_id
                   HAVING SUM(CASE WHEN event_type = 'view' THEN 1
                              ELSE 0 END) > 0
                      AND SUM(CASE WHEN event_type = 'click' THEN 1
                              ELSE 0 END) > 0),
             m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(dd) AS BIGINT) AS sd1,
                          SUM(CAST(dd AS DECIMAL(38,0)) * dd) AS sd2
                   FROM p)
        SELECT n,
               round(CAST(sd1 AS DOUBLE) / n, 4) AS mean_diff,
               round(sqrt((n * CAST(sd2 AS DOUBLE)
                           - CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE))
                          / (CAST(n AS DOUBLE) * (n - 1))), 4) AS sd_diff,
               round(CAST(sd1 AS DOUBLE) / n
                     - 1.96D * sqrt((n * CAST(sd2 AS DOUBLE)
                                     - CAST(sd1 AS DOUBLE)
                                       * CAST(sd1 AS DOUBLE))
                                    / (CAST(n AS DOUBLE) * (n - 1))), 4)
                 AS loa_low,
               round(CAST(sd1 AS DOUBLE) / n
                     + 1.96D * sqrt((n * CAST(sd2 AS DOUBLE)
                                     - CAST(sd1 AS DOUBLE)
                                       * CAST(sd1 AS DOUBLE))
                                    / (CAST(n AS DOUBLE) * (n - 1))), 4)
                 AS loa_high
        FROM m""")
    },
    Some("""WITH p AS (SELECT user_id,
                              CAST(SUM(CASE WHEN event_type = 'view'
                                THEN CAST(round(value * 100) AS BIGINT)
                                ELSE 0 END) AS BIGINT)
                              - CAST(SUM(CASE WHEN event_type = 'click'
                                THEN CAST(round(value * 100) AS BIGINT)
                                ELSE 0 END) AS BIGINT) AS dd
                       FROM events
                       WHERE event_type IN ('view', 'click')
                       GROUP BY user_id
                       HAVING SUM(CASE WHEN event_type = 'view' THEN 1
                                  ELSE 0 END) > 0
                          AND SUM(CASE WHEN event_type = 'click' THEN 1
                                  ELSE 0 END) > 0),
                 m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(SUM(dd) AS BIGINT) AS sd1,
                              SUM(CAST(dd AS HUGEINT) * dd) AS sd2
                       FROM p)
            SELECT n,
                   round(CAST(sd1 AS DOUBLE) / n, 4) AS mean_diff,
                   round(sqrt((n * CAST(sd2 AS DOUBLE)
                               - CAST(sd1 AS DOUBLE)
                                 * CAST(sd1 AS DOUBLE))
                              / (CAST(n AS DOUBLE) * (n - 1))), 4)
                     AS sd_diff,
                   round(CAST(sd1 AS DOUBLE) / n
                         - 1.96 * sqrt((n * CAST(sd2 AS DOUBLE)
                                        - CAST(sd1 AS DOUBLE)
                                          * CAST(sd1 AS DOUBLE))
                                       / (CAST(n AS DOUBLE) * (n - 1))),
                         4) AS loa_low,
                   round(CAST(sd1 AS DOUBLE) / n
                         + 1.96 * sqrt((n * CAST(sd2 AS DOUBLE)
                                        - CAST(sd1 AS DOUBLE)
                                          * CAST(sd1 AS DOUBLE))
                                       / (CAST(n AS DOUBLE) * (n - 1))),
                         4) AS loa_high
            FROM m"""))

  // Deming regression (errors-in-both-variables, λ=1) on the same pairs —
  // the method-comparison fit Bland–Altman's bounds complement: slope
  // β = (Syy−Sxx+√((Syy−Sxx)²+4Sxy²))/(2Sxy), intercept from the means.
  // The three n²-cleared centered moments are exact integers; β and α
  // are one float expression each, identically shaped on both engines.
  private val aggDemingRegression = Op(
    "agg_deming_regression",
    (s, d) => {
      onEvents(s, d, "events_dm")
      s.sql("""
        WITH p AS (SELECT user_id,
                          CAST(SUM(CASE WHEN event_type = 'view'
                            THEN CAST(round(value * 100) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS x,
                          CAST(SUM(CASE WHEN event_type = 'click'
                            THEN CAST(round(value * 100) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS y
                   FROM events_dm
                   WHERE event_type IN ('view', 'click')
                   GROUP BY user_id
                   HAVING SUM(CASE WHEN event_type = 'view' THEN 1
                              ELSE 0 END) > 0
                      AND SUM(CASE WHEN event_type = 'click' THEN 1
                              ELSE 0 END) > 0),
             m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                          SUM(CAST(x AS DECIMAL(38,0))) AS sx,
                          SUM(CAST(y AS DECIMAL(38,0))) AS sy,
                          SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
                          SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy,
                          SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
                   FROM p),
             c AS (SELECT n,
                          CAST(sx AS DOUBLE) AS sxd,
                          CAST(sy AS DOUBLE) AS syd,
                          n * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                            AS cxx,
                          n * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                            AS cyy,
                          n * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                            AS cxy
                   FROM m)
        SELECT n,
               round((cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
                                       + 4.0D * cxy * cxy))
                     / (2.0D * cxy), 6) AS slope,
               round((syd - (cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
                                              + 4.0D * cxy * cxy))
                            / (2.0D * cxy) * sxd) / n / 100.0D, 4)
                 AS intercept_usd
        FROM c""")
    },
    Some("""WITH p AS (SELECT user_id,
                              CAST(SUM(CASE WHEN event_type = 'view'
                                THEN CAST(round(value * 100) AS BIGINT)
                                ELSE 0 END) AS BIGINT) AS x,
                              CAST(SUM(CASE WHEN event_type = 'click'
                                THEN CAST(round(value * 100) AS BIGINT)
                                ELSE 0 END) AS BIGINT) AS y
                       FROM events
                       WHERE event_type IN ('view', 'click')
                       GROUP BY user_id
                       HAVING SUM(CASE WHEN event_type = 'view' THEN 1
                                  ELSE 0 END) > 0
                          AND SUM(CASE WHEN event_type = 'click' THEN 1
                                  ELSE 0 END) > 0),
                 m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                              SUM(CAST(x AS HUGEINT)) AS sx,
                              SUM(CAST(y AS HUGEINT)) AS sy,
                              SUM(CAST(x AS HUGEINT) * x) AS sxx,
                              SUM(CAST(y AS HUGEINT) * y) AS syy,
                              SUM(CAST(x AS HUGEINT) * y) AS sxy
                       FROM p),
                 c AS (SELECT n,
                              CAST(sx AS DOUBLE) AS sxd,
                              CAST(sy AS DOUBLE) AS syd,
                              n * CAST(sxx AS DOUBLE)
                                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                                AS cxx,
                              n * CAST(syy AS DOUBLE)
                                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                                AS cyy,
                              n * CAST(sxy AS DOUBLE)
                                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                                AS cxy
                       FROM m)
            SELECT n,
                   round((cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
                                           + 4.0 * cxy * cxy))
                         / (2.0 * cxy), 6) AS slope,
                   round((syd - (cyy - cxx
                                 + sqrt((cyy - cxx) * (cyy - cxx)
                                        + 4.0 * cxy * cxy))
                                / (2.0 * cxy) * sxd) / n / 100.0, 4)
                 AS intercept_usd
            FROM c"""))

  // Ljung–Box portmanteau test on the corpus-wide DAILY value series —
  // is the day-total series white noise across the first 10 lags? The
  // day domain is bounded (~2 years), so everything collapses to one
  // tiny per-day relation. Exactness: y_t = n·x_t − Σx clears the mean
  // without division (exact DECIMAL/HUGEINT), each lag's autocovariance
  // is one offset self-join integer sum, and the 10 per-lag ρ²/(n−k)
  // terms are quantized to 1e12 BEFORE the final sum so the 10-double
  // reduction is order-independent.
  private val aggLjungBox = Op(
    "agg_ljung_box",
    (s, d) => {
      onEvents(s, d, "events_lb")
      // the ~730-row day relation feeds every dy reference (st, y, and
      // the 10-lag join). Left a plain view, which Spark inlines at each
      // reference: a cache measured no faster at sf1 (MATS.md).
      s.sql("""SELECT unix_timestamp(ts) div 86400 AS day_idx,
                      CAST(SUM(CAST(round(value * 100) AS BIGINT))
                           AS BIGINT) AS x
               FROM events_lb GROUP BY 1""")
        .createOrReplaceTempView("lb_dy")
      s.sql("""
        WITH dy AS (SELECT day_idx, x FROM lb_dy),
             st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                           CAST(SUM(x) AS BIGINT) AS sx
                    FROM dy),
             y AS (SELECT day_idx,
                          CAST(st.n AS DECIMAL(38,0)) * dy.x - st.sx AS yv
                   FROM dy CROSS JOIN st),
             c0 AS (SELECT SUM(yv * yv) AS v FROM y),
             ck AS (SELECT k.k,
                           SUM(a.yv * b.yv) AS v
                    FROM (SELECT explode(sequence(1, 10)) AS k) k
                    JOIN y a ON true
                    JOIN y b ON b.day_idx = a.day_idx + k.k
                    GROUP BY k.k),
             terms AS (SELECT ck.k,
                              CAST(round(
                                (CAST(ck.v AS DOUBLE) / CAST(c0.v AS DOUBLE))
                                * (CAST(ck.v AS DOUBLE) / CAST(c0.v AS DOUBLE))
                                / (st.n - ck.k) * 1000000000000.0D)
                                AS BIGINT) AS tq
                       FROM ck CROSS JOIN c0 CROSS JOIN st)
        SELECT st.n,
               round(CAST(st.n AS DOUBLE) * (st.n + 2)
                     * CAST(tsum AS DOUBLE) / 1000000000000.0D, 6)
                 AS q_stat
        FROM (SELECT CAST(SUM(tq) AS BIGINT) AS tsum FROM terms)
        CROSS JOIN st""")
    },
    Some("""WITH dy AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400
                               AS day_idx,
                               CAST(SUM(CAST(round(value * 100)
                                    AS BIGINT)) AS BIGINT) AS x
                        FROM events GROUP BY 1),
                 st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                               CAST(SUM(x) AS BIGINT) AS sx
                        FROM dy),
                 y AS (SELECT day_idx,
                              CAST(st.n AS HUGEINT) * dy.x - st.sx AS yv
                       FROM dy CROSS JOIN st),
                 c0 AS (SELECT SUM(yv * yv) AS v FROM y),
                 ck AS (SELECT k.k, SUM(a.yv * b.yv) AS v
                        FROM (SELECT unnest(range(1, 11)) AS k) k
                        JOIN y a ON true
                        JOIN y b ON b.day_idx = a.day_idx + k.k
                        GROUP BY k.k),
                 terms AS (SELECT ck.k,
                                  CAST(round(
                                    (CAST(ck.v AS DOUBLE)
                                     / CAST(c0.v AS DOUBLE))
                                    * (CAST(ck.v AS DOUBLE)
                                       / CAST(c0.v AS DOUBLE))
                                    / (st.n - ck.k) * 1000000000000.0)
                                    AS BIGINT) AS tq
                           FROM ck CROSS JOIN c0 CROSS JOIN st)
            SELECT st.n,
                   round(CAST(st.n AS DOUBLE) * (st.n + 2)
                         * CAST(tsum AS DOUBLE) / 1000000000000.0, 6)
                 AS q_stat
            FROM (SELECT CAST(SUM(tq) AS BIGINT) AS tsum FROM terms)
            CROSS JOIN st"""))

  // Runs-up-and-down (Wallis–Moore) randomness test on the same daily
  // series: count direction reversals among consecutive nonzero day
  // deltas; z against E[R] = (2n−1)/3, Var[R] = (16n−29)/90 where n is
  // the observation count of the zero-collapsed series. Exact integers
  // until the single z.
  private val aggRunsUpDown = Op(
    "agg_runs_up_down",
    (s, d) => {
      onEvents(s, d, "events_rud")
      s.sql("""
        WITH dy AS (SELECT unix_timestamp(ts) div 86400 AS day_idx,
                           CAST(SUM(CAST(round(value * 100) AS BIGINT))
                                AS BIGINT) AS x
                    FROM events_rud GROUP BY 1),
             df AS (SELECT day_idx,
                           x - LAG(x) OVER (ORDER BY day_idx) AS dd
                    FROM dy),
             sg AS (SELECT day_idx,
                           CASE WHEN dd > 0 THEN 1 ELSE -1 END AS sgn
                    FROM df WHERE dd IS NOT NULL AND dd <> 0),
             ch0 AS (SELECT sgn,
                            LAG(sgn) OVER (ORDER BY day_idx) AS prev
                     FROM sg),
             ch AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd,
                           CAST(SUM(CASE WHEN prev IS NOT NULL
                                 AND sgn <> prev
                                 THEN 1 ELSE 0 END) AS BIGINT) AS flips
                    FROM ch0)
        SELECT nd + 1 AS n, flips + 1 AS runs,
               round((flips + 1 - (2.0D * (nd + 1) - 1) / 3.0D)
                     / sqrt((16.0D * (nd + 1) - 29) / 90.0D), 6) AS z
        FROM ch""")
    },
    Some("""WITH dy AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400
                               AS day_idx,
                               CAST(SUM(CAST(round(value * 100)
                                    AS BIGINT)) AS BIGINT) AS x
                        FROM events GROUP BY 1),
                 df AS (SELECT day_idx,
                               x - LAG(x) OVER (ORDER BY day_idx) AS dd
                        FROM dy),
                 sg AS (SELECT day_idx,
                               CASE WHEN dd > 0 THEN 1 ELSE -1 END AS sgn
                        FROM df WHERE dd IS NOT NULL AND dd <> 0),
                 ch0 AS (SELECT sgn,
                                LAG(sgn) OVER (ORDER BY day_idx) AS prev
                         FROM sg),
                 ch AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd,
                               CAST(SUM(CASE WHEN prev IS NOT NULL
                                     AND sgn <> prev
                                     THEN 1 ELSE 0 END) AS BIGINT)
                                 AS flips
                        FROM ch0)
            SELECT nd + 1 AS n, flips + 1 AS runs,
                   round((flips + 1 - (2.0 * (nd + 1) - 1) / 3.0)
                         / sqrt((16.0 * (nd + 1) - 29) / 90.0), 6) AS z
            FROM ch"""))

  // Chandelier exits from the hourly bars: long = 22-bar rolling high −
  // 3·ATR22, short = 22-bar rolling low + 3·ATR22, published in exact
  // micro-units via one truncating division per row (maxhi·1e4·n −
  // 3·ΣTR·1e4, all integers, div n — Spark `div` ≡ DuckDB `//`).
  private val windowChandelierExit = Op(
    "window_chandelier_exit",
    (s, d) => {
      onEvents(s, d, "events_ce")
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
                     FROM events_ce GROUP BY 1, 2),
             tr AS (SELECT event_type, h, hi, lo,
                           GREATEST(hi - lo,
                             abs(hi - lag(cl) OVER w),
                             abs(lo - lag(cl) OVER w)) AS trng,
                           ROW_NUMBER() OVER w AS rn
                    FROM bar
                    WINDOW w AS (PARTITION BY event_type ORDER BY h)),
             f AS (SELECT event_type, h, rn,
                          CAST(MAX(hi) OVER fr AS BIGINT) AS mx22,
                          CAST(MIN(lo) OVER fr AS BIGINT) AS mn22,
                          CAST(SUM(trng) OVER fr AS BIGINT) AS s22,
                          CAST(COUNT(*) OVER fr AS BIGINT) AS n22
                   FROM tr WHERE trng IS NOT NULL
                   WINDOW fr AS (PARTITION BY event_type ORDER BY h
                                 ROWS 21 PRECEDING))
        SELECT event_type, h AS hour_idx,
               (mx22 * n22 * 10000 - 3 * s22 * 10000) div n22
                 AS long_exit_micro,
               (mn22 * n22 * 10000 + 3 * s22 * 10000) div n22
                 AS short_exit_micro
        FROM f WHERE rn >= 22
        ORDER BY event_type, hour_idx""")
    },
    Some("""WITH bar AS (SELECT event_type,
                                CAST(floor(epoch(ts)) AS BIGINT) // 3600
                                  AS h,
                                CAST(MAX(CAST(round(value * 100)
                                     AS BIGINT)) AS BIGINT) AS hi,
                                CAST(MIN(CAST(round(value * 100)
                                     AS BIGINT)) AS BIGINT) AS lo,
                                (MAX({'ts': ts, 'eid': event_id,
                                      'c': CAST(round(value * 100)
                                               AS BIGINT)})).c AS cl
                         FROM events GROUP BY 1, 2),
                 tr AS (SELECT event_type, h, hi, lo,
                               GREATEST(hi - lo,
                                 abs(hi - lag(cl) OVER w),
                                 abs(lo - lag(cl) OVER w)) AS trng,
                               ROW_NUMBER() OVER w AS rn
                        FROM bar
                        WINDOW w AS (PARTITION BY event_type ORDER BY h)),
                 f AS (SELECT event_type, h, rn,
                              CAST(MAX(hi) OVER fr AS BIGINT) AS mx22,
                              CAST(MIN(lo) OVER fr AS BIGINT) AS mn22,
                              CAST(SUM(trng) OVER fr AS BIGINT) AS s22,
                              CAST(COUNT(*) OVER fr AS BIGINT) AS n22
                       FROM tr WHERE trng IS NOT NULL
                       WINDOW fr AS (PARTITION BY event_type ORDER BY h
                                     ROWS 21 PRECEDING))
            SELECT event_type, h AS hour_idx,
                   (mx22 * n22 * 10000 - 3 * s22 * 10000) // n22
                     AS long_exit_micro,
                   (mn22 * n22 * 10000 + 3 * s22 * 10000) // n22
                     AS short_exit_micro
            FROM f WHERE rn >= 22
            ORDER BY event_type, hour_idx"""))

  // Heikin-Ashi smoothing of the hourly OHLC bars: ha_close =
  // (o+h+l+c) div 4 per bar, ha_open the (prev_ha_open + prev_ha_close)
  // div 2 recursion (seeded (o+c) div 2), ha_high/low the running
  // GREATEST/LEAST against the smoothed pair — the whole series exact
  // BIGINT cents via truncating division (the macd recursion idiom; all
  // quantities positive so `div` ≡ `//` needs no sign care).
  private val resampleHeikinAshi = Op(
    "resample_heikin_ashi",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.col
      onEvents(s, d, "events_ha")
      val bars = s.sql("""
        SELECT event_type,
               unix_timestamp(ts) div 3600 AS h,
               CAST(MIN(struct(ts, event_id,
                    CAST(round(value * 100) AS BIGINT))).col3 AS BIGINT)
                 AS op,
               CAST(MAX(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS hi,
               CAST(MIN(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS lo,
               CAST(MAX(struct(ts, event_id,
                    CAST(round(value * 100) AS BIGINT))).col3 AS BIGINT)
                 AS cl
        FROM events_ha GROUP BY 1, 2""")
      bars
        .repartition(col("event_type"))
        .sortWithinPartitions("event_type", "h")
        .as[(String, Long, Long, Long, Long, Long)]
        .mapPartitions { it =>
          var cur = ""
          var haO = 0L; var haC = 0L
          it.map { case (g, h, op, hi, lo, cl) =>
            val c = (op + hi + lo + cl) / 4
            if (g != cur) { haO = (op + cl) / 2; cur = g }
            else haO = (haO + haC) / 2
            haC = c
            (g, h, haO, math.max(hi, math.max(haO, haC)),
              math.min(lo, math.min(haO, haC)), haC)
          }
        }
        .toDF("event_type", "hour_idx", "ha_open", "ha_high", "ha_low",
          "ha_close")
        .orderBy("event_type", "hour_idx")
    },
    Some("""WITH RECURSIVE bar AS (
              SELECT event_type,
                     CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
                     (MIN({'ts': ts, 'eid': event_id,
                           'c': CAST(round(value * 100) AS BIGINT)})).c
                       AS op,
                     CAST(MAX(CAST(round(value * 100) AS BIGINT))
                          AS BIGINT) AS hi,
                     CAST(MIN(CAST(round(value * 100) AS BIGINT))
                          AS BIGINT) AS lo,
                     (MAX({'ts': ts, 'eid': event_id,
                           'c': CAST(round(value * 100) AS BIGINT)})).c
                       AS cl,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY CAST(floor(epoch(ts)) AS BIGINT) // 3600)
                       AS rn
              FROM events GROUP BY 1, 2),
            r(event_type, h, rn, hi, lo, ha_open, ha_close) AS (
              SELECT event_type, h, rn, hi, lo,
                     (op + cl) // 2,
                     (op + hi + lo + cl) // 4
              FROM bar WHERE rn = 1
              UNION ALL
              SELECT b.event_type, b.h, b.rn, b.hi, b.lo,
                     (r.ha_open + r.ha_close) // 2,
                     (b.op + b.hi + b.lo + b.cl) // 4
              FROM bar b JOIN r ON b.event_type = r.event_type
                               AND b.rn = r.rn + 1)
            SELECT event_type, h AS hour_idx, ha_open,
                   GREATEST(hi, ha_open, ha_close) AS ha_high,
                   LEAST(lo, ha_open, ha_close) AS ha_low,
                   ha_close
            FROM r ORDER BY event_type, hour_idx"""))

  val ops: Seq[Op] = Seq(
    aggAnsariBradley, aggCvmTest, aggJonckheere, aggPageTrend, aggDixonQ,
    aggGkGamma, aggSomersD, aggStuartTauC, aggBlomqvistBeta, aggTheilU,
    aggKendallW, aggLinCcc, aggBlandAltman, aggDemingRegression,
    aggLjungBox, aggRunsUpDown,
    windowVortex, windowCoppock, windowTrix, windowMassIndex,
    windowQstick, windowBop, windowElderRay, windowChandelierExit,
    resampleHeikinAshi,
    textGunningFog)
}
