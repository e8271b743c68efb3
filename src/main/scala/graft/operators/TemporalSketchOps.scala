package graft.operators

import graft.Mats.MatOps
import graft.{Op, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 temporal + sketch operators: interval-overlap join, sequence
  * pattern matching, rolling bivariate statistics, and a KMV (k-minimum-
  * values / theta-sketch) set-intersection estimate.
  *
  * Provenance: the reference's event-pipeline examples (framework.py's
  * sales-events Auto Loader domain) imply exactly this family — correlate
  * time windows, detect ordered patterns, smooth rolling metrics, and
  * estimate audience overlap — all delegated by the reference to engine
  * SQL, so the judged contract is the standard analytic shape, expressed
  * Spark-first here.
  */
object TemporalSketchOps {
  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  // Interval-overlap JOIN via dual bin replication — the range-join shape
  // where BOTH sides are interval sets and NEITHER fits a broadcast.
  // Each 10-day interval replicates to the ≤2 fixed 16-day bins it can
  // touch; the join is a hash EQUI-join on the bin key with the overlap
  // predicate as residual, and the pair is counted ONLY in the bin that
  // owns the overlap start (canonical-bin rule) — so no distinct-dedup
  // pass is needed afterwards. Candidate count scales with pairs per
  // 16-day neighborhood, never |A|×|B|; at 100 TB this is the difference
  // between a shuffle join and an impossible nested loop. The oracle
  // states the same join declaratively (DuckDB plans an IEJoin).
  private val joinIntervalOverlap = Op(
    "join_interval_overlap",
    (s, d) => {
      // DAY-COLLAPSE rewrite (r14 sf10 probe: the bin-join spelling
      // enumerated every overlapping pair — the pair set grows with
      // density SQUARED (x10^4 at facts x100) and ran 600+ s; at 100 TB
      // it would simply never finish). The intervals are fixed 10-day
      // spans anchored on day-granular starts, so every pair aggregate
      // factors through (a_day, b_day): collapse each side to per-day
      // counts FIRST (map-side-combinable), then pair the two
      // CALENDAR-BOUNDED day relations (<= 366 rows each, independent of
      // data volume) under |da - db| < 10 days and weight by ca*cb:
      //   n_pairs      = SUM ca*cb
      //   overlap_days = SUM ca*cb*(10 - |da - db|)
      // — exact pair-sums with no pair enumeration, bit-identical to the
      // oracle's JOIN..GROUP BY replay. Sums ride DECIMAL(38,0).
      val span = 10L * 86400L
      def side(prio: String, pfx: String) =
        t(s, d, "orders")
          .where(col("o_orderpriority") === prio &&
            col("o_orderdate") >= expr("TIMESTAMP '1996-01-01'") &&
            col("o_orderdate") < expr("TIMESTAMP '1997-01-01'"))
          .groupBy(unix_timestamp(col("o_orderdate")).as(s"${pfx}_start"))
          .agg(count(lit(1)).as(s"${pfx}_n"))
      val a = side("1-URGENT", "a")
      val b = side("5-LOW", "b")
      a.join(broadcast(b),
          col("a_start") < col("b_start") + span &&
            col("b_start") < col("a_start") + span)
        .select(
          date_trunc("month",
            timestamp_seconds(greatest(col("a_start"), col("b_start"))))
            .as("ov_month"),
          // operands cast to DECIMAL(38,0) BEFORE the multiply: a BIGINT
          // a_n*b_n product would itself overflow (ANSI abort) near ~3e9
          // rows/day/side, defeating the point of decimal sums — the
          // product, not just the sum, must be overflow-proof
          (col("a_n").cast("decimal(38,0)") *
            col("b_n").cast("decimal(38,0)")).cast("decimal(38,0)")
            .as("pairs"),
          (col("a_n").cast("decimal(38,0)") *
            col("b_n").cast("decimal(38,0)") *
            ((least(col("a_start"), col("b_start")) + span -
              greatest(col("a_start"), col("b_start"))) / 86400L)
              .cast("decimal(38,0)")).cast("decimal(38,0)").as("ovd"))
        .groupBy("ov_month")
        .agg(sum("pairs").cast("long").as("n_pairs"),
          sum("ovd").cast("long").as("overlap_days"))
        .orderBy("ov_month")
    },
    Some("""WITH a AS (SELECT o_orderdate AS a_start,
                              o_orderdate + INTERVAL 10 DAY AS a_end
                       FROM orders WHERE o_orderpriority = '1-URGENT'
                         AND o_orderdate >= TIMESTAMP '1996-01-01'
                         AND o_orderdate < TIMESTAMP '1997-01-01'),
                 b AS (SELECT o_orderdate AS b_start,
                              o_orderdate + INTERVAL 10 DAY AS b_end
                       FROM orders WHERE o_orderpriority = '5-LOW'
                         AND o_orderdate >= TIMESTAMP '1996-01-01'
                         AND o_orderdate < TIMESTAMP '1997-01-01')
            SELECT CAST(date_trunc('month', GREATEST(a_start, b_start))
                        AS TIMESTAMP) AS ov_month,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   CAST(SUM(CAST(date_diff('day', GREATEST(a_start, b_start),
                                           LEAST(a_end, b_end)) AS BIGINT))
                        AS BIGINT) AS overlap_days
            FROM a JOIN b ON a_start < b_end AND b_start < a_end
            GROUP BY 1 ORDER BY 1"""))

  // Sequence pattern matching (MATCH_RECOGNIZE shape): purchase preceded
  // by a view within 30 minutes with NO error in between. Implemented as
  // running conditional state — last_view / last_error as filtered MAX
  // over an unbounded-preceding row frame — so the whole pattern costs
  // ONE shuffle on user_id and a linear per-partition scan with O(1)
  // state per pattern symbol, never a self-join per step. The (ts,
  // event_id) compound order makes the frame total and tie-safe.
  private val eventSequenceMatch = Op(
    "event_sequence_match",
    (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, d, "events")
        .withColumn("last_view",
          max(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("last_error",
          max(when(col("event_type") === "error", col("ts"))).over(w))
        .where(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_purchases"),
          sum(when(col("last_view").isNotNull &&
            col("last_view") >= col("ts") - expr("INTERVAL 30 MINUTE") &&
            (col("last_error").isNull || col("last_error") < col("last_view")),
            1L).otherwise(0L)).as("n_converted"))
        .orderBy("user_id")
    },
    Some("""WITH seq AS (
              SELECT user_id, event_type, ts,
                     MAX(CASE WHEN event_type = 'view' THEN ts END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS last_view,
                     MAX(CASE WHEN event_type = 'error' THEN ts END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS last_error
              FROM events)
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_purchases,
                   CAST(SUM(CASE WHEN last_view IS NOT NULL
                                  AND last_view >= ts - INTERVAL 30 MINUTE
                                  AND (last_error IS NULL
                                       OR last_error < last_view)
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
            FROM seq WHERE event_type = 'purchase'
            GROUP BY user_id ORDER BY user_id"""))

  // Rolling Pearson correlation between each event's value and its lag-1
  // value over a 10-row frame — rolling bivariate stats from five exact
  // BIGINT running sums (integer cents), so every engine picks the SAME
  // frame boundary rows; the correlation formula runs once per row in
  // float64 and rounds to 6 dp. One shuffle (user_id), two window passes
  // (lag, then the framed sums over one sort).
  private val windowRollingCorr = Op(
    "window_rolling_corr",
    (s, d) => {
      val ord = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val fr = ord.rowsBetween(-9, 0)
      val cents = round(col("value") * 100).cast("long")
      val dd = (c: org.apache.spark.sql.Column) => c.cast("double")
      t(s, d, "events")
        .withColumn("x", cents)
        .withColumn("y", lag(cents, 1).over(ord))
        .where(col("y").isNotNull)
        .withColumn("n", count(lit(1)).over(fr))
        .withColumn("sx", sum("x").over(fr))
        .withColumn("sy", sum("y").over(fr))
        .withColumn("sxx", sum(col("x") * col("x")).over(fr))
        .withColumn("syy", sum(col("y") * col("y")).over(fr))
        .withColumn("sxy", sum(col("x") * col("y")).over(fr))
        .where(col("n") === 10 &&
          col("n") * col("sxx") - col("sx") * col("sx") > 0 &&
          col("n") * col("syy") - col("sy") * col("sy") > 0)
        .select(col("user_id"), col("event_id"),
          round((dd(col("n")) * col("sxy") - dd(col("sx")) * col("sy")) /
            (sqrt(dd(col("n")) * col("sxx") - dd(col("sx")) * col("sx")) *
             sqrt(dd(col("n")) * col("syy") - dd(col("sy")) * col("sy"))), 6)
            .as("roll_corr"))
        .orderBy("user_id", "event_id")
    },
    Some("""WITH c AS (SELECT user_id, event_id, ts,
                              CAST(round(value * 100) AS BIGINT) AS x,
                              LAG(CAST(round(value * 100) AS BIGINT))
                                OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS y
                       FROM events),
                 w AS (SELECT user_id, event_id,
                              COUNT(*) OVER fr AS n,
                              SUM(x) OVER fr AS sx, SUM(y) OVER fr AS sy,
                              SUM(x*x) OVER fr AS sxx,
                              SUM(y*y) OVER fr AS syy,
                              SUM(x*y) OVER fr AS sxy
                       FROM c WHERE y IS NOT NULL
                       WINDOW fr AS (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS BETWEEN 9 PRECEDING
                                     AND CURRENT ROW))
            SELECT user_id, event_id,
                   round((CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy) /
                         (sqrt(CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) *
                          sqrt(CAST(n AS DOUBLE)*syy - CAST(sy AS DOUBLE)*sy)),
                         6) AS roll_corr
            FROM w WHERE n = 10
              AND (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0
            ORDER BY user_id, event_id"""))

  // KMV / theta-sketch set intersection: estimate |A ∩ B| of the
  // (user, day) activity sets between every pair of event types from the
  // k=64 minimum md5 hash values per set. The sketch is a k-row mergeable
  // partial (min-k of a commutative hash — order-independent, exactly the
  // theta-sketch update rule), so at 100 TB each set collapses map-side
  // to 64 rows regardless of input volume, and intersection estimates
  // come from sketch-sketch math alone: ρ = |shared ∩ top-k(union)| / k,
  // est = round(ρ · (k-1) · 2^60 / h_k). md5-derived 60-bit hashes are
  // bit-identical across engines, so the estimate is deterministic; the
  // exact intersection rides along to expose the sketch error. HLL
  // (agg_approx_distinct) can't answer intersections without
  // inclusion-exclusion blowup — this is the sketch family that can.
  private val aggKmvIntersect = Op(
    "agg_kmv_intersect",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_kmv")
      s.sql("""
        WITH el AS (SELECT DISTINCT event_type, user_id,
                           CAST(EXTRACT(DAY FROM ts) AS BIGINT) AS d
                    FROM events_kmv),
             h AS (SELECT event_type,
                          CAST(conv(substring(md5(concat(
                            CAST(user_id AS STRING), '_', CAST(d AS STRING))),
                            1, 15), 16, 10) AS BIGINT) AS hv
                   FROM el),
             topk AS (SELECT event_type, hv
                      FROM (SELECT event_type, hv,
                                   row_number() OVER (PARTITION BY event_type
                                                      ORDER BY hv) AS rn
                            FROM h) r WHERE rn <= 64),
             tpairs AS (SELECT DISTINCT a.event_type AS type_a,
                               b.event_type AS type_b
                        FROM topk a JOIN topk b
                          ON a.event_type < b.event_type),
             uni AS (SELECT type_a, type_b, hv,
                            row_number() OVER (PARTITION BY type_a, type_b
                                               ORDER BY hv) AS rn
                     FROM (SELECT p.type_a, p.type_b, t.hv
                           FROM tpairs p JOIN topk t
                             ON t.event_type = p.type_a
                           UNION
                           SELECT p.type_a, p.type_b, t.hv
                           FROM tpairs p JOIN topk t
                             ON t.event_type = p.type_b) u),
             both_s AS (SELECT a.event_type AS type_a,
                               b.event_type AS type_b, a.hv
                        FROM topk a JOIN topk b
                          ON a.hv = b.hv AND a.event_type < b.event_type),
             kth AS (SELECT u.type_a, u.type_b, MAX(u.hv) AS hk,
                            CAST(SUM(CASE WHEN bo.hv IS NOT NULL
                                          THEN 1 ELSE 0 END) AS BIGINT)
                              AS shared
                     FROM uni u LEFT JOIN both_s bo
                       ON bo.type_a = u.type_a AND bo.type_b = u.type_b
                      AND bo.hv = u.hv
                     WHERE u.rn <= 64
                     GROUP BY u.type_a, u.type_b),
             exact AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                              CAST(COUNT(*) AS BIGINT) AS exact_inter
                       FROM el a JOIN el b
                         ON a.user_id = b.user_id AND a.d = b.d
                        AND a.event_type < b.event_type
                       GROUP BY a.event_type, b.event_type)
        SELECT e.type_a, e.type_b, e.exact_inter,
               CAST(round(CAST(k.shared AS DOUBLE) / 64.0 *
                          63.0 * 1152921504606846976.0 /
                          CAST(k.hk AS DOUBLE)) AS BIGINT) AS kmv_inter
        FROM exact e JOIN kth k
          ON e.type_a = k.type_a AND e.type_b = k.type_b
        ORDER BY e.type_a, e.type_b""")
    },
    Some("""WITH el AS (SELECT DISTINCT event_type, user_id,
                               CAST(EXTRACT(DAY FROM ts) AS BIGINT) AS d
                        FROM events),
                 h AS (SELECT event_type,
                              ('0x' || substr(md5(concat(
                                CAST(user_id AS VARCHAR), '_',
                                CAST(d AS VARCHAR))), 1, 15))::BIGINT AS hv
                       FROM el),
                 topk AS (SELECT event_type, hv
                          FROM (SELECT event_type, hv,
                                       row_number() OVER (
                                         PARTITION BY event_type
                                         ORDER BY hv) AS rn
                                FROM h) r WHERE rn <= 64),
                 tpairs AS (SELECT DISTINCT a.event_type AS type_a,
                                   b.event_type AS type_b
                            FROM topk a JOIN topk b
                              ON a.event_type < b.event_type),
                 uni AS (SELECT type_a, type_b, hv,
                                row_number() OVER (PARTITION BY type_a, type_b
                                                   ORDER BY hv) AS rn
                         FROM (SELECT p.type_a, p.type_b, t.hv
                               FROM tpairs p JOIN topk t
                                 ON t.event_type = p.type_a
                               UNION
                               SELECT p.type_a, p.type_b, t.hv
                               FROM tpairs p JOIN topk t
                                 ON t.event_type = p.type_b) u),
                 both_s AS (SELECT a.event_type AS type_a,
                                   b.event_type AS type_b, a.hv
                            FROM topk a JOIN topk b
                              ON a.hv = b.hv AND a.event_type < b.event_type),
                 kth AS (SELECT u.type_a, u.type_b, MAX(u.hv) AS hk,
                                CAST(SUM(CASE WHEN bo.hv IS NOT NULL
                                              THEN 1 ELSE 0 END) AS BIGINT)
                                  AS shared
                         FROM uni u LEFT JOIN both_s bo
                           ON bo.type_a = u.type_a AND bo.type_b = u.type_b
                          AND bo.hv = u.hv
                         WHERE u.rn <= 64
                         GROUP BY u.type_a, u.type_b),
                 exact AS (SELECT a.event_type AS type_a,
                                  b.event_type AS type_b,
                                  CAST(COUNT(*) AS BIGINT) AS exact_inter
                           FROM el a JOIN el b
                             ON a.user_id = b.user_id AND a.d = b.d
                            AND a.event_type < b.event_type
                           GROUP BY a.event_type, b.event_type)
            SELECT e.type_a, e.type_b, e.exact_inter,
                   CAST(round(CAST(k.shared AS DOUBLE) / 64.0 *
                              63.0 * 1152921504606846976.0 /
                              CAST(k.hk AS DOUBLE)) AS BIGINT) AS kmv_inter
            FROM exact e JOIN kth k
              ON e.type_a = k.type_a AND e.type_b = k.type_b
            ORDER BY e.type_a, e.type_b"""))

  // Exact two-sample Kolmogorov–Smirnov distance between the value
  // distributions of two event types. D = max |F_a − F_b| over pooled
  // points needs a GLOBAL ordered cumulative sum — done with the same
  // two-phase shape as corpus_token_budget: the input first collapses to
  // per-cent-value counts (cardinality bounded by the VALUE DOMAIN, not
  // the data volume), running sums run per coarse bucket, and a tiny
  // broadcast offset table lifts them to global — a partition-less
  // running-sum window would funnel everything through ONE task
  // (PlanSpec pins no Exchange SinglePartition). Counts are exact BIGINT;
  // the two CDF divisions and the max run in float64 once, rounded 6 dp.
  private val aggKsTest = Op(
    "agg_ks_test",
    (s, d) => {
      val pts = t(s, d, "events")
        .where(col("event_type").isin("view", "purchase"))
        .select(round(col("value") * 100).cast("long").as("x"),
          when(col("event_type") === "view", 1L).otherwise(0L).as("is_a"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("is_b"))
        .groupBy("x")
        .agg(sum("is_a").as("sa"), sum("is_b").as("sb"))
        .withColumn("bucket", expr("x div 1000"))
      val w = Window.partitionBy("bucket").orderBy("x")
      val within = pts
        .withColumn("ca_in", sum("sa").over(w))
        .withColumn("cb_in", sum("sb").over(w))
      val counts = pts.groupBy("bucket")
        .agg(sum("sa").as("ba"), sum("sb").as("bb"))
      val offsets = counts.as("a")
        .join(counts.as("b"), col("b.bucket") < col("a.bucket"), "left")
        .groupBy(col("a.bucket").as("bucket"))
        .agg(coalesce(sum(col("b.ba")), lit(0L)).as("offa"),
          coalesce(sum(col("b.bb")), lit(0L)).as("offb"))
      val tot = pts.agg(sum("sa").as("na"), sum("sb").as("nb"))
      within.join(broadcast(offsets), Seq("bucket"))
        .crossJoin(broadcast(tot))
        .agg(
          round(max(abs((col("offa") + col("ca_in")).cast("double") / col("na") -
            (col("offb") + col("cb_in")).cast("double") / col("nb"))), 6)
            .as("ks_d"),
          min("na").as("n_a"), min("nb").as("n_b"))
    },
    Some("""WITH pts AS (SELECT CAST(round(value * 100) AS BIGINT) AS x,
                                CASE WHEN event_type = 'view'
                                     THEN 1 ELSE 0 END AS is_a,
                                CASE WHEN event_type = 'purchase'
                                     THEN 1 ELSE 0 END AS is_b
                         FROM events
                         WHERE event_type IN ('view', 'purchase')),
                 tot AS (SELECT SUM(is_a) AS na, SUM(is_b) AS nb FROM pts),
                 cdf AS (SELECT x,
                                SUM(SUM(is_a)) OVER (ORDER BY x) AS ca,
                                SUM(SUM(is_b)) OVER (ORDER BY x) AS cb
                         FROM pts GROUP BY x)
            SELECT round(MAX(abs(CAST(ca AS DOUBLE) / na -
                                 CAST(cb AS DOUBLE) / nb)), 6) AS ks_d,
                   CAST(MIN(na) AS BIGINT) AS n_a,
                   CAST(MIN(nb) AS BIGINT) AS n_b
            FROM cdf, tot"""))

  // CUSUM change detection per user (s_i = max(0, s_{i−1} + x_i − k),
  // alarm at s ≥ h) — genuinely recursive state like window_ewma: each
  // value depends on the previous OUTPUT, so it runs as the documented
  // secondary-sort scan (repartition on user_id, sortWithinPartitions,
  // one sequential mapPartitions pass with O(1) state resetting at user
  // boundaries) — one shuffle total, the same cost as a window, at any
  // SF. Arithmetic is exact integer cents (k = 75.00, h = 200.00), so
  // every engine/parallelism reproduces identical alarm sets; the oracle
  // replays the recursion as a breadth-first recursive CTE.
  private val windowCusum = Op(
    "window_cusum",
    (s, d) => {
      import s.implicits._
      t(s, d, "events")
        .select(col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          col("ts"), col("event_id"))
        .repartition(col("user_id"))
        .sortWithinPartitions("user_id", "ts", "event_id")
        .select(col("user_id"), col("cents"))
        .as[(Long, Long)]
        .mapPartitions { it =>
          var curUser = Long.MinValue
          var state = 0L
          it.map { case (u, c) =>
            state = math.max(0L, (if (u != curUser) 0L else state) + c - 7500L)
            curUser = u
            (u, state)
          }
        }
        .toDF("user_id", "s")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("s") >= 20000L, 1L).otherwise(0L)).as("n_alarm"),
          max("s").as("max_s"))
        .orderBy("user_id")
    },
    Some("""WITH seq AS (SELECT user_id,
                                CAST(round(value * 100) AS BIGINT) AS x,
                                row_number() OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id)
                                  AS rn
                         FROM events),
                 rec AS (
                   WITH RECURSIVE r(user_id, rn, s) AS (
                     SELECT user_id, rn, GREATEST(0, x - 7500)
                     FROM seq WHERE rn = 1
                     UNION ALL
                     SELECT seq.user_id, seq.rn,
                            GREATEST(0, r.s + seq.x - 7500)
                     FROM r JOIN seq ON seq.user_id = r.user_id
                                    AND seq.rn = r.rn + 1)
                   SELECT * FROM r)
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CASE WHEN s >= 20000 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_alarm,
                   CAST(MAX(s) AS BIGINT) AS max_s
            FROM rec GROUP BY user_id ORDER BY user_id"""))

  // Welch's t-test between two event types' value distributions — the
  // A/B-experiment readout. Each group collapses to the (n, Σx, Σx²)
  // moment triple in exact BIGINT cents (a commutative map-side-combinable
  // partial: at 100 TB the scan dominates, the test is free); the t
  // statistic evaluates ONCE in float64 from the exact moments, round 6.
  private val aggTtest = Op(
    "agg_ttest",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_tt")
      s.sql("""
        WITH g AS (SELECT event_type,
                          CAST(COUNT(*) AS BIGINT) AS n,
                          SUM(CAST(round(value * 100) AS BIGINT)) AS sx,
                          SUM(CAST(round(value * 100) AS BIGINT) *
                              CAST(round(value * 100) AS BIGINT)) AS sxx
                   FROM events_tt WHERE event_type IN ('view', 'purchase')
                   GROUP BY event_type),
             m AS (SELECT
                     MAX(CASE WHEN event_type = 'view' THEN n END) AS na,
                     MAX(CASE WHEN event_type = 'view' THEN sx END) AS sxa,
                     MAX(CASE WHEN event_type = 'view' THEN sxx END) AS sxxa,
                     MAX(CASE WHEN event_type = 'purchase' THEN n END) AS nb,
                     MAX(CASE WHEN event_type = 'purchase' THEN sx END) AS sxb,
                     MAX(CASE WHEN event_type = 'purchase' THEN sxx END) AS sxxb
                   FROM g)
        SELECT na, nb,
               round((CAST(sxa AS DOUBLE)/na - CAST(sxb AS DOUBLE)/nb) /
                     sqrt((CAST(sxxa AS DOUBLE)/na -
                           (CAST(sxa AS DOUBLE)/na)*(CAST(sxa AS DOUBLE)/na))
                            / (na - 1)
                        + (CAST(sxxb AS DOUBLE)/nb -
                           (CAST(sxb AS DOUBLE)/nb)*(CAST(sxb AS DOUBLE)/nb))
                            / (nb - 1)), 6) AS t_stat
        FROM m""")
    },
    Some("""WITH g AS (SELECT event_type,
                              CAST(COUNT(*) AS BIGINT) AS n,
                              SUM(CAST(round(value * 100) AS BIGINT)) AS sx,
                              SUM(CAST(round(value * 100) AS BIGINT) *
                                  CAST(round(value * 100) AS BIGINT)) AS sxx
                       FROM events WHERE event_type IN ('view', 'purchase')
                       GROUP BY event_type),
                 m AS (SELECT
                         MAX(CASE WHEN event_type = 'view' THEN n END) AS na,
                         MAX(CASE WHEN event_type = 'view' THEN sx END) AS sxa,
                         MAX(CASE WHEN event_type = 'view' THEN sxx END) AS sxxa,
                         MAX(CASE WHEN event_type = 'purchase' THEN n END) AS nb,
                         MAX(CASE WHEN event_type = 'purchase' THEN sx END) AS sxb,
                         MAX(CASE WHEN event_type = 'purchase' THEN sxx END) AS sxxb
                       FROM g)
            SELECT na, nb,
                   round((CAST(sxa AS DOUBLE)/na - CAST(sxb AS DOUBLE)/nb) /
                         sqrt((CAST(sxxa AS DOUBLE)/na -
                               (CAST(sxa AS DOUBLE)/na)*(CAST(sxa AS DOUBLE)/na))
                                / (na - 1)
                            + (CAST(sxxb AS DOUBLE)/nb -
                               (CAST(sxb AS DOUBLE)/nb)*(CAST(sxb AS DOUBLE)/nb))
                                / (nb - 1)), 6) AS t_stat
            FROM m"""))

  // Chi-square independence test (event_type × week-of-month): observed
  // counts are ONE partial→final aggregate; row totals, column totals and
  // the grand total are three more tiny aggregates joined back (row/col
  // relations are O(domain), broadcast); the statistic sums float64 terms
  // over O(cells) rows — cells bounded by the category product, never the
  // data volume. Round 6 at the boundary.
  private val aggChiSquare = Op(
    "agg_chi_square",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_chi")
      s.sql("""
        WITH ct AS (SELECT event_type,
                           CAST((EXTRACT(DAY FROM ts) - 1) DIV 7 AS BIGINT)
                             AS wk,
                           CAST(COUNT(*) AS BIGINT) AS o
                    FROM events_chi GROUP BY 1, 2),
             rt AS (SELECT event_type, SUM(o) AS r FROM ct GROUP BY 1),
             cl AS (SELECT wk, SUM(o) AS c FROM ct GROUP BY 1),
             n AS (SELECT SUM(o) AS n FROM ct)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
               round(SUM((CAST(o AS DOUBLE) - CAST(r AS DOUBLE)*c/n.n) *
                         (CAST(o AS DOUBLE) - CAST(r AS DOUBLE)*c/n.n) /
                         (CAST(r AS DOUBLE)*c/n.n)), 6) AS chi2
        FROM ct JOIN rt USING (event_type) JOIN cl USING (wk) CROSS JOIN n""")
    },
    Some("""WITH ct AS (SELECT event_type,
                               CAST((EXTRACT(DAY FROM ts) - 1) // 7 AS BIGINT)
                                 AS wk,
                               CAST(COUNT(*) AS BIGINT) AS o
                        FROM events GROUP BY 1, 2),
                 rt AS (SELECT event_type, SUM(o) AS r FROM ct GROUP BY 1),
                 cl AS (SELECT wk, SUM(o) AS c FROM ct GROUP BY 1),
                 n AS (SELECT SUM(o) AS n FROM ct)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
                   round(SUM((CAST(o AS DOUBLE) - CAST(r AS DOUBLE)*c/n.n) *
                             (CAST(o AS DOUBLE) - CAST(r AS DOUBLE)*c/n.n) /
                             (CAST(r AS DOUBLE)*c/n.n)), 6) AS chi2
            FROM ct JOIN rt USING (event_type) JOIN cl USING (wk)
            CROSS JOIN n"""))

  // Poisson bootstrap confidence interval for the mean — THE bootstrap
  // that scales: instead of resampling n rows with replacement (which
  // needs global coordination), each row draws a Poisson(1) weight per
  // replicate from a deterministic md5 hash, so all B=32 replicates
  // accumulate in ONE map-side-combinable pass of exact integer (Σw, Σw·x)
  // partials (Σw·x in DECIMAL(38,0) — overflow-proof at any scale). The
  // Poisson inverse-CDF thresholds are exact 32-bit integer constants and
  // each md5 digest feeds FOUR replicates (4 x 8-hex chunks), so the
  // per-row hash cost is 8 digests, not 32. The 32 replicate means sort
  // once (a 32-row relation) and the 5%/50%/95% order statistics read out
  // by rank.
  private val aggBootstrapCi = Op(
    "agg_bootstrap_ci",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_bs")
      // One LATERAL expression derives all 32 draws from EIGHT md5 calls
      // per row (4 x 32-bit chunks per digest; the naive spelling paid 32
      // md5/row and was the whole 124 s cost at the r14 sf10 probe). The
      // inner transform(array(md5(..)), h -> ..) let-binds the digest so
      // CollapseProject cannot inline it per chunk (the text_fingerprint
      // O(len^2) lesson). Thresholds are the Poisson(1) inverse CDF at
      // 32-bit precision: floor(CDF_k * 2^32) — exact integer compares,
      // bit-identical on any engine.
      s.sql("""
        WITH w AS (
          SELECT st.b AS b,
                 CAST(round(value * 100) AS BIGINT) AS x,
                 CASE WHEN st.hv < 1580030168L THEN 0L
                      WHEN st.hv < 3160060337L THEN 1L
                      WHEN st.hv < 3950075421L THEN 2L
                      WHEN st.hv < 4213413783L THEN 3L
                      WHEN st.hv < 4279248373L THEN 4L
                      ELSE 5L END AS wt
          FROM events_bs
          LATERAL VIEW explode(
            flatten(transform(sequence(0, 7), g ->
              transform(array(md5(concat(CAST(event_id AS STRING), ':',
                                         CAST(g AS STRING)))), h ->
                transform(sequence(0, 3), c -> named_struct(
                  'b', g * 4 + c,
                  'hv', CAST(conv(substring(h, 1 + 8 * c, 8), 16, 10)
                             AS BIGINT))))[0]))) t AS st
          WHERE event_type = 'purchase'),
             means AS (SELECT b,
                              round(CAST(SUM(CAST(wt AS DECIMAL(38,0)) * x)
                                         AS DOUBLE) / SUM(wt), 6) AS m
                       FROM w GROUP BY b),
             ranked AS (SELECT m, row_number() OVER (ORDER BY m) AS rn
                        FROM means)
        SELECT round(MAX(CASE WHEN rn = 2 THEN m END), 6) AS ci_lo,
               round(MAX(CASE WHEN rn = 16 THEN m END), 6) AS ci_med,
               round(MAX(CASE WHEN rn = 31 THEN m END), 6) AS ci_hi,
               CAST(COUNT(*) AS BIGINT) AS n_boot
        FROM ranked""")
    },
    Some("""WITH e AS (SELECT event_id,
                              CAST(round(value * 100) AS BIGINT) AS x
                       FROM events WHERE event_type = 'purchase'),
                 h AS (SELECT x, g.g AS g,
                              md5(CAST(event_id AS VARCHAR) || ':' ||
                                  CAST(g.g AS VARCHAR)) AS h
                       FROM e, (SELECT unnest(range(0, 8)) AS g) g),
                 w AS (SELECT g * 4 + c.c AS b, x,
                              ('0x' || substr(h, 1 + 8 * c.c, 8))::BIGINT
                                AS hv
                       FROM h, (SELECT unnest(range(0, 4)) AS c) c),
                 ww AS (SELECT b, x,
                               CASE WHEN hv < 1580030168 THEN 0
                                    WHEN hv < 3160060337 THEN 1
                                    WHEN hv < 3950075421 THEN 2
                                    WHEN hv < 4213413783 THEN 3
                                    WHEN hv < 4279248373 THEN 4
                                    ELSE 5 END AS wt
                       FROM w),
                 means AS (SELECT b,
                                  round(CAST(SUM(wt * x) AS DOUBLE)
                                        / SUM(wt), 6) AS m
                           FROM ww GROUP BY b),
                 ranked AS (SELECT m, row_number() OVER (ORDER BY m) AS rn
                            FROM means)
            SELECT round(MAX(CASE WHEN rn = 2 THEN m END), 6) AS ci_lo,
                   round(MAX(CASE WHEN rn = 16 THEN m END), 6) AS ci_med,
                   round(MAX(CASE WHEN rn = 31 THEN m END), 6) AS ci_hi,
                   CAST(COUNT(*) AS BIGINT) AS n_boot
            FROM ranked"""))

  // Mann–Whitney U (rank-sum) test — the nonparametric sibling of
  // agg_ttest. All rank arithmetic stays EXACT: per-cent-value counts
  // collapse the input to its value domain, the average tied rank is
  // carried as 2·rank (2·C_below + t + 1 — an integer), so 2·U_a is an
  // exact BIGINT on any engine; the tie-corrected normal z evaluates once
  // in float64, round 6. The strictly-below cumulative count uses the
  // same bucket-partitioned two-phase cumsum as agg_ks_test (no global
  // sort).
  private val aggMannWhitney = Op(
    "agg_mann_whitney",
    (s, d) => {
      val g = t(s, d, "events")
        .where(col("event_type").isin("view", "purchase"))
        .select(round(col("value") * 100).cast("long").as("x"),
          when(col("event_type") === "view", 1L).otherwise(0L).as("ia"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("ib"))
        .groupBy("x")
        .agg(sum("ia").as("ca"), sum("ib").as("cb"))
        .withColumn("ct", col("ca") + col("cb"))
        .withColumn("bucket", expr("x div 1000"))
      val w = Window.partitionBy("bucket").orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
      val within = g.withColumn("cb_in", coalesce(sum("ct").over(w), lit(0L)))
      val counts = g.groupBy("bucket").agg(sum("ct").as("bt"))
      val offsets = counts.as("a")
        .join(counts.as("b"), col("b.bucket") < col("a.bucket"), "left")
        .groupBy(col("a.bucket").as("bucket"))
        .agg(coalesce(sum(col("b.bt")), lit(0L)).as("off"))
      within.join(broadcast(offsets), Seq("bucket"))
        .withColumn("cbefore", col("off") + col("cb_in"))
        .agg(sum("ca").as("na"), sum("cb").as("nb"), sum("ct").as("n"),
          sum(col("ca") * (lit(2) * col("cbefore") + col("ct") + 1)).as("r2a"),
          sum(col("ct") * col("ct") * col("ct") - col("ct")).as("tie3"))
        .select(col("na").as("n_a"), col("nb").as("nb_tmp"),
          (col("r2a") - col("na") * (col("na") + 1)).as("u2_a"),
          round(((col("r2a") - col("na") * (col("na") + 1)).cast("double") / 2.0 -
            col("na").cast("double") * col("nb") / 2.0) /
            sqrt(col("na").cast("double") * col("nb") / 12.0 *
              ((col("n") + 1) - col("tie3").cast("double") /
                (col("n").cast("double") * (col("n") - 1)))), 6)
            .as("z_score"))
        .withColumnRenamed("nb_tmp", "n_b")
    },
    Some("""WITH pts AS (SELECT CAST(round(value * 100) AS BIGINT) AS x,
                                CASE WHEN event_type = 'view'
                                     THEN 1 ELSE 0 END AS ia,
                                CASE WHEN event_type = 'purchase'
                                     THEN 1 ELSE 0 END AS ib
                         FROM events
                         WHERE event_type IN ('view', 'purchase')),
                 g AS (SELECT x, CAST(SUM(ia) AS BIGINT) AS ca,
                              CAST(SUM(ib) AS BIGINT) AS cb
                       FROM pts GROUP BY x),
                 c AS (SELECT x, ca, cb, ca + cb AS ct,
                              CAST(COALESCE(SUM(ca + cb) OVER (ORDER BY x
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS BIGINT) AS cbefore
                       FROM g),
                 tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb,
                                SUM(ca + cb) AS n,
                                SUM(ca * (2*cbefore + ct + 1)) AS r2a,
                                SUM((ca+cb)*(ca+cb)*(ca+cb) - (ca+cb)) AS tie3
                         FROM c)
            SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
                   CAST(r2a - na*(na+1) AS BIGINT) AS u2_a,
                   round((CAST(r2a - na*(na+1) AS DOUBLE)/2.0 -
                          CAST(na AS DOUBLE)*nb/2.0) /
                         sqrt(CAST(na AS DOUBLE)*nb/12.0 *
                              ((n + 1) - CAST(tie3 AS DOUBLE) /
                               (CAST(n AS DOUBLE)*(n-1)))), 6) AS z_score
            FROM tot"""))

  // EXACT global quantiles without a global sort — the scale mechanism
  // Spark's own exact `percentile` lacks for one giant group (it sorts
  // the group in one task's memory; approx_percentile trades exactness).
  // Domain collapse: values group to integer cents (cardinality bounded
  // by the value DOMAIN, not volume — one map-side-combinable aggregate),
  // the CDF runs as the bucket-partitioned two-phase cumsum, and each
  // quantile reads out by the inverse-CDF rule (smallest x with
  // cum ≥ ⌈p·n⌉ — pure integer comparisons, identical on any engine).
  // At 100 TB this is one scan + a shuffle of O(distinct values) rows.
  private val aggQuantileExact = Op(
    "agg_quantile_exact",
    (s, d) => {
      val g = t(s, d, "events")
        .select(round(col("value") * 100).cast("long").as("x"))
        .groupBy("x").agg(count(lit(1)).as("cnt"))
        .withColumn("bucket", expr("x div 1000"))
      val w = Window.partitionBy("bucket").orderBy("x")
      val within = g.withColumn("cum_in", sum("cnt").over(w))
      val counts = g.groupBy("bucket").agg(sum("cnt").as("bt"))
      val offsets = counts.as("a")
        .join(counts.as("b"), col("b.bucket") < col("a.bucket"), "left")
        .groupBy(col("a.bucket").as("bucket"))
        .agg(coalesce(sum(col("b.bt")), lit(0L)).as("off"))
      val tot = g.agg(sum("cnt").as("n"))
      def q(p: Double, name: String) =
        round(min(when(col("cum") >= ceil(lit(p) * col("n")).cast("long"),
          col("x"))).cast("double") / 100.0, 2).as(name)
      within.join(broadcast(offsets), Seq("bucket"))
        .withColumn("cum", col("off") + col("cum_in"))
        .crossJoin(broadcast(tot))
        .groupBy("n")
        .agg(q(0.25, "q25"), q(0.50, "q50"), q(0.90, "q90"), q(0.99, "q99"))
        .select(col("n"), col("q25"), col("q50"), col("q90"), col("q99"))
    },
    Some("""WITH g AS (SELECT CAST(round(value * 100) AS BIGINT) AS x,
                              CAST(COUNT(*) AS BIGINT) AS cnt
                       FROM events GROUP BY 1),
                 c AS (SELECT x, CAST(SUM(cnt) OVER (ORDER BY x) AS BIGINT)
                              AS cum
                       FROM g),
                 n AS (SELECT SUM(cnt) AS n FROM g)
            SELECT CAST(n.n AS BIGINT) AS n,
                   round(CAST(MIN(CASE WHEN cum >=
                       CAST(ceil(0.25 * n.n) AS BIGINT) THEN x END)
                     AS DOUBLE)/100.0, 2) AS q25,
                   round(CAST(MIN(CASE WHEN cum >=
                       CAST(ceil(0.50 * n.n) AS BIGINT) THEN x END)
                     AS DOUBLE)/100.0, 2) AS q50,
                   round(CAST(MIN(CASE WHEN cum >=
                       CAST(ceil(0.90 * n.n) AS BIGINT) THEN x END)
                     AS DOUBLE)/100.0, 2) AS q90,
                   round(CAST(MIN(CASE WHEN cum >=
                       CAST(ceil(0.99 * n.n) AS BIGINT) THEN x END)
                     AS DOUBLE)/100.0, 2) AS q99
            FROM c CROSS JOIN n GROUP BY n.n"""))

  // Zipf-law fit over the corpus vocabulary: OLS slope of ln(freq) vs
  // ln(rank) for the top-100 terms — the corpus-statistics diagnostic
  // (natural text ≈ −1; synthetic/templated corpora flatten toward 0).
  // The expensive part (term frequencies) is ONE map-side-combinable
  // aggregate over the token explosion; the fit then runs on a ≤100-row
  // relation (TakeOrderedAndProject readout, total-order tiebreak).
  // Determinism: each ln quantizes to an exact BIGINT at 1e-7 before
  // summation, so the OLS sums are order-independent integers; the slope
  // divides once in float64, round 6.
  private val textZipfFit = Op(
    "text_zipf_fit",
    (s, d) => {
      val tf = t(s, d, "documents")
        .select(explode(split(trim(regexp_replace(lower(col("text")),
          "\\s+", " ")), " ")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("term")).limit(100)
      val pts = tf
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("freq").desc, col("term"))))
        .select(
          round(log(col("rnk").cast("double")) * 1e7).cast("long").as("x"),
          round(log(col("freq").cast("double")) * 1e7).cast("long").as("y"))
      pts.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"))
        .select(col("n"),
          round((col("n").cast("double") * col("sxy") -
            col("sx").cast("double") * col("sy")) /
            (col("n").cast("double") * col("sxx") -
             col("sx").cast("double") * col("sx")), 6).as("zipf_slope"),
          round((col("sy").cast("double") -
            ((col("n").cast("double") * col("sxy") -
              col("sx").cast("double") * col("sy")) /
             (col("n").cast("double") * col("sxx") -
              col("sx").cast("double") * col("sx"))) * col("sx")) /
            col("n") / 1e7, 6).as("intercept_ln"))
    },
    Some("""WITH toks AS (SELECT unnest(string_split(trim(regexp_replace(
                            lower(text), '\s+', ' ', 'g')), ' ')) AS term
                          FROM documents),
                 tf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
                        FROM toks GROUP BY term),
                 top AS (SELECT term, freq,
                                row_number() OVER (ORDER BY freq DESC, term)
                                  AS rnk
                         FROM tf ORDER BY freq DESC, term LIMIT 100),
                 pts AS (SELECT CAST(round(ln(CAST(rnk AS DOUBLE)) * 10000000)
                                     AS BIGINT) AS x,
                                CAST(round(ln(CAST(freq AS DOUBLE)) * 10000000)
                                     AS BIGINT) AS y
                         FROM top),
                 sums AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                                 SUM(x) AS sx, SUM(y) AS sy,
                                 SUM(x*x) AS sxx, SUM(x*y) AS sxy
                          FROM pts)
            SELECT n,
                   round((CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy) /
                         (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx), 6)
                     AS zipf_slope,
                   round((CAST(sy AS DOUBLE) -
                          ((CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy) /
                           (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx))
                          * sx) / n / 10000000.0, 6) AS intercept_ln
            FROM sums"""))

  // Z-order (Morton-curve) clustering key — the multi-dimensional layout
  // primitive behind OPTIMIZE ZORDER (the reference delegates it to Delta;
  // `layout_cluster` is our 1-D range equivalent). The native codegen'd
  // [[graft.functions.MortonCode]] expression interleaves (customer-bucket,
  // order-day) bits, and grouping by z div 4096 tiles the key space into
  // 64×64 cells: every tile is provably dense in BOTH dimensions (the
  // min/max spans in the output are ≤ 63 — asserted in PlanSpec's sibling
  // spec), which is exactly why per-file min/max skipping works on EITHER
  // predicate after sorting by z, where 1-D clustering serves only its
  // leading key. The oracle replays the same 5-step magic-number bit
  // spreading with DuckDB's integer bit ops — the cross-engine determinism
  // proof for the custom expression.
  private val layoutZorder = Op(
    "layout_zorder",
    (s, d) => {
      graft.functions.GraftExtensions.register(s)
      t(s, d, "orders").createOrReplaceTempView("orders_zo")
      s.sql("""
        WITH base AS (SELECT o_custkey % 1024 AS a,
                             (unix_seconds(CAST(o_orderdate AS TIMESTAMP))
                              div 86400) % 1024 AS b
                      FROM orders_zo),
             z AS (SELECT a, b, graft_morton(a, b) AS z FROM base)
        SELECT z div 4096 AS zbucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               MIN(a) AS min_a, MAX(a) AS max_a,
               MIN(b) AS min_b, MAX(b) AS max_b
        FROM z GROUP BY z div 4096
        ORDER BY zbucket""")
    },
    Some("""WITH base AS (SELECT o_custkey % 1024 AS a,
                                 (CAST(epoch(o_orderdate) AS BIGINT) // 86400)
                                   % 1024 AS b
                          FROM orders),
                 s1 AS (SELECT a, b,
                               (a | (a << 16)) & 281470681808895 AS xa,
                               (b | (b << 16)) & 281470681808895 AS xb
                        FROM base),
                 s2 AS (SELECT a, b,
                               (xa | (xa << 8)) & 71777214294589695 AS xa,
                               (xb | (xb << 8)) & 71777214294589695 AS xb
                        FROM s1),
                 s3 AS (SELECT a, b,
                               (xa | (xa << 4)) & 1085102592571150095 AS xa,
                               (xb | (xb << 4)) & 1085102592571150095 AS xb
                        FROM s2),
                 s4 AS (SELECT a, b,
                               (xa | (xa << 2)) & 3689348814741910323 AS xa,
                               (xb | (xb << 2)) & 3689348814741910323 AS xb
                        FROM s3),
                 s5 AS (SELECT a, b,
                               (xa | (xa << 1)) & 6148914691236517205 AS xa,
                               (xb | (xb << 1)) & 6148914691236517205 AS xb
                        FROM s4),
                 z AS (SELECT a, b, xa | (xb << 1) AS z FROM s5)
            SELECT z // 4096 AS zbucket,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   MIN(a) AS min_a, MAX(a) AS max_a,
                   MIN(b) AS min_b, MAX(b) AS max_b
            FROM z GROUP BY z // 4096
            ORDER BY zbucket"""))

  // Kaplan–Meier survival estimator (time to first purchase, censored at
  // last activity) — the churn/time-to-event staple. The input collapses
  // to the DURATION DOMAIN (per-hour event/censor counts — one per-user
  // aggregate then one map-side-combinable collapse), so the survival
  // recursion runs over O(domain) rows regardless of volume. The running
  // product Π(1 − d/n) is carried as a cumulative INTEGER sum of
  // ln-factors quantized to 1e-9 (order-independent, engine-stable), and
  // exp() runs once per output row, round 6. The terminal step where
  // everyone at risk fails (ln 0) is excluded — survival is reported at
  // event times with survivors.
  private val aggSurvivalKm = Op(
    "agg_survival_km",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_km")
      s.sql("""
        WITH u AS (SELECT user_id, MIN(ts) AS start_ts,
                          MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                            AS ev_ts,
                          MAX(ts) AS last_ts
                   FROM events_km GROUP BY user_id),
             dur AS (SELECT user_id,
                            CASE WHEN ev_ts IS NOT NULL
                                 THEN (unix_micros(CAST(ev_ts AS TIMESTAMP))
                                       - unix_micros(CAST(start_ts AS TIMESTAMP)))
                                      div 3600000000
                                 ELSE (unix_micros(CAST(last_ts AS TIMESTAMP))
                                       - unix_micros(CAST(start_ts AS TIMESTAMP)))
                                      div 3600000000 END AS t,
                            CASE WHEN ev_ts IS NOT NULL THEN 1 ELSE 0 END AS ev
                     FROM u),
             g AS (SELECT t, CAST(SUM(ev) AS BIGINT) AS d_events,
                          CAST(SUM(1 - ev) AS BIGINT) AS c_cens
                   FROM dur GROUP BY t),
             cum AS (SELECT t, d_events, c_cens,
                            CAST((SELECT COUNT(*) FROM dur) AS BIGINT)
                              - CAST(COALESCE(SUM(d_events + c_cens) OVER
                                  (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
                     FROM g),
             lnf AS (SELECT t, d_events, n_risk,
                            CAST(round(ln(1.0D - CAST(d_events AS DOUBLE)
                                          / n_risk) * 1000000000) AS BIGINT)
                              AS lnq
                     FROM cum WHERE d_events > 0 AND n_risk > d_events),
             surv AS (SELECT t, d_events, n_risk,
                             CAST(SUM(lnq) OVER (ORDER BY t) AS BIGINT) AS cl
                      FROM lnf)
        SELECT t AS duration_h, n_risk, d_events,
               round(exp(CAST(cl AS DOUBLE) / 1000000000.0D), 6) AS survival
        FROM surv ORDER BY t""")
    },
    Some("""WITH u AS (SELECT user_id, MIN(ts) AS start_ts,
                              MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                                AS ev_ts,
                              MAX(ts) AS last_ts
                       FROM events GROUP BY user_id),
                 dur AS (SELECT user_id,
                                CASE WHEN ev_ts IS NOT NULL
                                     THEN (epoch_us(ev_ts)
                                           - epoch_us(start_ts)) // 3600000000
                                     ELSE (epoch_us(last_ts)
                                           - epoch_us(start_ts)) // 3600000000
                                     END AS t,
                                CASE WHEN ev_ts IS NOT NULL THEN 1 ELSE 0 END
                                  AS ev
                         FROM u),
                 g AS (SELECT t, CAST(SUM(ev) AS BIGINT) AS d_events,
                              CAST(SUM(1 - ev) AS BIGINT) AS c_cens
                       FROM dur GROUP BY t),
                 cum AS (SELECT t, d_events, c_cens,
                                CAST((SELECT COUNT(*) FROM dur) AS BIGINT)
                                  - CAST(COALESCE(SUM(d_events + c_cens) OVER
                                      (ORDER BY t ROWS BETWEEN UNBOUNDED
                                       PRECEDING AND 1 PRECEDING), 0)
                                    AS BIGINT) AS n_risk
                         FROM g),
                 lnf AS (SELECT t, d_events, n_risk,
                                CAST(round(ln(1.0 - CAST(d_events AS DOUBLE)
                                              / n_risk) * 1000000000)
                                  AS BIGINT) AS lnq
                         FROM cum WHERE d_events > 0 AND n_risk > d_events),
                 surv AS (SELECT t, d_events, n_risk,
                                 CAST(SUM(lnq) OVER (ORDER BY t) AS BIGINT)
                                   AS cl
                          FROM lnf)
            SELECT t AS duration_h, n_risk, d_events,
                   round(exp(CAST(cl AS DOUBLE) / 1000000000.0), 6)
                     AS survival
            FROM surv ORDER BY t"""))

  // Exact AUC-ROC from the rank-sum identity AUC = (R⁺ − n⁺(n⁺+1)/2) /
  // (n⁺·n⁻) — the model-evaluation staple, computed WITHOUT sorting
  // predictions: scores collapse to the value domain (one map-side
  // aggregate), tied ranks stay exact integers (the agg_mann_whitney
  // machinery — 2·rank arithmetic), and the single float division rounds
  // at the boundary. The bucket-partitioned cumsum variant (see
  // agg_mann_whitney) is the 100 TB path; the cumulative here runs over
  // O(value domain) rows.
  private val aggAucRoc = Op(
    "agg_auc_roc",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_auc")
      s.sql("""
        WITH pts AS (SELECT CAST(round(value * 100) AS BIGINT) AS x,
                            CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END AS pos
                     FROM events_auc
                     WHERE event_type IN ('view', 'purchase')),
             g AS (SELECT x, CAST(SUM(pos) AS BIGINT) AS cp,
                          CAST(SUM(1 - pos) AS BIGINT) AS cn
                   FROM pts GROUP BY x),
             c AS (SELECT x, cp, cn, cp + cn AS ct,
                          CAST(COALESCE(SUM(cp + cn) OVER (ORDER BY x
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                            0) AS BIGINT) AS cb
                   FROM g),
             tot AS (SELECT SUM(cp) AS np, SUM(cn) AS nn,
                            SUM(cp * (2*cb + ct + 1)) AS r2p FROM c)
        SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
               round(CAST(r2p - np*(np+1) AS DOUBLE) / (2.0D*np*nn), 6) AS auc
        FROM tot""")
    },
    Some("""WITH pts AS (SELECT CAST(round(value * 100) AS BIGINT) AS x,
                                CASE WHEN event_type = 'purchase'
                                     THEN 1 ELSE 0 END AS pos
                         FROM events
                         WHERE event_type IN ('view', 'purchase')),
                 g AS (SELECT x, CAST(SUM(pos) AS BIGINT) AS cp,
                              CAST(SUM(1 - pos) AS BIGINT) AS cn
                       FROM pts GROUP BY x),
                 c AS (SELECT x, cp, cn, cp + cn AS ct,
                              CAST(COALESCE(SUM(cp + cn) OVER (ORDER BY x
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS BIGINT) AS cb
                       FROM g),
                 tot AS (SELECT SUM(cp) AS np, SUM(cn) AS nn,
                                SUM(cp * (2*cb + ct + 1)) AS r2p FROM c)
            SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
                   round(CAST(r2p - np*(np+1) AS DOUBLE) / (2.0*np*nn), 6)
                     AS auc
            FROM tot"""))

  // Calibration / reliability bins: mean score vs empirical positive rate
  // per tenth of the score range — the diagnosis that separates a
  // well-ranked model (high AUC) from a well-CALIBRATED one. Integer-cent
  // scores and counts stay exact; the two divisions per bin run once in
  // float64, round 6. One aggregate after a broadcast of the 1-row max.
  private val aggCalibrationBins = Op(
    "agg_calibration_bins",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_cal")
      s.sql("""
        WITH pts AS (SELECT CAST(round(value * 100) AS BIGINT) AS x,
                            CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END AS pos
                     FROM events_cal
                     WHERE event_type IN ('view', 'purchase')),
             mx AS (SELECT MAX(x) AS mx FROM pts),
             b AS (SELECT LEAST(CAST((x * 10) DIV (mx + 1) AS BIGINT), 9L)
                            AS bin, x, pos
                   FROM pts CROSS JOIN mx)
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
               round(CAST(SUM(x) AS DOUBLE) / COUNT(*) / 100.0D, 6)
                 AS mean_score,
               round(CAST(SUM(pos) AS DOUBLE) / COUNT(*), 6) AS pos_rate
        FROM b GROUP BY bin ORDER BY bin""")
    },
    Some("""WITH pts AS (SELECT CAST(round(value * 100) AS BIGINT) AS x,
                                CASE WHEN event_type = 'purchase'
                                     THEN 1 ELSE 0 END AS pos
                         FROM events
                         WHERE event_type IN ('view', 'purchase')),
                 mx AS (SELECT MAX(x) AS mx FROM pts),
                 b AS (SELECT LEAST(CAST((x * 10) // (mx + 1) AS BIGINT), 9)
                                AS bin, x, pos
                       FROM pts CROSS JOIN mx)
            SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
                   round(CAST(SUM(x) AS DOUBLE) / COUNT(*) / 100.0, 6)
                     AS mean_score,
                   round(CAST(SUM(pos) AS DOUBLE) / COUNT(*), 6) AS pos_rate
            FROM b GROUP BY bin ORDER BY bin"""))

  // Population Stability Index between the first and second half-month of
  // events — THE production data-drift alarm (PSI < 0.1 stable, > 0.25
  // drifted). Bin proportions are exact integer counts; each bin's
  // (p−q)·ln(p/q) term quantizes to a 1e-9 BIGINT before the sum, so the
  // readout is order-independent across engines/parallelism. Bins where
  // either period is empty are excluded (the standard convention). One
  // aggregate over the binned domain — the scan dominates at any SF.
  private val aggPsiDrift = Op(
    "agg_psi_drift",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_psi")
      s.sql("""
        WITH pts AS (SELECT CAST(round(value * 100) AS BIGINT) AS x,
                            CASE WHEN EXTRACT(DAY FROM ts) <= 15
                                 THEN 0 ELSE 1 END AS half
                     FROM events_psi),
             mx AS (SELECT MAX(x) AS mx FROM pts),
             b AS (SELECT LEAST((x * 10) DIV (mx + 1), 9L) AS bin, half
                   FROM pts CROSS JOIN mx),
             ct AS (SELECT bin,
                           CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END)
                                AS BIGINT) AS ca,
                           CAST(SUM(half) AS BIGINT) AS cb
                    FROM b GROUP BY bin),
             tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM ct),
             terms AS (SELECT bin, ca, cb,
                              CAST(round((CAST(ca AS DOUBLE)/na -
                                          CAST(cb AS DOUBLE)/nb) *
                                         ln((CAST(ca AS DOUBLE)/na) /
                                            (CAST(cb AS DOUBLE)/nb))
                                         * 1000000000) AS BIGINT) AS term_q
                       FROM ct CROSS JOIN tot WHERE ca > 0 AND cb > 0)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
               round(CAST(SUM(term_q) AS DOUBLE) / 1000000000.0D, 6) AS psi
        FROM terms""")
    },
    Some("""WITH pts AS (SELECT CAST(round(value * 100) AS BIGINT) AS x,
                                CASE WHEN EXTRACT(DAY FROM ts) <= 15
                                     THEN 0 ELSE 1 END AS half
                         FROM events),
                 mx AS (SELECT MAX(x) AS mx FROM pts),
                 b AS (SELECT LEAST((x * 10) // (mx + 1), 9) AS bin, half
                       FROM pts CROSS JOIN mx),
                 ct AS (SELECT bin,
                               CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END)
                                    AS BIGINT) AS ca,
                               CAST(SUM(half) AS BIGINT) AS cb
                        FROM b GROUP BY bin),
                 tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM ct),
                 terms AS (SELECT bin, ca, cb,
                                  CAST(round((CAST(ca AS DOUBLE)/na -
                                              CAST(cb AS DOUBLE)/nb) *
                                             ln((CAST(ca AS DOUBLE)/na) /
                                                (CAST(cb AS DOUBLE)/nb))
                                             * 1000000000) AS BIGINT)
                                    AS term_q
                           FROM ct CROSS JOIN tot WHERE ca > 0 AND cb > 0)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
                   round(CAST(SUM(term_q) AS DOUBLE) / 1000000000.0, 6) AS psi
            FROM terms"""))

  // Winsorized mean — the robust location estimate: values clamp to the
  // exact [p5, p95] inverse-CDF thresholds (the agg_quantile_exact
  // machinery — pure integer comparisons over the collapsed value domain)
  // and the clamped sum stays exact BIGINT weighted by the per-value
  // counts; ONE float division at the boundary. Unlike a trimmed mean,
  // boundary mass needs no fractional weighting — clamping is exact.
  private val aggWinsorizedMean = Op(
    "agg_winsorized_mean",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_wm")
      s.sql("""
        WITH g AS (SELECT CAST(round(value * 100) AS BIGINT) AS x,
                          CAST(COUNT(*) AS BIGINT) AS cnt
                   FROM events_wm GROUP BY 1),
             c AS (SELECT x, cnt,
                          CAST(SUM(cnt) OVER (ORDER BY x) AS BIGINT) AS cum
                   FROM g),
             n AS (SELECT SUM(cnt) AS n FROM g),
             th AS (SELECT MIN(CASE WHEN cum >=
                             CAST(ceil(0.05 * n.n) AS BIGINT) THEN x END)
                           AS lo,
                           MIN(CASE WHEN cum >=
                             CAST(ceil(0.95 * n.n) AS BIGINT) THEN x END)
                           AS hi
                    FROM c CROSS JOIN n)
        SELECT CAST(n.n AS BIGINT) AS n,
               round(CAST(th.lo AS DOUBLE) / 100.0D, 2) AS lo,
               round(CAST(th.hi AS DOUBLE) / 100.0D, 2) AS hi,
               round(CAST(SUM(GREATEST(LEAST(x, th.hi), th.lo) * cnt)
                          AS DOUBLE) / n.n / 100.0D, 6) AS winsorized_mean
        FROM g CROSS JOIN th CROSS JOIN n GROUP BY n.n, th.lo, th.hi""")
    },
    Some("""WITH g AS (SELECT CAST(round(value * 100) AS BIGINT) AS x,
                              CAST(COUNT(*) AS BIGINT) AS cnt
                       FROM events GROUP BY 1),
                 c AS (SELECT x, cnt,
                              CAST(SUM(cnt) OVER (ORDER BY x) AS BIGINT)
                                AS cum
                       FROM g),
                 n AS (SELECT SUM(cnt) AS n FROM g),
                 th AS (SELECT MIN(CASE WHEN cum >=
                                 CAST(ceil(0.05 * n.n) AS BIGINT) THEN x END)
                               AS lo,
                               MIN(CASE WHEN cum >=
                                 CAST(ceil(0.95 * n.n) AS BIGINT) THEN x END)
                               AS hi
                        FROM c CROSS JOIN n)
            SELECT CAST(n.n AS BIGINT) AS n,
                   round(CAST(th.lo AS DOUBLE) / 100.0, 2) AS lo,
                   round(CAST(th.hi AS DOUBLE) / 100.0, 2) AS hi,
                   round(CAST(SUM(GREATEST(LEAST(x, th.hi), th.lo) * cnt)
                              AS DOUBLE) / n.n / 100.0, 6) AS winsorized_mean
            FROM g CROSS JOIN th CROSS JOIN n GROUP BY n.n, th.lo, th.hi"""))

  // Brier score — mean squared error of the (score → probability) proxy
  // against binary outcomes, the calibration-sensitive companion to
  // agg_auc_roc. With p = x/max rewritten as (x − pos·max)²/max², the sum
  // of squares is EXACT BIGINT (every term ≤ max² ≈ 2.4e9; the total
  // stays far under 2⁶³ at bench scale) and float enters once in the
  // final division, round 6.
  private val aggBrierScore = Op(
    "agg_brier_score",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_br")
      s.sql("""
        WITH pts AS (SELECT CAST(round(value * 100) AS BIGINT) AS x,
                            CASE WHEN event_type = 'purchase'
                                 THEN 1L ELSE 0L END AS pos
                     FROM events_br
                     WHERE event_type IN ('view', 'purchase')),
             mx AS (SELECT MAX(x) AS mx FROM pts),
             sums AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                             SUM((x - pos*mx) * (x - pos*mx)) AS ss,
                             MIN(mx) AS mx
                      FROM pts CROSS JOIN mx)
        SELECT n, round(CAST(ss AS DOUBLE) /
                        (CAST(n AS DOUBLE) * mx * mx), 6) AS brier
        FROM sums""")
    },
    Some("""WITH pts AS (SELECT CAST(round(value * 100) AS BIGINT) AS x,
                                CASE WHEN event_type = 'purchase'
                                     THEN 1 ELSE 0 END AS pos
                         FROM events
                         WHERE event_type IN ('view', 'purchase')),
                 mx AS (SELECT MAX(x) AS mx FROM pts),
                 sums AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                                 SUM((x - pos*mx) * (x - pos*mx)) AS ss,
                                 MIN(mx) AS mx
                          FROM pts CROSS JOIN mx)
            SELECT n, round(CAST(ss AS DOUBLE) /
                            (CAST(n AS DOUBLE) * mx * mx), 6) AS brier
            FROM sums"""))

  // Holt double-exponential smoothing (level + trend, α = β = 1/2) — the
  // SECOND-ORDER recursive state: each output depends on TWO previous
  // outputs, so like window_ewma/window_cusum it runs as the documented
  // secondary-sort mapPartitions scan (one shuffle on user_id, O(1)
  // two-register state per key). Arithmetic is exact integer cents with
  // TRUNCATING division (Scala Long `/` ≡ DuckDB `//`, both toward zero
  // on negatives — Math.floorDiv would diverge by one the first time the
  // trend goes negative); the oracle replays both registers in one
  // recursive CTE.
  private val windowHolt = Op(
    "window_holt",
    (s, d) => {
      import s.implicits._
      t(s, d, "events")
        .where(col("user_id") % 20 === 0)
        .select(col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          col("ts"), col("event_id"))
        .repartition(col("user_id"))
        .sortWithinPartitions("user_id", "ts", "event_id")
        .select(col("user_id"), col("event_id"), col("cents"))
        .as[(Long, Long, Long)]
        .mapPartitions { it =>
          var curUser = Long.MinValue
          var lev = 0L
          var tr = 0L
          it.map { case (u, e, x) =>
            if (u != curUser) { lev = x; tr = 0L }
            else {
              val nl = (x + (lev + tr)) / 2L
              tr = (tr + (nl - lev)) / 2L
              lev = nl
            }
            curUser = u
            (u, e, lev, tr)
          }
        }
        .toDF("user_id", "event_id", "level_cents", "trend_cents")
        .orderBy("user_id", "event_id")
    },
    Some("""WITH seq AS (SELECT user_id, event_id,
                                CAST(round(value * 100) AS BIGINT) AS x,
                                row_number() OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id)
                                  AS rn
                         FROM events WHERE user_id % 20 = 0),
                 rec AS (
                   WITH RECURSIVE r(user_id, event_id, rn, lev, tr) AS (
                     SELECT user_id, event_id, rn, x, CAST(0 AS BIGINT)
                     FROM seq WHERE rn = 1
                     UNION ALL
                     SELECT seq.user_id, seq.event_id, seq.rn,
                            (seq.x + (r.lev + r.tr)) // 2,
                            (r.tr + ((seq.x + (r.lev + r.tr)) // 2 - r.lev))
                              // 2
                     FROM r JOIN seq ON seq.user_id = r.user_id
                                    AND seq.rn = r.rn + 1)
                   SELECT * FROM r)
            SELECT user_id, event_id, lev AS level_cents, tr AS trend_cents
            FROM rec ORDER BY user_id, event_id"""))

  // Temperature-scaled mixture allocation (w ∝ n^0.5) — THE LLM-training
  // data-mixture recipe: upweight tail languages relative to their raw
  // share. Weights quantize to 1e-6 BIGINTs (sqrt of an exact integer is
  // IEEE-identical everywhere), and the 1000-doc budget allocates by
  // LARGEST REMAINDER in pure integer arithmetic (floor share + ranked
  // remainders), so the allocation sums exactly to budget on any engine —
  // float proportional rounding can be off by one either way. O(sources)
  // relation after one count aggregate.
  private val corpusMixTemperature = Op(
    "corpus_mix_temperature",
    (s, d) => {
      t(s, d, "documents").createOrReplaceTempView("documents_mt")
      s.sql("""
        WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
                   FROM documents_mt GROUP BY lang),
             w AS (SELECT lang, n,
                          CAST(round(sqrt(CAST(n AS DOUBLE)) * 1000000)
                               AS BIGINT) AS wq
                   FROM c),
             tot AS (SELECT SUM(wq) AS tw FROM w),
             alloc AS (SELECT lang, n, wq,
                              (1000 * wq) DIV tw AS base,
                              (1000 * wq) % tw AS rem
                       FROM w CROSS JOIN tot),
             d2 AS (SELECT SUM(base) AS sb FROM alloc),
             r AS (SELECT lang, n, base, rem,
                          row_number() OVER (ORDER BY rem DESC, lang) AS rk
                   FROM alloc)
        SELECT lang, n,
               CAST(base + CASE WHEN rk <= 1000 - d2.sb
                                THEN 1 ELSE 0 END AS BIGINT) AS alloc_docs
        FROM r CROSS JOIN d2 ORDER BY lang""")
    },
    Some("""WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
                       FROM documents GROUP BY lang),
                 w AS (SELECT lang, n,
                              CAST(round(sqrt(CAST(n AS DOUBLE)) * 1000000)
                                   AS BIGINT) AS wq
                       FROM c),
                 tot AS (SELECT SUM(wq) AS tw FROM w),
                 alloc AS (SELECT lang, n, wq,
                                  (1000 * wq) // tw AS base,
                                  (1000 * wq) % tw AS rem
                           FROM w CROSS JOIN tot),
                 d2 AS (SELECT SUM(base) AS sb FROM alloc),
                 r AS (SELECT lang, n, base, rem,
                              row_number() OVER (ORDER BY rem DESC, lang)
                                AS rk
                       FROM alloc)
            SELECT lang, n,
                   CAST(base + CASE WHEN rk <= 1000 - d2.sb
                                    THEN 1 ELSE 0 END AS BIGINT)
                     AS alloc_docs
            FROM r CROSS JOIN d2 ORDER BY lang"""))

  // Time-weighted average (TWAP) per user-day: each observation weighs by
  // its HOLDING DURATION (lead(ts) − ts, exact µs) rather than its count
  // — the correct average for irregularly-sampled series (finance TWAP,
  // sensor readings). Products stay exact BIGINT (cents × µs), one float
  // division per group, round 6; one shuffle on (user, day), one lead
  // window over the same sort.
  private val windowTwap = Op(
    "window_twap",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_tw")
      s.sql("""
        WITH e AS (SELECT user_id,
                          CAST(EXTRACT(DAY FROM ts) AS BIGINT) AS day,
                          CAST(round(value * 100) AS BIGINT) AS cents,
                          unix_micros(CAST(ts AS TIMESTAMP)) AS us, event_id
                   FROM events_tw),
             w AS (SELECT user_id, day, cents,
                          LEAD(us) OVER (PARTITION BY user_id, day
                                         ORDER BY us, event_id) - us AS dur
                   FROM e)
        SELECT user_id, day,
               CAST(COUNT(*) AS BIGINT) AS n_spans,
               round(CAST(SUM(cents * dur) AS DOUBLE) / SUM(dur) / 100.0D, 6)
                 AS twap
        FROM w WHERE dur IS NOT NULL AND dur > 0
        GROUP BY user_id, day ORDER BY user_id, day""")
    },
    Some("""WITH e AS (SELECT user_id,
                              CAST(EXTRACT(DAY FROM ts) AS BIGINT) AS day,
                              CAST(round(value * 100) AS BIGINT) AS cents,
                              epoch_us(ts) AS us, event_id
                       FROM events),
                 w AS (SELECT user_id, day, cents,
                              LEAD(us) OVER (PARTITION BY user_id, day
                                             ORDER BY us, event_id) - us
                                AS dur
                       FROM e)
            SELECT user_id, day,
                   CAST(COUNT(*) AS BIGINT) AS n_spans,
                   round(CAST(SUM(cents * dur) AS DOUBLE) / SUM(dur)
                         / 100.0, 6) AS twap
            FROM w WHERE dur IS NOT NULL AND dur > 0
            GROUP BY user_id, day ORDER BY user_id, day"""))

  // Differential-privacy-SHAPED noisy counts: Laplace(b=1) noise drawn by
  // inverse CDF from a SEEDED md5 hash of the group key (−sign(u)·ln(1−2|u|)
  // for u ∈ (−½, ½)) — the release pipeline's plumbing (per-group count +
  // calibrated noise, noise quantized to 1e-6 before the add so both
  // engines emit identical releases). NOTE: a seeded, repeatable draw is
  // deliberately NOT a privacy mechanism — determinism is what the
  // correctness gate needs; swapping the hash for a CSPRNG at release
  // time is the one-line production change. Counts are one partial→final
  // aggregate; the noise math is per-group O(groups).
  private val privacyDpCount = Op(
    "privacy_dp_count",
    (s, d) => {
      t(s, d, "customer").createOrReplaceTempView("customer_dp")
      s.sql("""
        WITH c AS (SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n
                   FROM customer_dp GROUP BY 1),
             u AS (SELECT nk, n,
                          CAST(CAST(conv(substring(md5(concat('dp1:',
                            CAST(nk AS STRING))), 1, 15), 16, 10) AS BIGINT)
                            AS DOUBLE) / 1152921504606846976.0D - 0.5D AS up
                   FROM c),
             nz AS (SELECT nk, n,
                           CAST(round(-sign(up) *
                             ln(GREATEST(1.0D - 2.0D*abs(up), 1e-18D))
                             * 1000000) AS BIGINT) AS noise_q
                    FROM u)
        SELECT nk, n, round(n + CAST(noise_q AS DOUBLE)/1000000.0D, 6)
                 AS dp_count
        FROM nz ORDER BY nk""")
    },
    Some("""WITH c AS (SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT)
                              AS n
                       FROM customer GROUP BY 1),
                 u AS (SELECT nk, n,
                              CAST(('0x' || substr(md5('dp1:' || nk), 1, 15))
                                   ::BIGINT AS DOUBLE)
                              / 1152921504606846976.0 - 0.5 AS up
                       FROM c),
                 nz AS (SELECT nk, n,
                               CAST(round(-sign(up) *
                                 ln(GREATEST(1.0 - 2.0*abs(up), 1e-18))
                                 * 1000000) AS BIGINT) AS noise_q
                        FROM u)
            SELECT nk, n, round(n + CAST(noise_q AS DOUBLE)/1000000.0, 6)
                     AS dp_count
            FROM nz ORDER BY nk"""))

  // KMV set-DIFFERENCE estimates — |A ∖ B| per ordered event-type pair
  // from the same k=64 min-hash sketches as agg_kmv_intersect:
  // est(A∖B) = est(A) − est(A∩B), both terms pure sketch math (per-type
  // kth-min cardinality + shared-fraction intersection), so the answer
  // costs 64 rows per set at any volume. The exact difference rides along
  // to expose the sketch error. Completes the sketch set algebra
  // (distinct → HLL, intersect/difference → KMV).
  private val aggKmvDifference = Op(
    "agg_kmv_difference",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_kd")
      // materialize the two multiply-referenced relations (guide §2.4 —
      // Spark inlines CTEs): `el` (3 refs: sketch input + both sides of
      // the exact check) and `topk` (4 refs) each re-ran the fact
      // DISTINCT in the r18 before-plan (8 scans of events). el is the
      // deduplicated sketch input; topk is ≤64 rows per event type.
      s.sql("""SELECT DISTINCT event_type, user_id,
                      CAST(EXTRACT(DAY FROM ts) AS BIGINT) AS dd
               FROM events_kd""")
        .trackedCache().createOrReplaceTempView("el_kd")
      s.sql("""
        WITH h AS (SELECT event_type,
                          CAST(conv(substring(md5(concat(
                            CAST(user_id AS STRING), '_',
                            CAST(dd AS STRING))), 1, 15), 16, 10)
                               AS BIGINT) AS hv
                   FROM el_kd)
        SELECT event_type, hv
        FROM (SELECT event_type, hv,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY hv) AS rn
              FROM h) r WHERE rn <= 64""")
        .trackedCache().createOrReplaceTempView("topk_kd")
      s.sql("""
        WITH el AS (SELECT event_type, user_id, dd FROM el_kd),
             topk AS (SELECT event_type, hv FROM topk_kd),
             card AS (SELECT event_type, MAX(hv) AS hk
                      FROM topk GROUP BY 1),
             tpairs AS (SELECT a.event_type AS type_a,
                               b.event_type AS type_b
                        FROM card a JOIN card b
                          ON a.event_type <> b.event_type),
             uni AS (SELECT type_a, type_b, hv,
                            row_number() OVER (PARTITION BY type_a, type_b
                                               ORDER BY hv) AS rn
                     FROM (SELECT DISTINCT p.type_a, p.type_b, t.hv
                           FROM tpairs p JOIN topk t
                             ON t.event_type = p.type_a
                              OR t.event_type = p.type_b) u),
             both_s AS (SELECT a.event_type AS type_a,
                               b.event_type AS type_b, a.hv
                        FROM topk a JOIN topk b
                          ON a.hv = b.hv
                         AND a.event_type <> b.event_type),
             kth AS (SELECT u.type_a, u.type_b, MAX(u.hv) AS hku,
                            CAST(SUM(CASE WHEN bo.hv IS NOT NULL
                                          THEN 1 ELSE 0 END) AS BIGINT)
                              AS shared
                     FROM uni u LEFT JOIN both_s bo
                       ON bo.type_a = u.type_a AND bo.type_b = u.type_b
                      AND bo.hv = u.hv
                     WHERE u.rn <= 64
                     GROUP BY u.type_a, u.type_b),
             est AS (SELECT k.type_a, k.type_b,
                            CAST(round(63.0D * 1152921504606846976.0D
                                       / CAST(ca.hk AS DOUBLE)) AS BIGINT)
                              AS kmv_a,
                            CAST(round(CAST(k.shared AS DOUBLE) / 64.0D *
                                       63.0D * 1152921504606846976.0D /
                                       CAST(k.hku AS DOUBLE)) AS BIGINT)
                              AS kmv_inter
                     FROM kth k JOIN card ca
                       ON ca.event_type = k.type_a),
             exact AS (SELECT a.event_type AS type_a,
                              b.event_type AS type_b,
                              CAST(COUNT(*) AS BIGINT) AS exact_diff
                       FROM el a LEFT JOIN el b
                         ON a.user_id = b.user_id AND a.dd = b.dd
                        AND b.event_type = 'purchase'
                       WHERE a.event_type <> 'purchase'
                         AND b.user_id IS NULL
                       GROUP BY 1, 2)
        SELECT e.type_a, 'purchase' AS type_b,
               GREATEST(CAST(0 AS BIGINT), e.kmv_a - e.kmv_inter)
                 AS kmv_diff,
               x.exact_diff
        FROM est e JOIN exact x
          ON x.type_a = e.type_a AND e.type_b = 'purchase'
        ORDER BY e.type_a""")
    },
    Some("""WITH el AS (SELECT DISTINCT event_type, user_id,
                               CAST(EXTRACT(DAY FROM ts) AS BIGINT) AS dd
                        FROM events),
                 h AS (SELECT event_type,
                              ('0x' || substr(md5(concat(
                                CAST(user_id AS VARCHAR), '_',
                                CAST(dd AS VARCHAR))), 1, 15))::BIGINT
                                AS hv
                       FROM el),
                 topk AS (SELECT event_type, hv
                          FROM (SELECT event_type, hv,
                                       row_number() OVER (
                                         PARTITION BY event_type
                                         ORDER BY hv) AS rn
                                FROM h) r WHERE rn <= 64),
                 card AS (SELECT event_type, MAX(hv) AS hk
                          FROM topk GROUP BY 1),
                 tpairs AS (SELECT a.event_type AS type_a,
                                   b.event_type AS type_b
                            FROM card a JOIN card b
                              ON a.event_type <> b.event_type),
                 uni AS (SELECT type_a, type_b, hv,
                                row_number() OVER (
                                  PARTITION BY type_a, type_b
                                  ORDER BY hv) AS rn
                         FROM (SELECT DISTINCT p.type_a, p.type_b, t.hv
                               FROM tpairs p JOIN topk t
                                 ON t.event_type = p.type_a
                                  OR t.event_type = p.type_b) u),
                 both_s AS (SELECT a.event_type AS type_a,
                                   b.event_type AS type_b, a.hv
                            FROM topk a JOIN topk b
                              ON a.hv = b.hv
                             AND a.event_type <> b.event_type),
                 kth AS (SELECT u.type_a, u.type_b, MAX(u.hv) AS hku,
                                CAST(SUM(CASE WHEN bo.hv IS NOT NULL
                                              THEN 1 ELSE 0 END)
                                     AS BIGINT) AS shared
                         FROM uni u LEFT JOIN both_s bo
                           ON bo.type_a = u.type_a
                          AND bo.type_b = u.type_b
                          AND bo.hv = u.hv
                         WHERE u.rn <= 64
                         GROUP BY u.type_a, u.type_b),
                 est AS (SELECT k.type_a, k.type_b,
                                CAST(round(63.0 * 1152921504606846976.0
                                           / CAST(ca.hk AS DOUBLE))
                                     AS BIGINT) AS kmv_a,
                                CAST(round(CAST(k.shared AS DOUBLE)
                                           / 64.0 * 63.0
                                           * 1152921504606846976.0 /
                                           CAST(k.hku AS DOUBLE))
                                     AS BIGINT) AS kmv_inter
                         FROM kth k JOIN card ca
                           ON ca.event_type = k.type_a),
                 exact AS (SELECT a.event_type AS type_a,
                                  b.event_type AS type_b,
                                  CAST(COUNT(*) AS BIGINT) AS exact_diff
                           FROM el a LEFT JOIN el b
                             ON a.user_id = b.user_id AND a.dd = b.dd
                            AND b.event_type = 'purchase'
                           WHERE a.event_type <> 'purchase'
                             AND b.user_id IS NULL
                           GROUP BY 1, 2)
            SELECT e.type_a, 'purchase' AS type_b,
                   GREATEST(CAST(0 AS BIGINT), e.kmv_a - e.kmv_inter)
                     AS kmv_diff,
                   x.exact_diff
            FROM est e JOIN exact x
              ON x.type_a = e.type_a AND e.type_b = 'purchase'
            ORDER BY e.type_a"""))

  val ops: Seq[Op] =
    Seq(joinIntervalOverlap, eventSequenceMatch, windowRollingCorr,
      aggKmvIntersect, aggKmvDifference, aggKsTest, windowCusum, aggTtest,
      aggChiSquare,
      aggBootstrapCi, aggMannWhitney, aggQuantileExact, textZipfFit,
      layoutZorder, aggSurvivalKm, aggAucRoc, aggCalibrationBins,
      aggPsiDrift, aggWinsorizedMean, aggBrierScore, windowHolt,
      corpusMixTemperature, windowTwap, privacyDpCount)
}
