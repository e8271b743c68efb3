package graft.operators

import graft.Mats.MatOps
import graft.{Op, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-15 extension batch: trading-signal windows (MACD / stochastic /
  * Donchian), two-phase systematic sampling, a DP histogram release,
  * corpus language balancing, embedding hubness, and per-language text
  * profiles — the remaining everyday shapes a reference user
  * (framework.py:310-349 delegates transforms to engine SQL) reaches for
  * that had no registry spelling yet.
  *
  * Engine-determinism follows the repo protocol (core.scala): every value
  * crossing the DuckDB boundary is an exact integer (cents / basis points,
  * quantized per row BEFORE any aggregate), divisions are integer `div`
  * (Spark) ≡ `//` (DuckDB) — both truncate toward zero for integer
  * operands on ANY sign (empirically pinned; the "`//` floors" folklore is
  * false for integers), so signed recursions like the MACD signal EMA need
  * no bias or domain bound — and floats appear only in bounded per-group
  * expressions rounded once at the boundary.
  */
object SignalOps {
  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Whitespace-normalized lowercase tokens (the LlmOps dedup key spelling,
    * restated locally — DuckDB mirror: string_split of the same regex). */
  private def tokens(c: Column): Column =
    split(trim(regexp_replace(lower(c), "\\s+", " ")), " ")

  // MACD (moving-average convergence/divergence) per user over the event
  // value series — fast EMA (dyadic α=1/2), slow EMA (α=1/4), signal EMA
  // (α=1/2 of the MACD line), histogram = macd − signal. The dyadic
  // smoothing keeps the whole recursion in exact BIGINT cents — the same
  // integer-EWMA discipline as window_ewma — so ANY engine reproduces it
  // bit-for-bit. Every division is Java's truncating `/` on the Scala
  // side ≡ DuckDB's integer `//` — BOTH truncate toward zero for ANY
  // operand sign (verified: duckdb (-3)//2 = -1, not -2; the "// floors"
  // folklore is false for integer operands) — so no bias and no domain
  // assumption is needed (the r15 spelling rode a +2^30 bias that
  // silently required |macd|+|signal| < ~2^30 and non-negative cents;
  // ADVICE r15 item 1). Scale shape: one hash partition on user_id, one
  // sort within
  // partitions, O(1) state per row streamed by mapPartitions — no window
  // buffering, no driver state; at 100 TB the series key spreads across
  // the cluster exactly like window_ewma.
  private val windowMacd = Op(
    "window_macd",
    (s, d) => {
      import s.implicits._
      t(s, d, "events")
        .where(col("user_id") % 10 === 1)
        .select(col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          col("ts"), col("event_id"))
        .repartition(col("user_id"))
        .sortWithinPartitions("user_id", "ts", "event_id")
        .select(col("user_id"), col("event_id"), col("cents"))
        .as[(Long, Long, Long)]
        .mapPartitions { it =>
          var curUser = Long.MinValue
          var fast = 0L; var slow = 0L; var sig = 0L
          it.map { case (u, e, c) =>
            if (u != curUser) { fast = c; slow = c; sig = 0L; curUser = u }
            else {
              fast = (c + fast) / 2
              slow = (c + 3 * slow) / 4
              sig = ((fast - slow) + sig) / 2
            }
            (u, e, fast, slow, fast - slow, sig)
          }
        }
        .toDF("user_id", "event_id", "fast_c", "slow_c", "macd_c", "signal_c")
        .withColumn("hist_c", col("macd_c") - col("signal_c"))
        .orderBy("user_id", "event_id")
    },
    Some("""WITH RECURSIVE e AS (
              SELECT user_id, event_id,
                     CAST(round(value * 100) AS BIGINT) AS cents,
                     row_number() OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) AS rn
              FROM events WHERE user_id % 10 = 1),
            r(user_id, event_id, rn, f, sl, sg) AS (
              SELECT user_id, event_id, rn, cents, cents,
                     CAST(0 AS BIGINT)
              FROM e WHERE rn = 1
              UNION ALL
              SELECT e.user_id, e.event_id, e.rn,
                     (e.cents + r.f) // 2,
                     (e.cents + 3 * r.sl) // 4,
                     (((e.cents + r.f) // 2) - ((e.cents + 3 * r.sl) // 4)
                      + r.sg) // 2
              FROM e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1)
            SELECT user_id, event_id, f AS fast_c, sl AS slow_c,
                   f - sl AS macd_c, sg AS signal_c,
                   (f - sl) - sg AS hist_c
            FROM r ORDER BY user_id, event_id"""))

  // Stochastic oscillator per user over the event value series: %K = the
  // current value's position inside the trailing-14 min/max range, %D = the
  // 3-period mean of %K — both published in exact basis points via integer
  // division (flat windows publish 10000 by convention, not a 0/0 NULL).
  // Three frames share ONE (user_id / ts,event_id) sort — a single shuffle;
  // every frame is ROWS-bounded so per-row state is O(14) regardless of
  // volume, and user_id spreads the sort across the cluster at 100 TB.
  private val windowStochastic = Op(
    "window_stochastic",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_sg")
      s.sql("""
        WITH b AS (SELECT user_id, event_id, ts,
                          CAST(round(value * 100) AS BIGINT) AS c
                   FROM events_sg WHERE user_id % 10 = 2),
             w AS (SELECT user_id, event_id, ts, c,
                          MIN(c) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id
                            ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS mn,
                          MAX(c) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id
                            ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS mx
                   FROM b),
             k AS (SELECT user_id, event_id, ts,
                          CASE WHEN mx > mn
                               THEN ((c - mn) * 10000) div (mx - mn)
                               ELSE CAST(10000 AS BIGINT) END AS k_bp
                   FROM w)
        SELECT user_id, event_id, k_bp,
               CAST(SUM(k_bp) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
               div COUNT(*) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS d_bp
        FROM k ORDER BY user_id, event_id""")
    },
    Some("""WITH b AS (SELECT user_id, event_id, ts,
                              CAST(round(value * 100) AS BIGINT) AS c
                       FROM events WHERE user_id % 10 = 2),
                 w AS (SELECT user_id, event_id, ts, c,
                              MIN(c) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
                                AS mn,
                              MAX(c) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
                                AS mx
                       FROM b),
                 k AS (SELECT user_id, event_id, ts,
                              CASE WHEN mx > mn
                                   THEN ((c - mn) * 10000) // (mx - mn)
                                   ELSE CAST(10000 AS BIGINT) END AS k_bp
                       FROM w)
            SELECT user_id, event_id, k_bp,
                   CAST(SUM(k_bp) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
                   // COUNT(*) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS d_bp
            FROM k ORDER BY user_id, event_id"""))

  // Donchian channel per part over its price history: trailing-20 high/low
  // (EXCLUDING the current row — the breakout definition) plus up/down
  // breakout flags. First rows publish NULL bounds and 0 flags. Everything
  // is exact BIGINT cents; two ROWS-bounded frames share one
  // (l_partkey / shipdate,orderkey,linenumber) sort — a single shuffle,
  // O(20) state per row, partition key spreads at scale (same shape
  // window_vwap carries).
  private val windowDonchian = Op(
    "window_donchian",
    (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_sg")
      s.sql("""
        WITH b AS (SELECT l_partkey, l_orderkey, l_linenumber, l_shipdate,
                          CAST(round(l_extendedprice * 100) AS BIGINT) AS c
                   FROM lineitem_sg WHERE l_partkey <= 100),
             w AS (SELECT l_partkey, l_orderkey, l_linenumber, c,
                          MAX(c) OVER (PARTITION BY l_partkey
                            ORDER BY l_shipdate, l_orderkey, l_linenumber
                            ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
                            AS upper_c,
                          MIN(c) OVER (PARTITION BY l_partkey
                            ORDER BY l_shipdate, l_orderkey, l_linenumber
                            ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
                            AS lower_c
                   FROM b)
        SELECT l_partkey, l_orderkey, l_linenumber, c, upper_c, lower_c,
               CASE WHEN upper_c IS NOT NULL AND c > upper_c THEN 1 ELSE 0
                 END AS brk_up,
               CASE WHEN lower_c IS NOT NULL AND c < lower_c THEN 1 ELSE 0
                 END AS brk_dn
        FROM w ORDER BY l_partkey, l_orderkey, l_linenumber""")
    },
    Some("""WITH b AS (SELECT l_partkey, l_orderkey, l_linenumber,
                              l_shipdate,
                              CAST(round(l_extendedprice * 100) AS BIGINT)
                                AS c
                       FROM lineitem WHERE l_partkey <= 100),
                 w AS (SELECT l_partkey, l_orderkey, l_linenumber, c,
                              MAX(c) OVER (PARTITION BY l_partkey
                                ORDER BY l_shipdate, l_orderkey, l_linenumber
                                ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
                                AS upper_c,
                              MIN(c) OVER (PARTITION BY l_partkey
                                ORDER BY l_shipdate, l_orderkey, l_linenumber
                                ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
                                AS lower_c
                       FROM b)
            SELECT l_partkey, l_orderkey, l_linenumber, c, upper_c, lower_c,
                   CASE WHEN upper_c IS NOT NULL AND c > upper_c THEN 1
                     ELSE 0 END AS brk_up,
                   CASE WHEN lower_c IS NOT NULL AND c < lower_c THEN 1
                     ELSE 0 END AS brk_dn
            FROM w ORDER BY l_partkey, l_orderkey, l_linenumber"""))

  // Systematic (every-kth-by-rank) sampling per stratum — the survey-
  // sampling sibling of sample_hash (arithmetic on keys) and
  // sample_stratified (per-stratum fractions): rank rows within each
  // order-priority stratum by key and keep ranks 1, 26, 51, …. The rank is
  // NOT one window per stratum (5 strata → 5 tasks sorting n/5 rows each —
  // the low-cardinality-stratum shape the sf10 probe kills): rows bucket by
  // o_orderkey div 8192, rank locally inside (stratum, bucket), and a tiny
  // per-bucket count relation carries cumulative offsets back via a window
  // over BUCKETS (thousands of rows at any SF), exactly the two-phase
  // decomposition agg_gini / window_drawdown ride. Bucket-by-key-range
  // preserves the global key order, so local rank + offset ≡ the global
  // row_number the oracle computes.
  private val sampleSystematic = Op(
    "sample_systematic",
    (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_sg")
      s.sql("""
        WITH b AS (SELECT o_orderkey, o_orderpriority,
                          o_orderkey div 8192 AS bk
                   FROM orders_sg),
             loc AS (SELECT o_orderkey, o_orderpriority, bk,
                            row_number() OVER (PARTITION BY o_orderpriority,
                              bk ORDER BY o_orderkey) AS rl
                     FROM b),
             cnt AS (SELECT o_orderpriority, bk,
                            CAST(COUNT(*) AS BIGINT) AS c
                     FROM b GROUP BY 1, 2),
             off AS (SELECT o_orderpriority, bk,
                            CAST(SUM(c) OVER (PARTITION BY o_orderpriority
                              ORDER BY bk ROWS UNBOUNDED PRECEDING) - c
                              AS BIGINT) AS o
                     FROM cnt)
        SELECT loc.o_orderkey, loc.o_orderpriority,
               CAST(off.o + loc.rl AS BIGINT) AS rn
        FROM loc JOIN off ON loc.o_orderpriority = off.o_orderpriority
                         AND loc.bk = off.bk
        WHERE (off.o + loc.rl - 1) % 25 = 0
        ORDER BY o_orderpriority, rn""")
    },
    Some("""WITH r AS (SELECT o_orderkey, o_orderpriority,
                              row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_orderkey) AS rn
                       FROM orders)
            SELECT o_orderkey, o_orderpriority, CAST(rn AS BIGINT) AS rn
            FROM r WHERE (rn - 1) % 25 = 0
            ORDER BY o_orderpriority, rn"""))

  // Differentially-private histogram release: fixed 50k-wide buckets of
  // order value (exact-cents bucketing — no float division enters), one
  // partial→final count per bucket, Laplace(1/ε)-shaped noise derived from
  // the md5 of the bucket id (the privacy_dp_count draw recipe: uniform in
  // (−½,½) from 60 hash bits → inverse-CDF, quantized to 1e-6 before the
  // add so both engines publish identical releases). NOTE (same as
  // dp_count): a seeded repeatable draw is deliberately NOT a privacy
  // mechanism — determinism is what the correctness gate needs; a CSPRNG
  // swap is the one-line production change. O(buckets) noise math.
  private val privacyDpHistogram = Op(
    "privacy_dp_histogram",
    (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_dph")
      s.sql("""
        WITH h AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
                            div 5000000 AS bucket,
                          CAST(COUNT(*) AS BIGINT) AS n
                   FROM orders_dph GROUP BY 1),
             u AS (SELECT bucket, n,
                          CAST(CAST(conv(substring(md5(concat('dph:',
                            CAST(bucket AS STRING))), 1, 15), 16, 10)
                            AS BIGINT) AS DOUBLE)
                            / 1152921504606846976.0D - 0.5D AS up
                   FROM h),
             nz AS (SELECT bucket, n,
                           CAST(round(-sign(up) *
                             ln(GREATEST(1.0D - 2.0D*abs(up), 1e-18D))
                             * 1000000) AS BIGINT) AS noise_q
                    FROM u)
        SELECT bucket, n,
               round(n + CAST(noise_q AS DOUBLE)/1000000.0D, 6) AS dp_n
        FROM nz ORDER BY bucket""")
    },
    Some("""WITH h AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
                                // 5000000 AS bucket,
                              CAST(COUNT(*) AS BIGINT) AS n
                       FROM orders GROUP BY 1),
                 u AS (SELECT bucket, n,
                              CAST(('0x' || substr(md5('dph:' || bucket),
                                   1, 15))::BIGINT AS DOUBLE)
                              / 1152921504606846976.0 - 0.5 AS up
                       FROM h),
                 nz AS (SELECT bucket, n,
                               CAST(round(-sign(up) *
                                 ln(GREATEST(1.0 - 2.0*abs(up), 1e-18))
                                 * 1000000) AS BIGINT) AS noise_q
                        FROM u)
            SELECT bucket, n,
                   round(n + CAST(noise_q AS DOUBLE)/1000000.0, 6) AS dp_n
            FROM nz ORDER BY bucket"""))

  // Corpus language balancing: each language's document share vs a uniform
  // target, plus the integer resampling factor (bp) a mixture pass would
  // apply to rebalance — the planning step before corpus_mix/sample_weighted
  // execute the resample. One partial→final count per lang, a 1-row totals
  // relation broadcast back; all ratios are exact basis-point integers
  // (n·10⁴ div total), so the plan is two tiny aggregates at any volume.
  // The factor's denominator saturates at 1 bp (GREATEST): a language
  // holding under one basis point of the corpus gets the 1-bp-share factor
  // (the cap), never a NULL — rare languages are exactly the rows the
  // rebalance plan must not silently drop (ADVICE r15 item 2).
  private val corpusLangBalance = Op(
    "corpus_lang_balance",
    (s, d) => {
      val docs = t(s, d, "documents")
      val per = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      val tot = docs.agg(count(lit(1)).as("total"),
        countDistinct(col("lang")).as("nl"))
      per.crossJoin(broadcast(tot))
        .select(col("lang"), col("n"),
          expr("n * 10000 div total").as("share_bp"),
          expr("10000 div nl").as("target_bp"),
          expr("""(10000 div nl) * 10000
                  div GREATEST(n * 10000 div total, CAST(1 AS BIGINT))""")
            .as("factor_bp"))
        .orderBy("lang")
    },
    Some("""WITH per AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
                         FROM documents GROUP BY 1),
                 tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total,
                                CAST(COUNT(DISTINCT lang) AS BIGINT) AS nl
                         FROM documents)
            SELECT lang, n,
                   n * 10000 // total AS share_bp,
                   10000 // nl AS target_bp,
                   (10000 // nl) * 10000
                     // GREATEST(n * 10000 // total, CAST(1 AS BIGINT))
                     AS factor_bp
            FROM per CROSS JOIN tot ORDER BY lang"""))

  // Embedding hubness: how often each vector appears in OTHER vectors'
  // top-3 neighbor lists (k-occurrence) — the classic high-dimensional
  // pathology metric (hub vectors poison kNN-based dedup and retrieval;
  // this is the audit that finds them). Exact over a bounded probe set
  // (vec_id < 200; ranks on round-6 cosine with vec_id tie-break, the
  // repo's cross-engine ranking protocol). The production path at corpus
  // scale swaps the bounded self-join for the sim_ann_lsh sign-bucket
  // blocking and counts occurrences the same way — that swap is its own
  // oracle-checked, corpus-probed key since r18: `emb_hubness_ann`
  // (LlmOps), which blocks on the sign bucket with a roster cap so the
  // candidate count stays ≤ n·EmbBucketCap at any flood.
  private val embHubness = Op(
    "emb_hubness",
    (s, d) => {
      graft.functions.CosineSimilarity.register(s)
      val e = t(s, d, "embeddings").where(col("vec_id") < 200)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val pairs = e.as("a")
        .crossJoin(broadcast(e.as("b")))
        .where(col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("src"), col("b.vec_id").as("nbr"),
          round(expr("graft_cosine(a.v, b.v)"), 6).as("cs"))
      val w = Window.partitionBy("src").orderBy(desc("cs"), asc("nbr"))
      val top = pairs.withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
      val kocc = top.groupBy(col("nbr").as("vec_id"))
        .agg(count(lit(1)).as("k_occ"))
      e.select("vec_id").join(kocc, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("k_occ"), lit(0L)).as("k_occ"))
        .orderBy("vec_id")
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings WHERE vec_id < 200),
                 p AS (SELECT a.vec_id AS src, b.vec_id AS nbr,
                              round(list_cosine_similarity(a.v, b.v), 6)
                                AS cs
                       FROM e a CROSS JOIN e b
                       WHERE a.vec_id <> b.vec_id),
                 r AS (SELECT src, nbr,
                              row_number() OVER (PARTITION BY src
                                ORDER BY cs DESC, nbr) AS rnk
                       FROM p),
                 k AS (SELECT nbr AS vec_id,
                              CAST(COUNT(*) AS BIGINT) AS k_occ
                       FROM r WHERE rnk <= 3 GROUP BY 1)
            SELECT e.vec_id, COALESCE(k.k_occ, 0) AS k_occ
            FROM e LEFT JOIN k ON e.vec_id = k.vec_id
            ORDER BY e.vec_id"""))

  /** Cross-language stopword list for the profile op — top function words
    * of the corpus's five languages (placeholder-sized, like the
    * text_langid markers; swap for full lists in production — the
    * explode→isin→ratio plumbing is the operator). */
  private val stopwords = Seq(
    "the", "a", "of", "and", "to",
    "der", "die", "und", "le", "la",
    "et", "el", "los", "de", "que")

  // Per-language stopword profile: corpus-level stopword token share in
  // exact basis points (function-word density separates natural prose from
  // boilerplate/lists — a standard pretraining quality axis, here profiled
  // per language rather than gated per document like quality_gate). One
  // explode → two partial→final aggregates on lang; the stopword list
  // broadcasts inside the isin literal. Exact integers end to end.
  private val textStopwordProfile = Op(
    "text_stopword_profile",
    (s, d) => {
      val docs = t(s, d, "documents")
      val tk = docs.select(col("lang"), col("doc_id"),
        explode(tokens(col("text"))).as("tk"))
      tk.groupBy("lang")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_tokens"),
          sum(when(col("tk").isin(stopwords: _*), 1L).otherwise(0L))
            .as("n_stop"))
        .withColumn("stop_bp", expr("n_stop * 10000 div n_tokens"))
        .orderBy("lang")
    },
    Some(s"""WITH toks AS (
              SELECT lang, doc_id,
                     unnest(string_split(trim(regexp_replace(lower(text),
                       '\\s+', ' ', 'g')), ' ')) AS tk
              FROM documents)
            SELECT lang,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   CAST(SUM(CASE WHEN tk IN (${stopwords
                     .map(w => s"'$w'").mkString(", ")})
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
                   CAST(SUM(CASE WHEN tk IN (${stopwords
                     .map(w => s"'$w'").mkString(", ")})
                     THEN 1 ELSE 0 END) AS BIGINT) * 10000
                     // CAST(COUNT(*) AS BIGINT) AS stop_bp
            FROM toks GROUP BY lang ORDER BY lang"""))

  // Per-language character-class profile: letters / digits / whitespace /
  // punctuation-or-other shares in exact basis points — the script-level
  // quality signal (alpha ratio and punctuation density) aggregated per
  // language rather than gated per document. Character classes come from
  // length deltas of regexp_replace (identical regex semantics both
  // engines); every count is an exact per-row integer summed
  // partial→final, ratios form once per lang.
  private val textPunctProfile = Op(
    "text_punct_profile",
    (s, d) => {
      val docs = t(s, d, "documents")
      docs.select(col("lang"),
          length(col("text")).cast("long").as("chars"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[A-Za-z]", "")))
            .cast("long").as("letters"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[0-9]", "")))
            .cast("long").as("digits"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "\\s", "")))
            .cast("long").as("spaces"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("chars")).as("chars"),
          sum(col("letters")).as("letters"),
          sum(col("digits")).as("digits"),
          sum(col("spaces")).as("spaces"))
        .select(col("lang"), col("n_docs"), col("chars"),
          expr("letters * 10000 div chars").as("alpha_bp"),
          expr("digits * 10000 div chars").as("digit_bp"),
          expr("spaces * 10000 div chars").as("space_bp"),
          expr("(chars - letters - digits - spaces) * 10000 div chars")
            .as("punct_bp"))
        .orderBy("lang")
    },
    Some("""WITH c AS (SELECT lang,
                              CAST(length(text) AS BIGINT) AS chars,
                              CAST(length(text) - length(regexp_replace(
                                text, '[A-Za-z]', '', 'g')) AS BIGINT)
                                AS letters,
                              CAST(length(text) - length(regexp_replace(
                                text, '[0-9]', '', 'g')) AS BIGINT)
                                AS digits,
                              CAST(length(text) - length(regexp_replace(
                                text, '\s', '', 'g')) AS BIGINT) AS spaces
                       FROM documents)
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(chars) AS BIGINT) AS chars,
                   CAST(SUM(letters) AS BIGINT) * 10000
                     // CAST(SUM(chars) AS BIGINT) AS alpha_bp,
                   CAST(SUM(digits) AS BIGINT) * 10000
                     // CAST(SUM(chars) AS BIGINT) AS digit_bp,
                   CAST(SUM(spaces) AS BIGINT) * 10000
                     // CAST(SUM(chars) AS BIGINT) AS space_bp,
                   CAST(SUM(chars - letters - digits - spaces) AS BIGINT)
                     * 10000 // CAST(SUM(chars) AS BIGINT) AS punct_bp
            FROM c GROUP BY lang ORDER BY lang"""))

  // Hodges–Lehmann pseudomedian per event type — the rank-based location
  // estimator (median of all pairwise means x_i+x_j)/2, i<j) that tolerates
  // ~29% contamination where the mean tolerates none. The naive spelling is
  // O(n²) pairs of ROWS; this one collapses to the quantized VALUE domain
  // first (distinct integer units + multiplicities — the agg_spearman
  // domain-collapse discipline), so the pair relation is bounded by
  // domain², volume-independent: distinct-value pairs carry weight w₁·w₂,
  // same-value pairs w·(w−1)/2, and the lower weighted median of the exact
  // pair-SUM domain (cum weight ≥ ⌈total/2⌉) halves once at the boundary.
  // Counts and cumulative weights are exact BIGINTs at any volume.
  private val aggHodgesLehmann = Op(
    "agg_hodges_lehmann",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_hl")
      s.sql("""
        WITH v AS (SELECT event_type, CAST(round(value) AS BIGINT) AS v,
                          CAST(COUNT(*) AS BIGINT) AS w
                   FROM events_hl GROUP BY 1, 2),
             p AS (SELECT a.event_type, a.v + b.v AS s2, a.w * b.w AS pw
                   FROM v a JOIN v b ON a.event_type = b.event_type
                                    AND a.v < b.v
                   UNION ALL
                   SELECT event_type, v + v AS s2, w * (w - 1) div 2 AS pw
                   FROM v WHERE w >= 2),
             c AS (SELECT event_type, s2,
                          CAST(SUM(pw) AS BIGINT) AS pw
                   FROM p GROUP BY 1, 2),
             r AS (SELECT event_type, s2,
                          SUM(pw) OVER (PARTITION BY event_type
                            ORDER BY s2 ROWS UNBOUNDED PRECEDING) AS cw,
                          SUM(pw) OVER (PARTITION BY event_type) AS tw
                   FROM c)
        SELECT event_type,
               CAST(MIN(CASE WHEN 2 * cw >= tw + (tw % 2) THEN s2 END)
                 AS BIGINT) AS hl_x2,
               CAST(MIN(CASE WHEN 2 * cw >= tw + (tw % 2) THEN s2 END)
                 AS DOUBLE) / 2.0D AS hl
        FROM r GROUP BY event_type ORDER BY event_type""")
    },
    Some("""WITH v AS (SELECT event_type, CAST(round(value) AS BIGINT) AS v,
                              CAST(COUNT(*) AS BIGINT) AS w
                       FROM events GROUP BY 1, 2),
                 p AS (SELECT a.event_type, a.v + b.v AS s2,
                              a.w * b.w AS pw
                       FROM v a JOIN v b ON a.event_type = b.event_type
                                        AND a.v < b.v
                       UNION ALL
                       SELECT event_type, v + v AS s2,
                              w * (w - 1) // 2 AS pw
                       FROM v WHERE w >= 2),
                 c AS (SELECT event_type, s2,
                              CAST(SUM(pw) AS BIGINT) AS pw
                       FROM p GROUP BY 1, 2),
                 r AS (SELECT event_type, s2,
                              CAST(SUM(pw) OVER (PARTITION BY event_type
                                ORDER BY s2 ROWS UNBOUNDED PRECEDING)
                                AS BIGINT) AS cw,
                              CAST(SUM(pw) OVER (PARTITION BY event_type)
                                AS BIGINT) AS tw
                       FROM c)
            SELECT event_type,
                   CAST(MIN(CASE WHEN 2 * cw >= tw + (tw % 2) THEN s2 END)
                     AS BIGINT) AS hl_x2,
                   CAST(MIN(CASE WHEN 2 * cw >= tw + (tw % 2) THEN s2 END)
                     AS DOUBLE) / 2.0 AS hl
            FROM r GROUP BY event_type ORDER BY event_type"""))

  // Maximum-inner-product top-k (the recommender/retrieval scoring where
  // vector NORM carries signal — popularity-weighted item embeddings —
  // so cosine's normalization is wrong): one broadcast probe, one
  // map-side codegen'd HOF dot product (zip_with→aggregate folds left in
  // index order, matching DuckDB's list_inner_product term order),
  // TakeOrderedAndProject picks top-k. Same 100 TB shape as
  // sim_cosine_topk: candidates stream once, nothing shuffles but k rows.
  // The MIPS→cosine norm-augmentation reduction (add one dimension
  // carrying sqrt(M²−‖x‖²)) is what plugs this into the sim_ann_lsh /
  // IVF index path at corpus scale.
  private val simMipsTopk = Op(
    "sim_mips_topk",
    (s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("va"))
      val probe = broadcast(e.where(col("vec_id") === 1)
        .select(col("va").as("vb")))
      e.where(col("vec_id") =!= 1)
        .crossJoin(probe)
        .select(col("vec_id"),
          round(expr(
            "aggregate(zip_with(va, vb, (x, y) -> x * y), 0D, (a, x) -> a + x)"),
            6).as("dot"))
        .orderBy(desc("dot"), asc("vec_id"))
        .limit(10)
    },
    Some("""SELECT vec_id,
                   round(list_inner_product(CAST(embedding AS DOUBLE[]),
                     (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                      WHERE vec_id = 1)), 6) AS dot
            FROM embeddings WHERE vec_id <> 1
            ORDER BY dot DESC, vec_id LIMIT 10"""))

  // DP top-k selection (exponential mechanism via the Gumbel trick):
  // release the k=3 most frequent event types by count + Gumbel(2/ε)
  // noise — selection, the other half of a DP release suite next to the
  // counting keys (privacy_dp_count/histogram). The Gumbel draw
  // −ln(−ln(u)) comes from the same seeded 60-bit md5 uniform recipe,
  // quantized to 1e-6 before the add so both engines select identically.
  // Same caveat as dp_count: seeded = gate-deterministic, NOT private;
  // CSPRNG swap is the production change. One partial→final count, then
  // O(types) noise math and a top-k over a value-domain-bounded relation.
  private val privacyDpTopk = Op(
    "privacy_dp_topk",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_dpt")
      s.sql("""
        WITH c AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
                   FROM events_dpt GROUP BY 1),
             u AS (SELECT event_type, n,
                          (CAST(CAST(conv(substring(md5(concat('dpt:',
                            event_type)), 1, 15), 16, 10) AS BIGINT)
                            AS DOUBLE) + 0.5D) / 1152921504606846976.0D AS up
                   FROM c),
             g AS (SELECT event_type, n,
                          CAST(round(-ln(-ln(up)) * 1000000) AS BIGINT)
                            AS gum_q
                   FROM u),
             r AS (SELECT event_type, n, gum_q,
                          row_number() OVER (ORDER BY
                            n + CAST(gum_q AS DOUBLE)/1000000.0D DESC,
                            event_type) AS rk
                   FROM g)
        SELECT CAST(rk AS BIGINT) AS rk, event_type, n,
               round(n + CAST(gum_q AS DOUBLE)/1000000.0D, 6) AS noisy
        FROM r WHERE rk <= 3 ORDER BY rk""")
    },
    Some("""WITH c AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
                       FROM events GROUP BY 1),
                 u AS (SELECT event_type, n,
                              (CAST(('0x' || substr(md5('dpt:' ||
                                event_type), 1, 15))::BIGINT AS DOUBLE)
                                + 0.5) / 1152921504606846976.0 AS up
                       FROM c),
                 g AS (SELECT event_type, n,
                              CAST(round(-ln(-ln(up)) * 1000000) AS BIGINT)
                                AS gum_q
                       FROM u),
                 r AS (SELECT event_type, n, gum_q,
                              row_number() OVER (ORDER BY
                                n + CAST(gum_q AS DOUBLE)/1000000.0 DESC,
                                event_type) AS rk
                       FROM g)
            SELECT CAST(rk AS BIGINT) AS rk, event_type, n,
                   round(n + CAST(gum_q AS DOUBLE)/1000000.0, 6) AS noisy
            FROM r WHERE rk <= 3 ORDER BY rk"""))

  // Seasonal exponential smoothing: a dyadic-integer EWMA per
  // (user, hour-of-day) slot — each slot's state updates only when its
  // season recurs (the seasonal component of Holt–Winters, isolated) —
  // plus the deseasonalized residual. Complements resample_deseasonalize
  // (windowed-mean seasonal) with the recursive/adaptive spelling, kept
  // exact by the window_ewma integer discipline. One hash partition on
  // the composite (user, slot) key — at 100 TB the season multiplies the
  // series-key cardinality ×24, which only spreads the sort WIDER.
  private val windowSeasonalEwma = Op(
    "window_seasonal_ewma",
    (s, d) => {
      import s.implicits._
      t(s, d, "events")
        .where(col("user_id") % 10 === 3)
        .select(col("user_id"),
          expr("unix_timestamp(ts) div 3600 % 24").as("slot"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          col("ts"), col("event_id"))
        .repartition(col("user_id"), col("slot"))
        .sortWithinPartitions("user_id", "slot", "ts", "event_id")
        .select(col("user_id"), col("slot"), col("event_id"), col("cents"))
        .as[(Long, Long, Long, Long)]
        .mapPartitions { it =>
          var curUser = Long.MinValue; var curSlot = Long.MinValue
          var state = 0L
          it.map { case (u, sl, e, c) =>
            state =
              if (u != curUser || sl != curSlot) c else (c + state) / 2
            curUser = u; curSlot = sl
            (u, sl, e, state, c - state)
          }
        }
        .toDF("user_id", "slot", "event_id", "sea_c", "resid_c")
        .orderBy("user_id", "slot", "event_id")
    },
    Some("""WITH RECURSIVE e AS (
              SELECT user_id,
                     (CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 24
                       AS slot,
                     event_id, CAST(round(value * 100) AS BIGINT) AS cents,
                     row_number() OVER (PARTITION BY user_id,
                       (CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 24
                       ORDER BY ts, event_id) AS rn
              FROM events WHERE user_id % 10 = 3),
            r(user_id, slot, event_id, rn, st) AS (
              SELECT user_id, slot, event_id, rn, cents FROM e WHERE rn = 1
              UNION ALL
              SELECT e.user_id, e.slot, e.event_id, e.rn,
                     (e.cents + r.st) // 2
              FROM e JOIN r ON e.user_id = r.user_id AND e.slot = r.slot
                           AND e.rn = r.rn + 1)
            SELECT r.user_id, r.slot, r.event_id, r.st AS sea_c,
                   e.cents - r.st AS resid_c
            FROM r JOIN e ON e.user_id = r.user_id AND e.slot = r.slot
                         AND e.rn = r.rn
            ORDER BY r.user_id, r.slot, r.event_id"""))

  // Per-source document cap — the anti-domination gate every corpus mix
  // applies before weighting (no single crawl/source may exceed K docs):
  // deterministic hash-order rank per source, keep rank ≤ K. The rank ≤ K
  // filter triggers Spark's WindowGroupLimit pushdown (the
  // sample_reservoir shape): map tasks pre-limit to their local top-K
  // before the exchange, so the shuffle carries O(sources·K) rows at any
  // corpus size, never the corpus.
  private val corpusSourceCap = Op(
    "corpus_source_cap",
    (s, d) => {
      t(s, d, "documents").createOrReplaceTempView("documents_sc")
      s.sql("""
        WITH h AS (SELECT source, doc_id,
                          md5(CAST(doc_id AS STRING)) AS hk
                   FROM documents_sc),
             r AS (SELECT source, doc_id,
                          ROW_NUMBER() OVER (PARTITION BY source
                                             ORDER BY hk, doc_id) AS rk
                   FROM h)
        SELECT source, CAST(rk AS BIGINT) AS rk, doc_id
        FROM r WHERE rk <= 15 ORDER BY source, rk""")
    },
    Some("""WITH h AS (SELECT source, doc_id,
                              md5(CAST(doc_id AS VARCHAR)) AS hk
                       FROM documents),
                 r AS (SELECT source, doc_id,
                              ROW_NUMBER() OVER (PARTITION BY source
                                                 ORDER BY hk, doc_id)
                                AS rk
                       FROM h)
            SELECT source, CAST(rk AS BIGINT) AS rk, doc_id
            FROM r WHERE rk <= 15 ORDER BY source, rk"""))

  // Day-over-day movers report: the top-5 (event_type, day) cells by
  // absolute count change vs the previous day — the "what changed
  // yesterday" ops report. Daily counts collapse first (one partial→final
  // aggregate — the lag window rides the tiny (type, day) relation,
  // bounded by the calendar × type domain, never rows), change published
  // as exact integers + one basis-point ratio.
  private val eventDodMovers = Op(
    "event_dod_movers",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_ddm")
      s.sql("""
        WITH dc AS (SELECT event_type,
                           unix_timestamp(ts) div 86400 AS day,
                           CAST(COUNT(*) AS BIGINT) AS n
                    FROM events_ddm GROUP BY 1, 2),
             lg AS (SELECT event_type, day, n,
                           LAG(n) OVER (PARTITION BY event_type
                             ORDER BY day) AS prev_n
                    FROM dc),
             ch AS (SELECT event_type, CAST(day AS BIGINT) AS day, n,
                           prev_n, n - prev_n AS chg,
                           abs(n - prev_n) AS achg
                    FROM lg WHERE prev_n IS NOT NULL),
             rk AS (SELECT *, row_number() OVER (ORDER BY achg DESC,
                             event_type, day) AS rn
                    FROM ch)
        SELECT CAST(rn AS BIGINT) AS rn, event_type, day, n,
               CAST(prev_n AS BIGINT) AS prev_n, CAST(chg AS BIGINT) AS chg,
               CAST(achg * 10000 AS BIGINT) div prev_n AS achg_bp
        FROM rk WHERE rn <= 5 ORDER BY rn""")
    },
    Some("""WITH dc AS (SELECT event_type,
                               CAST(floor(epoch(ts)) AS BIGINT) // 86400
                                 AS day,
                               CAST(COUNT(*) AS BIGINT) AS n
                        FROM events GROUP BY 1, 2),
                 lg AS (SELECT event_type, day, n,
                               LAG(n) OVER (PARTITION BY event_type
                                 ORDER BY day) AS prev_n
                        FROM dc),
                 ch AS (SELECT event_type, CAST(day AS BIGINT) AS day, n,
                               prev_n, n - prev_n AS chg,
                               abs(n - prev_n) AS achg
                        FROM lg WHERE prev_n IS NOT NULL),
                 rk AS (SELECT *, row_number() OVER (ORDER BY achg DESC,
                                 event_type, day) AS rn
                        FROM ch)
            SELECT CAST(rn AS BIGINT) AS rn, event_type, day, n,
                   CAST(prev_n AS BIGINT) AS prev_n,
                   CAST(chg AS BIGINT) AS chg,
                   CAST(achg * 10000 AS BIGINT) // prev_n AS achg_bp
            FROM rk WHERE rn <= 5 ORDER BY rn"""))

  // Candidate-key discovery over the orders schema: for each declared
  // candidate column set, one COUNT(DISTINCT …) vs COUNT(*) uniqueness
  // ratio plus the is-key verdict — the schema-profiling step a warehouse
  // runs before declaring constraints. Each candidate is one partial→final
  // aggregate over hashed composites (no row explosion); candidates UNION
  // into one report. Exact integers, one bp ratio.
  private val dqKeyDiscovery = Op(
    "dq_key_discovery",
    (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_kd")
      s.sql("""
        WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders_kd)
        SELECT c.candidate, c.n_distinct, t.n,
               c.n_distinct * 10000 div t.n AS uniq_bp,
               CAST(CASE WHEN c.n_distinct = t.n THEN 1 ELSE 0 END AS INT)
                 AS is_key
        FROM (
          SELECT 'o_orderkey' AS candidate,
                 CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct
          FROM orders_kd
          UNION ALL
          SELECT 'o_custkey',
                 CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders_kd
          UNION ALL
          SELECT 'o_custkey+o_orderdate',
                 CAST(COUNT(DISTINCT concat(CAST(o_custkey AS STRING), '|',
                   CAST(unix_timestamp(o_orderdate) AS STRING))) AS BIGINT)
          FROM orders_kd
          UNION ALL
          SELECT 'o_orderstatus+o_orderpriority',
                 CAST(COUNT(DISTINCT concat(o_orderstatus, '|',
                   o_orderpriority)) AS BIGINT) FROM orders_kd
        ) c CROSS JOIN t
        ORDER BY candidate""")
    },
    Some("""WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders)
            SELECT c.candidate, c.n_distinct, t.n,
                   c.n_distinct * 10000 // t.n AS uniq_bp,
                   CAST(CASE WHEN c.n_distinct = t.n THEN 1 ELSE 0 END
                     AS INT) AS is_key
            FROM (
              SELECT 'o_orderkey' AS candidate,
                     CAST(COUNT(DISTINCT o_orderkey) AS BIGINT)
                       AS n_distinct
              FROM orders
              UNION ALL
              SELECT 'o_custkey',
                     CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders
              UNION ALL
              SELECT 'o_custkey+o_orderdate',
                     CAST(COUNT(DISTINCT (CAST(o_custkey AS VARCHAR) || '|'
                       || CAST(CAST(floor(epoch(o_orderdate)) AS BIGINT)
                               AS VARCHAR))) AS BIGINT)
              FROM orders
              UNION ALL
              SELECT 'o_orderstatus+o_orderpriority',
                     CAST(COUNT(DISTINCT (o_orderstatus || '|' ||
                       o_orderpriority)) AS BIGINT) FROM orders
            ) c CROSS JOIN t
            ORDER BY candidate"""))

  // Local-DP randomized response: each row's sensitive bit (is this a
  // high-value order?) flips with p=1/4 decided by a SEEDED md5 of the row
  // key, and the unbiased de-biasing estimator recovers the population
  // rate: p̂ = (observed − p·n)/(1 − 2p). The LOCAL-privacy counterpart of
  // the central-DP keys (dp_count/histogram/topk): noise enters per ROW
  // before aggregation, the aggregate is plain exact counting. Same gate
  // caveat as the rest of the suite: seeded = deterministic for the
  // correctness gate, a CSPRNG per row is the production change. Flip
  // decisions are map-side hash math; one partial→final count.
  private val privacyRandomizedResponse = Op(
    "privacy_randomized_response",
    (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_rr")
      s.sql("""
        WITH b AS (SELECT o_orderpriority,
                          CASE WHEN o_totalprice >= 250000 THEN 1 ELSE 0
                            END AS truth,
                          CASE WHEN CAST(conv(substring(md5(concat('rr:',
                            CAST(o_orderkey AS STRING))), 1, 15), 16, 10)
                            AS BIGINT) % 4 = 0 THEN 1 ELSE 0 END AS flip
                   FROM orders_rr),
             o AS (SELECT o_orderpriority,
                          CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(truth) AS BIGINT) AS true_cnt,
                          CAST(SUM(CASE WHEN flip = 1 THEN 1 - truth
                                        ELSE truth END) AS BIGINT) AS obs
                   FROM b GROUP BY 1)
        SELECT o_orderpriority, n, true_cnt, obs,
               round((obs - 0.25D * n) / (0.5D * n), 6) AS est_rate,
               round(CAST(true_cnt AS DOUBLE) / n, 6) AS true_rate
        FROM o ORDER BY o_orderpriority""")
    },
    Some("""WITH b AS (SELECT o_orderpriority,
                              CASE WHEN o_totalprice >= 250000 THEN 1
                                ELSE 0 END AS truth,
                              CASE WHEN ('0x' || substr(md5('rr:' ||
                                CAST(o_orderkey AS VARCHAR)), 1, 15))
                                ::BIGINT % 4 = 0 THEN 1 ELSE 0 END AS flip
                       FROM orders),
                 o AS (SELECT o_orderpriority,
                              CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(SUM(truth) AS BIGINT) AS true_cnt,
                              CAST(SUM(CASE WHEN flip = 1 THEN 1 - truth
                                            ELSE truth END) AS BIGINT)
                                AS obs
                       FROM b GROUP BY 1)
            SELECT o_orderpriority, n, true_cnt, obs,
                   round((obs - 0.25 * n) / (0.5 * n), 6) AS est_rate,
                   round(CAST(true_cnt AS DOUBLE) / n, 6) AS true_rate
            FROM o ORDER BY o_orderpriority"""))

  // Cross-source duplication matrix: for every unordered source pair, how
  // many normalized texts appear in BOTH — the "which crawls duplicate
  // each other" contamination audit that decides source-level dedup
  // ordering. Collapses to DISTINCT (norm-text-hash, source) first (the
  // dedup_exact key), so the pair join runs on text-group survivors with
  // per-text source lists bounded by the source count — never a row-level
  // self-join. Exact counts only.
  private val dedupCrossSourceMatrix = Op(
    "dedup_cross_source_matrix",
    (s, d) => {
      t(s, d, "documents").createOrReplaceTempView("documents_xs")
      // the full unordered-pair grid publishes (zero-filled) so the report
      // is a complete matrix at every SF — absence of contamination is a
      // result, not an empty relation
      s.sql("""
        WITH g AS (SELECT DISTINCT
                          md5(trim(regexp_replace(lower(text), '\\s+', ' ')))
                            AS h,
                          source
                   FROM documents_xs),
             srcs AS (SELECT DISTINCT source FROM documents_xs),
             grid AS (SELECT a.source AS src_a, b.source AS src_b
                      FROM srcs a JOIN srcs b ON a.source < b.source),
             hit AS (SELECT a.source AS src_a, b.source AS src_b,
                            CAST(COUNT(*) AS BIGINT) AS shared_texts
                     FROM g a JOIN g b ON a.h = b.h
                                      AND a.source < b.source
                     GROUP BY 1, 2)
        SELECT grid.src_a, grid.src_b,
               COALESCE(hit.shared_texts, CAST(0 AS BIGINT))
                 AS shared_texts
        FROM grid LEFT JOIN hit ON grid.src_a = hit.src_a
                               AND grid.src_b = hit.src_b
        ORDER BY src_a, src_b""")
    },
    Some("""WITH g AS (SELECT DISTINCT
                              md5(trim(regexp_replace(lower(text), '\s+',
                                ' ', 'g'))) AS h,
                              source
                       FROM documents),
                 srcs AS (SELECT DISTINCT source FROM documents),
                 grid AS (SELECT a.source AS src_a, b.source AS src_b
                          FROM srcs a JOIN srcs b ON a.source < b.source),
                 hit AS (SELECT a.source AS src_a, b.source AS src_b,
                                CAST(COUNT(*) AS BIGINT) AS shared_texts
                         FROM g a JOIN g b ON a.h = b.h
                                          AND a.source < b.source
                         GROUP BY 1, 2)
            SELECT grid.src_a, grid.src_b,
                   COALESCE(hit.shared_texts, CAST(0 AS BIGINT))
                     AS shared_texts
            FROM grid LEFT JOIN hit ON grid.src_a = hit.src_a
                                   AND grid.src_b = hit.src_b
            ORDER BY grid.src_a, grid.src_b"""))

  // Keltner-style channel per part: dyadic-integer EMA centerline ± 2 ×
  // trailing-14 mean absolute move (the true-range analog for a
  // single-price series) — the volatility-banded sibling of
  // window_donchian's range channel and window_bollinger's ±σ. The EMA
  // runs in the window_ewma integer recursion (mapPartitions, O(1)
  // state); the band math is one ROWS-bounded frame over the SAME sort,
  // published as exact integer cents via floor division.
  private val windowKeltner = Op(
    "window_keltner",
    (s, d) => {
      import s.implicits._
      // the band frame, the EMA recursion, and the output all ride ONE
      // total order (shipdate, orderkey, linenumber) — (orderkey,
      // linenumber) alone is NOT unique in the synthetic lineitem, and a
      // ROWS frame over a non-total order is engine-nondeterministic. rn
      // pins that order once; every later sort/frame keys on it.
      val base = t(s, d, "lineitem")
        .where(col("l_partkey") <= 100)
        .select(col("l_partkey"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("c"),
          col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("l_partkey")
            .orderBy("l_shipdate", "l_orderkey", "l_linenumber")))
        .select(col("l_partkey"), col("rn"), col("c"))
        .repartition(col("l_partkey"))
        .sortWithinPartitions("l_partkey", "rn")
        .as[(Long, Int, Long)]
        .mapPartitions { it =>
          var curPart = Long.MinValue
          var ema = 0L; var prev = 0L
          it.map { case (p, rn, c) =>
            val tr = if (p != curPart) 0L else math.abs(c - prev)
            ema = if (p != curPart) c else (c + ema) / 2
            curPart = p; prev = c
            (p, rn, c, ema, tr)
          }
        }
        .toDF("l_partkey", "rn", "c", "ema_c", "tr")
      base.createOrReplaceTempView("keltner_base")
      s.sql("""
        SELECT l_partkey, CAST(rn AS BIGINT) AS rn, c, ema_c,
               ema_c + 2 * (CAST(SUM(tr) OVER w AS BIGINT)
                 div COUNT(*) OVER w) AS upper_c,
               ema_c - 2 * (CAST(SUM(tr) OVER w AS BIGINT)
                 div COUNT(*) OVER w) AS lower_c
        FROM keltner_base
        WINDOW w AS (PARTITION BY l_partkey ORDER BY rn
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        ORDER BY l_partkey, rn""")
    },
    Some("""WITH RECURSIVE b AS (
              SELECT l_partkey,
                     CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
                     row_number() OVER (PARTITION BY l_partkey
                       ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
              FROM lineitem WHERE l_partkey <= 100),
            r(l_partkey, rn, c, ema, tr) AS (
              SELECT l_partkey, rn, c, c, CAST(0 AS BIGINT)
              FROM b WHERE rn = 1
              UNION ALL
              SELECT b.l_partkey, b.rn, b.c,
                     (b.c + r.ema) // 2, abs(b.c - r.c)
              FROM b JOIN r ON b.l_partkey = r.l_partkey
                           AND b.rn = r.rn + 1)
            SELECT l_partkey, CAST(rn AS BIGINT) AS rn, c, ema AS ema_c,
                   ema + 2 * (CAST(SUM(tr) OVER w AS BIGINT)
                     // COUNT(*) OVER w) AS upper_c,
                   ema - 2 * (CAST(SUM(tr) OVER w AS BIGINT)
                     // COUNT(*) OVER w) AS lower_c
            FROM r
            WINDOW w AS (PARTITION BY l_partkey ORDER BY rn
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
            ORDER BY l_partkey, rn"""))

  // Iterative proportional fitting (raking) of the (status × priority)
  // contingency table to uniform target margins — the survey-weighting /
  // post-stratification step, run as TWO unrolled row-scale→column-scale
  // rounds. Weights quantize to exact 1e-6 BIGINTs after EVERY scaling
  // (the privacy-suite discipline), so the fixed-round algebra is
  // bit-identical on both engines — no convergence detection to diverge
  // on. The cell table is bounded by the category domain (|status|×|prio|),
  // so after one partial→final count the whole fit is O(cells).
  private val aggRakingIpf = Op(
    "agg_raking_ipf",
    (s, d) => {
      // ONE orders scan: Spark re-derives a CTE per reference, and the
      // raking SQL references the cell/total relations six times — the
      // 15-row cell table materializes once (localCheckpoint) and the SQL
      // runs over it, O(cells) from there
      t(s, d, "orders")
        .groupBy(col("o_orderstatus").as("st"),
          col("o_orderpriority").as("pr"))
        .agg(count(lit(1)).as("n"))
        .trackedCkpt()
        .createOrReplaceTempView("ipf_cells")
      s.sql("""
        WITH c AS (SELECT st, pr, n FROM ipf_cells),
             tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t,
                            CAST(COUNT(DISTINCT st) AS BIGINT) AS ns,
                            CAST(COUNT(DISTINCT pr) AS BIGINT) AS np
                     FROM c),
             w0 AS (SELECT st, pr, n * 1000000 AS wq FROM c),
             r1 AS (SELECT st, pr,
                           CAST(round(wq * (CAST(t AS DOUBLE) / ns)
                             / CAST(SUM(wq) OVER (PARTITION BY st)
                                    AS DOUBLE)) AS BIGINT) AS wq
                    FROM w0 CROSS JOIN tot),
             c1 AS (SELECT st, pr,
                           CAST(round(wq * (CAST(t AS DOUBLE) / np)
                             / CAST(SUM(wq) OVER (PARTITION BY pr)
                                    AS DOUBLE)) AS BIGINT) AS wq
                    FROM r1 CROSS JOIN tot),
             r2 AS (SELECT st, pr,
                           CAST(round(wq * (CAST(t AS DOUBLE) / ns)
                             / CAST(SUM(wq) OVER (PARTITION BY st)
                                    AS DOUBLE)) AS BIGINT) AS wq
                    FROM c1 CROSS JOIN tot),
             c2 AS (SELECT st, pr,
                           CAST(round(wq * (CAST(t AS DOUBLE) / np)
                             / CAST(SUM(wq) OVER (PARTITION BY pr)
                                    AS DOUBLE)) AS BIGINT) AS wq
                    FROM r2 CROSS JOIN tot)
        SELECT c2.st, c2.pr, c.n, c2.wq AS weight_q
        FROM c2 JOIN c ON c.st = c2.st AND c.pr = c2.pr
        ORDER BY c2.st, c2.pr""")
    },
    Some("""WITH c AS (SELECT o_orderstatus AS st, o_orderpriority AS pr,
                              CAST(COUNT(*) AS BIGINT) AS n
                       FROM orders GROUP BY 1, 2),
                 tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t,
                                CAST(COUNT(DISTINCT st) AS BIGINT) AS ns,
                                CAST(COUNT(DISTINCT pr) AS BIGINT) AS np
                         FROM c),
                 w0 AS (SELECT st, pr, n * 1000000 AS wq FROM c),
                 r1 AS (SELECT st, pr,
                               CAST(round(wq * (CAST(t AS DOUBLE) / ns)
                                 / CAST(SUM(wq) OVER (PARTITION BY st)
                                        AS DOUBLE)) AS BIGINT) AS wq
                        FROM w0 CROSS JOIN tot),
                 c1 AS (SELECT st, pr,
                               CAST(round(wq * (CAST(t AS DOUBLE) / np)
                                 / CAST(SUM(wq) OVER (PARTITION BY pr)
                                        AS DOUBLE)) AS BIGINT) AS wq
                        FROM r1 CROSS JOIN tot),
                 r2 AS (SELECT st, pr,
                               CAST(round(wq * (CAST(t AS DOUBLE) / ns)
                                 / CAST(SUM(wq) OVER (PARTITION BY st)
                                        AS DOUBLE)) AS BIGINT) AS wq
                        FROM c1 CROSS JOIN tot),
                 c2 AS (SELECT st, pr,
                               CAST(round(wq * (CAST(t AS DOUBLE) / np)
                                 / CAST(SUM(wq) OVER (PARTITION BY pr)
                                        AS DOUBLE)) AS BIGINT) AS wq
                        FROM r2 CROSS JOIN tot)
            SELECT c2.st, c2.pr, c.n, c2.wq AS weight_q
            FROM c2 JOIN c ON c.st = c2.st AND c.pr = c2.pr
            ORDER BY c2.st, c2.pr"""))

  // Triangular-weighted moving average of daily event counts per type
  // (weights 7..1 over the trailing week — the lag-k spelling, all seven
  // lags sharing ONE sort): numerator exact BIGINT, published in exact
  // milli-units via floor division by the weight sum 28. Rows before a
  // full 7-day history drop (the standard WMA warm-up convention). The
  // lag window rides the collapsed calendar×type domain, never rows.
  private val resampleWma = Op(
    "resample_wma",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_wma")
      s.sql("""
        WITH dc AS (SELECT event_type,
                           unix_timestamp(ts) div 86400 AS day,
                           CAST(COUNT(*) AS BIGINT) AS n
                    FROM events_wma GROUP BY 1, 2),
             lg AS (SELECT event_type, CAST(day AS BIGINT) AS day, n,
                           LAG(n, 1) OVER w AS n1, LAG(n, 2) OVER w AS n2,
                           LAG(n, 3) OVER w AS n3, LAG(n, 4) OVER w AS n4,
                           LAG(n, 5) OVER w AS n5, LAG(n, 6) OVER w AS n6
                    FROM dc
                    WINDOW w AS (PARTITION BY event_type ORDER BY day))
        SELECT event_type, day, n,
               (7*n + 6*n1 + 5*n2 + 4*n3 + 3*n4 + 2*n5 + 1*n6) * 1000
                 div 28 AS wma_milli
        FROM lg WHERE n6 IS NOT NULL
        ORDER BY event_type, day""")
    },
    Some("""WITH dc AS (SELECT event_type,
                               CAST(floor(epoch(ts)) AS BIGINT) // 86400
                                 AS day,
                               CAST(COUNT(*) AS BIGINT) AS n
                        FROM events GROUP BY 1, 2),
                 lg AS (SELECT event_type, CAST(day AS BIGINT) AS day, n,
                               LAG(n, 1) OVER w AS n1,
                               LAG(n, 2) OVER w AS n2,
                               LAG(n, 3) OVER w AS n3,
                               LAG(n, 4) OVER w AS n4,
                               LAG(n, 5) OVER w AS n5,
                               LAG(n, 6) OVER w AS n6
                        FROM dc
                        WINDOW w AS (PARTITION BY event_type ORDER BY day))
            SELECT event_type, day, n,
                   (7*n + 6*n1 + 5*n2 + 4*n3 + 3*n4 + 2*n5 + 1*n6) * 1000
                     // 28 AS wma_milli
            FROM lg WHERE n6 IS NOT NULL
            ORDER BY event_type, day"""))

  // SQL scripting (Spark 4.1 BEGIN…END procedural blocks): DECLARE'd
  // variables + a WHILE loop with a scalar-subquery assignment, finding
  // the smallest 50k price threshold whose exceedance share drops below
  // 10% — the grid-search shape analysts write procedurally. The loop
  // body scans a PRE-AGGREGATED 10-row bucket histogram (one
  // partial→final pass over orders happens ONCE, before the script), so
  // the procedural iteration costs O(grid · buckets) regardless of
  // volume — the only scale-safe way to put a loop around big data.
  // The oracle replays the loop's fixpoint declaratively (first grid
  // point satisfying the exit condition). Degenerate inputs agree on both
  // sides by construction (ADVICE r15 item 4): the loop is bounded by the
  // oracle's own grid cap (t < 19 — if no threshold under $1M satisfies,
  // both publish the t=19 row), and an empty orders table COALESCEs the
  // share to 0 on both engines (both publish threshold 0, share 0).
  private val sqlScripting = Op(
    "sql_scripting",
    (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_scr")
      s.sql("""
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) div 5000000 AS b,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders_scr GROUP BY 1""")
        // materialized ONCE (unconditional, tracked): the scripting WHILE
        // loop below evaluates a scalar SELECT over this view up to 20
        // times, and an un-materialized view re-ran the fact scan +
        // histogram aggregate per iteration (the bucket relation is
        // ≤ ~200 rows at any scale)
        .trackedCkpt().createOrReplaceTempView("orders_hist")
      s.sql("""
        BEGIN
          DECLARE t BIGINT DEFAULT -1;
          DECLARE share BIGINT DEFAULT 10000;
          WHILE share >= 1000 AND t < 19 DO
            SET t = t + 1;
            SET share = COALESCE(
              (SELECT SUM(CASE WHEN b > t THEN n ELSE 0 END) * 10000
                        div SUM(n)
               FROM orders_hist), 0);
          END WHILE;
          SELECT t * 50000 AS threshold, share AS share_bp;
        END""")
    },
    Some("""WITH h AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
                                // 5000000 AS b,
                              CAST(COUNT(*) AS BIGINT) AS n
                       FROM orders GROUP BY 1),
                 grid AS (SELECT unnest(range(0, 20)) AS t),
                 sh AS (SELECT g.t,
                               COALESCE(CAST(COALESCE(SUM(CASE WHEN h.b > g.t
                                 THEN h.n ELSE 0 END), 0) * 10000 AS BIGINT)
                                 // (SELECT CAST(SUM(n) AS BIGINT) FROM h),
                                 0) AS share_bp
                        FROM grid g LEFT JOIN h ON true GROUP BY g.t)
            SELECT CAST(t * 50000 AS BIGINT) AS threshold, share_bp
            FROM sh WHERE share_bp < 1000 OR t = 19
            ORDER BY t LIMIT 1"""))

  // Exact two-sided 10% trimmed mean per event type — the robust mean
  // that DROPS the tails (vs agg_winsorized_mean, which clamps them).
  // Domain-collapsed like the HL key: per-value counts, then the k
  // lowest/highest UNITS subtract via cumulative-weight partial takes
  // (LEAST(w, remaining k) at the boundary value) — exact BIGINT cents
  // end to end, one float division at the boundary. The trim windows
  // ride the bounded value domain, never rows.
  private val aggTrimmedMean = Op(
    "agg_trimmed_mean",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_tm")
      s.sql("""
        WITH v AS (SELECT event_type,
                          CAST(round(value * 100) AS BIGINT) AS v,
                          CAST(COUNT(*) AS BIGINT) AS w
                   FROM events_tm GROUP BY 1, 2),
             c AS (SELECT event_type, v, w,
                          CAST(SUM(w) OVER (PARTITION BY event_type
                            ORDER BY v ROWS UNBOUNDED PRECEDING) - w
                            AS BIGINT) AS cb,
                          CAST(SUM(w) OVER (PARTITION BY event_type
                            ORDER BY v DESC ROWS UNBOUNDED PRECEDING) - w
                            AS BIGINT) AS ca,
                          CAST(SUM(w) OVER (PARTITION BY event_type)
                            AS BIGINT) AS n
                   FROM v),
             g AS (SELECT event_type, n, n div 10 AS k,
                          CAST(SUM(v * w) AS BIGINT) AS s,
                          CAST(SUM(LEAST(w, GREATEST(CAST(0 AS BIGINT),
                            n div 10 - cb)) * v) AS BIGINT) AS s_lo,
                          CAST(SUM(LEAST(w, GREATEST(CAST(0 AS BIGINT),
                            n div 10 - ca)) * v) AS BIGINT) AS s_hi
                   FROM c GROUP BY event_type, n)
        SELECT event_type, n, k,
               round(CAST(s - s_lo - s_hi AS DOUBLE)
                 / (n - 2 * k) / 100.0D, 6) AS trimmed_mean
        FROM g ORDER BY event_type""")
    },
    Some("""WITH v AS (SELECT event_type,
                              CAST(round(value * 100) AS BIGINT) AS v,
                              CAST(COUNT(*) AS BIGINT) AS w
                       FROM events GROUP BY 1, 2),
                 c AS (SELECT event_type, v, w,
                              CAST(SUM(w) OVER (PARTITION BY event_type
                                ORDER BY v ROWS UNBOUNDED PRECEDING) - w
                                AS BIGINT) AS cb,
                              CAST(SUM(w) OVER (PARTITION BY event_type
                                ORDER BY v DESC ROWS UNBOUNDED PRECEDING)
                                - w AS BIGINT) AS ca,
                              CAST(SUM(w) OVER (PARTITION BY event_type)
                                AS BIGINT) AS n
                       FROM v),
                 g AS (SELECT event_type, n, n // 10 AS k,
                              CAST(SUM(v * w) AS BIGINT) AS s,
                              CAST(SUM(LEAST(w, GREATEST(CAST(0 AS BIGINT),
                                n // 10 - cb)) * v) AS BIGINT) AS s_lo,
                              CAST(SUM(LEAST(w, GREATEST(CAST(0 AS BIGINT),
                                n // 10 - ca)) * v) AS BIGINT) AS s_hi
                       FROM c GROUP BY event_type, n)
            SELECT event_type, n, k,
                   round(CAST(s - s_lo - s_hi AS DOUBLE)
                     / (n - 2 * k) / 100.0, 6) AS trimmed_mean
            FROM g ORDER BY event_type"""))

  // On-balance volume per part: cumulative signed quantity where the sign
  // follows the price direction (up-tick adds quantity, down-tick
  // subtracts, flat carries) — the classic volume-flow confirmation
  // indicator. Rides the SAME pinned-rn total order window_keltner
  // established; lag + running sum share one (part / rn) sort, all exact
  // BIGINTs.
  private val windowObv = Op(
    "window_obv",
    (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_obv")
      s.sql("""
        WITH b AS (SELECT l_partkey,
                          CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
                          CAST(round(l_quantity) AS BIGINT) AS q,
                          row_number() OVER (PARTITION BY l_partkey
                            ORDER BY l_shipdate, l_orderkey, l_linenumber)
                            AS rn
                   FROM lineitem_obv WHERE l_partkey <= 100),
             sg AS (SELECT l_partkey, rn, c, q,
                           CASE WHEN LAG(c) OVER w IS NULL THEN 0
                                WHEN c > LAG(c) OVER w THEN q
                                WHEN c < LAG(c) OVER w THEN -q
                                ELSE 0 END AS dq
                    FROM b
                    WINDOW w AS (PARTITION BY l_partkey ORDER BY rn))
        SELECT l_partkey, CAST(rn AS BIGINT) AS rn, c,
               CAST(SUM(dq) OVER (PARTITION BY l_partkey ORDER BY rn
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS obv
        FROM sg ORDER BY l_partkey, rn""")
    },
    Some("""WITH b AS (SELECT l_partkey,
                              CAST(round(l_extendedprice * 100) AS BIGINT)
                                AS c,
                              CAST(round(l_quantity) AS BIGINT) AS q,
                              row_number() OVER (PARTITION BY l_partkey
                                ORDER BY l_shipdate, l_orderkey,
                                         l_linenumber) AS rn
                       FROM lineitem WHERE l_partkey <= 100),
                 sg AS (SELECT l_partkey, rn, c, q,
                               CASE WHEN LAG(c) OVER w IS NULL THEN 0
                                    WHEN c > LAG(c) OVER w THEN q
                                    WHEN c < LAG(c) OVER w THEN -q
                                    ELSE 0 END AS dq
                        FROM b
                        WINDOW w AS (PARTITION BY l_partkey ORDER BY rn))
            SELECT l_partkey, CAST(rn AS BIGINT) AS rn, c,
                   CAST(SUM(dq) OVER (PARTITION BY l_partkey ORDER BY rn
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS obv
            FROM sg ORDER BY l_partkey, rn"""))

  // ---------------- round-16 batch: concordance, process capability, and
  // the remaining classic technical-indicator windows (Ichimoku, floor-
  // trader pivots, Aroon, MFI) — each exact-integer end to end.

  // Kendall's tau-b between quantity and discount per return flag — the
  // rank-concordance complement of agg_spearman. DOMAIN COLLAPSE makes the
  // O(n²) pair statistic scale-free: lineitem collapses to joint
  // (qty, disc%) cells (≤ 50×11 per group — bounded by the value DOMAINS,
  // never volume), and concordant/discordant counts are one self-join over
  // that tiny cell relation with w_a·w_b products — exact BIGINT. Tie
  // corrections come from the x/y marginals; tau_b = 2(C−D) /
  // (√A2·√B2) with A2 = n(n−1) − Σtx(tx−1) evaluated as one float
  // expression over exact integers at the boundary.
  private val aggKendallTau = Op(
    "agg_kendall_tau",
    (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_kt")
      s.sql("""
        WITH cells AS (SELECT l_returnflag AS g,
                              CAST(round(l_quantity) AS BIGINT) AS x,
                              CAST(round(l_discount * 100) AS BIGINT) AS y,
                              CAST(COUNT(*) AS BIGINT) AS w
                       FROM lineitem_kt GROUP BY 1, 2, 3),
             pairs AS (SELECT a.g,
                              SUM(CASE WHEN (a.x < b.x AND a.y < b.y)
                                         OR (a.x > b.x AND a.y > b.y)
                                       THEN a.w * b.w ELSE 0L END) AS c2,
                              SUM(CASE WHEN (a.x < b.x AND a.y > b.y)
                                         OR (a.x > b.x AND a.y < b.y)
                                       THEN a.w * b.w ELSE 0L END) AS d2
                       FROM cells a JOIN cells b ON a.g = b.g
                       GROUP BY a.g),
             mx AS (SELECT g, SUM(wx * (wx - 1)) AS tx2
                    FROM (SELECT g, x, SUM(w) AS wx
                          FROM cells GROUP BY g, x) GROUP BY g),
             my AS (SELECT g, SUM(wy * (wy - 1)) AS ty2
                    FROM (SELECT g, y, SUM(w) AS wy
                          FROM cells GROUP BY g, y) GROUP BY g),
             mn AS (SELECT g, SUM(w) AS n FROM cells GROUP BY g)
        SELECT mn.g AS returnflag, mn.n AS n,
               pairs.c2 div 2 AS concordant, pairs.d2 div 2 AS discordant,
               round((pairs.c2 - pairs.d2) /
                 sqrt(CAST(mn.n * (mn.n - 1) - mx.tx2 AS DOUBLE)) /
                 sqrt(CAST(mn.n * (mn.n - 1) - my.ty2 AS DOUBLE)), 6)
                 AS tau_b
        FROM mn JOIN pairs ON pairs.g = mn.g
        JOIN mx ON mx.g = mn.g JOIN my ON my.g = mn.g
        ORDER BY returnflag""")
    },
    Some("""WITH cells AS (SELECT l_returnflag AS g,
                                  CAST(round(l_quantity) AS BIGINT) AS x,
                                  CAST(round(l_discount * 100) AS BIGINT) AS y,
                                  CAST(COUNT(*) AS BIGINT) AS w
                           FROM lineitem GROUP BY 1, 2, 3),
                 pairs AS (SELECT a.g,
                                  CAST(SUM(CASE WHEN (a.x < b.x AND a.y < b.y)
                                             OR (a.x > b.x AND a.y > b.y)
                                           THEN a.w * b.w ELSE 0 END)
                                       AS BIGINT) AS c2,
                                  CAST(SUM(CASE WHEN (a.x < b.x AND a.y > b.y)
                                             OR (a.x > b.x AND a.y < b.y)
                                           THEN a.w * b.w ELSE 0 END)
                                       AS BIGINT) AS d2
                           FROM cells a JOIN cells b ON a.g = b.g
                           GROUP BY a.g),
                 mx AS (SELECT g, CAST(SUM(wx * (wx - 1)) AS BIGINT) AS tx2
                        FROM (SELECT g, x, CAST(SUM(w) AS BIGINT) AS wx
                              FROM cells GROUP BY g, x) GROUP BY g),
                 my AS (SELECT g, CAST(SUM(wy * (wy - 1)) AS BIGINT) AS ty2
                        FROM (SELECT g, y, CAST(SUM(w) AS BIGINT) AS wy
                              FROM cells GROUP BY g, y) GROUP BY g),
                 mn AS (SELECT g, CAST(SUM(w) AS BIGINT) AS n
                        FROM cells GROUP BY g)
            SELECT mn.g AS returnflag, mn.n AS n,
                   pairs.c2 // 2 AS concordant, pairs.d2 // 2 AS discordant,
                   round((pairs.c2 - pairs.d2) /
                     sqrt(CAST(mn.n * (mn.n - 1) - mx.tx2 AS DOUBLE)) /
                     sqrt(CAST(mn.n * (mn.n - 1) - my.ty2 AS DOUBLE)), 6)
                     AS tau_b
            FROM mn JOIN pairs ON pairs.g = mn.g
            JOIN mx ON mx.g = mn.g JOIN my ON my.g = mn.g
            ORDER BY returnflag"""))

  // Process capability (Cp / Cpk) per event type against fixed spec limits
  // [0, 50000] cents — the SPC summary next to window_spc_rule's control
  // chart. One partial→final pass of exact BIGINT moments (n, Σx, Σx²);
  // mean/stddev evaluate once per group in float64 from those exact
  // integers, Cp = (USL−LSL)/6σ and Cpk = min(USL−μ, μ−LSL)/3σ round to
  // 6 dp at the boundary. σ = 0 groups publish NULL via NULLIF (a
  // zero-variance process has undefined capability).
  private val aggCpk = Op(
    "agg_cpk",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_cpk")
      s.sql("""
        WITH m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(CAST(round(value * 100) AS BIGINT))
                               AS BIGINT) AS s1,
                          CAST(SUM(CAST(round(value * 100) AS BIGINT) *
                                   CAST(round(value * 100) AS BIGINT))
                               AS BIGINT) AS s2
                   FROM events_cpk GROUP BY 1),
             st AS (SELECT event_type, n,
                           CAST(s1 AS DOUBLE) / n AS mu,
                           sqrt((s2 - CAST(s1 AS DOUBLE) / n * s1)
                                / (n - 1)) AS sigma
                    FROM m WHERE n > 1)
        SELECT event_type, n,
               round(50000.0 / (6.0 * NULLIF(sigma, 0.0D)), 6) AS cp,
               round(LEAST(50000.0 - mu, mu - 0.0) /
                     (3.0 * NULLIF(sigma, 0.0D)), 6) AS cpk
        FROM st ORDER BY event_type""")
    },
    Some("""WITH m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(SUM(CAST(round(value * 100) AS BIGINT))
                                   AS BIGINT) AS s1,
                              CAST(SUM(CAST(round(value * 100) AS BIGINT) *
                                       CAST(round(value * 100) AS BIGINT))
                                   AS BIGINT) AS s2
                       FROM events GROUP BY 1),
                 st AS (SELECT event_type, n,
                               CAST(s1 AS DOUBLE) / n AS mu,
                               sqrt((s2 - CAST(s1 AS DOUBLE) / n * s1)
                                    / (n - 1)) AS sigma
                        FROM m WHERE n > 1)
            SELECT event_type, n,
                   round(50000.0 / (6.0 * NULLIF(sigma, 0.0)), 6) AS cp,
                   round(LEAST(50000.0 - mu, mu - 0.0) /
                         (3.0 * NULLIF(sigma, 0.0)), 6) AS cpk
            FROM st ORDER BY event_type"""))

  // Ichimoku cloud per part over the lineitem price series: tenkan (9),
  // kijun (26), senkou A (their mean), senkou B (52) — published in
  // SCALED integers (×2 / ×4 cents) so the /2 midpoints never divide:
  // tenkan2 = max9+min9, kijun2 = max26+min26, span_a4 = tenkan2+kijun2,
  // span_b2 = max52+min52 — exact BIGINT end to end, nothing to round.
  // All four trailing frames share ONE (part / shipdate,key) sort — a
  // single shuffle; per-row state is O(52) regardless of volume. The sort
  // includes the price so full-duplicate keys stay frame-deterministic.
  private val windowIchimoku = Op(
    "window_ichimoku",
    (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_ich")
      s.sql("""
        WITH b AS (SELECT l_partkey AS pk,
                          CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
                          l_shipdate AS sd, l_orderkey AS ok,
                          l_linenumber AS ln
                   FROM lineitem_ich WHERE l_partkey % 97 = 0),
             w AS (SELECT pk, c,
                          CAST(row_number() OVER o AS BIGINT) AS rn,
                          MAX(c) OVER o9 + MIN(c) OVER o9 AS tenkan2,
                          MAX(c) OVER o26 + MIN(c) OVER o26 AS kijun2,
                          MAX(c) OVER o52 + MIN(c) OVER o52 AS span_b2
                   FROM b
                   WINDOW o AS (PARTITION BY pk ORDER BY sd, ok, ln, c),
                          o9 AS (PARTITION BY pk ORDER BY sd, ok, ln, c
                            ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
                          o26 AS (PARTITION BY pk ORDER BY sd, ok, ln, c
                            ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
                          o52 AS (PARTITION BY pk ORDER BY sd, ok, ln, c
                            ROWS BETWEEN 51 PRECEDING AND CURRENT ROW))
        SELECT pk, rn, c, tenkan2, kijun2,
               tenkan2 + kijun2 AS span_a4, span_b2
        FROM w ORDER BY pk, rn""")
    },
    Some("""WITH b AS (SELECT l_partkey AS pk,
                              CAST(round(l_extendedprice * 100) AS BIGINT)
                                AS c,
                              l_shipdate AS sd, l_orderkey AS ok,
                              l_linenumber AS ln
                       FROM lineitem WHERE l_partkey % 97 = 0),
                 w AS (SELECT pk, c,
                              CAST(row_number() OVER o AS BIGINT) AS rn,
                              MAX(c) OVER o9 + MIN(c) OVER o9 AS tenkan2,
                              MAX(c) OVER o26 + MIN(c) OVER o26 AS kijun2,
                              MAX(c) OVER o52 + MIN(c) OVER o52 AS span_b2
                       FROM b
                       WINDOW o AS (PARTITION BY pk
                                    ORDER BY sd, ok, ln, c),
                              o9 AS (PARTITION BY pk
                                ORDER BY sd, ok, ln, c
                                ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
                              o26 AS (PARTITION BY pk
                                ORDER BY sd, ok, ln, c
                                ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
                              o52 AS (PARTITION BY pk
                                ORDER BY sd, ok, ln, c
                                ROWS BETWEEN 51 PRECEDING AND CURRENT ROW))
            SELECT pk, rn, c, tenkan2, kijun2,
                   tenkan2 + kijun2 AS span_a4, span_b2
            FROM w ORDER BY pk, rn"""))

  // Floor-trader pivot points per part per day from the PREVIOUS day's
  // (H, L, C) bar — P = (H+L+C)/3, R1 = 2P−L, S1 = 2P−H, R2 = P+(H−L),
  // S2 = P−(H−L) — all published at ×3 scale (triple cents) so the /3
  // never divides: exact BIGINT, breakout flags compare 3·H_today against
  // R1×3 exactly. The close is the argmax pick on the unique
  // (orderkey, linenumber, cents) struct order (the resample_ohlc
  // protocol); daily bars collapse map-side, the lag is one sort over the
  // bounded calendar×part domain.
  private val windowPivotPoints = Op(
    "window_pivot_points",
    (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_pp")
      s.sql("""
        WITH b AS (SELECT l_partkey AS pk,
                          unix_timestamp(CAST(l_shipdate AS TIMESTAMP))
                            div 86400 AS day,
                          CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
                          l_orderkey AS ok, l_linenumber AS ln
                   FROM lineitem_pp WHERE l_partkey % 25 = 3),
             daily AS (SELECT pk, day, MAX(c) AS h, MIN(c) AS l,
                              max(named_struct('ok', ok, 'ln', ln,
                                               'c', c)).c AS cl
                       FROM b GROUP BY pk, day),
             lg AS (SELECT pk, day, h, l, cl,
                           LAG(h) OVER w AS ph, LAG(l) OVER w AS pl,
                           LAG(cl) OVER w AS pcl
                    FROM daily
                    WINDOW w AS (PARTITION BY pk ORDER BY day))
        SELECT pk, day, h, l, cl,
               ph + pl + pcl AS p3,
               2 * (ph + pl + pcl) - 3 * pl AS r1_3,
               2 * (ph + pl + pcl) - 3 * ph AS s1_3,
               (ph + pl + pcl) + 3 * (ph - pl) AS r2_3,
               (ph + pl + pcl) - 3 * (ph - pl) AS s2_3,
               3 * h > 2 * (ph + pl + pcl) - 3 * pl AS breakout,
               3 * l < 2 * (ph + pl + pcl) - 3 * ph AS breakdown
        FROM lg WHERE ph IS NOT NULL
        ORDER BY pk, day""")
    },
    Some("""WITH b AS (SELECT l_partkey AS pk,
                              CAST(floor(epoch(l_shipdate)) AS BIGINT)
                                // 86400 AS day,
                              CAST(round(l_extendedprice * 100) AS BIGINT)
                                AS c,
                              l_orderkey AS ok, l_linenumber AS ln
                       FROM lineitem WHERE l_partkey % 25 = 3),
                 daily AS (SELECT pk, day, MAX(c) AS h, MIN(c) AS l,
                                  (max({'ok': ok, 'ln': ln, 'c': c})).c
                                    AS cl
                           FROM b GROUP BY pk, day),
                 lg AS (SELECT pk, day, h, l, cl,
                               LAG(h) OVER w AS ph, LAG(l) OVER w AS pl,
                               LAG(cl) OVER w AS pcl
                        FROM daily
                        WINDOW w AS (PARTITION BY pk ORDER BY day))
            SELECT pk, day, h, l, cl,
                   ph + pl + pcl AS p3,
                   2 * (ph + pl + pcl) - 3 * pl AS r1_3,
                   2 * (ph + pl + pcl) - 3 * ph AS s1_3,
                   (ph + pl + pcl) + 3 * (ph - pl) AS r2_3,
                   (ph + pl + pcl) - 3 * (ph - pl) AS s2_3,
                   3 * h > 2 * (ph + pl + pcl) - 3 * pl AS breakout,
                   3 * l < 2 * (ph + pl + pcl) - 3 * ph AS breakdown
            FROM lg WHERE ph IS NOT NULL
            ORDER BY pk, day"""))

  // Aroon oscillator per user over the event value series: bars-since-high
  // and bars-since-low inside the trailing 25 rows via the ARGMAX-IN-FRAME
  // struct-max trick — max(struct(c, rn)) over the frame yields the row
  // number of the most recent maximum (ties break to the latest, the Aroon
  // convention) with NO self-join and O(frame) state. aroon_up/down are
  // exact basis points by integer division over the effective period
  // (LEAST(rn, 25) — warm-up rows use the available history, the standard
  // convention). One (user / ts,event_id) sort; event_id is unique so the
  // frame contents are total-order deterministic.
  private val windowAroon = Op(
    "window_aroon",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_ar")
      s.sql("""
        WITH b AS (SELECT user_id AS u, event_id AS e,
                          CAST(round(value * 100) AS BIGINT) AS c, ts
                   FROM events_ar WHERE user_id % 10 = 3),
             r AS (SELECT u, e, c,
                          CAST(row_number() OVER o AS BIGINT) AS rn
                   FROM b WINDOW o AS (PARTITION BY u ORDER BY ts, e)),
             f AS (SELECT u, e, c, rn,
                          max(named_struct('c', c, 'rn', rn)) OVER o25
                            AS hi,
                          max(named_struct('c', -c, 'rn', rn)) OVER o25
                            AS lo
                   FROM r WINDOW o25 AS (PARTITION BY u ORDER BY rn
                     ROWS BETWEEN 24 PRECEDING AND CURRENT ROW))
        SELECT u AS user_id, e AS event_id, rn, c,
               (LEAST(rn, 25L) - (rn - hi.rn)) * 10000
                 div LEAST(rn, 25L) AS aroon_up_bp,
               (LEAST(rn, 25L) - (rn - lo.rn)) * 10000
                 div LEAST(rn, 25L) AS aroon_down_bp
        FROM f ORDER BY user_id, rn""")
    },
    Some("""WITH b AS (SELECT user_id AS u, event_id AS e,
                              CAST(round(value * 100) AS BIGINT) AS c, ts
                       FROM events WHERE user_id % 10 = 3),
                 r AS (SELECT u, e, c,
                              CAST(row_number() OVER o AS BIGINT) AS rn
                       FROM b WINDOW o AS (PARTITION BY u ORDER BY ts, e)),
                 f AS (SELECT u, e, c, rn,
                              max({'c': c, 'rn': rn}) OVER o25 AS hi,
                              max({'c': -c, 'rn': rn}) OVER o25 AS lo
                       FROM r WINDOW o25 AS (PARTITION BY u ORDER BY rn
                         ROWS BETWEEN 24 PRECEDING AND CURRENT ROW))
            SELECT u AS user_id, e AS event_id, rn, c,
                   (LEAST(rn, 25) - (rn - hi.rn)) * 10000
                     // LEAST(rn, 25) AS aroon_up_bp,
                   (LEAST(rn, 25) - (rn - lo.rn)) * 10000
                     // LEAST(rn, 25) AS aroon_down_bp
            FROM f ORDER BY user_id, rn"""))

  // Money Flow Index per part over daily (H, L, C, volume) bars: typical
  // price at ×3 scale (tp3 = H+L+C, exact), raw money flow = tp3 ×
  // Σquantity (BIGINT), split positive/negative by tp3 vs the prior day
  // (equal days contribute to neither, the MFI convention), trailing-14-day
  // sums, mfi_bp = pos·10⁴ div (pos+neg) exact with a GREATEST(·,1)
  // saturation for all-flat windows. The daily collapse happens map-side;
  // the lag + frame ride the bounded calendar×part domain, never rows.
  private val windowMfi = Op(
    "window_mfi",
    (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_mfi")
      s.sql("""
        WITH b AS (SELECT l_partkey AS pk,
                          unix_timestamp(CAST(l_shipdate AS TIMESTAMP))
                            div 86400 AS day,
                          CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
                          CAST(round(l_quantity) AS BIGINT) AS q,
                          l_orderkey AS ok, l_linenumber AS ln
                   FROM lineitem_mfi WHERE l_partkey % 25 = 7),
             daily AS (SELECT pk, day,
                              MAX(c) + MIN(c) +
                                max(named_struct('ok', ok, 'ln', ln,
                                                 'c', c)).c AS tp3,
                              CAST(SUM(q) AS BIGINT) AS vol
                       FROM b GROUP BY pk, day),
             dirs AS (SELECT pk, day, tp3, vol,
                             CAST(row_number() OVER w AS BIGINT) AS rn,
                             CASE WHEN tp3 > LAG(tp3) OVER w
                                  THEN tp3 * vol ELSE 0L END AS pos_flow,
                             CASE WHEN tp3 < LAG(tp3) OVER w
                                  THEN tp3 * vol ELSE 0L END AS neg_flow
                      FROM daily
                      WINDOW w AS (PARTITION BY pk ORDER BY day)),
             fr AS (SELECT pk, day, tp3, vol, rn,
                           CAST(SUM(pos_flow) OVER w14 AS BIGINT) AS pos,
                           CAST(SUM(neg_flow) OVER w14 AS BIGINT) AS neg
                    FROM dirs
                    WINDOW w14 AS (PARTITION BY pk ORDER BY rn
                      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        SELECT pk, day, tp3, vol, pos, neg,
               pos * 10000 div GREATEST(pos + neg, 1L) AS mfi_bp
        FROM fr WHERE rn >= 15 ORDER BY pk, day""")
    },
    Some("""WITH b AS (SELECT l_partkey AS pk,
                              CAST(floor(epoch(l_shipdate)) AS BIGINT)
                                // 86400 AS day,
                              CAST(round(l_extendedprice * 100) AS BIGINT)
                                AS c,
                              CAST(round(l_quantity) AS BIGINT) AS q,
                              l_orderkey AS ok, l_linenumber AS ln
                       FROM lineitem WHERE l_partkey % 25 = 7),
                 daily AS (SELECT pk, day,
                                  MAX(c) + MIN(c) +
                                    (max({'ok': ok, 'ln': ln, 'c': c})).c
                                    AS tp3,
                                  CAST(SUM(q) AS BIGINT) AS vol
                           FROM b GROUP BY pk, day),
                 dirs AS (SELECT pk, day, tp3, vol,
                                 CAST(row_number() OVER w AS BIGINT) AS rn,
                                 CASE WHEN tp3 > LAG(tp3) OVER w
                                      THEN tp3 * vol ELSE 0 END AS pos_flow,
                                 CASE WHEN tp3 < LAG(tp3) OVER w
                                      THEN tp3 * vol ELSE 0 END AS neg_flow
                          FROM daily
                          WINDOW w AS (PARTITION BY pk ORDER BY day)),
                 fr AS (SELECT pk, day, tp3, vol, rn,
                               CAST(SUM(pos_flow) OVER w14 AS BIGINT)
                                 AS pos,
                               CAST(SUM(neg_flow) OVER w14 AS BIGINT)
                                 AS neg
                        FROM dirs
                        WINDOW w14 AS (PARTITION BY pk ORDER BY rn
                          ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
            SELECT pk, day, tp3, vol, pos, neg,
                   pos * 10000 // GREATEST(pos + neg, 1) AS mfi_bp
            FROM fr WHERE rn >= 15 ORDER BY pk, day"""))

  // Exact Shapley-value channel attribution: which pre-purchase channels
  // (click/error/signup/view) deserve credit for conversions. Users
  // collapse to a 4-bit channel-set mask (≤16 distinct) with converted
  // counts; coalition values v(S) = converted users whose set ⊆ S come
  // from one 16×16 subset-test join over that TINY relation — the
  // exponential Shapley lattice is bounded by the CHANNEL count, never by
  // volume (the user collapse is one partial→final aggregate). Shapley
  // weights at n=4 are |S|!·(3−|S|)!, so 24·φ is an exact BIGINT
  // combination of the v's — published as phi_q24 with ONE division at
  // the boundary. Efficiency property Σφ = v(N) − v(∅) holds exactly in
  // the quantized integers.
  private val aggShapleyAttribution = Op(
    "agg_shapley_attribution",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_shap")
      s.sql("""
        WITH u AS (SELECT user_id,
                          CAST(MAX(CASE WHEN event_type = 'click' THEN 1
                                   ELSE 0 END) * 1
                             + MAX(CASE WHEN event_type = 'error' THEN 1
                                   ELSE 0 END) * 2
                             + MAX(CASE WHEN event_type = 'signup' THEN 1
                                   ELSE 0 END) * 4
                             + MAX(CASE WHEN event_type = 'view' THEN 1
                                   ELSE 0 END) * 8 AS INT) AS m,
                          MAX(CASE WHEN event_type = 'purchase' THEN 1
                              ELSE 0 END) AS conv
                   FROM events_shap GROUP BY user_id),
             mc AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS w
                    FROM u WHERE conv = 1 GROUP BY m),
             co AS (SELECT explode(sequence(0, 15)) AS sc),
             v AS (SELECT co.sc,
                          CAST(COALESCE(SUM(CASE WHEN (mc.m & co.sc) = mc.m
                            THEN mc.w END), 0) AS BIGINT) AS v
                   FROM co LEFT JOIN mc ON true GROUP BY co.sc),
             ch AS (SELECT explode(array(1, 2, 4, 8)) AS c)
        SELECT CASE ch.c WHEN 1 THEN 'click' WHEN 2 THEN 'error'
                         WHEN 4 THEN 'signup' ELSE 'view' END AS channel,
               CAST(SUM((CASE bit_count(sv.sc) WHEN 0 THEN 6 WHEN 1 THEN 2
                         WHEN 2 THEN 2 ELSE 6 END)
                        * (vi.v - sv.v)) AS BIGINT) AS phi_q24,
               round(SUM((CASE bit_count(sv.sc) WHEN 0 THEN 6 WHEN 1 THEN 2
                          WHEN 2 THEN 2 ELSE 6 END)
                         * (vi.v - sv.v)) / 24.0D, 6) AS shapley
        FROM ch JOIN v sv ON (sv.sc & ch.c) = 0
        JOIN v vi ON vi.sc = (sv.sc | ch.c)
        GROUP BY ch.c ORDER BY channel""")
    },
    Some("""WITH u AS (SELECT user_id,
                              CAST(MAX(CASE WHEN event_type = 'click' THEN 1
                                       ELSE 0 END) * 1
                                 + MAX(CASE WHEN event_type = 'error' THEN 1
                                       ELSE 0 END) * 2
                                 + MAX(CASE WHEN event_type = 'signup' THEN 1
                                       ELSE 0 END) * 4
                                 + MAX(CASE WHEN event_type = 'view' THEN 1
                                       ELSE 0 END) * 8 AS INT) AS m,
                              MAX(CASE WHEN event_type = 'purchase' THEN 1
                                  ELSE 0 END) AS conv
                       FROM events GROUP BY user_id),
                 mc AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS w
                        FROM u WHERE conv = 1 GROUP BY m),
                 co AS (SELECT CAST(unnest(range(0, 16)) AS INT) AS sc),
                 v AS (SELECT co.sc,
                              CAST(COALESCE(SUM(CASE WHEN (mc.m & co.sc) = mc.m
                                THEN mc.w END), 0) AS BIGINT) AS v
                       FROM co LEFT JOIN mc ON true GROUP BY co.sc),
                 ch AS (SELECT unnest([1, 2, 4, 8]) AS c)
            SELECT CASE ch.c WHEN 1 THEN 'click' WHEN 2 THEN 'error'
                             WHEN 4 THEN 'signup' ELSE 'view' END AS channel,
                   CAST(SUM((CASE bit_count(sv.sc) WHEN 0 THEN 6 WHEN 1 THEN 2
                             WHEN 2 THEN 2 ELSE 6 END)
                            * (vi.v - sv.v)) AS BIGINT) AS phi_q24,
                   round(SUM((CASE bit_count(sv.sc) WHEN 0 THEN 6 WHEN 1 THEN 2
                              WHEN 2 THEN 2 ELSE 6 END)
                             * (vi.v - sv.v)) / 24.0, 6) AS shapley
            FROM ch JOIN v sv ON (sv.sc & ch.c) = 0
            JOIN v vi ON vi.sc = (sv.sc | ch.c)
            GROUP BY ch.c ORDER BY channel"""))

  // Differentially-private mean release per order priority: value clamped
  // to [0, $50k] cents (the DP sensitivity bound), Laplace noise on BOTH
  // the clamped sum (scale = sensitivity/ε) and the count (scale = 1/ε)
  // from the same md5 inverse-CDF draw privacy_dp_histogram uses (noise
  // quantized to 1e-6 BEFORE the add so both engines publish identical
  // releases; a seeded draw is the gate's determinism requirement, not a
  // privacy mechanism — the CSPRNG swap is one line). O(groups) noise
  // math after one partial→final clamped-moments pass.
  private val privacyDpMean = Op(
    "privacy_dp_mean",
    (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_dpm")
      s.sql("""
        WITH m AS (SELECT o_orderpriority AS prio,
                          CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(LEAST(CAST(round(o_totalprice * 100)
                            AS BIGINT), 5000000L)) AS BIGINT) AS s_c
                   FROM orders_dpm GROUP BY 1),
             u AS (SELECT prio, n, s_c,
                          CAST(CAST(conv(substring(md5(concat('dpms:',
                            prio)), 1, 15), 16, 10) AS BIGINT) AS DOUBLE)
                            / 1152921504606846976.0D - 0.5D AS us,
                          CAST(CAST(conv(substring(md5(concat('dpmn:',
                            prio)), 1, 15), 16, 10) AS BIGINT) AS DOUBLE)
                            / 1152921504606846976.0D - 0.5D AS un
                   FROM m),
             nz AS (SELECT prio, n, s_c,
                           CAST(round(-sign(us) *
                             ln(GREATEST(1.0D - 2.0D*abs(us), 1e-18D))
                             * 5000000.0D * 1000000) AS BIGINT) AS zs_q,
                           CAST(round(-sign(un) *
                             ln(GREATEST(1.0D - 2.0D*abs(un), 1e-18D))
                             * 1000000) AS BIGINT) AS zn_q
                    FROM u)
        SELECT prio, n,
               round((s_c + zs_q / 1000000.0D) /
                     GREATEST(n + zn_q / 1000000.0D, 1.0D) / 100.0D, 6)
                 AS dp_mean
        FROM nz ORDER BY prio""")
    },
    Some("""WITH m AS (SELECT o_orderpriority AS prio,
                              CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(SUM(LEAST(CAST(round(o_totalprice * 100)
                                AS BIGINT), 5000000)) AS BIGINT) AS s_c
                       FROM orders GROUP BY 1),
                 u AS (SELECT prio, n, s_c,
                              CAST(('0x' || substr(md5('dpms:' || prio),
                                   1, 15))::BIGINT AS DOUBLE)
                              / 1152921504606846976.0 - 0.5 AS us,
                              CAST(('0x' || substr(md5('dpmn:' || prio),
                                   1, 15))::BIGINT AS DOUBLE)
                              / 1152921504606846976.0 - 0.5 AS un
                       FROM m),
                 nz AS (SELECT prio, n, s_c,
                               CAST(round(-sign(us) *
                                 ln(GREATEST(1.0 - 2.0*abs(us), 1e-18))
                                 * 5000000.0 * 1000000) AS BIGINT) AS zs_q,
                               CAST(round(-sign(un) *
                                 ln(GREATEST(1.0 - 2.0*abs(un), 1e-18))
                                 * 1000000) AS BIGINT) AS zn_q
                        FROM u)
            SELECT prio, n,
                   round((s_c + zs_q / 1000000.0) /
                         GREATEST(n + zn_q / 1000000.0, 1.0) / 100.0, 6)
                     AS dp_mean
            FROM nz ORDER BY prio"""))

  // McNemar's test for paired binary outcomes: did per-user conversion
  // CHANGE between the first and second half of the observation window?
  // (outcome = a high-value signup — rare enough that the discordant
  // cells are populated; an always-on outcome like any-purchase makes
  // b = c = 0 at every SF)
  // Each user collapses to (converted in p1, converted in p2) — one
  // partial→final pass — and the test reads only the discordant counts
  // b (yes→no) and c (no→yes): χ² = (b−c)²/(b+c), exact BIGINTs until
  // the one division, NULL when b+c = 0 (no discordance — test
  // undefined). The classic before/after experiment readout.
  private val aggMcnemar = Op(
    "agg_mcnemar",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_mcn")
      s.sql("""
        WITH u AS (SELECT user_id,
                          MAX(CASE WHEN event_type = 'signup'
                               AND value > 300
                               AND ts < TIMESTAMP '2024-01-16 00:00:00'
                              THEN 1 ELSE 0 END) AS p1,
                          MAX(CASE WHEN event_type = 'signup'
                               AND value > 300
                               AND ts >= TIMESTAMP '2024-01-16 00:00:00'
                              THEN 1 ELSE 0 END) AS p2
                   FROM events_mcn GROUP BY user_id),
             t AS (SELECT
                     CAST(SUM(CASE WHEN p1 = 1 AND p2 = 0 THEN 1
                              ELSE 0 END) AS BIGINT) AS b,
                     CAST(SUM(CASE WHEN p1 = 0 AND p2 = 1 THEN 1
                              ELSE 0 END) AS BIGINT) AS c,
                     CAST(COUNT(*) AS BIGINT) AS n_users
                   FROM u)
        SELECT n_users, b, c,
               round((b - c) * (b - c) /
                     CAST(NULLIF(b + c, 0) AS DOUBLE), 6) AS chi2
        FROM t""")
    },
    Some("""WITH u AS (SELECT user_id,
                              MAX(CASE WHEN event_type = 'signup'
                                   AND value > 300
                                   AND ts < TIMESTAMP '2024-01-16 00:00:00'
                                  THEN 1 ELSE 0 END) AS p1,
                              MAX(CASE WHEN event_type = 'signup'
                                   AND value > 300
                                   AND ts >= TIMESTAMP '2024-01-16 00:00:00'
                                  THEN 1 ELSE 0 END) AS p2
                       FROM events GROUP BY user_id),
                 t AS (SELECT
                         CAST(SUM(CASE WHEN p1 = 1 AND p2 = 0 THEN 1
                                  ELSE 0 END) AS BIGINT) AS b,
                         CAST(SUM(CASE WHEN p1 = 0 AND p2 = 1 THEN 1
                                  ELSE 0 END) AS BIGINT) AS c,
                         CAST(COUNT(*) AS BIGINT) AS n_users
                       FROM u)
            SELECT n_users, b, c,
                   round((b - c) * (b - c) /
                         CAST(NULLIF(b + c, 0) AS DOUBLE), 6) AS chi2
            FROM t"""))

  // ADX (average directional index) per event type over hourly OHLC bars —
  // the directional-strength indicator completing the resample_atr family.
  // TR/+DM/−DM come from one lag pass; the THREE Wilder smoothings
  // (S_t = S_{t−1} − S_{t−1} div 14 + x_t, a genuine recursion) and the
  // ADX recursion run in the documented secondary-sort mapPartitions scan
  // (one shuffle on event_type, O(1) state per row) in exact BIGINT cents;
  // DI/DX/ADX are exact basis points by integer division over strictly
  // non-negative operands. The oracle replays the identical integer
  // recursion breadth-first with a recursive CTE (the window_cusum
  // protocol). Warm-up convention: seeds at bar 14 (Σ of the first 14
  // TR/DM), ADX seeds at bar 27 (mean of the first 14 DX) — rows publish
  // from bar 27 on.
  private val windowAdx = Op(
    "window_adx",
    (s, d) => {
      import s.implicits._
      t(s, d, "events").createOrReplaceTempView("events_adx")
      val bars = s.sql("""
        SELECT event_type,
               unix_timestamp(ts) div 3600 AS h,
               CAST(MAX(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS hi,
               CAST(MIN(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS lo,
               CAST(MAX(struct(ts, event_id,
                    CAST(round(value * 100) AS BIGINT))).col3 AS BIGINT) AS cl
        FROM events_adx GROUP BY 1, 2""")
      bars.select("event_type", "h", "hi", "lo", "cl")
        .as[(String, Long, Long, Long, Long)]
        .repartition(col("event_type"))
        .sortWithinPartitions("event_type", "h")
        .mapPartitions { it =>
          var et = ""; var have = false
          var phi = 0L; var plo = 0L; var pcl = 0L
          var k = 0L
          var str = 0L; var sdp = 0L; var sdm = 0L
          var dxacc = 0L; var adx = 0L
          it.flatMap { case (t, h, hi, lo, cl) =>
            if (t != et) { et = t; have = false; k = 0L
              str = 0L; sdp = 0L; sdm = 0L; dxacc = 0L; adx = 0L }
            val out =
              if (!have) { have = true; None }
              else {
                val tr = math.max(hi - lo,
                  math.max(math.abs(hi - pcl), math.abs(lo - pcl)))
                val up = hi - phi; val dn = plo - lo
                val dmp = if (up > dn && up > 0L) up else 0L
                val dmm = if (dn > up && dn > 0L) dn else 0L
                k += 1
                if (k <= 14L) { str += tr; sdp += dmp; sdm += dmm }
                else {
                  str = str - str / 14L + tr
                  sdp = sdp - sdp / 14L + dmp
                  sdm = sdm - sdm / 14L + dmm
                }
                if (k < 14L) None
                else {
                  val dip = 10000L * sdp / math.max(str, 1L)
                  val dim = 10000L * sdm / math.max(str, 1L)
                  val dx = 10000L * math.abs(dip - dim) /
                    math.max(dip + dim, 1L)
                  if (k <= 27L) dxacc += dx
                  if (k == 27L) adx = dxacc / 14L
                  else if (k > 27L) adx = (adx * 13L + dx) / 14L
                  if (k >= 27L) Some((et, h, dip, dim, dx, adx)) else None
                }
              }
            phi = hi; plo = lo; pcl = cl
            out
          }
        }
        .toDF("event_type", "hour_idx", "di_plus_bp", "di_minus_bp",
          "dx_bp", "adx_bp")
        .orderBy("event_type", "hour_idx")
    },
    Some("""WITH RECURSIVE bar AS (
              SELECT event_type AS et,
                     CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
                     CAST(MAX(CAST(round(value * 100) AS BIGINT))
                          AS BIGINT) AS hi,
                     CAST(MIN(CAST(round(value * 100) AS BIGINT))
                          AS BIGINT) AS lo,
                     (MAX({'ts': ts, 'eid': event_id,
                           'c': CAST(round(value * 100) AS BIGINT)})).c
                       AS cl
              FROM events GROUP BY 1, 2),
            tdm AS (
              SELECT et, h,
                     ROW_NUMBER() OVER w - 1 AS k,
                     GREATEST(hi - lo, abs(hi - lag(cl) OVER w),
                              abs(lo - lag(cl) OVER w)) AS tr,
                     CASE WHEN hi - lag(hi) OVER w > lag(lo) OVER w - lo
                           AND hi - lag(hi) OVER w > 0
                          THEN hi - lag(hi) OVER w ELSE 0 END AS dmp,
                     CASE WHEN lag(lo) OVER w - lo > hi - lag(hi) OVER w
                           AND lag(lo) OVER w - lo > 0
                          THEN lag(lo) OVER w - lo ELSE 0 END AS dmm
              FROM bar
              WINDOW w AS (PARTITION BY et ORDER BY h)),
            seed AS (
              SELECT et, CAST(SUM(tr) AS BIGINT) AS str,
                     CAST(SUM(dmp) AS BIGINT) AS sdp,
                     CAST(SUM(dmm) AS BIGINT) AS sdm
              FROM tdm WHERE k BETWEEN 1 AND 14 GROUP BY et
              HAVING COUNT(*) = 14),
            r(et, k, str, sdp, sdm, dxacc, adx) AS (
              SELECT et, CAST(14 AS BIGINT), str, sdp, sdm,
                     10000 * abs(10000 * sdp // GREATEST(str, 1)
                               - 10000 * sdm // GREATEST(str, 1))
                       // GREATEST(10000 * sdp // GREATEST(str, 1)
                                 + 10000 * sdm // GREATEST(str, 1), 1),
                     CAST(0 AS BIGINT)
              FROM seed
              UNION ALL
              SELECT r.et, r.k + 1,
                     r.str - r.str // 14 + t.tr,
                     r.sdp - r.sdp // 14 + t.dmp,
                     r.sdm - r.sdm // 14 + t.dmm,
                     CASE WHEN r.k + 1 <= 27 THEN r.dxacc +
                       10000 * abs(10000 * (r.sdp - r.sdp // 14 + t.dmp)
                                     // GREATEST(r.str - r.str // 14 + t.tr, 1)
                                 - 10000 * (r.sdm - r.sdm // 14 + t.dmm)
                                     // GREATEST(r.str - r.str // 14 + t.tr, 1))
                         // GREATEST(10000 * (r.sdp - r.sdp // 14 + t.dmp)
                                     // GREATEST(r.str - r.str // 14 + t.tr, 1)
                                   + 10000 * (r.sdm - r.sdm // 14 + t.dmm)
                                     // GREATEST(r.str - r.str // 14 + t.tr, 1), 1)
                     ELSE r.dxacc END,
                     CASE WHEN r.k + 1 < 27 THEN CAST(0 AS BIGINT)
                          WHEN r.k + 1 = 27 THEN (r.dxacc +
                       10000 * abs(10000 * (r.sdp - r.sdp // 14 + t.dmp)
                                     // GREATEST(r.str - r.str // 14 + t.tr, 1)
                                 - 10000 * (r.sdm - r.sdm // 14 + t.dmm)
                                     // GREATEST(r.str - r.str // 14 + t.tr, 1))
                         // GREATEST(10000 * (r.sdp - r.sdp // 14 + t.dmp)
                                     // GREATEST(r.str - r.str // 14 + t.tr, 1)
                                   + 10000 * (r.sdm - r.sdm // 14 + t.dmm)
                                     // GREATEST(r.str - r.str // 14 + t.tr, 1), 1)) // 14
                     ELSE (r.adx * 13 +
                       10000 * abs(10000 * (r.sdp - r.sdp // 14 + t.dmp)
                                     // GREATEST(r.str - r.str // 14 + t.tr, 1)
                                 - 10000 * (r.sdm - r.sdm // 14 + t.dmm)
                                     // GREATEST(r.str - r.str // 14 + t.tr, 1))
                         // GREATEST(10000 * (r.sdp - r.sdp // 14 + t.dmp)
                                     // GREATEST(r.str - r.str // 14 + t.tr, 1)
                                   + 10000 * (r.sdm - r.sdm // 14 + t.dmm)
                                     // GREATEST(r.str - r.str // 14 + t.tr, 1), 1)) // 14
                     END
              FROM r JOIN tdm t ON t.et = r.et AND t.k = r.k + 1)
            SELECT r.et AS event_type, t.h AS hour_idx,
                   10000 * r.sdp // GREATEST(r.str, 1) AS di_plus_bp,
                   10000 * r.sdm // GREATEST(r.str, 1) AS di_minus_bp,
                   10000 * abs(10000 * r.sdp // GREATEST(r.str, 1)
                             - 10000 * r.sdm // GREATEST(r.str, 1))
                     // GREATEST(10000 * r.sdp // GREATEST(r.str, 1)
                               + 10000 * r.sdm // GREATEST(r.str, 1), 1)
                     AS dx_bp,
                   r.adx AS adx_bp
            FROM r JOIN tdm t ON t.et = r.et AND t.k = r.k
            WHERE r.k >= 27
            ORDER BY event_type, hour_idx"""))

  // Friedman test (nonparametric repeated-measures ANOVA over blocks):
  // does per-user spend RANK differently across the k=5 event types? Each
  // COMPLETE block (user with all 5 types) contributes one rank
  // permutation — ranks assigned on the exact (Σcents, type) total order
  // (deterministic tie-break by type name, the repo's ranking convention —
  // exact-integer spend makes true ties measure-zero-rare anyway). Blocks
  // collapse map-side; ranks are a ≤5-row window per block; the statistic
  // χ²_F = 12·ΣR²/(n·k·(k+1)) − 3·n·(k+1) evaluates once from exact
  // BIGINTs. Output: per-type rank sums + the global statistic.
  private val aggFriedmanTest = Op(
    "agg_friedman_test",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_fr")
      s.sql("""
        WITH b AS (SELECT user_id, event_type,
                          CAST(SUM(CAST(round(value * 100) AS BIGINT))
                               AS BIGINT) AS spend
                   FROM events_fr GROUP BY 1, 2),
             cb AS (SELECT user_id FROM b GROUP BY user_id
                    HAVING COUNT(*) = 5),
             r AS (SELECT b.user_id, b.event_type,
                          CAST(row_number() OVER (PARTITION BY b.user_id
                            ORDER BY b.spend, b.event_type) AS BIGINT)
                            AS rnk
                   FROM b JOIN cb ON b.user_id = cb.user_id),
             rs AS (SELECT event_type,
                           CAST(SUM(rnk) AS BIGINT) AS rank_sum,
                           CAST(COUNT(*) AS BIGINT) AS n_blocks
                    FROM r GROUP BY event_type),
             st AS (SELECT CAST(SUM(rank_sum * rank_sum) AS BIGINT) AS ssq,
                           MAX(n_blocks) AS n
                    FROM rs)
        SELECT rs.event_type, rs.rank_sum, rs.n_blocks,
               round(12.0D * st.ssq / (st.n * 5 * 6) - 3.0D * st.n * 6, 6)
                 AS chi2_f
        FROM rs CROSS JOIN st
        ORDER BY rs.event_type""")
    },
    Some("""WITH b AS (SELECT user_id, event_type,
                              CAST(SUM(CAST(round(value * 100) AS BIGINT))
                                   AS BIGINT) AS spend
                       FROM events GROUP BY 1, 2),
                 cb AS (SELECT user_id FROM b GROUP BY user_id
                        HAVING COUNT(*) = 5),
                 r AS (SELECT b.user_id, b.event_type,
                              CAST(row_number() OVER (PARTITION BY b.user_id
                                ORDER BY b.spend, b.event_type) AS BIGINT)
                                AS rnk
                       FROM b JOIN cb ON b.user_id = cb.user_id),
                 rs AS (SELECT event_type,
                               CAST(SUM(rnk) AS BIGINT) AS rank_sum,
                               CAST(COUNT(*) AS BIGINT) AS n_blocks
                        FROM r GROUP BY event_type),
                 st AS (SELECT CAST(SUM(rank_sum * rank_sum) AS BIGINT)
                                 AS ssq,
                               MAX(n_blocks) AS n
                        FROM rs)
            SELECT rs.event_type, rs.rank_sum, rs.n_blocks,
                   round(12.0 * st.ssq / (st.n * 5 * 6) - 3.0 * st.n * 6, 6)
                     AS chi2_f
            FROM rs CROSS JOIN st
            ORDER BY rs.event_type"""))

  // ZigZag pivot detection per part over daily closes — the swing-point
  // extractor charting pipelines run before pattern matching. Genuinely
  // path-dependent (a pivot confirms only when price RETRACES ≥ 10% from
  // the running extreme, and the reversal flips the tracked direction), so
  // it runs in the documented secondary-sort mapPartitions scan: O(1)
  // state (direction + running low/high extremes), one shuffle on the
  // part key. All compares are exact integer cross-multiplications
  // ((ext−c)·10⁴ ≥ 1000·ext); ambiguous double-trigger rows in the
  // undecided phase resolve DOWN-first (documented, replicated exactly in
  // the oracle's breadth-first recursive replay).
  private val windowZigzag = Op(
    "window_zigzag",
    (s, d) => {
      import s.implicits._
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_zz")
      val daily = s.sql("""
        SELECT l_partkey AS pk,
               unix_timestamp(CAST(l_shipdate AS TIMESTAMP)) div 86400
                 AS day,
               CAST(MAX(named_struct('ok', l_orderkey, 'ln', l_linenumber,
                    'c', CAST(round(l_extendedprice * 100) AS BIGINT))).c
                    AS BIGINT) AS c
        FROM lineitem_zz WHERE l_partkey % 25 = 19
        GROUP BY 1, 2""")
      daily.select("pk", "day", "c").as[(Long, Long, Long)]
        .repartition(col("pk"))
        .sortWithinPartitions("pk", "day")
        .mapPartitions { it =>
          var pk = Long.MinValue
          var started = false; var dir = 0
          var lov = 0L; var lod = 0L; var hiv = 0L; var hid = 0L
          it.flatMap { case (p, day, c) =>
            if (p != pk) { pk = p; started = false; dir = 0 }
            if (!started) {
              started = true; lov = c; lod = day; hiv = c; hid = day
              None
            } else if (dir == 0) {
              if ((hiv - c) * 10000L >= 1000L * hiv) {
                dir = -1; val out = (pk, hid, hiv, "high")
                lov = c; lod = day; Some(out)
              } else if ((c - lov) * 10000L >= 1000L * lov) {
                dir = 1; val out = (pk, lod, lov, "low")
                hiv = c; hid = day; Some(out)
              } else {
                if (c > hiv) { hiv = c; hid = day }
                if (c < lov) { lov = c; lod = day }
                None
              }
            } else if (dir == 1) {
              if (c > hiv) { hiv = c; hid = day; None }
              else if ((hiv - c) * 10000L >= 1000L * hiv) {
                dir = -1; val out = (pk, hid, hiv, "high")
                lov = c; lod = day; Some(out)
              } else None
            } else {
              if (c < lov) { lov = c; lod = day; None }
              else if ((c - lov) * 10000L >= 1000L * lov) {
                dir = 1; val out = (pk, lod, lov, "low")
                hiv = c; hid = day; Some(out)
              } else None
            }
          }
        }
        .toDF("pk", "pivot_day", "pivot_c", "kind")
        .orderBy("pk", "pivot_day", "kind")
    },
    Some("""WITH RECURSIVE daily AS (
              SELECT l_partkey AS pk,
                     CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400
                       AS day,
                     (MAX({'ok': l_orderkey, 'ln': l_linenumber,
                           'c': CAST(round(l_extendedprice * 100)
                                     AS BIGINT)})).c AS c
              FROM lineitem WHERE l_partkey % 25 = 19
              GROUP BY 1, 2),
            seq AS (SELECT pk, day, c,
                           row_number() OVER (PARTITION BY pk
                             ORDER BY day) AS rn
                    FROM daily),
            z(pk, rn, dir, lov, lod, hiv, hid, ev, ed, ekind) AS (
              SELECT pk, CAST(1 AS BIGINT), 0, c, day, c, day,
                     CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                     CAST(NULL AS VARCHAR)
              FROM seq WHERE rn = 1
              UNION ALL
              SELECT z.pk, z.rn + 1,
                     CASE WHEN z.dir = 0 THEN
                            CASE WHEN (z.hiv - s.c) * 10000 >= 1000 * z.hiv
                                 THEN -1
                                 WHEN (s.c - z.lov) * 10000 >= 1000 * z.lov
                                 THEN 1 ELSE 0 END
                          WHEN z.dir = 1 AND s.c <= z.hiv
                           AND (z.hiv - s.c) * 10000 >= 1000 * z.hiv
                          THEN -1
                          WHEN z.dir = -1 AND s.c >= z.lov
                           AND (s.c - z.lov) * 10000 >= 1000 * z.lov
                          THEN 1
                          ELSE z.dir END,
                     CASE WHEN z.dir = 0 THEN
                            CASE WHEN (z.hiv - s.c) * 10000 >= 1000 * z.hiv
                                 THEN s.c
                                 WHEN (s.c - z.lov) * 10000 >= 1000 * z.lov
                                 THEN z.lov
                                 WHEN s.c < z.lov THEN s.c ELSE z.lov END
                          WHEN z.dir = 1 THEN
                            CASE WHEN s.c <= z.hiv
                                  AND (z.hiv - s.c) * 10000 >= 1000 * z.hiv
                                 THEN s.c ELSE z.lov END
                          ELSE CASE WHEN s.c < z.lov THEN s.c
                                    ELSE z.lov END END,
                     CASE WHEN z.dir = 0 THEN
                            CASE WHEN (z.hiv - s.c) * 10000 >= 1000 * z.hiv
                                 THEN s.day
                                 WHEN (s.c - z.lov) * 10000 >= 1000 * z.lov
                                 THEN z.lod
                                 WHEN s.c < z.lov THEN s.day ELSE z.lod END
                          WHEN z.dir = 1 THEN
                            CASE WHEN s.c <= z.hiv
                                  AND (z.hiv - s.c) * 10000 >= 1000 * z.hiv
                                 THEN s.day ELSE z.lod END
                          ELSE CASE WHEN s.c < z.lov THEN s.day
                                    ELSE z.lod END END,
                     CASE WHEN z.dir = 0 THEN
                            CASE WHEN (z.hiv - s.c) * 10000 >= 1000 * z.hiv
                                 THEN z.hiv
                                 WHEN (s.c - z.lov) * 10000 >= 1000 * z.lov
                                 THEN s.c
                                 WHEN s.c > z.hiv THEN s.c ELSE z.hiv END
                          WHEN z.dir = -1 THEN
                            CASE WHEN s.c >= z.lov
                                  AND (s.c - z.lov) * 10000 >= 1000 * z.lov
                                 THEN s.c ELSE z.hiv END
                          ELSE CASE WHEN s.c > z.hiv THEN s.c
                                    ELSE z.hiv END END,
                     CASE WHEN z.dir = 0 THEN
                            CASE WHEN (z.hiv - s.c) * 10000 >= 1000 * z.hiv
                                 THEN z.hid
                                 WHEN (s.c - z.lov) * 10000 >= 1000 * z.lov
                                 THEN s.day
                                 WHEN s.c > z.hiv THEN s.day ELSE z.hid END
                          WHEN z.dir = -1 THEN
                            CASE WHEN s.c >= z.lov
                                  AND (s.c - z.lov) * 10000 >= 1000 * z.lov
                                 THEN s.day ELSE z.hid END
                          ELSE CASE WHEN s.c > z.hiv THEN s.day
                                    ELSE z.hid END END,
                     CASE WHEN (z.dir = 0 OR z.dir = 1)
                           AND NOT (z.dir = 1 AND s.c > z.hiv)
                           AND (z.hiv - s.c) * 10000 >= 1000 * z.hiv
                          THEN z.hiv
                          WHEN (z.dir = 0 OR z.dir = -1)
                           AND NOT (z.dir = -1 AND s.c < z.lov)
                           AND NOT ((z.dir = 0)
                             AND (z.hiv - s.c) * 10000 >= 1000 * z.hiv)
                           AND (s.c - z.lov) * 10000 >= 1000 * z.lov
                          THEN z.lov ELSE NULL END,
                     CASE WHEN (z.dir = 0 OR z.dir = 1)
                           AND NOT (z.dir = 1 AND s.c > z.hiv)
                           AND (z.hiv - s.c) * 10000 >= 1000 * z.hiv
                          THEN z.hid
                          WHEN (z.dir = 0 OR z.dir = -1)
                           AND NOT (z.dir = -1 AND s.c < z.lov)
                           AND NOT ((z.dir = 0)
                             AND (z.hiv - s.c) * 10000 >= 1000 * z.hiv)
                           AND (s.c - z.lov) * 10000 >= 1000 * z.lov
                          THEN z.lod ELSE NULL END,
                     CASE WHEN (z.dir = 0 OR z.dir = 1)
                           AND NOT (z.dir = 1 AND s.c > z.hiv)
                           AND (z.hiv - s.c) * 10000 >= 1000 * z.hiv
                          THEN 'high'
                          WHEN (z.dir = 0 OR z.dir = -1)
                           AND NOT (z.dir = -1 AND s.c < z.lov)
                           AND NOT ((z.dir = 0)
                             AND (z.hiv - s.c) * 10000 >= 1000 * z.hiv)
                           AND (s.c - z.lov) * 10000 >= 1000 * z.lov
                          THEN 'low' ELSE NULL END
              FROM z JOIN seq s ON s.pk = z.pk AND s.rn = z.rn + 1)
            SELECT pk, ed AS pivot_day, ev AS pivot_c, ekind AS kind
            FROM z WHERE ekind IS NOT NULL
            ORDER BY pk, pivot_day, kind"""))

  // Gage R&R (measurement-system analysis) on a BALANCED crossed design:
  // 3 operators (supplier mod) × 5 parts (part mod) × exactly r=10
  // repeats — each cell keeps its first 10 measurements on the total
  // (orderkey, linenumber, cents) order so the design is balanced by
  // construction and the shortcut SS formulas divide by CONSTANTS.
  // Everything reduces to a handful of exact BIGINT totals (T, T_o, T_p,
  // T_cell, Σx²); SS/MS/variance components evaluate once per query in
  // float64 from those integers (the agg_anova discipline), negatives
  // clamp to 0 per the EMS convention, %GRR = (repeat+operator+interaction)
  // / total. One wide deterministic row — published ONLY when the design
  // is actually balanced (ADVICE r16: `rn <= 10` caps cells at 10 but a
  // sparse input can undershoot, silently breaking the constant divisors;
  // nn=15 even zeroes the error dof). The readout therefore gates on
  // ncell=15 ∧ min(n)=max(n)=10 and NULLIFs the error dof on BOTH
  // engines: degenerate inputs publish an EMPTY relation, never a wrong
  // or engine-split row.
  private val aggGageRr = Op(
    "agg_gage_rr",
    (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_grr")
      // the 15-row cell table feeds tot, the per-operator and the
      // per-part moment CTEs. Left a plain view, which Spark inlines at
      // each reference: a checkpoint measured slower at sf1 (MATS.md).
      s.sql("""
        WITH b AS (SELECT CAST(l_suppkey % 3 AS INT) AS op,
                          CAST(l_partkey % 5 AS INT) AS pt,
                          CAST(round(l_extendedprice * 100) AS BIGINT) AS x,
                          row_number() OVER (PARTITION BY l_suppkey % 3,
                            l_partkey % 5 ORDER BY l_orderkey,
                            l_linenumber,
                            CAST(round(l_extendedprice * 100) AS BIGINT))
                            AS rn
                   FROM lineitem_grr),
             k AS (SELECT op, pt, x FROM b WHERE rn <= 10)
        SELECT op, pt, CAST(SUM(x) AS BIGINT) AS t,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM k GROUP BY op, pt""")
        .createOrReplaceTempView("cell_grr")
      s.sql("""
        WITH cell AS (SELECT op, pt, t, sxx, n FROM cell_grr),
             tot AS (SELECT CAST(SUM(t) AS BIGINT) AS tt,
                            CAST(150 * SUM(sxx) AS BIGINT) AS sxx150,
                            CAST(SUM(n) AS BIGINT) AS nn,
                            CAST(COUNT(*) AS BIGINT) AS ncell,
                            CAST(MIN(n) AS BIGINT) AS nmin,
                            CAST(MAX(n) AS BIGINT) AS nmax,
                            CAST(15 * SUM(t * t) AS BIGINT) AS scell15
                     FROM cell),
             om AS (SELECT CAST(3 * SUM(to2 * to2) AS BIGINT) AS so3
                    FROM (SELECT CAST(SUM(t) AS BIGINT) AS to2
                          FROM cell GROUP BY op)),
             pm AS (SELECT CAST(5 * SUM(tp2 * tp2) AS BIGINT) AS sp5
                    FROM (SELECT CAST(SUM(t) AS BIGINT) AS tp2
                          FROM cell GROUP BY pt)),
             ss AS (SELECT tot.nn, tot.ncell, tot.nmin, tot.nmax,
                           (tot.sxx150 - tot.tt * tot.tt) / 150.0D
                             AS ss_total,
                           (om.so3 - tot.tt * tot.tt) / 150.0D AS ss_op,
                           (pm.sp5 - tot.tt * tot.tt) / 150.0D AS ss_pt,
                           (tot.scell15 - tot.tt * tot.tt) / 150.0D
                             AS ss_cell
                    FROM tot CROSS JOIN om CROSS JOIN pm),
             msv AS (SELECT nn, ncell, nmin, nmax,
                            ss_op / 2 AS ms_op, ss_pt / 4 AS ms_pt,
                            (ss_cell - ss_op - ss_pt) / 8 AS ms_int,
                            (ss_total - ss_cell)
                              / NULLIF(nn - 15, 0) AS ms_e,
                            ss_total, ss_op, ss_pt,
                            ss_cell - ss_op - ss_pt AS ss_int,
                            ss_total - ss_cell AS ss_e
                     FROM ss),
             vc AS (SELECT nn, ncell, nmin, nmax,
                           ss_total, ss_op, ss_pt, ss_int, ss_e,
                           GREATEST(ms_e, 0.0D) AS v_rep,
                           GREATEST((ms_int - ms_e) / 10, 0.0D) AS v_int,
                           GREATEST((ms_op - ms_int) / 50, 0.0D) AS v_op,
                           GREATEST((ms_pt - ms_int) / 30, 0.0D) AS v_pt
                    FROM msv)
        SELECT nn AS n, round(ss_op, 4) AS ss_operator,
               round(ss_pt, 4) AS ss_part,
               round(ss_int, 4) AS ss_interaction,
               round(ss_e, 4) AS ss_repeat,
               round((v_rep + v_op + v_int) /
                     NULLIF(v_rep + v_op + v_int + v_pt, 0.0D), 6)
                 AS pct_grr
        FROM vc
        WHERE ncell = 15 AND nmin = 10 AND nmax = 10""")
    },
    Some("""WITH b AS (SELECT CAST(l_suppkey % 3 AS INT) AS op,
                              CAST(l_partkey % 5 AS INT) AS pt,
                              CAST(round(l_extendedprice * 100) AS BIGINT)
                                AS x,
                              row_number() OVER (PARTITION BY l_suppkey % 3,
                                l_partkey % 5 ORDER BY l_orderkey,
                                l_linenumber,
                                CAST(round(l_extendedprice * 100) AS BIGINT))
                                AS rn
                       FROM lineitem),
                 k AS (SELECT op, pt, x FROM b WHERE rn <= 10),
                 cell AS (SELECT op, pt, CAST(SUM(x) AS BIGINT) AS t,
                                 CAST(SUM(x * x) AS BIGINT) AS sxx,
                                 CAST(COUNT(*) AS BIGINT) AS n
                          FROM k GROUP BY op, pt),
                 tot AS (SELECT CAST(SUM(t) AS BIGINT) AS tt,
                                CAST(150 * SUM(sxx) AS BIGINT) AS sxx150,
                                CAST(SUM(n) AS BIGINT) AS nn,
                                CAST(COUNT(*) AS BIGINT) AS ncell,
                                CAST(MIN(n) AS BIGINT) AS nmin,
                                CAST(MAX(n) AS BIGINT) AS nmax,
                                CAST(15 * SUM(t * t) AS BIGINT) AS scell15
                         FROM cell),
                 om AS (SELECT CAST(3 * SUM(to2 * to2) AS BIGINT) AS so3
                        FROM (SELECT CAST(SUM(t) AS BIGINT) AS to2
                              FROM cell GROUP BY op)),
                 pm AS (SELECT CAST(5 * SUM(tp2 * tp2) AS BIGINT) AS sp5
                        FROM (SELECT CAST(SUM(t) AS BIGINT) AS tp2
                              FROM cell GROUP BY pt)),
                 ss AS (SELECT tot.nn, tot.ncell, tot.nmin, tot.nmax,
                               (tot.sxx150 - tot.tt * tot.tt) / 150.0
                                 AS ss_total,
                               (om.so3 - tot.tt * tot.tt) / 150.0 AS ss_op,
                               (pm.sp5 - tot.tt * tot.tt) / 150.0 AS ss_pt,
                               (tot.scell15 - tot.tt * tot.tt) / 150.0
                                 AS ss_cell
                        FROM tot CROSS JOIN om CROSS JOIN pm),
                 msv AS (SELECT nn, ncell, nmin, nmax,
                                ss_op / 2 AS ms_op, ss_pt / 4 AS ms_pt,
                                (ss_cell - ss_op - ss_pt) / 8 AS ms_int,
                                (ss_total - ss_cell)
                                  / NULLIF(nn - 15, 0) AS ms_e,
                                ss_total, ss_op, ss_pt,
                                ss_cell - ss_op - ss_pt AS ss_int,
                                ss_total - ss_cell AS ss_e
                         FROM ss),
                 vc AS (SELECT nn, ncell, nmin, nmax,
                               ss_total, ss_op, ss_pt, ss_int, ss_e,
                               GREATEST(ms_e, 0.0) AS v_rep,
                               GREATEST((ms_int - ms_e) / 10, 0.0) AS v_int,
                               GREATEST((ms_op - ms_int) / 50, 0.0) AS v_op,
                               GREATEST((ms_pt - ms_int) / 30, 0.0) AS v_pt
                        FROM msv)
            SELECT nn AS n, round(ss_op, 4) AS ss_operator,
                   round(ss_pt, 4) AS ss_part,
                   round(ss_int, 4) AS ss_interaction,
                   round(ss_e, 4) AS ss_repeat,
                   round((v_rep + v_op + v_int) /
                         NULLIF(v_rep + v_op + v_int + v_pt, 0.0), 6)
                     AS pct_grr
            FROM vc
            WHERE ncell = 15 AND nmin = 10 AND nmax = 10"""))

  // TOST equivalence test (two one-sided t-tests): are 'view' and 'click'
  // mean values EQUIVALENT within ±$5? The inferential complement of
  // agg_ttest — significance can never prove similarity; TOST can. Both
  // one-sided statistics come from the same exact BIGINT moment partials
  // (n, Σx, Σx² per arm, map-side combinable), Welch SE, margin in exact
  // cents; equivalence = min(t_lower, t_upper) > 1.645 (z approximation,
  // stated). Float math runs once at the boundary, round 6.
  private val aggTostEquivalence = Op(
    "agg_tost_equivalence",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_tost")
      s.sql("""
        WITH m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(CAST(round(value * 100) AS BIGINT))
                               AS BIGINT) AS sx,
                          CAST(SUM(CAST(round(value * 100) AS BIGINT) *
                                   CAST(round(value * 100) AS BIGINT))
                               AS BIGINT) AS sxx
                   FROM events_tost
                   WHERE event_type IN ('view', 'click') GROUP BY 1),
             w AS (SELECT
                     MAX(CASE WHEN event_type = 'view' THEN n END) AS n1,
                     MAX(CASE WHEN event_type = 'view' THEN sx END) AS s1,
                     MAX(CASE WHEN event_type = 'view' THEN sxx END) AS q1,
                     MAX(CASE WHEN event_type = 'click' THEN n END) AS n2,
                     MAX(CASE WHEN event_type = 'click' THEN sx END) AS s2,
                     MAX(CASE WHEN event_type = 'click' THEN sxx END) AS q2
                   FROM m),
             st AS (SELECT n1, n2,
                           CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2
                             AS diff_c,
                           sqrt((q1 - CAST(s1 AS DOUBLE) / n1 * s1)
                                  / (n1 - 1) / n1
                              + (q2 - CAST(s2 AS DOUBLE) / n2 * s2)
                                  / (n2 - 1) / n2) AS se_c
                    FROM w)
        SELECT n1, n2, round(diff_c / 100.0D, 6) AS mean_diff,
               round(se_c / 100.0D, 6) AS se,
               round((diff_c + 500.0D) / se_c, 6) AS t_lower,
               round((500.0D - diff_c) / se_c, 6) AS t_upper,
               LEAST((diff_c + 500.0D) / se_c,
                     (500.0D - diff_c) / se_c) > 1.645D AS equivalent
        FROM st""")
    },
    Some("""WITH m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(SUM(CAST(round(value * 100) AS BIGINT))
                                   AS BIGINT) AS sx,
                              CAST(SUM(CAST(round(value * 100) AS BIGINT) *
                                       CAST(round(value * 100) AS BIGINT))
                                   AS BIGINT) AS sxx
                       FROM events
                       WHERE event_type IN ('view', 'click') GROUP BY 1),
                 w AS (SELECT
                         MAX(CASE WHEN event_type = 'view' THEN n END) AS n1,
                         MAX(CASE WHEN event_type = 'view' THEN sx END) AS s1,
                         MAX(CASE WHEN event_type = 'view' THEN sxx END) AS q1,
                         MAX(CASE WHEN event_type = 'click' THEN n END) AS n2,
                         MAX(CASE WHEN event_type = 'click' THEN sx END) AS s2,
                         MAX(CASE WHEN event_type = 'click' THEN sxx END) AS q2
                       FROM m),
                 st AS (SELECT n1, n2,
                               CAST(s1 AS DOUBLE) / n1
                                 - CAST(s2 AS DOUBLE) / n2 AS diff_c,
                               sqrt((q1 - CAST(s1 AS DOUBLE) / n1 * s1)
                                      / (n1 - 1) / n1
                                  + (q2 - CAST(s2 AS DOUBLE) / n2 * s2)
                                      / (n2 - 1) / n2) AS se_c
                        FROM w)
            SELECT n1, n2, round(diff_c / 100.0, 6) AS mean_diff,
                   round(se_c / 100.0, 6) AS se,
                   round((diff_c + 500.0) / se_c, 6) AS t_lower,
                   round((500.0 - diff_c) / se_c, 6) AS t_upper,
                   LEAST((diff_c + 500.0) / se_c,
                         (500.0 - diff_c) / se_c) > 1.645 AS equivalent
            FROM st"""))

  val ops: Seq[Op] =
    Seq(windowMacd, windowStochastic, windowDonchian, sampleSystematic,
      privacyDpHistogram, corpusLangBalance, embHubness,
      textStopwordProfile, textPunctProfile, aggHodgesLehmann,
      simMipsTopk, privacyDpTopk, windowSeasonalEwma, corpusSourceCap,
      eventDodMovers, dqKeyDiscovery, privacyRandomizedResponse,
      dedupCrossSourceMatrix, windowKeltner, aggRakingIpf, resampleWma,
      sqlScripting, aggTrimmedMean, windowObv,
      aggKendallTau, aggCpk, windowIchimoku, windowPivotPoints,
      windowAroon, windowMfi,
      aggShapleyAttribution, privacyDpMean, aggMcnemar, windowAdx,
      aggFriedmanTest, windowZigzag, aggGageRr, aggTostEquivalence)
}
