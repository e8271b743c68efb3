package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the analytics extensions (the DuckDB oracle pins
  * exact values; these pin the properties that must survive refactors). */
class AnalyticsOpsSpec extends AnyFunSuite {
  import TestSpark._

  test("unpivot_long emits one row per (input row, measure)") {
    val base = Tables.load(spark, sfDir, "lineitem")
      .where(col("l_orderkey") % 10 === 0).count()
    val long = SparkEntry.queries("unpivot_long")(spark, sfDir)
    assert(long.count() === base * 3)
    assert(long.select("measure").distinct().count() === 3)
  }

  test("join_null_safe matches NULL keys to each other (region 2 via NULL)") {
    val rows = SparkEntry.queries("join_null_safe")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    // nations of region 2 pair with region 2 through NULL <=> NULL
    assert(rows.filter(_._3).nonEmpty)
    assert(rows.filter(_._3).forall { case (_, r, _) => r == rows.filter(_._3).head._2 })
    // non-null keys still join normally
    assert(rows.filter(!_._3).nonEmpty)
  }

  test("agg_histogram buckets partition the table (counts sum to total)") {
    val total = Tables.load(spark, sfDir, "lineitem").count()
    val hist = SparkEntry.queries("agg_histogram")(spark, sfDir).collect()
    assert(hist.map(_.getLong(1)).sum === total)
    assert(hist.map(_.getLong(0)).distinct.length === hist.length)
  }

  test("window_cume_dist is monotone within a partition and ends at 1.0") {
    val rows = SparkEntry.queries("window_cume_dist")(spark, sfDir)
      .select("o_orderpriority", "cd").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    rows.groupBy(_._1).values.foreach { grp =>
      val cds = grp.map(_._2)
      assert(math.abs(cds.max - 1.0) < 1e-12)
      assert(cds.forall(c => c > 0.0 && c <= 1.0))
    }
  }

  test("sample_hash is deterministic and near the 40/256 target rate") {
    val total = Tables.load(spark, sfDir, "lineitem").count().toDouble
    val a = SparkEntry.queries("sample_hash")(spark, sfDir).count()
    val b = SparkEntry.queries("sample_hash")(spark, sfDir).count()
    assert(a === b)
    val rate = a / total
    assert(rate > 0.10 && rate < 0.22, s"rate $rate far from 40/256")
  }

  test("sample_stratified returns exactly k rows per stratum, rn dense") {
    val df = SparkEntry.queries("sample_stratified")(spark, sfDir)
    val per = df.groupBy("l_returnflag").count().collect()
    assert(per.forall(_.getLong(1) === 100L))
    val rns = df.where(col("l_returnflag") === per.head.getString(0))
      .select("rn").collect().map(_.getInt(0)).sorted
    assert(rns.toSeq === (1 to 100))
  }

  test("quality_gate verdict agrees with its reason and ratios are in range") {
    val rows = SparkEntry.queries("quality_gate")(spark, sfDir).collect()
    assert(rows.forall(r => r.getBoolean(1) === (r.getString(2) == "keep")))
    assert(rows.map(_.getString(2)).distinct.length >= 2, "rules never fired")
    assert(rows.forall { r =>
      val u = r.getDouble(4); u >= 0.0 && u <= 1.0
    })
  }

  test("text_pii_mask leaves no email or long digit run and counts 2 PII each") {
    val rows = SparkEntry.queries("text_pii_mask")(spark, sfDir).collect()
    assert(rows.forall(_.getLong(1) === 2L))
    assert(rows.forall { r =>
      val m = r.getString(2)
      !m.contains("@") && !m.matches(".*[0-9]{7,}.*") &&
        m.contains("<EMAIL>") && m.contains("<PHONE>")
    })
  }

  test("agg_approx_quantile rank verdicts true; values within 1% of exact") {
    val rows = SparkEntry.queries("agg_approx_quantile")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(2) && r.getBoolean(3) && r.getBoolean(4),
        s"${r.getString(0)}: rank contract broken")
    }
    // the value-error property on the raw estimates (not part of the
    // compared output — the op emits rank verdicts)
    val approx = Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr("approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 10000)").as("q"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val exact = Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))").as("q"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    for ((flag, qa) <- approx; (a, e) <- qa.zip(exact(flag)))
      assert(math.abs(a - e) / e < 0.01, s"$flag: approx $a vs exact $e")
  }

  test("window_time_range trailing sum is at least the row's own value") {
    val rows = SparkEntry.queries("window_time_range")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val byCust = rows.groupBy(_.getLong(0))
    // trailing window always contains the current row -> sum >= single price
    assert(rows.forall(_.getDouble(3) > 0.0))
    // at least one customer has a window spanning >1 order (sum > any single)
    assert(byCust.values.exists(g => g.length > 1))
  }

  test("agg_hll_partial_merge: merged estimate verdict true, exact side exact") {
    val row = SparkEntry.queries("agg_hll_partial_merge")(spark, sfDir).first()
    assert(row.getLong(0) > 1, "needs >1 daily partial for a real merge")
    val exact = Tables.load(spark, sfDir, "events")
      .select("user_id").distinct().count()
    assert(row.getLong(1) === exact)
    assert(row.getBoolean(2), "merged-sketch estimate left the 5% bound")
  }

  test("emb_normalize quantized components stay within int8 range") {
    val rows = SparkEntry.queries("emb_normalize")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(1).split(",").map(_.toLong)
      .forall(v => v >= -127 && v <= 127)))
  }

  // Planted co-purchase graph: parts 1-2-3 pairwise co-ordered twice (one
  // triangle), part 4 tied to part 1 with support 2 but closing nothing,
  // and a 1-5 pair seen only ONCE — the support filter must drop it.
  test("graph_triangles counts the planted triangle and applies the support filter") {
    import spark.implicits._
    val dir = TempDirs.tmp("g_tri_")
    Seq(
      (10L, 1L), (10L, 2L), (10L, 3L), // order 10: {1,2,3}
      (11L, 1L), (11L, 2L), (11L, 3L), // order 11: {1,2,3} → all pairs support 2
      (12L, 1L), (12L, 4L),            // orders 12/13: edge 1-4, support 2
      (13L, 1L), (13L, 4L),
      (14L, 1L), (14L, 5L))            // pair 1-5 support 1 → filtered out
      .toDF("l_orderkey", "l_partkey")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("graph_triangles")(spark, dir).collect()(0)
    assert(r.getLong(0) === 4L, s"n_nodes = ${r.getLong(0)}") // part 5 dropped
    assert(r.getLong(1) === 4L, s"n_edges = ${r.getLong(1)}")
    assert(r.getLong(2) === 1L, s"n_triangles = ${r.getLong(2)}")
  }

  // Planted distribution on a [0, 128] range → unit-width bins: eleven
  // values land in bins 0..9 and 127, and the first bin whose cumulative
  // count reaches n/2 = 5.5 is bin 5.
  test("agg_histogram_quantile picks the first bin crossing the median") {
    import spark.implicits._
    val dir = TempDirs.tmp("g_hq_")
    ((0 to 9).map(v => (v.toLong, "P1", v.toDouble)) :+ ((10L, "P1", 128.0)))
      .toDF("o_orderkey", "o_orderpriority", "o_totalprice")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("agg_histogram_quantile")(spark, dir).collect()(0)
    assert(r.getLong(1) === 11L, s"n = ${r.getLong(1)}")
    assert(r.getLong(2) === 5L, s"median_bin = ${r.getLong(2)}")
    assert(r.getDouble(3) === 5.0, s"median_lo = ${r.getDouble(3)}")
  }

  test("profile_skew shares are consistent and the readout is bounded") {
    val rows = SparkEntry.queries("profile_skew")(spark, sfDir).collect()
    assert(rows.length <= 10)
    // descending by count with the key tiebreak
    val cnts = rows.map(_.getLong(1))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b })
    // share and skew ratio are per-key consistent: skew = share * nkeys
    val perKey = Tables.load(spark, sfDir, "orders")
      .groupBy("o_custkey").count()
    val nkeys = perKey.count()
    val total = perKey.agg(sum("count")).collect()(0).getLong(0)
    rows.foreach { r =>
      val expShare = BigDecimal(r.getLong(1).toDouble / total)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(2) - expShare) < 2e-6,
        s"share ${r.getDouble(2)} vs $expShare")
      assert(math.abs(r.getDouble(3) - r.getDouble(2) * nkeys) < 1e-3)
    }
  }

  test("privacy_kanon flags exactly the groups under k=5") {
    val rows = SparkEntry.queries("privacy_kanon")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) >= 1)
      assert(r.getBoolean(4) === (r.getLong(3) < 5))
    }
    // group sizes sum back to the full table — the QI grouping partitions it
    val total = Tables.load(spark, sfDir, "customer").count()
    assert(rows.map(_.getLong(3)).sum === total)
  }

  test("sample_split partitions the corpus deterministically") {
    val rows = SparkEntry.queries("sample_split")(spark, sfDir).collect()
    val splits = rows.map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "val", "test")))
    val docs = Tables.load(spark, sfDir, "documents")
    assert(rows.map(_.getLong(1)).sum === docs.count())
    // train gets the 12/16 share of the hash space — dominant by construction
    val byName = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName("train") > byName.getOrElse("val", 0L))
    assert(byName("train") > byName.getOrElse("test", 0L))
    // assignment is a pure function of doc_id: a second run is identical
    val again = SparkEntry.queries("sample_split")(spark, sfDir).collect()
    assert(rows.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("interval_merge emits disjoint, ordered spans that cover every event") {
    val rows = SparkEntry.queries("interval_merge")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).values.foreach { spans =>
      val sorted = spans.sortBy(_._2)
      sorted.zip(sorted.tail).foreach { case ((_, _, e1, _), (_, s2, _, _)) =>
        assert(s2 > e1, "adjacent merged spans must not overlap or touch")
      }
      spans.foreach { case (_, s0, e0, n) =>
        assert(e0 - s0 >= 900000L, "span at least one interval long")
        assert(n >= 1)
      }
    }
    // every event is inside exactly one span of its user
    val nEvents = Tables.load(spark, sfDir, "events").count()
    assert(rows.map(_._4).sum === nEvents)
  }

  test("event_attribution only credits converting users with prior touches") {
    val rows = SparkEntry.queries("event_attribution")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val converters = Tables.load(spark, sfDir, "events")
      .where(col("event_type") === "purchase")
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    assert(rows.map(_._1).toSet.subsetOf(converters))
    rows.foreach { case (_, f, l, n) =>
      assert(n >= 1)
      if (n == 1) assert(f === l, "a single prior touch is both first and last")
    }
  }

  test("agg_weighted_percentile picks the half-weight boundary per flag") {
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_quantity").cast("long").as("wt"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val rows = SparkEntry.queries("agg_weighted_percentile")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(rows.map(_._1).toSet === li.map(_._1).toSet)
    rows.foreach { case (rf, m, tot) =>
      val grp = li.filter(_._1 == rf)
      assert(grp.map(_._3).sum === tot)
      val below = grp.filter(_._2 < m).map(_._3).sum
      val atOrBelow = grp.filter(_._2 <= m).map(_._3).sum
      assert(below * 2 < tot, "strictly-below mass stays under half")
      assert(atOrBelow * 2 >= tot, "at-or-below mass crosses half")
    }
  }

  test("privacy_ldiversity flags exactly the groups with l < 3") {
    val rows = SparkEntry.queries("privacy_ldiversity")(spark, sfDir)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (n, l, risk) =>
      assert(l >= 1 && l <= n, "diversity is bounded by group size")
      assert(risk === (l < 3))
    }
  }

  test("window_ewma matches a sequential reference recursion exactly") {
    val ref = Tables.load(spark, sfDir, "events")
      .where(col("user_id") % 10 === 0)
      .select(col("user_id"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"), col("ts"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(3), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2.toInstant.getEpochSecond, t._2.toInstant.getNano.toLong, t._3))
      .foldLeft((Map.empty[(Long, Long), Long], Long.MinValue, 0L)) {
        case ((acc, prevUser, s), (u, _, e, c)) =>
          val next = if (u != prevUser) c else (c + s) / 2
          (acc + ((u, e) -> next), u, next)
      }._1
    val got = SparkEntry.queries("window_ewma")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === ref)
  }

  test("agg_mad_robust dispersion is nonnegative and bounded by the range") {
    val rows = SparkEntry.queries("agg_mad_robust")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val stats = Tables.load(spark, sfDir, "orders")
      .groupBy("o_orderpriority")
      .agg(min("o_totalprice").as("mn"), max("o_totalprice").as("mx"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3))).toMap
    rows.foreach { case (p, n, med, mad) =>
      val (mn, mx, total) = stats(p)
      assert(n === total)
      assert(med >= mn && med <= mx)
      assert(mad >= 0.0 && mad <= (mx - mn))
    }
  }

  test("agg_group_entropy is bounded by log of the type cardinality") {
    val rows = SparkEntry.queries("agg_group_entropy")(spark, sfDir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (n, nTypes, h) =>
      assert(nTypes >= 1 && nTypes <= n)
      assert(h >= 0.0 && h <= math.log(nTypes.toDouble) + 1e-9)
      if (nTypes == 1) assert(h === 0.0)
    }
  }

  test("window_rolling_slope windows cap at 10 rows and degenerate to 0") {
    val out = SparkEntry.queries("window_rolling_slope")(spark, sfDir)
      .collect().map(r => (r.getDouble(2), r.getLong(3)))
    assert(out.nonEmpty)
    out.foreach { case (_, n) => assert(n >= 1 && n <= 10) }
    // a 1-row window has zero time variance -> pinned slope 0
    assert(out.filter(_._2 == 1).forall(_._1 === 0.0))
  }

  test("agg_count_min estimates never undercount") {
    val rows = SparkEntry.queries("agg_count_min")(spark, sfDir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length === 10)
    rows.foreach { case (exact, est, over) =>
      assert(est >= exact, "CMS upper-bounds the true count")
      assert(over === est - exact)
    }
  }

  test("agg_skew_kurtosis agrees with Spark's own skewness/kurtosis") {
    val rows = SparkEntry.queries("agg_skew_kurtosis")(spark, sfDir)
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(rows.nonEmpty)
    val builtin = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderpriority").as("prio"),
        expr("CAST(round(o_totalprice) AS DOUBLE)").as(("v")))
      .groupBy("prio")
      .agg(avg("v").as("mean"), skewness(col("v")).as("sk"),
        kurtosis(col("v")).as("ku"))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    rows.foreach { case (p, (mean, sk, ku)) =>
      val (bMean, bSk, bKu) = builtin(p)
      assert(math.abs(mean - bMean) < 1e-3)
      assert(math.abs(sk - bSk) < 1e-3)
      assert(math.abs(ku - bKu) < 1e-3)
    }
  }

  test("window_spc_rule violations are a small tail of full windows") {
    val rows = SparkEntry.queries("window_spc_rule")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, nWin, nViol) =>
      assert(nWin > 0)
      // Chebyshev: >3 sigma has mass < 1/9 in ANY distribution
      assert(nViol >= 0 && nViol * 9 <= nWin)
    }
  }

  test("event_markov rows are row-stochastic per source state") {
    val rows = SparkEntry.queries("event_markov")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, ts) =>
      val pSum = ts.map(_._3).sum
      // rounded-4dp probabilities per src sum to 1 within rounding slack
      assert(math.abs(pSum - 1.0) <= ts.length * 5e-5 + 1e-9)
      ts.foreach { case (_, cnt, p) => assert(cnt >= 1 && p > 0.0 && p <= 1.0) }
    }
  }

  test("agg_gini is within [0, 1) and invariant to a uniform scale") {
    val rows = SparkEntry.queries("agg_gini")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    val total = Tables.load(spark, sfDir, "orders").count()
    assert(rows.map(_._2).sum === total)
    rows.foreach { case (_, n, g) =>
      assert(n > 0)
      assert(g >= 0.0 && g < 1.0)
    }
  }

  test("agg_mutual_info respects the information-theoretic bounds") {
    val rows = SparkEntry.queries("agg_mutual_info")(spark, sfDir).collect()
    assert(rows.length === 1)
    val (n, mi, hx, hy) =
      (rows(0).getLong(0), rows(0).getDouble(1), rows(0).getDouble(2), rows(0).getDouble(3))
    assert(n === Tables.load(spark, sfDir, "events").count())
    assert(mi >= -1e-9, "MI is non-negative")
    assert(mi <= math.min(hx, hy) + 1e-9, "MI <= min of the entropies")
    assert(hx >= 0.0 && hy >= 0.0)
    assert(hy <= math.log(7.0) + 1e-9, "7 day-of-week buckets cap H(y)")
  }

  test("agg_autocorr stays within [-1, 1] with n-1 pairs per group") {
    val rows = SparkEntry.queries("agg_autocorr")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    val sizes = Tables.load(spark, sfDir, "orders")
      .groupBy("o_orderpriority").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { case (p, n, r1) =>
      assert(n === sizes(p) - 1, "lag-1 pairing drops exactly one row per group")
      assert(r1 >= -1.0 - 1e-9 && r1 <= 1.0 + 1e-9)
    }
  }

  test("agg_log_histogram buckets partition the value range exactly") {
    val rows = SparkEntry.queries("agg_log_histogram")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val total = Tables.load(spark, sfDir, "orders")
      .where(col("o_totalprice") > 0).count()
    assert(rows.map(_._2).sum === total)
    rows.foreach { case (b, _, lo, hi) =>
      assert(lo === (1L << (b - 1).toInt))
      assert(hi === (1L << b.toInt) - 1)
    }
  }

  test("window_drawdown is non-negative and bounded by the group range") {
    val dd = SparkEntry.queries("window_drawdown")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val range = Tables.load(spark, sfDir, "orders")
      .groupBy("o_orderpriority")
      .agg(expr("CAST(round(max(o_totalprice) * 100) - round(min(o_totalprice) * 100) AS BIGINT)").as("rng"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dd.nonEmpty)
    dd.foreach { case (p, v) =>
      assert(v >= 0)
      assert(v <= range(p), "a drawdown cannot exceed the max-min range")
    }
  }

  test("event_rfm scores stay in 1..5 and cover every user") {
    val rows = SparkEntry.queries("event_rfm")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val users = Tables.load(spark, sfDir, "events")
      .select("user_id").distinct().count()
    assert(rows.length.toLong === users)
    rows.foreach { case (_, rr, ff, mm) =>
      Seq(rr, ff, mm).foreach(s => assert(s >= 1 && s <= 5))
    }
    // threshold scoring must not funnel through a single partition
    val p = SparkEntry.queries("event_rfm")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SinglePartition") || p.contains("Broadcast"),
      p.take(800))
  }

  test("event_conversion_lag counts only signup-then-purchase users") {
    val rows = SparkEntry.queries("event_conversion_lag")(spark, sfDir).collect()
    assert(rows.length === 1)
    val (n, med, p90) =
      (rows(0).getLong(0), rows(0).getDouble(1), rows(0).getDouble(2))
    assert(n > 0, "some users convert in the synthetic events")
    assert(med > 0.0 && med <= p90 + 1e-9)
    // upper bound: converters cannot exceed users who ever signed up
    val signups = Tables.load(spark, sfDir, "events")
      .where(col("event_type") === "signup")
      .select("user_id").distinct().count()
    assert(n <= signups)
  }

  test("window_rolling_quantile keeps median <= p90 on every full window") {
    val rows = SparkEntry.queries("window_rolling_quantile")(spark, sfDir)
      .collect().map(r => (r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (med, p90) => assert(med <= p90 + 1e-9) }
  }

  test("join_knn_grid ranks are dense, distance-sorted, and self-free") {
    val rows = SparkEntry.queries("join_knn_grid")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, nb, rk, d2) =>
      assert(src != nb)
      assert(rk >= 1 && rk <= 3)
      assert(d2 >= 0)
    }
    rows.groupBy(_._1).foreach { case (_, ns) =>
      val byRank = ns.sortBy(_._3)
      assert(byRank.map(_._3).toSeq === (1L to byRank.length).toSeq, "dense ranks")
      assert(byRank.map(_._4).toSeq === byRank.map(_._4).sorted.toSeq, "distance-ordered")
    }
  }

  test("join_spatial_grid matches the brute-force radius count") {
    val out = SparkEntry.queries("join_spatial_grid")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pts = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        expr("CAST(round(CAST(element_at(embedding, 1) AS DOUBLE) * 1000000) AS BIGINT)"),
        expr("CAST(round(CAST(element_at(embedding, 2) AS DOUBLE) * 1000000) AS BIGINT)"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.size === pts.length)
    val r2 = 400000000L
    pts.foreach { case (id, x, y) =>
      val brute = pts.count { case (id2, x2, y2) =>
        id2 != id && (x - x2) * (x - x2) + (y - y2) * (y - y2) <= r2
      }
      assert(out(id) === brute.toLong, s"vec $id")
    }
  }

  // ADVICE r16: agg_gage_rr's shortcut SS math assumes the balanced
  // 3x5x10 design its cell-capping constructs — an input too sparse to
  // fill every cell must publish an EMPTY relation (identically on the
  // oracle side), never a row computed with the wrong constant divisors.
  test("agg_gage_rr publishes nothing when the design cannot balance") {
    import spark.implicits._
    val dir = TempDirs.tmp("g_grr_")
    // 30 rows: every (op, pt) cell has at most 2 measurements (< 10)
    (1 to 30).map(i => (i.toLong, i, i.toLong % 7, i % 4, 100.0 + i))
      .toDF("l_orderkey", "l_linenumber", "l_suppkey", "l_partkey",
        "l_extendedprice")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    assert(SparkEntry.queries("agg_gage_rr")(spark, dir).count() === 0L)
    // the shipped test data DOES balance: exactly one readout row
    assert(SparkEntry.queries("agg_gage_rr")(spark, sfDir).count() === 1L)
  }
}
