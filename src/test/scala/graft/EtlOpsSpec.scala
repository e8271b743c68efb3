package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ETL/layout semantics the oracle can't see: merge idempotence, partition
  * pruning reaching the scan, clustered-layout file locality. */
class EtlOpsSpec extends AnyFunSuite {
  import TestSpark._

  test("merge_upsert is idempotent and keeps the key-set union") {
    val merged = SparkEntry.queries("merge_upsert")(spark, sfDir).cache()
    val orders = Tables.load(spark, sfDir, "orders")
    val expectKeys = orders
      .filter(col("o_orderkey") % 2 === 0 || col("o_orderkey") % 3 === 0)
      .select("o_orderkey").distinct().count()
    assert(merged.count() === expectKeys)
    // matched rows took the source version
    assert(merged.filter(col("o_orderkey") % 3 === 0 &&
      col("o_orderstatus") =!= "U").count() === 0)
    // applying the same source again changes nothing (idempotence)
    val source = orders.filter(col("o_orderkey") % 3 === 0)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .withColumn("o_orderstatus", lit("U"))
    val again = source.unionByName(
      merged.join(source.select("o_orderkey"), Seq("o_orderkey"), "left_anti"))
    assert(again.exceptAll(merged).count() === 0)
    assert(merged.exceptAll(again).count() === 0)
  }

  test("partitioned_write read-back prunes partitions at the scan") {
    val df = SparkEntry.queries("partitioned_write")(spark, sfDir)
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("PartitionFilters"), physical.take(500))
    assert(physical.contains("event_type"), "pruning column missing from scan")
    val all = Tables.load(spark, sfDir, "events")
    assert(df.count() ===
      all.filter(col("event_type") === "purchase").count())
  }

  test("layout_cluster produces near-disjoint per-file key ranges") {
    import java.nio.file.Files
    val out = TempDirs.tmp("g_lc_test_")
    Tables.load(spark, sfDir, "lineitem")
      .repartitionByRange(8, col("l_shipdate"), col("l_orderkey"))
      .sortWithinPartitions("l_shipdate", "l_orderkey")
      .write.mode("overwrite").parquet(out)
    val ranges = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min(unix_micros(col("l_shipdate").cast("timestamp"))).as("lo"),
        max(unix_micros(col("l_shipdate").cast("timestamp"))).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(ranges.length > 1)
    ranges.sliding(2).foreach { case Array((_, hi), (lo2, _)) =>
      assert(hi <= lo2, s"file ranges overlap: $hi > $lo2")
    }
  }

  test("bucketed tables join without an exchange on either side") {
    // run the op once so the bucketed tables exist
    assert(SparkEntry.queries("join_bucketed")(spark, sfDir).count() > 0)
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val db = "graft_buckets_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
      val j = spark.table(s"$db.lineitem_b")
        .join(spark.table(s"$db.orders_b"),
          col("l_orderkey") === col("o_orderkey"))
      val p = j.queryExecution.sparkPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(300))
      assert(!p.contains("Exchange"),
        s"bucketed join still shuffles:\n${p.take(800)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("scan_pruned reads only the projected columns") {
    val df = SparkEntry.queries("scan_pruned")(spark, sfDir)
    val scan = df.queryExecution.executedPlan.toString
    val m = "ReadSchema: [^\\n]+".r.findFirstIn(scan).getOrElse("")
    assert(m.contains("l_orderkey") || m.contains("l_extendedprice"), scan.take(800))
    assert(!m.contains("l_comment") && !m.contains("l_shipdate"),
      s"scan reads unprojected columns: $m")
  }

  test("scan_time_travel reads version 0, not the current version") {
    val v0 = SparkEntry.queries("scan_time_travel")(spark, sfDir).cache()
    assert(v0.count() > 0)
    // version 0 predates the status flip, so no 'U' rows appear — reading
    // the current version instead would surface them
    assert(v0.filter(col("o_orderstatus") === "U").count() === 0)
    val expect = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 2 === 0).count()
    assert(v0.count() === expect)
  }

  test("maintenance_vacuum keeps exactly the newest two versions on disk") {
    val st = SparkEntry.queries("maintenance_vacuum")(spark, sfDir)
      .orderBy("version").collect()
    assert(st.length === 3, "history log must keep all three commits")
    assert(st.map(_.getAs[String]("name")).toSeq === Seq("v0", "v1", "v2"))
    assert(st.map(_.getAs[Boolean]("on_disk")).toSeq ===
      Seq(false, true, true), "vacuum must drop only versions beyond keep=2")
    assert(st.map(_.getAs[Boolean]("is_current")).toSeq ===
      Seq(false, false, true))
  }

  test("maintenance_compact bin-packs small files without changing content") {
    val row = SparkEntry.queries("maintenance_compact")(spark, sfDir).collect().head
    val before = row.getAs[Long]("n_files_before")
    val after = row.getAs[Long]("n_files_after")
    assert(before === 64L, "fixture must land as 64 small files")
    assert(after === row.getAs[Long]("n_files_target"),
      "compaction must hit exactly ceil(bytes/target) files")
    assert(after < before, "compaction must reduce the file count")
    assert(row.getAs[Boolean]("content_unchanged"),
      "compaction changed the table's contents")
    assert(row.getAs[String]("history") === "v_small,v_compact",
      "_history must log both the ingest and the maintenance commit")
    assert(row.getAs[String]("current") === "v_compact")
  }

  test("restore after vacuum surfaces IllegalArgumentException through the runner path") {
    // the maintenance_restore op commits at keepVersions=4 so all versions
    // stay restorable; this variant commits space-frugally (keepVersions=1,
    // vacuuming v0) and asserts the op's exact restore call — same parquet
    // restage lambda, uncaught on the runner path — fails fast with the
    // not-restorable IllegalArgumentException instead of restaging garbage
    import org.apache.hadoop.fs.{Path => HPath}
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new HPath(TempDirs.tmp("graft_rstv_"))
    val v0 = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val d0 = graft.pipeline.Versioned.stagePath(root, Some("v0"))
    v0.write.mode("overwrite").parquet(d0.toString)
    graft.pipeline.Versioned.commit(root, d0, conf, keepVersions = 1)
    val d1 = graft.pipeline.Versioned.stagePath(root, Some("v1"))
    v0.withColumn("o_totalprice", lit(0.0))
      .write.mode("overwrite").parquet(d1.toString)
    graft.pipeline.Versioned.commit(root, d1, conf, keepVersions = 1)
    // keepVersions=1 GC'd v0's dir; the audit log still lists it
    assert(graft.pipeline.Versioned.history(root, conf) === Seq("v0", "v1"))
    assert(!root.getFileSystem(conf).exists(d0))
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.Versioned.restore(root, 0, conf, (from, to) =>
        spark.read.parquet(from.toString)
          .write.mode("overwrite").parquet(to.toString))
    }
    assert(e.getMessage.contains("not restorable"))
    // the failed restore changed nothing: head and history intact
    assert(graft.pipeline.Versioned.current(root, conf)
      .map(_.getName) === Some("v1"))
    assert(graft.pipeline.Versioned.history(root, conf) === Seq("v0", "v1"))
  }

  test("zone map is persisted at commit: repeat queries never re-derive it") {
    // first call builds + commits the layout and its zone-map side table
    SparkEntry.queries("scan_zone_map")(spark, sfDir).collect()
    // any later query must consume the committed side table — no query-time
    // input_file_name aggregate over the data files (the re-derive shape)
    val sawDerive = new java.util.concurrent.atomic.AtomicBoolean(false)
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        if (qe.executedPlan.toString.contains("input_file_name"))
          sawDerive.set(true)
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val out = SparkEntry.queries("scan_zone_map")(spark, sfDir).collect()
      assert(out.head.getAs[Long]("n_rows") > 0)
      Thread.sleep(500) // listener delivery is async
    } finally spark.listenerManager.unregister(l)
    assert(!sawDerive.get,
      "query-time execution re-derived the zone map with a full scan")
  }

  test("scan_zone_map reads strictly fewer files than the clustered layout") {
    val df = SparkEntry.queries("scan_zone_map")(spark, sfDir)
    // the returned aggregate's only scan is the zone-pruned read: its file
    // list must be a strict subset of the ACTUAL clustered layout (measured
    // from the layout dir, not assumed — empty range partitions can leave
    // fewer than the requested 8 files)
    val read = df.inputFiles
    assert(read.nonEmpty, "zone map selected no files")
    val layoutDir = new java.io.File(new java.net.URI(read.head)).getParentFile
    val layoutFiles = layoutDir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(read.length < layoutFiles,
      s"zone map pruned nothing: ${read.length} of $layoutFiles files")
    assert(df.collect().head.getAs[Long]("n_rows") > 0)
  }

  test("zone pruning past the driver file-list cap falls back to a full scan") {
    import org.apache.spark.sql.functions.expr
    val (out, zmDir) = operators.EtlOps.zoneMappedLayout(spark, sfDir)
    val overlap = expr("mx >= TIMESTAMP_NTZ '1997-01-01'") &&
      expr("mn < TIMESTAMP_NTZ '1998-01-01'")
    val pruned = operators.EtlOps.zonePrunedSource(spark, out, zmDir, overlap)
    val layoutFiles = spark.read.parquet(out).inputFiles.length
    assert(pruned.inputFiles.length < layoutFiles, "cap untested: no pruning")
    // same predicate, cap of 1 file: the pruned list exceeds it, so the
    // source must be the FULL layout — never a truncated (wrong) subset
    val capped = operators.EtlOps.zonePrunedSource(spark, out, zmDir, overlap,
      maxFiles = 1)
    assert(capped.inputFiles.length === layoutFiles,
      "over-cap pruning must fall back to the full layout, not truncate")
    // and the answer is identical either way (residual filter owns it)
    val res = "l_shipdate >= TIMESTAMP_NTZ '1997-01-01' AND " +
      "l_shipdate < TIMESTAMP_NTZ '1998-01-01'"
    assert(capped.where(expr(res)).count() === pruned.where(expr(res)).count())
  }

  // Point-in-time boundary semantics on a planted fixture: a fact AT a
  // version's start belongs to that version (inclusive from), a fact AT the
  // next version's start belongs to the NEXT one (exclusive to), a fact
  // before any version survives with NULLs, a fact after the last start
  // matches the open current row.
  test("join_temporal_dim boundary semantics on a planted timeline") {
    import spark.implicits._
    val dir = TempDirs.tmp("g_tdim_")
    // Tables.load reads events.ts as NANOSECOND longs (the driver fixture's
    // parquet shape) and truncates to µs — plant the same shape
    def ts(ms: Long): Long = ms * 1000000L
    // dim versions for user 1 start at t=1000 (signup, value 10) and
    // t=2000 (purchase, value 20); facts probe 500/1000/1500/2000/3000
    Seq(
      (101L, 1L, "signup", 10.0, ts(1000)),
      (102L, 1L, "purchase", 20.0, ts(2000)),
      (201L, 1L, "click", 0.0, ts(500)),
      (202L, 1L, "click", 0.0, ts(1000)),
      (203L, 1L, "view", 0.0, ts(1500)),
      (204L, 1L, "click", 0.0, ts(2000)),
      (205L, 1L, "view", 0.0, ts(3000)))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("join_temporal_dim")(spark, dir)
      .select("event_id", "dim_event_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got === Map(
      201L -> -1L,   // before any version: NULL dim
      202L -> 101L,  // at v1 start: inclusive
      203L -> 101L,  // inside v1
      204L -> 102L,  // at v2 start: v1's 'to' is exclusive
      205L -> 102L)) // open current row
  }

  // A purchase 2h before a click is a valid BACKWARD match but outside the
  // 1h tolerance → the click must surface with a NULL asof; a 30-min-old
  // purchase stays matched.
  test("join_asof_tolerance expires matches older than the tolerance") {
    import spark.implicits._
    val dir = TempDirs.tmp("g_tol_")
    def ts(ms: Long): Long = ms * 1000000L
    Seq(
      (301L, 1L, "purchase", 5.0, ts(0L)),
      (302L, 1L, "click", 0.0, ts(7200000L)),     // 2h later: expired
      (303L, 2L, "purchase", 7.0, ts(0L)),
      (304L, 2L, "click", 0.0, ts(1800000L)))     // 30min later: matched
      .toDF("event_id", "user_id", "event_type", "value", "ts")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("join_asof_tolerance")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(got === Map(302L -> -1L, 304L -> 303L), s"got $got")
  }

  test("profile_stats_approx agrees with the exact profile, verdicts true") {
    val exact = SparkEntry.queries("profile_stats")(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(2), r.getString(3), r.getString(4)))).toMap
    val approx = SparkEntry.queries("profile_stats_approx")(spark, sfDir)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(2), r.getBoolean(3), r.getString(4), r.getString(5)))).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (c, (nd, mn, mx)) =>
      val (and, ok, amn, amx) = approx(c)
      assert(and === nd, s"$c: audit-side exact distinct must match")
      assert(ok, s"$c: HLL estimate left the 5% bound")
      assert((amn, amx) === ((mn, mx)), s"$c min/max must be exact")
    }
  }

  test("audit_fk counts every child row once and finds a planted orphan") {
    val rows = SparkEntry.queries("audit_fk")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows.keySet === Set(
      "customer->nation", "lineitem->orders", "orders->customer"))
    assert(rows("lineitem->orders")._1 ===
      Tables.load(spark, sfDir, "lineitem").count())
    rows.values.foreach { case (n, orph) => assert(orph >= 0 && orph <= n) }
    // planted fixture: one lineitem row pointing at a nonexistent order
    import spark.implicits._
    val dir = TempDirs.tmp("g_fk_")
    Seq(10L, -999L).toDF("l_orderkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq(10L).toDF("o_orderkey").withColumn("o_custkey", lit(1L))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, 0)).toDF("c_custkey", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq(0).toDF("n_nationkey").write.mode("overwrite")
      .parquet(s"$dir/nation.parquet")
    val planted = SparkEntry.queries("audit_fk")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(planted("lineitem->orders") === 1L, s"planted: $planted")
    assert(planted("orders->customer") === 0L)
  }

  test("dq_expectations reports all rules from one scan with sane rates") {
    val rows = SparkEntry.queries("dq_expectations")(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSet === Set(
      "price_positive", "date_not_null", "status_domain", "priority_format"))
    val checked = Tables.load(spark, sfDir, "orders").count()
    rows.foreach { r =>
      assert(r.getLong(2) === checked)
      assert(r.getLong(1) >= 0 && r.getLong(1) <= checked)
      val rate = r.getDouble(3)
      assert(rate >= 0.0 && rate <= 1.0)
      assert(math.abs(rate - (checked - r.getLong(1)).toDouble / checked) < 2e-6)
    }
  }

  test("resample_interpolate fills every grid cell and is exact between neighbors") {
    val rows = SparkEntry.queries("resample_interpolate")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))
    assert(rows.nonEmpty)
    assert(rows.forall(r => !r._4.isNaN), "every cell filled")
    // planted: values 10 at day 0 and 40 at day 3 → days 1,2 interpolate
    // to 20, 30
    import spark.implicits._
    val dir = TempDirs.tmp("g_ri_")
    // ts planted as NANOSECOND longs — the driver fixture's parquet shape
    // that Tables.load expects (see join_temporal_dim's fixture)
    def ts(ms: Long): Long = ms * 1000000L
    Seq((0L, 1L, "a", 10.0, ts(1704110400000L)),   // 2024-01-01 12:00 UTC
        (1L, 1L, "a", 40.0, ts(1704369600000L)))   // 2024-01-04 12:00 UTC
      .toDF("event_id", "user_id", "event_type", "value", "ts")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val planted = SparkEntry.queries("resample_interpolate")(spark, dir)
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    val base = planted.keys.min
    assert(planted(base) === 10.0)
    assert(planted(base + 1) === 20.0)
    assert(planted(base + 2) === 30.0)
    assert(planted(base + 3) === 40.0)
  }

  test("resample_ohlc bars bound their values and cover every event") {
    val rows = SparkEntry.queries("resample_ohlc")(spark, sfDir)
      .collect().map(r => (r.getDouble(2), r.getDouble(3), r.getDouble(4),
        r.getDouble(5), r.getLong(6)))
    assert(rows.nonEmpty)
    rows.foreach { case (open, high, low, close, n) =>
      assert(low <= high)
      assert(open >= low && open <= high)
      assert(close >= low && close <= high)
      assert(n >= 1)
    }
    val total = Tables.load(spark, sfDir, "events").count()
    assert(rows.map(_._5).sum === total)
  }

  test("dq_benford shares sum to 1 and expectations are the Benford law") {
    val rows = SparkEntry.queries("dq_benford")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty && rows.length <= 9)
    rows.foreach { case (d, n, share, bp) =>
      assert(d >= 1 && d <= 9)
      assert(n > 0 && share > 0.0)
      assert(math.abs(bp - math.log10(1.0 + 1.0 / d)) < 5e-5)
    }
    assert(math.abs(rows.map(_._3).sum - 1.0) < rows.length * 5e-5 + 1e-9)
    if (rows.length == 9)
      assert(math.abs(rows.map(_._4).sum - 1.0) < rows.length * 5e-5 + 1e-9,
        "Benford probabilities over digits 1-9 are a distribution")
  }

  test("resample_seasonality indexes average to 1 per event type") {
    val rows = SparkEntry.queries("resample_seasonality")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val total = Tables.load(spark, sfDir, "events").count()
    assert(rows.map(_._3).sum === total)
    rows.groupBy(_._1).foreach { case (_, cells) =>
      assert(cells.map(_._2).distinct.length === cells.length, "one row per dow")
      // Σ idx = Σ 7n/N = 7 when all seven days are present
      if (cells.length == 7)
        assert(math.abs(cells.map(_._4).sum - 7.0) < 7 * 5e-5 + 1e-9)
      cells.foreach { case (_, dow, _, idx) =>
        assert(dow >= 0 && dow <= 6)
        assert(idx > 0.0)
      }
    }
  }

  test("scan_json_rescue captures undeclared fields losslessly and only those") {
    val df = SparkEntry.queries("scan_json_rescue")(spark, sfDir).cache()
    val sup = Tables.load(spark, sfDir, "supplier")
    assert(df.count() === sup.count())
    // every row rescued exactly the two undeclared fields — never a
    // declared one, never nothing
    assert(df.filter(col("rescued_keys") =!= "s_acctbal,s_nationkey")
      .count() === 0)
    // undeclared values survive the text round trip bit-exactly
    val mismatch = df.join(sup, "s_suppkey")
      .filter(col("rescued_nationkey") =!= col("s_nationkey") ||
        col("rescued_acctbal") =!= col("s_acctbal") ||
        df("s_name") =!= sup("s_name"))
    assert(mismatch.count() === 0)
    df.unpersist()
  }

  test("dq_anomaly_iqr fences bound a minority of each group") {
    val rows = SparkEntry.queries("dq_anomaly_iqr")(spark, sfDir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    val total = Tables.load(spark, sfDir, "orders").count()
    assert(rows.map(_._1).sum === total)
    rows.foreach { case (n, out, q1, q3) =>
      assert(q1 <= q3)
      assert(out >= 0 && out * 2 < n, "Tukey fences exclude a minority")
    }
  }
}
