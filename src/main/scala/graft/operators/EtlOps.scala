package graft.operators

import graft.{Op, Tables}
import graft.TempDirs.tmp
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import java.nio.file.Files
import org.apache.hadoop.fs.{Path => HPath}
import graft.pipeline.Versioned

/** ETL-pattern operators from the reference framework (SURVEY.md §2A):
  * batch ingest roundtrip (A4+A5), join-based MERGE without Delta (A7),
  * latest-arrival selection (A17), partitioned layout + Z-order emulation
  * (A5/A11), and the oracle-checkable batch analogs of the streaming
  * semantics (tumbling buckets, sessionization).
  */
object EtlOps {
  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)
  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  // A4+A5: read parquet -> write parquet -> read back. The re-read result is
  // what downstream consumers see, so that is what gets oracle-checked.
  private val ingestRoundtrip = Op(
    "ingest_roundtrip",
    (s, d) => {
      val out = tmp("graft_rt_")
      t(s, d, "region").write.mode("overwrite").parquet(out)
      s.read.parquet(out).orderBy("r_regionkey")
    },
    Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"))

  // A7 MERGE semantics over parquet, no Delta jar in this environment
  // (SURVEY.md §7.4): matched rows take the source version, unmatched target
  // rows survive. source ∪ (target ⟕anti source) = one shuffle on the merge
  // key; at scale the anti join broadcasts when the source batch is small.
  private val mergeUpsert = Op(
    "merge_upsert",
    (s, d) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val target = t(s, d, "orders").filter(col("o_orderkey") % 2 === 0)
        .select(cols.map(col): _*)
      val source = t(s, d, "orders").filter(col("o_orderkey") % 3 === 0)
        .select(cols.map(col): _*)
        .withColumn("o_orderstatus", lit("U"))
      source.unionByName(
        target.join(source.select("o_orderkey"), Seq("o_orderkey"), "left_anti"))
        .orderBy("o_orderkey")
    },
    Some("""WITH tgt AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
                         FROM orders WHERE o_orderkey % 2 = 0),
                 src AS (SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice
                         FROM orders WHERE o_orderkey % 3 = 0)
            SELECT * FROM src
            UNION ALL
            SELECT * FROM tgt WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
            ORDER BY o_orderkey"""))

  // A7 with the full Delta MERGE clause set — conditional DELETE on match
  // plus NOT MATCHED BY SOURCE handling (WriteMode.Merge's deleteOnMatch /
  // deleteNotMatchedBySource, applied by IngestionRunner.mergeInto):
  //   - source rows flagged is_delete (o_orderkey % 9 = 0) are TOMBSTONES:
  //     they delete the matching target row and insert nothing when
  //     unmatched (cdc_apply_changelog's tombstone mechanics);
  //   - target rows with NO source match are purged when stale
  //     (o_totalprice < 50000 — the "source is the full truth" sync rule),
  //     otherwise survive.
  // Spark spelling stays the single shuffle on the merge key: the clauses
  // are FILTERS on the upsert and survivor branches of the same
  // union/anti-join plan as merge_upsert — no extra join. The oracle
  // derives identical rows INDEPENDENTLY from one full outer join over
  // the 2×2 (matched × tombstone/stale) clause grid.
  private val mergeUpsertDelete = Op(
    "merge_upsert_delete",
    (s, d) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val target = t(s, d, "orders").filter(col("o_orderkey") % 2 === 0)
        .select(cols.map(col): _*)
      val source = t(s, d, "orders").filter(col("o_orderkey") % 3 === 0)
        .select(cols.map(col): _*)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("is_delete", col("o_orderkey") % 9 === 0)
      val upserts = source.filter(!col("is_delete")).drop("is_delete")
      val survivors = target
        .join(source.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
        .filter(col("o_totalprice") >= 50000)
      upserts.unionByName(survivors).orderBy("o_orderkey")
    },
    Some("""WITH tgt AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                                o_totalprice
                         FROM orders WHERE o_orderkey % 2 = 0),
                 src AS (SELECT o_orderkey, o_custkey,
                                'U' AS o_orderstatus, o_totalprice,
                                (o_orderkey % 9 = 0) AS is_del
                         FROM orders WHERE o_orderkey % 3 = 0),
                 j AS (SELECT COALESCE(s.o_orderkey, t.o_orderkey)
                                AS o_orderkey,
                              s.o_orderkey IS NOT NULL AS has_s,
                              t.o_orderkey IS NOT NULL AS has_t,
                              s.is_del,
                              s.o_custkey AS s_ck, s.o_orderstatus AS s_st,
                              s.o_totalprice AS s_tp,
                              t.o_custkey AS t_ck, t.o_orderstatus AS t_st,
                              t.o_totalprice AS t_tp
                       FROM tgt t FULL JOIN src s
                         ON t.o_orderkey = s.o_orderkey)
            SELECT o_orderkey,
                   CASE WHEN has_s THEN s_ck ELSE t_ck END AS o_custkey,
                   CASE WHEN has_s THEN s_st ELSE t_st END AS o_orderstatus,
                   CASE WHEN has_s THEN s_tp ELSE t_tp END AS o_totalprice
            FROM j
            WHERE (has_s AND NOT is_del)
               OR (NOT has_s AND t_tp >= 50000)
            ORDER BY o_orderkey"""))

  // framework.py:15's schema-evolution promise on the MERGE path (Delta
  // autoMerge analog): the source batch gained a column the target lacks;
  // matched rows take the source version, unmatched target rows survive
  // with NULL backfill for the new column. unionByName(allowMissingColumns)
  // IS the evolution mechanism — same single shuffle as merge_upsert. The
  // config-driven runner applies the identical rule on its merge path
  // (IngestionRunner.mergeInto), asserted through PipelineSpec.
  private val mergeUpsertEvolve = Op(
    "merge_upsert_evolve",
    (s, d) => {
      val target = t(s, d, "orders").filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val source = t(s, d, "orders").filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") + 10).as("o_totalprice"),
          concat(lit("ch-"), (col("o_orderkey") % 4).cast("string")).as("o_channel"))
      source.unionByName(
        target.join(source.select("o_orderkey"), Seq("o_orderkey"), "left_anti"),
        allowMissingColumns = true)
        .orderBy("o_orderkey")
    },
    Some("""WITH tgt AS (SELECT o_orderkey, o_custkey, o_totalprice
                         FROM orders WHERE o_orderkey % 2 = 0),
                 src AS (SELECT o_orderkey, o_custkey,
                           o_totalprice + 10 AS o_totalprice,
                           'ch-' || CAST(o_orderkey % 4 AS VARCHAR) AS o_channel
                         FROM orders WHERE o_orderkey % 3 = 0)
            SELECT o_orderkey, o_custkey, o_totalprice, o_channel FROM src
            UNION ALL
            SELECT o_orderkey, o_custkey, o_totalprice, CAST(NULL AS VARCHAR)
            FROM tgt WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
            ORDER BY o_orderkey"""))

  // Dynamic partition overwrite (framework.py:162-163's overwrite+partitionBy
  // composition done right for a daily pipeline): with
  // partitionOverwriteMode=dynamic the incoming batch replaces ONLY the
  // partitions it contains rows for — untouched partitions survive
  // byte-identical, instead of the static mode's whole-table truncate. The
  // op rewrites the 'purchase' partition with rescaled values and reads the
  // whole layout back; the oracle proves purchases changed and every other
  // partition did not.
  private val partitionOverwriteDynamic = Op(
    "partition_overwrite_dynamic",
    (s, d) => {
      val out = tmp("graft_pod_")
      val ev = t(s, d, "events")
      ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
      val batch = ev.where(col("event_type") === "purchase")
        .withColumn("value", col("value") * 2)
      val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try batch.write.mode("overwrite").partitionBy("event_type").parquet(out)
      finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
      s.read.parquet(out)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, event_type,
              CASE WHEN event_type = 'purchase' THEN value * 2 ELSE value END AS value
            FROM events ORDER BY event_id"""))

  // A4 csv path (framework.py:49 "csv|json|parquet"): write-read roundtrip
  // with header + schema inference; the re-read result is oracle-checked
  // against the parquet source of truth.
  private val scanCsvInfer = Op(
    "scan_csv_infer",
    (s, d) => {
      val out = tmp("graft_csv_")
      t(s, d, "region").write.mode("overwrite")
        .option("header", "true").csv(out)
      s.read.option("header", "true").option("inferSchema", "true").csv(out)
        .select(col("r_regionkey").cast("int"), col("r_name"))
        .orderBy("r_regionkey")
    },
    Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"))

  // A4 json path incl. the reference's multiLine nod (framework.py:313):
  // numbers round-trip as long/double, strings as strings; timestamps are
  // deliberately excluded (JSON inference returns strings for them).
  private val scanJsonInfer = Op(
    "scan_json_infer",
    (s, d) => {
      val out = tmp("graft_json_")
      t(s, d, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .write.mode("overwrite").json(out)
      s.read.option("multiLine", "false").json(out)
        .select(col("c_custkey"), col("c_name"),
          col("c_acctbal"), col("c_mktsegment"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name, c_acctbal, c_mktsegment
            FROM customer ORDER BY c_custkey"""))

  // A4 json multiLine path (framework.py:313 sets {"multiLine":"true"}): a
  // single top-level JSON ARRAY of NESTED objects, parsed with
  // multiLine=true. The fixture is built distributively — rows fold into one
  // sorted JSON array via collect_list inside an aggregate (never a driver
  // collect) — then read back and the nested fields are projected out.
  // multiLine fixtures are inherently one-parser-per-file; at scale the
  // landing zone holds many such files, one task each.
  private val scanJsonMultiline = Op(
    "scan_json_multiline",
    (s, d) => {
      val out = tmp("graft_jsonml_")
      t(s, d, "customer")
        .select(struct(
          col("c_custkey"),
          struct(col("c_name").as("name"), col("c_mktsegment").as("segment"))
            .as("profile"),
          col("c_acctbal")).as("rec"))
        .agg(to_json(array_sort(collect_list(col("rec")))).as("j"))
        .coalesce(1).write.mode("overwrite").text(out)
      s.read.option("multiLine", "true").json(out)
        .select(col("c_custkey"),
          col("profile.name").as("c_name"),
          col("profile.segment").as("c_mktsegment"),
          col("c_acctbal"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name, c_mktsegment, c_acctbal
            FROM customer ORDER BY c_custkey"""))

  // A17 generalized: latest event per user (argmax by timestamp) — a single
  // shuffle on user_id; never a collect-and-scan like the reference's client.
  private val topkLatest = Op(
    "topk_latest",
    (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      t(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
          expr("unix_micros(ts) div 1000").as("ts_ms"))
        .orderBy("user_id")
    },
    Some("""SELECT user_id, event_id, event_type, value, epoch_ms(ts) AS ts_ms
            FROM (SELECT *, row_number() OVER
                    (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events)
            WHERE rn = 1 ORDER BY user_id"""))

  // A5 partitioned write + partition-pruned read-back. Test-only: the pruning
  // itself is asserted from the physical plan in ScalaTest.
  private val partitionedWrite = Op(
    "partitioned_write",
    (s, d) => {
      val out = tmp("graft_pw_")
      t(s, d, "events").write.mode("overwrite")
        .partitionBy("event_type").parquet(out)
      s.read.parquet(out)
        .filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "value")
        .orderBy("event_id")
    },
    // the read-back IS oracle-checkable (the roundtrip must preserve rows
    // exactly); the partition-PRUNING behavior is separately plan-asserted
    Some("""SELECT event_id, user_id, value FROM events
            WHERE event_type = 'purchase' ORDER BY event_id"""))

  /** Deterministic per-source-dir root for the shared clustered layout and
    * its committed zone-map side table (build-once-serve-many) —
    * conf-driven base + input content fingerprint via
    * [[graft.pipeline.Versioned.stageRoot]]. */
  private def zoneRoot(s: SparkSession, d: String): HPath =
    Versioned.stageRoot(s, "zl1", d, Seq("lineitem"))

  /** A11 OPTIMIZE/ZORDER layout with its zone map PERSISTED AT COMMIT TIME:
    * cluster lineitem on (l_shipdate, l_orderkey), derive the per-file
    * (rows, min, max) index in ONE scan of the newly-written files, and
    * commit data + zone map together through the Versioned protocol. Every
    * later query consumes the committed side table — the Delta-log /
    * Iceberg-manifest shape — instead of re-deriving the index with a full
    * table scan per query (the round-3/4 gap). Returns
    * (dataDir, zoneMapDir) of the current committed version. */
  private[graft] def zoneMappedLayout(s: SparkSession, d: String): (String, String) = {
    val conf = s.sparkContext.hadoopConfiguration
    val root = zoneRoot(s, d)
    if (Versioned.current(root, conf).isEmpty) {
      val dir = Versioned.stagePath(root, Some("v_layout"))
      t(s, d, "lineitem")
        .repartitionByRange(8, col("l_shipdate"), col("l_orderkey"))
        .sortWithinPartitions("l_shipdate", "l_orderkey")
        .write.mode("overwrite").parquet(s"$dir/data")
      s.read.parquet(s"$dir/data")
        .groupBy(input_file_name().as("file"))
        .agg(count(lit(1)).as("n_rows"),
          min("l_shipdate").as("mn"), max("l_shipdate").as("mx"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/zonemap")
      Versioned.commit(root, dir, conf, keepVersions = 2)
    }
    val cur = Versioned.current(root, conf).get.toString
    (s"$cur/data", s"$cur/zonemap")
  }

  // A11 OPTIMIZE/ZORDER emulation: range-repartition + sort-within-partitions
  // on the cluster keys gives per-file min/max locality for data skipping.
  // The layout summary now reads from the COMMITTED zone map (planning
  // metadata, #files rows) rather than re-scanning the table.
  private val layoutCluster = Op(
    "layout_cluster",
    (s, d) => {
      val (_, zmDir) = zoneMappedLayout(s, d)
      s.read.parquet(zmDir)
        .agg(count(lit(1)).as("n_files"), sum("n_rows").as("total_rows"))
    },
    None)

  // Bucketed co-located join — the technique that removes the shuffle from
  // REPEATED large-large joins at 100 TB: both fact tables are written
  // bucketed+sorted on the join key (a one-time layout cost), after which
  // every join on that key reads bucket-aligned files with NO exchange on
  // either side (asserted from the plan in EtlOpsSpec). The query itself is
  // engine-portable, so the oracle runs it on the flat tables.
  //
  // The layout write is staged ONCE per source dir (the database name is
  // keyed by `d`, and existing tables are reused): a bucketed layout is a
  // maintenance commit, not a per-query cost — re-writing it on every
  // invocation made the bench time measure the fixture, not the
  // exchange-free join it exists to demonstrate.
  private val joinBucketed = Op(
    "join_bucketed",
    (s, d) => {
      val db = "graft_buckets_" + d.replaceAll("[^A-Za-z0-9]", "_")
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      // the default in-memory catalog forgets tables between JVMs while
      // their managed locations survive — clear orphaned locations or
      // saveAsTable fails with LOCATION_ALREADY_EXISTS (persistent
      // metastores don't hit this)
      val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath
      Seq("orders_b", "lineitem_b").foreach { tb =>
        if (!s.catalog.tableExists(s"$db.$tb")) {
          def rm(f: java.io.File): Unit = if (f.exists()) {
            Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
          }
          rm(new java.io.File(s"$wh/$db.db/$tb"))
        }
      }
      // the bucketed layout stores ONLY the join/aggregate columns (guide
      // §6: write the columns readers need — the one-time layout cost was
      // dominated by parquet-encoding 20+ unused columns, ~4.9 s of the
      // bench's cold cost for this key at sf0.1)
      if (!s.catalog.tableExists(s"$db.orders_b"))
        t(s, d, "orders").select("o_orderkey", "o_orderpriority")
          .write.mode("overwrite")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable(s"$db.orders_b")
      if (!s.catalog.tableExists(s"$db.lineitem_b"))
        t(s, d, "lineitem").select("l_orderkey", "l_extendedprice")
          .write.mode("overwrite")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .saveAsTable(s"$db.lineitem_b")
      s.table(s"$db.lineitem_b")
        .join(s.table(s"$db.orders_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_extendedprice"))).cast("double").as("revenue"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, COUNT(*) AS n,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  // ---------------- batch analogs of the streaming semantics (oracle-checked)
  private val bucketAggTumbling = Op(
    "bucket_agg_tumbling",
    (s, d) => t(s, d, "events")
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .orderBy("day"),
    Some("""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, COUNT(*) AS n,
              CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1 ORDER BY day"""))

  // Gap-based sessionization: lag > 30 min starts a new session; running sum
  // of boundaries numbers the sessions. One shuffle on user_id.
  private val sessionizeBatch = Op(
    "sessionize_batch",
    (s, d) => {
      val order = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .withColumn("ms", expr("unix_micros(ts) div 1000"))
        .withColumn("prev_ms", lag(col("ms"), 1).over(order))
        .withColumn("new_sess",
          when(col("prev_ms").isNull || col("ms") - col("prev_ms") > 1800000L, 1)
            .otherwise(0))
        .withColumn("session_seq", sum(col("new_sess")).over(run).cast("int"))
        .select("event_id", "user_id", "session_seq")
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id,
              CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_seq
            FROM (SELECT *,
                    CASE WHEN lag(epoch_ms(ts)) OVER
                           (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER
                           (PARTITION BY user_id ORDER BY ts, event_id) > 1800000
                         THEN 1 ELSE 0 END AS new_sess
                  FROM events)
            ORDER BY event_id"""))

  // CDC apply: collapse a changelog to current state — last writer per key
  // wins (total order: ts, then event_id), a trailing 'error' event acts as
  // a tombstone (key deleted). One window pass over one shuffle on the key;
  // the canonical "apply the day's changes to the snapshot" pattern.
  private val cdcApplyChangelog = Op(
    "cdc_apply_changelog",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(desc("ts"), desc("event_id"))
      t(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .withColumn("n_changes", count(lit(1)).over(Window.partitionBy("user_id")))
        .where(col("rn") === 1 && col("event_type") =!= "error")
        .select(col("user_id"), col("event_type").as("last_type"),
          col("value").as("last_value"), col("n_changes"),
          expr("unix_micros(ts) div 1000").as("last_ms"))
        .orderBy("user_id")
    },
    Some("""WITH c AS (
              SELECT user_id, event_type, value, ts,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY ts DESC, event_id DESC) AS rn,
                count(*) OVER (PARTITION BY user_id) AS n_changes
              FROM events)
            SELECT user_id, event_type AS last_type, value AS last_value,
                   n_changes, epoch_ms(ts) AS last_ms
            FROM c WHERE rn = 1 AND event_type <> 'error'
            ORDER BY user_id"""))

  // SCD type-2: turn the changelog into validity intervals — each change
  // opens a version at its ts and closes the previous one (lead() per key).
  // The open-ended current version has NULL valid_to. Same single window
  // pass / single shuffle as cdc_apply; together they are the warehouse
  // history-tracking pattern.
  private val scd2History = Op(
    "scd2_history",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, d, "events")
        .where(col("event_type").isin("signup", "purchase"))
        .withColumn("ms", expr("unix_micros(ts) div 1000"))
        .select(col("user_id"), col("event_id"), col("ms").as("valid_from_ms"),
          lead(col("ms"), 1).over(w).as("valid_to_ms"),
          col("value"),
          lead(col("ms"), 1).over(w).isNull.as("is_current"))
        .orderBy("user_id", "valid_from_ms", "event_id")
    },
    Some("""WITH f AS (
              SELECT user_id, event_id, value, epoch_ms(ts) AS ms
              FROM events WHERE event_type IN ('signup', 'purchase'))
            SELECT user_id, event_id, ms AS valid_from_ms,
                   lead(ms, 1) OVER w AS valid_to_ms, value,
                   lead(ms, 1) OVER w IS NULL AS is_current
            FROM f
            WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
            ORDER BY user_id, valid_from_ms, event_id"""))

  // Point-in-time (temporal) dimension join — the lookup side of SCD2:
  // every fact row (click/view) joins the dimension VERSION that was valid
  // at the fact's timestamp (valid_from ≤ ts < valid_to, open-ended current
  // row matches everything after its start), LEFT so facts before any dim
  // version survive with NULLs. The join is an equi-join on the dimension
  // key with the validity range as a residual condition — one shuffle on
  // user_id, and per-key work bounded by that key's version count, which is
  // the shape that holds when the fact table is 100 TB and the dim history
  // is millions of versions.
  private val joinTemporalDim = Op(
    "join_temporal_dim",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val dim = t(s, d, "events")
        .where(col("event_type").isin("signup", "purchase"))
        .withColumn("ms", expr("unix_micros(ts) div 1000"))
        .select(col("user_id").as("dim_user"), col("event_id").as("dim_event_id"),
          col("ms").as("valid_from_ms"),
          lead(col("ms"), 1).over(
            Window.partitionBy("user_id").orderBy("ms", "event_id")).as("valid_to_ms"),
          col("value").as("dim_value"))
      val facts = t(s, d, "events")
        .where(col("event_type").isin("click", "view"))
        .withColumn("fact_ms", expr("unix_micros(ts) div 1000"))
        .select(col("event_id"), col("user_id"), col("event_type"), col("fact_ms"))
      facts.join(dim,
          facts("user_id") === dim("dim_user") &&
            dim("valid_from_ms") <= facts("fact_ms") &&
            (dim("valid_to_ms").isNull || facts("fact_ms") < dim("valid_to_ms")),
          "left")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("fact_ms"), col("dim_event_id"), col("dim_value"))
        .orderBy("event_id")
    },
    Some("""WITH dim AS (
              SELECT user_id AS dim_user, event_id AS dim_event_id,
                     epoch_ms(ts) AS valid_from_ms,
                     lead(epoch_ms(ts), 1) OVER
                       (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
                       AS valid_to_ms,
                     value AS dim_value
              FROM events WHERE event_type IN ('signup', 'purchase')),
            facts AS (
              SELECT event_id, user_id, event_type, epoch_ms(ts) AS fact_ms
              FROM events WHERE event_type IN ('click', 'view'))
            SELECT f.event_id, f.user_id, f.event_type, f.fact_ms,
                   d.dim_event_id, d.dim_value
            FROM facts f LEFT JOIN dim d
              ON f.user_id = d.dim_user
             AND d.valid_from_ms <= f.fact_ms
             AND (d.valid_to_ms IS NULL OR f.fact_ms < d.valid_to_ms)
            ORDER BY f.event_id"""))

  // Calendar zero-fill resample: a (day × event_type) grid from the data's
  // own bounds (one tiny agg, broadcast), left-joined to daily aggregates so
  // gap days surface as explicit zeros — what every dashboard/training-mix
  // rollup needs. Aggregates chosen order-independent (count, max) so the
  // result is bit-stable on any engine/partitioning; a double SUM would not
  // be (SURVEY.md §7.6).
  private val resampleZerofill = Op(
    "resample_zerofill",
    (s, d) => {
      val ev = t(s, d, "events")
      val days = ev.agg(date_trunc("day", min("ts")).as("d0"),
          date_trunc("day", max("ts")).as("d1"))
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val types = ev.select("event_type").distinct()
      val daily = ev.groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), max(col("value")).as("max_value"))
      days.crossJoin(types)
        .join(daily, Seq("day", "event_type"), "left")
        .select(expr("unix_micros(day) div 1000").as("day_ms"), col("event_type"),
          coalesce(col("n"), lit(0L)).as("n"),
          col("max_value"))
        .orderBy("day_ms", "event_type")
    },
    Some("""WITH b AS (SELECT date_trunc('day', min(ts)) AS d0,
                              date_trunc('day', max(ts)) AS d1 FROM events),
            days AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM b),
            types AS (SELECT DISTINCT event_type FROM events),
            daily AS (
              SELECT date_trunc('day', ts) AS day, event_type,
                     count(*) AS n, max(value) AS max_value
              FROM events GROUP BY 1, 2)
            SELECT epoch_ms(days.day) AS day_ms, types.event_type AS event_type,
                   coalesce(daily.n, 0) AS n, daily.max_value
            FROM days CROSS JOIN types
            LEFT JOIN daily ON daily.day = days.day
                           AND daily.event_type = types.event_type
            ORDER BY day_ms, types.event_type"""))

  // Text source/sink roundtrip (the line-oriented format logs and legacy
  // feeds arrive in): rows render to delimited lines, spark.read.text
  // brings them back as a single `value` column, and the parse is a
  // map-side split + cast — schema-on-read at its rawest. The oracle reads
  // the same rows from parquet, so the check proves render∘parse identity.
  private val scanTextLines = Op(
    "scan_text_lines",
    (s, d) => {
      val out = tmp("graft_text_")
      t(s, d, "nation")
        .select(concat_ws("\t", col("n_nationkey"), col("n_name"),
          col("n_regionkey")).as("value"))
        .write.mode("overwrite").text(out)
      s.read.text(out)
        .select(split(col("value"), "\t").as("f"))
        .select(col("f").getItem(0).cast("long").as("n_nationkey"),
          col("f").getItem(1).as("n_name"),
          col("f").getItem(2).cast("int").as("n_regionkey"))
        .orderBy("n_nationkey")
    },
    Some("""SELECT n_nationkey, n_name, CAST(n_regionkey AS INT) AS n_regionkey
            FROM nation ORDER BY n_nationkey"""))

  // ORC source/sink roundtrip (Spark's second columnar format, in-box): the
  // oracle reads the same rows from parquet, so the check proves the ORC
  // write+read preserved values exactly.
  private val scanOrcRoundtrip = Op(
    "scan_orc_roundtrip",
    (s, d) => {
      val out = tmp("graft_orc_")
      t(s, d, "nation").write.mode("overwrite").orc(out)
      s.read.orc(out).orderBy("n_nationkey")
    },
    Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"))

  // XML source/sink roundtrip (the XML data source is in-box since Spark 4,
  // SPARK-44265): write rows as <r> elements, read them back through schema
  // inference, and prove value preservation against the parquet oracle.
  // Inference widens integers to LONG, so the read side casts back to the
  // parquet column types before the compare — the cast is part of what the
  // key checks (a lossy roundtrip would not survive it).
  private val scanXmlRoundtrip = Op(
    "scan_xml_roundtrip",
    (s, d) => {
      val out = tmp("graft_xml_")
      t(s, d, "nation").write.mode("overwrite")
        .option("rowTag", "r").format("xml").save(out)
      s.read.option("rowTag", "r").format("xml").load(out)
        .select(col("n_nationkey").cast("int"), col("n_name"),
          col("n_regionkey").cast("int"))
        .orderBy("n_nationkey")
    },
    Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"))

  /** Portable 32-bit value of the first 8 hex chars of an md5 hex string —
    * hex→int arithmetic spelled out digit by digit because neither engine's
    * native conversion exists in the other (Spark `conv` / DuckDB
    * `from_hex`). The SAME generated SQL text runs on both engines.
    *
    * `hexPrefix32` works over an already-computed digest column: codegen
    * does NOT common-subexpression-eliminate repeated md5 calls, so the
    * digest must be evaluated once in an enclosing subquery and only the
    * (cheap) per-digit substr/ascii arithmetic repeated — 16 md5 evals per
    * row otherwise dominate the whole scan. */
  private[graft] def hexPrefix32(m: String): String = {
    // instr-on-alphabet (1-based, identical in Spark and DuckDB) is one
    // string op per digit vs two for the ascii/CASE spelling — measured
    // 0.99 s vs 1.28 s for the full checksum at local[4]/sf0.1
    val digit = (i: Int) =>
      s"(instr('0123456789abcdef', substr($m, $i, 1)) - 1)"
    (1 to 8).map(i => s"CAST(${digit(i)} AS BIGINT) * ${1L << (4 * (8 - i))}")
      .mkString("(", " + ", ")")
  }

  private[graft] def md5Prefix32(inner: String): String =
    hexPrefix32(s"md5($inner)")

  // Table checksum: order-independent row-level fingerprint (bit_xor + sum
  // of a per-row hash over the canonical row string) — the migration /
  // replication integrity check: run on source and target, compare three
  // numbers instead of 100 TB of rows. XOR and SUM commute, so the result
  // is identical under any partitioning/ordering. Columns restricted to
  // int/string (float→string formatting is engine-specific).
  private val checksumTable = Op(
    "checksum_table",
    (s, d) => {
      val rowStr = "concat_ws('|', l_orderkey, l_linenumber, l_returnflag, l_linestatus)"
      // digest once per row, then digit arithmetic over the alias — the
      // nested select is what keeps md5 to ONE eval per row (see hexPrefix32)
      t(s, d, "lineitem")
        .selectExpr(s"md5($rowStr) AS m")
        .selectExpr(s"${hexPrefix32("m")} AS h")
        .selectExpr("count(*) AS n_rows", "bit_xor(h) AS xor_sig", "sum(h) AS sum_sig")
    },
    Some {
      val rowStr = "concat_ws('|', l_orderkey, l_linenumber, l_returnflag, l_linestatus)"
      s"""SELECT count(*) AS n_rows, bit_xor(h) AS xor_sig, CAST(sum(h) AS BIGINT) AS sum_sig
          FROM (SELECT ${hexPrefix32("m")} AS h
                FROM (SELECT md5($rowStr) AS m FROM lineitem))"""
    })

  // One-pass column profiler: null count / exact distinct / min / max for
  // each profiled column computed in a SINGLE scan + aggregate, then
  // reshaped to one row per column. The ingest-validation step that decides
  // whether a 100 TB load looks sane before anything downstream runs.
  private val profileStats = Op(
    "profile_stats",
    (s, d) => {
      // One aggregate PER COLUMN, unioned — not one aggregate with four
      // DISTINCT columns: Catalyst plans multiple distinct aggregates as a
      // 4-way Expand (every input row duplicated once per distinct column
      // through a single exchange — 245 s over 15 M orders at the r13 sf10
      // probe). Per-column jobs each scan ONE pruned parquet column and
      // run the ordinary two-phase distinct (partial dedup map-side);
      // union of 4 one-row relations. Same rows, same order.
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      cols.map { c =>
        t(s, d, "orders").agg(
            sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
            countDistinct(col(c)).as("n_distinct"),
            min(col(c).cast("string")).as("min_s"),
            max(col(c).cast("string")).as("max_s"))
          .select(lit(c).as("column_name"), col("n_null"),
            col("n_distinct"), col("min_s"), col("max_s"))
      }.reduce(_.unionAll(_)).orderBy("column_name")
    },
    Some("""WITH a AS (
              SELECT
                CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS k_nn,
                count(DISTINCT o_orderkey) AS k_nd,
                min(CAST(o_orderkey AS VARCHAR)) AS k_mn,
                max(CAST(o_orderkey AS VARCHAR)) AS k_mx,
                CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_nn,
                count(DISTINCT o_custkey) AS c_nd,
                min(CAST(o_custkey AS VARCHAR)) AS c_mn,
                max(CAST(o_custkey AS VARCHAR)) AS c_mx,
                CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS s_nn,
                count(DISTINCT o_orderstatus) AS s_nd,
                min(CAST(o_orderstatus AS VARCHAR)) AS s_mn,
                max(CAST(o_orderstatus AS VARCHAR)) AS s_mx,
                CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS p_nn,
                count(DISTINCT o_orderpriority) AS p_nd,
                min(CAST(o_orderpriority AS VARCHAR)) AS p_mn,
                max(CAST(o_orderpriority AS VARCHAR)) AS p_mx
              FROM orders)
            SELECT c.* FROM a, LATERAL (VALUES
              ('o_custkey', c_nn, c_nd, c_mn, c_mx),
              ('o_orderkey', k_nn, k_nd, k_mn, k_mx),
              ('o_orderpriority', p_nn, p_nd, p_mn, p_mx),
              ('o_orderstatus', s_nn, s_nd, s_mn, s_mx))
              c(column_name, n_null, n_distinct, min_s, max_s)
            ORDER BY column_name"""))

  // Dynamic partition pruning: the fact table is laid out partitioned by
  // event_type; the dimension's filter (on an AGGREGATED column, so it
  // cannot be statically inferred onto the fact side) reaches the fact scan
  // only at RUNTIME, via the broadcast result — Spark prunes whole
  // partitions before reading them. At 100 TB this is the difference
  // between scanning 2 of 5 partitions and scanning everything; PlanSpec
  // asserts the dynamicpruning subquery is in the fact scan.
  private val joinDpp = Op(
    "join_dpp",
    (s, d) => {
      val out = tmp("graft_dpp_")
      t(s, d, "events").write.mode("overwrite")
        .partitionBy("event_type").parquet(out)
      val facts = s.read.parquet(out)
      // dim rows survive on a computed measure — not inferable statically
      val dim = t(s, d, "events")
        .groupBy("event_type").agg(avg(col("value")).as("avg_v"))
        .where(col("avg_v") > 50.0)
        .select("event_type")
      facts.join(broadcast(dim), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), max(col("value")).as("max_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, count(*) AS n, max(value) AS max_value
            FROM events
            WHERE event_type IN (
              SELECT event_type FROM events
              GROUP BY event_type HAVING avg(value) > 50.0)
            GROUP BY event_type ORDER BY event_type"""))

  // Batch schema drift: two parquet batches land with different column
  // sets (an upstream producer added a column); mergeSchema=true reads the
  // union schema with NULLs where a batch lacks the column — the batch
  // counterpart of the streaming schema-evolution path in Ingestion.
  private val scanMergeSchema = Op(
    "scan_merge_schema",
    (s, d) => {
      val out = tmp("graft_ms_")
      val c = t(s, d, "customer")
      c.where(col("c_custkey") % 2 === 0)
        .select("c_custkey", "c_name")
        .write.mode("overwrite").parquet(s"$out/b=1")
      c.where(col("c_custkey") % 2 =!= 0)
        .select("c_custkey", "c_name", "c_mktsegment")
        .write.mode("overwrite").parquet(s"$out/b=2")
      s.read.option("mergeSchema", "true").parquet(s"$out/b=1", s"$out/b=2")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name,
                   CASE WHEN c_custkey % 2 = 0 THEN NULL ELSE c_mktsegment END
                     AS c_mktsegment
            FROM customer ORDER BY c_custkey"""))

  // Change-data-feed production (the analog of framework.py:345's
  // delta.enableChangeDataFeed): diff the incoming source snapshot against
  // the current target and EMIT the per-row change feed a downstream
  // incremental consumer subscribes to — op ∈ insert/update/delete with
  // before/after values. One full-outer join on the merge key (same single
  // shuffle as the merge itself; at scale AQE broadcasts a small source).
  // Matched-and-unchanged rows emit nothing — the property that keeps a
  // change feed small when a snapshot is mostly unchanged.
  private val cdcEmitChanges = Op(
    "cdc_emit_changes",
    (s, d) => {
      val target = t(s, d, "orders").filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      // source snapshot: every 3rd order, with a price change on every 5th
      val source = t(s, d, "orders").filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 10)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      // classify by the JOIN KEY's side-nullness (the oracle's spelling),
      // not a value column's — a row whose price is legitimately NULL must
      // still classify as matched, so the explicit join keeps both key
      // columns alive for the CASE
      target.as("t").join(source.as("s"),
          col("t.o_orderkey") === col("s.o_orderkey"), "full_outer")
        .select(coalesce(col("t.o_orderkey"), col("s.o_orderkey")).as("o_orderkey"),
          when(col("t.o_orderkey").isNull, "insert")
            .when(col("s.o_orderkey").isNull, "delete")
            .when(col("t.o_totalprice") =!= col("s.o_totalprice"), "update")
            .as("op"),
          col("t.o_totalprice").as("before_price"),
          col("s.o_totalprice").as("after_price"))
        .where(col("op").isNotNull)
        .orderBy("o_orderkey")
    },
    Some("""WITH tgt AS (SELECT o_orderkey, o_totalprice FROM orders
                         WHERE o_orderkey % 2 = 0),
                 src AS (SELECT o_orderkey,
                           CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 10
                                ELSE o_totalprice END AS o_totalprice
                         FROM orders WHERE o_orderkey % 3 = 0),
                 feed AS (
                   SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
                          CASE WHEN t.o_orderkey IS NULL THEN 'insert'
                               WHEN s.o_orderkey IS NULL THEN 'delete'
                               WHEN t.o_totalprice <> s.o_totalprice THEN 'update'
                          END AS op,
                          t.o_totalprice AS before_price,
                          s.o_totalprice AS after_price
                   FROM tgt t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey)
            SELECT o_orderkey, op, before_price, after_price
            FROM feed WHERE op IS NOT NULL ORDER BY o_orderkey"""))

  // Materialized-view maintenance: a pre-aggregated target and a new delta
  // batch each contribute PARTIAL aggregates, and merging the partials must
  // equal a full recompute — the mergeable-aggregate discipline (counts and
  // sums merge by sum, min/max by min/max, avg derived at read time from
  // the merged sums) that lets a 100 TB rollup absorb a batch without
  // rescanning history. The oracle is the direct full aggregate, so the
  // hash check proves the partial-merge algebra exactly.
  private val aggIncrementalMerge = Op(
    "agg_incremental_merge",
    (s, d) => {
      val ev = t(s, d, "events").select(
        date_trunc("day", col("ts")).as("day"), col("event_type"),
        col("event_id"), col("value"))
      def partial(df: DataFrame): DataFrame =
        df.groupBy("day", "event_type").agg(
          count(lit(1)).as("n"), sum(dec(col("value"))).as("sum_v"),
          min(col("value")).as("min_v"), max(col("value")).as("max_v"))
      // arbitrary deterministic split: the standing target vs the new batch
      val target = partial(ev.where(col("event_id") % 10 < 8))
      val delta = partial(ev.where(col("event_id") % 10 >= 8))
      target.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(sum(col("n")).as("n"), sum(col("sum_v")).as("s"),
          min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"))
        .select(col("day"), col("event_type"), col("n"),
          col("s").cast("double").as("sum_value"), col("min_v"), col("max_v"),
          (col("s").cast("double") / col("n")).as("avg_value"))
        .orderBy("day", "event_type")
    },
    Some("""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
                   min(value) AS min_v, max(value) AS max_v,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)
                     AS avg_value
            FROM events GROUP BY 1, 2 ORDER BY day, event_type"""))

  // Delta time-travel analog (`VERSION AS OF n`, the history surface the
  // reference gets from the Delta log next to framework.py:345's change
  // feed): two committed rewrites of an orders snapshot through the
  // [[graft.pipeline.Versioned]] protocol with retention, then a read of
  // version 0 resolved via the `_history` log. The oracle recomputes
  // version 0 from the source table — if the time-travel read resolved to
  // the CURRENT version (statuses flipped to 'U') the hash check would
  // fail, so the key proves the history actually works. At scale the
  // version dirs are full column-pruned parquet scans like any other;
  // retention cost is bounded by keepVersions.
  private val scanTimeTravel = Op(
    "scan_time_travel",
    (s, d) => {
      val conf = s.sparkContext.hadoopConfiguration
      val root = new HPath(tmp("graft_tt_"))
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val v0 = t(s, d, "orders").filter(col("o_orderkey") % 2 === 0)
        .select(cols.map(col): _*)
      val d0 = Versioned.stagePath(root, Some("v0"))
      v0.write.mode("overwrite").parquet(d0.toString)
      Versioned.commit(root, d0, conf, keepVersions = 4)
      val v1 = v0.withColumn("o_orderstatus",
        when(col("o_orderkey") % 3 === 0, lit("U")).otherwise(col("o_orderstatus")))
      val d1 = Versioned.stagePath(root, Some("v1"))
      v1.write.mode("overwrite").parquet(d1.toString)
      Versioned.commit(root, d1, conf, keepVersions = 4)
      val asOf0 = Versioned.versionDir(root, 0, conf)
        .getOrElse(sys.error("version 0 unexpectedly vacuumed"))
      s.read.parquet(asOf0.toString)
        .select(cols.map(col): _*)
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
            FROM orders WHERE o_orderkey % 2 = 0
            ORDER BY o_orderkey"""))

  // Delta VACUUM analog over the same protocol: three commits at
  // keepVersions=2 must leave exactly the newest two version dirs on disk
  // while the `_history` audit log keeps all three entries and `_current`
  // tracks the newest. Test-only (filesystem layout, not SQL-expressible);
  // EtlOpsSpec asserts the on_disk/is_current flags row by row.
  private val maintenanceVacuum = Op(
    "maintenance_vacuum",
    (s, d) => {
      import s.implicits._
      val conf = s.sparkContext.hadoopConfiguration
      val root = new HPath(tmp("graft_vac_"))
      val base = t(s, d, "region").select("r_regionkey", "r_name")
      for (i <- 0 to 2) {
        val dir = Versioned.stagePath(root, Some(s"v$i"))
        base.withColumn("ver", lit(i)).write.mode("overwrite").parquet(dir.toString)
        Versioned.commit(root, dir, conf, keepVersions = 2)
      }
      val f = root.getFileSystem(conf)
      val cur = Versioned.current(root, conf).map(_.getName)
      Versioned.history(root, conf).zipWithIndex.map { case (n, i) =>
        (i.toLong, n, f.exists(new HPath(root, n)), cur.contains(n))
      }.toDF("version", "name", "on_disk", "is_current").orderBy("version")
    },
    None)

  // Small-file compaction (framework.py:325's autoOptimize/autoCompact
  // analog): streaming ingest leaves a table as a spray of tiny files whose
  // per-file open/footer cost dominates a 100 TB scan; bin-pack them to a
  // target file size with coalesce — a shuffle-free rewrite where each
  // output file packs whole input partitions — through the same Versioned
  // stage/commit protocol every other rewrite uses, so readers flip
  // atomically and `_history` logs the maintenance commit. Returns the
  // audit row; EtlOpsSpec asserts file count = ceil(bytes/target), content
  // checksum unchanged, and the history log. Test-only (filesystem layout).
  private val maintenanceCompact = Op(
    "maintenance_compact",
    (s, d) => {
      import s.implicits._
      val conf = s.sparkContext.hadoopConfiguration
      val root = new HPath(tmp("graft_cmp_"))
      val fsys = root.getFileSystem(conf)
      // simulate the small-file problem: the table lands as 64 tiny files
      val small = Versioned.stagePath(root, Some("v_small"))
      t(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        .repartition(64)
        .write.mode("overwrite").parquet(small.toString)
      Versioned.commit(root, small, conf, keepVersions = 4)
      def dataFiles(p: HPath) = fsys.listStatus(p)
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      // order-independent content signature (count + sum/xor of a row
      // hash; the sum runs in decimal so ANSI mode can't overflow)
      def sig(p: HPath): (Long, java.math.BigDecimal, Long) = {
        val r = s.read.parquet(p.toString)
          .select(xxhash64(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice")).as("h"))
          .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")),
            expr("bit_xor(h)")).collect().head
        (r.getLong(0), r.getDecimal(1), r.getLong(2))
      }
      val before = dataFiles(small)
      val beforeBytes = before.map(_.getLen).sum
      val targetBytes = 1L << 20 // 1 MiB target; production: ~1 GB
      val nTarget = math.max(1L, (beforeBytes + targetBytes - 1) / targetBytes)
      val compacted = Versioned.stagePath(root, Some("v_compact"))
      s.read.parquet(small.toString).coalesce(nTarget.toInt)
        .write.mode("overwrite").parquet(compacted.toString)
      Versioned.commit(root, compacted, conf, keepVersions = 4)
      val (nb, sb, xb) = sig(small)
      val (na, sa, xa) = sig(compacted)
      // history is stringified: the driver's pandas canonicalizer cannot
      // hash array cells, so every query result sticks to scalar columns.
      Seq((before.length.toLong, dataFiles(compacted).length.toLong, nTarget,
        nb == na && sb == sa && xb == xa,
        Versioned.history(root, conf).mkString(","),
        Versioned.current(root, conf).map(_.getName).getOrElse("")))
        .toDF("n_files_before", "n_files_after", "n_files_target",
          "content_unchanged", "history", "current")
    },
    None)

  // Delta `RESTORE TABLE … TO VERSION n` analog over the same protocol
  // (the history surface next to framework.py:345's change feed): three
  // committed rewrites, then a restore of version 0 — a NEW head commit
  // carrying v0's content, history linear and append-only, and (restore's
  // keep-everything retention default) every prior version dir still
  // time-travel readable. The result is read back through the `_current`
  // pointer, so a restore that resolved to the wrong head (e.g. left the
  // pointer on v2, whose statuses are mutated) fails the oracle hash; the
  // layout invariants are `require`d in-op and re-asserted in
  // VersionedSpec. At scale the restage is one distributed parquet
  // copy of one version — the documented divergence from Delta's
  // file-re-referencing restore.
  private val maintenanceRestore = Op(
    "maintenance_restore",
    (s, d) => {
      val conf = s.sparkContext.hadoopConfiguration
      val root = new HPath(tmp("graft_rst_"))
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val v0 = t(s, d, "orders").filter(col("o_orderkey") % 2 === 0)
        .select(cols.map(col): _*)
      val d0 = Versioned.stagePath(root, Some("v0"))
      v0.write.mode("overwrite").parquet(d0.toString)
      Versioned.commit(root, d0, conf, keepVersions = 4)
      // two rewrites head past v0: statuses mutated, then prices zeroed
      val v1 = v0.withColumn("o_orderstatus",
        when(col("o_orderkey") % 3 === 0, lit("U"))
          .otherwise(col("o_orderstatus")))
      val d1 = Versioned.stagePath(root, Some("v1"))
      v1.write.mode("overwrite").parquet(d1.toString)
      Versioned.commit(root, d1, conf, keepVersions = 4)
      val v2 = v1.withColumn("o_totalprice", lit(0.0))
      val d2 = Versioned.stagePath(root, Some("v2"))
      v2.write.mode("overwrite").parquet(d2.toString)
      Versioned.commit(root, d2, conf, keepVersions = 4)
      val restored = Versioned.restore(root, 0, conf, (from, to) =>
        s.read.parquet(from.toString)
          .write.mode("overwrite").parquet(to.toString))
      // restore is a fresh commit, not a pointer rewind: the audit log
      // keeps all four entries and no prior dir was vacuumed
      require(Versioned.history(root, conf) ==
        Seq("v0", "v1", "v2", restored.getName),
        "restore must append one linear history entry")
      val fsys = root.getFileSystem(conf)
      for (n <- Seq("v0", "v1", "v2"))
        require(fsys.exists(new HPath(root, n)),
          s"restore must not vacuum prior version $n")
      val head = Versioned.current(root, conf)
        .getOrElse(sys.error("no current version after restore"))
      require(head.getName == restored.getName,
        "restore must move the _current pointer to the restored commit")
      s.read.parquet(head.toString)
        .select(cols.map(col): _*)
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
            FROM orders WHERE o_orderkey % 2 = 0
            ORDER BY o_orderkey"""))

  // In-flight pipeline metrics via Dataset.observe — data-quality counters
  // (row count, control total, negative-value count) accumulate ON the
  // ingest pass itself instead of a second scan: at 100 TB the difference
  // between "metrics for free" and doubling the read cost of every load
  // (the same discipline IngestionRunner applies with task write metrics).
  // The op drives one noop-write pass, blocks on Observation.get, and
  // returns the metrics row; the oracle recomputes the same aggregates
  // declaratively.
  private val scanObserveMetrics = Op(
    "scan_observe_metrics",
    (s, d) => {
      import s.implicits._
      val obs = new org.apache.spark.sql.Observation()
      t(s, d, "events")
        .observe(obs,
          count(lit(1)).as("n_rows"),
          sum(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
            .as("sum_cents"),
          count_if(col("value") < 0).as("n_negative"))
        .write.format("noop").mode("overwrite").save()
      val m = obs.get
      Seq((m("n_rows").asInstanceOf[Long],
        m("sum_cents").asInstanceOf[Long],
        m("n_negative").asInstanceOf[Long]))
        .toDF("n_rows", "sum_cents", "n_negative")
    },
    Some("""SELECT count(*) AS n_rows,
              CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
                AS sum_cents,
              count(*) FILTER (value < 0) AS n_negative
            FROM events"""))

  // Corrupt-record quarantine — the OSS analog of a managed badRecordsPath:
  // PERMISSIVE JSON parsing routes malformed lines into _corrupt_record
  // (raw line preserved for replay/debugging) instead of failing the job or
  // silently dropping them — the ingestion hygiene a 100 TB landing zone
  // needs, since some producer always emits garbage. The fixture is written
  // deterministically by the op; the oracle is the expected relation as a
  // VALUES literal (both engines order NULLS FIRST explicitly — their
  // defaults differ).
  private val scanCorruptQuarantine = Op(
    "scan_corrupt_quarantine",
    (s, d) => {
      val dir = tmp("graft_cq_")
      val lines = java.util.Arrays.asList(
        """{"id": 1, "v": "a"}""",
        """{"id": 2, "v": "b"}""",
        """not json at all""",
        """{"id": 3, "v": "c"}""",
        """{"id": 4, "v": }""",
        """{"id": 5, "v": "e"}""")
      Files.write(java.nio.file.Paths.get(dir, "data.json"), lines)
      s.read
        .schema("id BIGINT, v STRING, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(dir)
        .select(col("id"), col("v"),
          col("_corrupt_record").isNotNull.as("quarantined"))
        .orderBy(col("quarantined"), col("id").asc_nulls_first)
    },
    Some("""SELECT * FROM (VALUES
              (CAST(1 AS BIGINT), 'a', false),
              (CAST(2 AS BIGINT), 'b', false),
              (CAST(3 AS BIGINT), 'c', false),
              (CAST(5 AS BIGINT), 'e', false),
              (CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), true),
              (CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), true))
              AS t(id, v, quarantined)
            ORDER BY quarantined, id NULLS FIRST"""))

  // Rescued-data scan — the other half of ingestion hygiene, complementary
  // to [[scanCorruptQuarantine]]: that key handles MALFORMED lines; this one
  // handles WELL-FORMED rows carrying fields the declared schema doesn't
  // know about (a producer added a column), which a plain schema'd read
  // silently drops — the Auto Loader `_rescued_data` contract
  // (framework.py:15 "ingestion with schema evolution" is this surface).
  // One pass over the landing text: the declared struct and a
  // map<string,string> view are both parsed from the same value column
  // (map-side only, no shuffle), and the rescued column is the map minus
  // the declared keys. Undeclared values are carried as raw JSON text and
  // proven LOSSLESS by casting them back to the parquet column types for
  // the oracle compare — a rescue that mangled a value would not survive
  // the round trip.
  private val scanJsonRescue = Op(
    "scan_json_rescue",
    (s, d) => {
      val dir = tmp("graft_rescue_")
      // the landing zone: supplier rows serialized with ALL fields, while
      // the consumer's declared schema knows only (s_suppkey, s_name)
      t(s, d, "supplier").write.mode("overwrite").json(dir)
      s.read.text(dir)
        .select(
          from_json(col("value"), "s_suppkey BIGINT, s_name STRING",
            Map.empty[String, String]).as("r"),
          from_json(col("value"), "map<string,string>",
            Map.empty[String, String]).as("m"))
        .select(col("r.s_suppkey").as("s_suppkey"), col("r.s_name").as("s_name"),
          expr("map_filter(m, (k, v) -> k NOT IN ('s_suppkey', 's_name'))")
            .as("rescued"))
        .select(col("s_suppkey"), col("s_name"),
          expr("array_join(array_sort(map_keys(rescued)), ',')")
            .as("rescued_keys"),
          col("rescued")("s_nationkey").cast("int").as("rescued_nationkey"),
          col("rescued")("s_acctbal").cast("double").as("rescued_acctbal"))
        .orderBy("s_suppkey")
    },
    Some("""SELECT s_suppkey, s_name,
                   's_acctbal,s_nationkey' AS rescued_keys,
                   s_nationkey AS rescued_nationkey,
                   s_acctbal AS rescued_acctbal
            FROM supplier ORDER BY s_suppkey"""))

  // File-level data skipping over per-file min/max stats — the zone-map /
  // stats-pruning pattern (Delta/Iceberg data skipping) for predicates on
  // UNPARTITIONED columns, where Hive-style partition pruning can't help.
  // The [min,max] index is built ONCE at layout-commit time
  // ([[zoneMappedLayout]]) and PERSISTED as a side table next to the data;
  // query time reads the committed zone map (#files tiny rows of
  // planning-time METADATA — the same O(#files) step a Delta log replay or
  // Iceberg manifest scan performs before task planning; row data never
  // reaches the driver), selects the overlapping files, and scans only
  // those plus the exact residual filter. At 100 TB with ~1 GB files that
  // is ~100k planning rows against skipping ~85% of the scan. EtlOpsSpec
  // asserts the final query reads strictly fewer files than the layout has
  // AND that repeat queries never re-derive the index with a table scan.
  /** Driver-side bound on the materialized pruned-file list. At 100 TB a
    * selective predicate can still overlap millions of files; past this cap
    * the listing no longer pays for itself (Spark's own file-index planning
    * re-lists every named path) and the driver shouldn't hold it either —
    * fall back to the full layout and let the residual filter + parquet
    * row-group stats do the skipping. */
  private[graft] val ZoneMapMaxFiles = 100000

  /** The scan source after zone pruning: the overlapping files when the
    * pruned list is non-empty and within [[ZoneMapMaxFiles]] (fetched with
    * limit cap+1, so the driver never materializes an unbounded list), the
    * full layout otherwise. Correctness is ALWAYS owned by the caller's
    * residual filter — zones only skip IO. */
  private[graft] def zonePrunedSource(s: SparkSession, dataDir: String,
      zmDir: String, overlap: Column, maxFiles: Int = ZoneMapMaxFiles): DataFrame = {
    val zoneFiles = s.read.parquet(zmDir).where(overlap)
      .select("file").limit(maxFiles + 1).collect().map(_.getString(0))
    if (zoneFiles.isEmpty || zoneFiles.length > maxFiles)
      s.read.parquet(dataDir)
    else s.read.parquet(zoneFiles.toIndexedSeq: _*)
  }

  private val scanZoneMap = Op(
    "scan_zone_map",
    (s, d) => {
      val (out, zmDir) = zoneMappedLayout(s, d)
      val lo = "TIMESTAMP_NTZ '1997-01-01'"
      val hi = "TIMESTAMP_NTZ '1998-01-01'"
      val src = zonePrunedSource(s, out, zmDir,
        expr(s"mx >= $lo") && expr(s"mn < $hi"))
      src.where(expr(s"l_shipdate >= $lo") && expr(s"l_shipdate < $hi"))
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          min("l_orderkey").as("min_ok"), max("l_orderkey").as("max_ok"))
    },
    Some("""SELECT count(*) AS n_rows,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'"""))

  // The 100 TB profiler: same per-column shape as profile_stats but the
  // distinct counts are HyperLogLog sketches (approx_count_distinct), so
  // the single aggregate pass carries 4 fixed-size sketch buffers instead
  // of Catalyst's multi-distinct Expand — which multiplies every scanned
  // row ×(#distinct aggs + 1) before the shuffle. Exact counts are a
  // debugging tool; the sketch profile is what runs on the full corpus.
  //
  // ORACLE-CHECKED via the bound-verdict pattern (sim_ann_ivf round-6
  // recipe): the engine-specific HLL++ estimate never crosses the compare
  // boundary — the output carries the EXACT per-column profile (plain SQL
  // on both engines) plus a boolean `est_within_5pct` that Spark computes
  // from the real estimate and the oracle asserts as TRUE. A drifting
  // sketch flips the boolean and fails the hash compare. The exact
  // distinct here is the AUDIT side of the key; the sketch-only production
  // shape is the aggs without the countDistinct columns.
  private val profileStatsApprox = Op(
    "profile_stats_approx",
    (s, d) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      // sketch pass: nulls + HLL + min/max for all columns in ONE scan
      // (fixed-size buffers, NO multi-distinct Expand — this is the shape
      // that runs on the full corpus). The exact-distinct AUDIT side runs
      // as one single-distinct aggregate per column: a single distinct
      // rewrites to a plain two-phase group-by; folding all four exact
      // distincts into the sketch aggregate re-introduced the 5× Expand
      // and cost 22 s at sf0.1 vs ~1 s split.
      val base = t(s, d, "orders")
      val aggs = cols.flatMap { c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nn"),
        approx_count_distinct(col(c), 0.02).as(s"${c}__nde"),
        min(col(c).cast("string")).as(s"${c}__mn"),
        max(col(c).cast("string")).as(s"${c}__mx"))
      }
      val one = base.agg(aggs.head, aggs.tail: _*)
      val stacked = cols.map(c =>
        s"'$c', ${c}__nn, ${c}__nde, ${c}__mn, ${c}__mx").mkString(", ")
      val sketch = one.selectExpr(
        s"stack(${cols.size}, $stacked) AS (column_name, n_null, " +
          "nde, min_s, max_s)")
      val exact = cols.map(c => base
          .agg(countDistinct(col(c)).as("n_distinct"))
          .select(lit(c).as("column_name"), col("n_distinct")))
        .reduce(_.unionByName(_))
      sketch.join(broadcast(exact), "column_name")
        .select(col("column_name"), col("n_null"), col("n_distinct"),
          (abs(col("nde") - col("n_distinct")) <=
            lit(0.05) * col("n_distinct")).as("est_within_5pct"),
          col("min_s"), col("max_s"))
        .orderBy("column_name")
    },
    Some("""WITH a AS (
              SELECT
                CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS k_nn,
                count(DISTINCT o_orderkey) AS k_nd,
                min(CAST(o_orderkey AS VARCHAR)) AS k_mn,
                max(CAST(o_orderkey AS VARCHAR)) AS k_mx,
                CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_nn,
                count(DISTINCT o_custkey) AS c_nd,
                min(CAST(o_custkey AS VARCHAR)) AS c_mn,
                max(CAST(o_custkey AS VARCHAR)) AS c_mx,
                CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS s_nn,
                count(DISTINCT o_orderstatus) AS s_nd,
                min(CAST(o_orderstatus AS VARCHAR)) AS s_mn,
                max(CAST(o_orderstatus AS VARCHAR)) AS s_mx,
                CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS p_nn,
                count(DISTINCT o_orderpriority) AS p_nd,
                min(CAST(o_orderpriority AS VARCHAR)) AS p_mn,
                max(CAST(o_orderpriority AS VARCHAR)) AS p_mx
              FROM orders)
            SELECT c.* FROM a, LATERAL (VALUES
              ('o_custkey', c_nn, c_nd, TRUE, c_mn, c_mx),
              ('o_orderkey', k_nn, k_nd, TRUE, k_mn, k_mx),
              ('o_orderpriority', p_nn, p_nd, TRUE, p_mn, p_mx),
              ('o_orderstatus', s_nn, s_nd, TRUE, s_mn, s_mx))
              c(column_name, n_null, n_distinct, est_within_5pct, min_s, max_s)
            ORDER BY column_name"""))

  // Referential-integrity audit: orphan counts for each FK edge of the
  // star (lineitem→orders, orders→customer, customer→nation), each as ONE
  // left-outer join + aggregate pass — child_rows and orphans come from the
  // same scan, never two. The fact-to-fact edge shuffles on the join key
  // (the only correct shape at 100 TB); the dimension edges broadcast. The
  // per-edge 1-row summaries union to a 3-row report.
  private val auditFk = Op(
    "audit_fk",
    (s, d) => {
      def edge(rel: String, child: DataFrame, ck: String,
          parent: DataFrame, pk: String): DataFrame =
        child.join(parent.select(col(pk)).distinct(),
            child(ck) === col(pk), "left")
          .agg(count(lit(1)).as("child_rows"),
            count(when(col(pk).isNull, 1)).as("orphans"))
          .select(lit(rel).as("relation"), col("child_rows"), col("orphans"))
      edge("customer->nation", t(s, d, "customer"), "c_nationkey",
          t(s, d, "nation"), "n_nationkey")
        .unionAll(edge("lineitem->orders", t(s, d, "lineitem"), "l_orderkey",
          t(s, d, "orders"), "o_orderkey"))
        .unionAll(edge("orders->customer", t(s, d, "orders"), "o_custkey",
          t(s, d, "customer"), "c_custkey"))
        .orderBy("relation")
    },
    Some("""SELECT 'customer->nation' AS relation, count(*) AS child_rows,
                   count(CASE WHEN n.n_nationkey IS NULL THEN 1 END) AS orphans
            FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
            UNION ALL
            SELECT 'lineitem->orders', count(*),
                   count(CASE WHEN o.o_orderkey IS NULL THEN 1 END)
            FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
            UNION ALL
            SELECT 'orders->customer', count(*),
                   count(CASE WHEN c.c_custkey IS NULL THEN 1 END)
            FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
            ORDER BY relation"""))

  // Rule-driven data-quality expectations (Deequ-style): ALL rules evaluate
  // in ONE scan as conditional counts inside a single partial→final
  // aggregate — never one pass per rule — then the 1-row result unpivots to
  // a per-rule report with pass rates. Adding a rule costs one more counter
  // per map task, not another 100 TB scan.
  private val dqExpectations = Op(
    "dq_expectations",
    (s, d) =>
      t(s, d, "orders")
        .agg(count(lit(1)).as("checked"),
          count(when(col("o_totalprice") <= 0, 1)).as("v_price_positive"),
          count(when(col("o_orderdate").isNull, 1)).as("v_date_not_null"),
          count(when(!col("o_orderstatus").isin("O", "F", "P"), 1))
            .as("v_status_domain"),
          count(when(!col("o_orderpriority").rlike("^[1-5]-"), 1))
            .as("v_priority_format"))
        .selectExpr(
          """stack(4,
               'price_positive',  v_price_positive,
               'date_not_null',   v_date_not_null,
               'status_domain',   v_status_domain,
               'priority_format', v_priority_format) AS (rule, violations)""",
          "checked")
        .select(col("rule"), col("violations"), col("checked"),
          round((col("checked") - col("violations")) * lit(1.0) / col("checked"), 6)
            .as("pass_rate"))
        .orderBy("rule"),
    Some("""WITH a AS (
              SELECT count(*) AS checked,
                     count(CASE WHEN o_totalprice <= 0 THEN 1 END) AS v1,
                     count(CASE WHEN o_orderdate IS NULL THEN 1 END) AS v2,
                     count(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 END) AS v3,
                     count(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 END) AS v4
              FROM orders),
            r AS (
              SELECT 'price_positive' AS rule, v1 AS violations, checked FROM a
              UNION ALL SELECT 'date_not_null', v2, checked FROM a
              UNION ALL SELECT 'status_domain', v3, checked FROM a
              UNION ALL SELECT 'priority_format', v4, checked FROM a)
            SELECT rule, violations, checked,
                   round((checked - violations) * 1.0 / checked, 6) AS pass_rate
            FROM r ORDER BY rule"""))

  // Write-time constraint enforcement (Delta NOT NULL / CHECK rejection —
  // the enforcement half of framework.py:15's schema promise): an ingest
  // whose config carries `constraints` gates every incoming row BEFORE
  // anything commits. Planted violations: every 97th order key's price is
  // negated (violates `price_positive`); every 101st status is NULLed —
  // the domain predicate then evaluates UNKNOWN, which SATISFIES a CHECK
  // constraint (SQL/Delta three-valued semantics), so those rows MUST
  // commit. Quarantine mode routes the violating rows to a parquet
  // quarantine dir and commits only clean rows; the result summarizes
  // both relations (counts + exact cents control totals + null-status
  // counts proving the UNKNOWN-satisfies rule), and the oracle recomputes
  // the same split from the predicates themselves. The gate rides the
  // write pass (raise_error guard) or the incoming batch (quarantine
  // split) — never a second scan of the target. PipelineSpec covers the
  // reject path (job fails, nothing commits).
  private val dqWriteGate = Op(
    "dq_write_gate",
    (s, d) => {
      import graft.pipeline._
      val src = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 97 === 0, -col("o_totalprice"))
            .otherwise(col("o_totalprice")))
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 101 === 0, lit(null).cast("string"))
            .otherwise(col("o_orderstatus")))
      val landing = tmp("graft_wg_src_")
      src.write.mode("overwrite").parquet(landing)
      val target = tmp("graft_wg_tgt_") + "/t"
      val qdir = tmp("graft_wg_qr_") + "/quarantine"
      // fresh external location per run: drop any stale registration so the
      // catalog never points a rerun at a previous run's tmp dir
      s.sql("CREATE DATABASE IF NOT EXISTS graft_wg")
      s.sql("DROP TABLE IF EXISTS graft_wg.orders_gated")
      val cfg = IngestionConfig("graft_wg", "orders_gated", landing,
        writeMode = WriteMode.Overwrite, targetPath = Some(target),
        constraints = Seq(
          Constraint("price_positive", "o_totalprice > 0"),
          Constraint("status_domain", "o_orderstatus IN ('O','F','P')")),
        onViolation = ViolationAction.Quarantine(qdir))
      new IngestionRunner(s, cfg).run().fold(sys.error, identity)
      def summarize(df: DataFrame, rel: String) =
        df.agg(count(lit(1)).as("n_rows"),
          sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
            .as("sum_cents"),
          count(when(col("o_orderstatus").isNull, 1)).as("n_null_status"))
          .select(lit(rel).as("relation"), col("n_rows"), col("sum_cents"),
            col("n_null_status"))
      summarize(s.table("graft_wg.orders_gated"), "committed")
        .unionAll(summarize(
          s.read.parquet(qdir).where(col("graft_violations").isNotNull),
          "quarantined"))
        .orderBy("relation")
    },
    Some("""WITH src AS (
              SELECT CASE WHEN o_orderkey % 97 = 0 THEN -o_totalprice
                          ELSE o_totalprice END AS price,
                     CASE WHEN o_orderkey % 101 = 0 THEN NULL
                          ELSE o_orderstatus END AS status
              FROM orders),
            split AS (
              SELECT CASE WHEN (price > 0) IS FALSE
                            OR (status IN ('O','F','P')) IS FALSE
                          THEN 'quarantined' ELSE 'committed' END AS relation,
                     price, status
              FROM src)
            SELECT relation, count(*) AS n_rows,
                   CAST(SUM(CAST(CAST(price AS DECIMAL(18,2)) * 100 AS BIGINT))
                     AS BIGINT) AS sum_cents,
                   count(CASE WHEN status IS NULL THEN 1 END) AS n_null_status
            FROM split GROUP BY relation ORDER BY relation"""))

  // Linear-interpolation gap fill on the calendar grid (the numeric sibling
  // of resample_zerofill): missing (day × event_type) cells take the
  // straight line between the nearest present neighbors, edges extend
  // flat. The neighbor lookups are IGNORE NULLS window frames — per-group
  // state is one value each direction, so the fill streams through sorted
  // partitions without materializing gaps. Metric is max(value) (order-
  // independent ⇒ bit-stable); both engines evaluate the interpolation with
  // the identical double expression tree.
  private val resampleInterpolate = Op(
    "resample_interpolate",
    (s, d) => {
      val ev = t(s, d, "events")
      val days = ev.agg(date_trunc("day", min("ts")).as("d0"),
          date_trunc("day", max("ts")).as("d1"))
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val types = ev.select("event_type").distinct()
      val daily = ev.groupBy(date_trunc("day", col("ts")).as("day"),
          col("event_type"))
        .agg(max(col("value")).as("v"))
      val g = days.crossJoin(types)
        .join(daily, Seq("day", "event_type"), "left")
        .select(col("event_type"),
          expr("unix_micros(day) div 86400000000").as("day_n"), col("v"))
      val before = Window.partitionBy("event_type").orderBy("day_n")
        .rowsBetween(Window.unboundedPreceding, -1)
      val after = Window.partitionBy("event_type").orderBy("day_n")
        .rowsBetween(1, Window.unboundedFollowing)
      val pv = last(col("v"), ignoreNulls = true).over(before)
      val pd = last(when(col("v").isNotNull, col("day_n")), ignoreNulls = true)
        .over(before)
      val nv = first(col("v"), ignoreNulls = true).over(after)
      val nd = first(when(col("v").isNotNull, col("day_n")), ignoreNulls = true)
        .over(after)
      g.withColumn("filled",
          when(col("v").isNotNull, col("v"))
            .when(pv.isNull, nv)
            .when(nv.isNull, pv)
            .otherwise(pv + ((nv - pv) * (col("day_n") - pd)) / (nd - pd)))
        .select(col("event_type"), col("day_n"),
          col("v").isNotNull.as("observed"), round(col("filled"), 6).as("filled"))
        .orderBy("event_type", "day_n")
    },
    Some("""WITH b AS (SELECT date_trunc('day', min(ts)) AS d0,
                              date_trunc('day', max(ts)) AS d1 FROM events),
            days AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM b),
            types AS (SELECT DISTINCT event_type FROM events),
            daily AS (
              SELECT date_trunc('day', ts) AS day, event_type,
                     max(value) AS v
              FROM events GROUP BY 1, 2),
            g AS (
              SELECT types.event_type AS event_type,
                     epoch_ms(days.day) // 86400000 AS day_n, daily.v AS v
              FROM days CROSS JOIN types
              LEFT JOIN daily ON daily.day = days.day
                             AND daily.event_type = types.event_type),
            w AS (
              SELECT event_type, day_n, v,
                     last_value(v IGNORE NULLS) OVER
                       (PARTITION BY event_type ORDER BY day_n
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
                     last_value(CASE WHEN v IS NOT NULL THEN day_n END IGNORE NULLS) OVER
                       (PARTITION BY event_type ORDER BY day_n
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pd,
                     first_value(v IGNORE NULLS) OVER
                       (PARTITION BY event_type ORDER BY day_n
                        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
                     first_value(CASE WHEN v IS NOT NULL THEN day_n END IGNORE NULLS) OVER
                       (PARTITION BY event_type ORDER BY day_n
                        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nd
              FROM g)
            SELECT event_type, day_n, v IS NOT NULL AS observed,
                   round(CASE WHEN v IS NOT NULL THEN v
                              WHEN pv IS NULL THEN nv
                              WHEN nv IS NULL THEN pv
                              ELSE pv + ((nv - pv) * (day_n - pd)) / (nd - pd)
                         END, 6) AS filled
            FROM w ORDER BY event_type, day_n"""))

  // OHLC downsampling (open/high/low/close per event_type × hour) — the
  // financial/metrics resampling primitive the zerofill/interpolate pair
  // doesn't cover: open and close are ARGMIN/ARGMAX picks on the unique
  // (ts, event_id) order, high/low plain min/max. All four are order-
  // independent aggregates of EXACT values (no float accumulation — sums
  // are deliberately absent), so any partitioning produces identical bars.
  // One partial→final aggregate keyed on (type, hour); at 100 TB the map
  // side collapses each partition to one candidate bar per key first.
  private val resampleOhlc = Op(
    "resample_ohlc",
    (s, d) =>
      t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(
          min(struct(col("ts"), col("event_id"), col("value"))).as("o"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(struct(col("ts"), col("event_id"), col("value"))).as("c"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("hour"),
          col("o.value").as("open"), col("high"), col("low"),
          col("c.value").as("close"), col("n"))
        .orderBy("event_type", "hour"),
    Some("""SELECT event_type, date_trunc('hour', ts) AS hour,
                   (min({'t': ts, 'e': event_id, 'v': value})).v AS open,
                   max(value) AS high, min(value) AS low,
                   (max({'t': ts, 'e': event_id, 'v': value})).v AS close,
                   count(*) AS n
            FROM events
            GROUP BY 1, 2
            ORDER BY event_type, hour"""))

  // IQR (Tukey-fence) anomaly audit per group — the robust complement of
  // agg_zscore_outliers (stddev) and agg_mad_robust (MAD): quartiles,
  // 1.5×IQR fences, and the count outside them. Quartiles interpolate over
  // INTEGER CENTS at exact quarter fractions ((b−a)×0.25 on integers is
  // exact in float64), so fences and the boundary comparisons are
  // bit-identical across engines — no float-luck at the fence. Two
  // aggregates on the same group key; the 5-row fence relation broadcasts
  // back for the counting pass.
  private val dqAnomalyIqr = Op(
    "dq_anomaly_iqr",
    (s, d) => {
      val o = t(s, d, "orders")
        .select(col("o_orderpriority").as("prio"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val q = o.groupBy("prio")
        .agg(expr("percentile(cents, 0.25D)").as("q1"),
          expr("percentile(cents, 0.75D)").as("q3"))
        .withColumn("iqr", col("q3") - col("q1"))
        .withColumn("lo", col("q1") - col("iqr") * 1.5)
        .withColumn("hi", col("q3") + col("iqr") * 1.5)
      o.join(broadcast(q), Seq("prio"))
        .groupBy("prio")
        .agg(count(lit(1)).as("n"),
          count_if(col("cents") < col("lo") || col("cents") > col("hi"))
            .as("n_outliers"),
          round(first(col("q1")) / 100.0, 4).as("q1"),
          round(first(col("q3")) / 100.0, 4).as("q3"))
        .orderBy("prio")
    },
    Some("""WITH o AS (
              SELECT o_orderpriority AS prio,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders),
            q AS (
              SELECT prio,
                     quantile_cont(cents, 0.25) AS q1,
                     quantile_cont(cents, 0.75) AS q3
              FROM o GROUP BY prio),
            f AS (
              SELECT prio, q1, q3,
                     q1 - 1.5 * (q3 - q1) AS lo,
                     q3 + 1.5 * (q3 - q1) AS hi
              FROM q)
            SELECT o.prio, count(*) AS n,
                   CAST(count(*) FILTER (WHERE cents < lo OR cents > hi)
                        AS BIGINT) AS n_outliers,
                   round(first(q1) / 100.0, 4) AS q1,
                   round(first(q3) / 100.0, 4) AS q3
            FROM o JOIN f ON o.prio = f.prio
            GROUP BY o.prio
            ORDER BY o.prio"""))

  // Day-of-week seasonality profile per event type: the seasonal index
  // idx = (cell count × 7) / type total — 1.0 means a flat weekly profile.
  // Counts are exact; the index divides two exact integers once, rounded.
  // Day-of-week derives from an epoch-anchored datediff (same rule as
  // agg_mutual_info) — no locale-dependent dow() builtin on either engine.
  private val resampleSeasonality = Op(
    "resample_seasonality",
    (s, d) => {
      t(s, d, "events").createOrReplaceTempView("events_season")
      s.sql("""
        WITH b AS (SELECT event_type,
                          CAST(datediff(CAST(ts AS DATE),
                                        DATE '1995-01-01') % 7 AS BIGINT)
                            AS dow
                   FROM events_season),
             cell AS (SELECT event_type, dow, COUNT(*) AS n
                      FROM b GROUP BY event_type, dow),
             tot AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS total
                     FROM cell GROUP BY event_type)
        SELECT c.event_type, c.dow, c.n,
               round(CAST(c.n * 7 AS DOUBLE) / total, 4) AS idx
        FROM cell c JOIN tot USING (event_type)
        ORDER BY event_type, dow""")
    },
    Some("""WITH b AS (SELECT event_type,
                              CAST(datediff('day', DATE '1995-01-01',
                                            CAST(ts AS DATE)) % 7 AS BIGINT)
                                AS dow
                       FROM events),
                 cell AS (SELECT event_type, dow, COUNT(*) AS n
                          FROM b GROUP BY event_type, dow),
                 tot AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS total
                         FROM cell GROUP BY event_type)
            SELECT c.event_type, c.dow, CAST(c.n AS BIGINT) AS n,
                   round(CAST(c.n * 7 AS DOUBLE) / total, 4) AS idx
            FROM cell c JOIN tot USING (event_type)
            ORDER BY event_type, dow"""))

  // Benford first-digit screen — the classic fabricated-data detector for
  // financial columns: observed first-digit shares vs the Benford
  // expectation log10(1 + 1/d). The first digit comes from the DECIMAL
  // STRING of exact integer cents — never from float log10 of the value,
  // whose mantissa rounding could misclassify numbers sitting exactly on a
  // power of ten. One aggregate; output is ≤9 rows at any SF.
  private val dqBenford = Op(
    "dq_benford",
    (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_bf")
      s.sql("""
        WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                   FROM orders_bf WHERE o_totalprice > 0),
             dg AS (SELECT CAST(substr(CAST(cents AS STRING), 1, 1)
                                AS BIGINT) AS digit
                    FROM c)
        SELECT digit, COUNT(*) AS n,
               round(CAST(COUNT(*) AS DOUBLE)
                     / (SELECT COUNT(*) FROM dg), 4) AS share,
               round(log10(1.0 + 1.0 / digit), 4) AS benford_p
        FROM dg GROUP BY digit ORDER BY digit""")
    },
    Some("""WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
                         AS cents
                       FROM orders WHERE o_totalprice > 0),
                 dg AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1)
                                    AS BIGINT) AS digit
                        FROM c)
            SELECT digit, COUNT(*) AS n,
                   round(CAST(COUNT(*) AS DOUBLE)
                         / (SELECT COUNT(*) FROM dg), 4) AS share,
                   round(log10(1.0 + 1.0 / digit), 4) AS benford_p
            FROM dg GROUP BY digit ORDER BY digit"""))

  val ops: Seq[Op] = Seq(
    auditFk, dqExpectations, dqWriteGate, resampleInterpolate, resampleOhlc, dqAnomalyIqr,
    resampleSeasonality, dqBenford,
    profileStatsApprox,
    ingestRoundtrip, scanCsvInfer, scanJsonInfer, scanJsonMultiline,
    mergeUpsert, mergeUpsertDelete, mergeUpsertEvolve, partitionOverwriteDynamic,
    topkLatest, partitionedWrite, layoutCluster, joinBucketed,
    bucketAggTumbling, sessionizeBatch,
    cdcApplyChangelog, cdcEmitChanges, scd2History, joinTemporalDim, resampleZerofill,
    scanOrcRoundtrip, scanXmlRoundtrip, scanTextLines, checksumTable, profileStats, joinDpp, scanMergeSchema,
    scanTimeTravel, maintenanceVacuum, maintenanceCompact, maintenanceRestore,
    aggIncrementalMerge, scanZoneMap,
    scanCorruptQuarantine, scanJsonRescue, scanObserveMetrics)
}
