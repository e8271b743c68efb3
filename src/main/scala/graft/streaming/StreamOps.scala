package graft.streaming

import graft.Mats.MatOps
import graft.{Op, Tables}
import graft.TempDirs.tmp
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Structured Streaming operators — the open equivalent of the reference's
  * Auto Loader ingestion (framework.py:177-209: `readStream` over a landing
  * dir, append output, checkpointed, drained with `processAllAvailable()`).
  *
  * Each op here is a BOUNDED streaming run: the testdata events table is
  * landed into a temp input dir (the "cloud landing zone"), streamed with an
  * explicit schema (mirrors framework.py:32's advice — streaming file sources
  * require one), and drained with `Trigger.AvailableNow` + `awaitTermination`
  * (the open analog of framework.py:202's `processAllAvailable`).
  *
  * Scale posture: sinks are file sinks or `foreachBatch` parquet writes —
  * never a driver-side memory sink — so the same pipelines run unchanged on a
  * multi-executor cluster against a real landing bucket. State (dedup,
  * session) shuffles on its key; watermarks bound state size at 100 TB.
  *
  * Determinism: input is landed as a single file → a single micro-batch →
  * update/append emissions equal the final state, so four of the five ops are
  * DuckDB-oracle-checked (stronger than SURVEY.md §2C's rows-only plan).
  * Checkpoint-resume and late-data semantics are asserted in ScalaTest
  * (StreamingSpec), where a second landing batch exists.
  */
object StreamOps {
  /** One landing dir per (session, data dir) — the ops watching a single
    * arrival share it instead of re-writing the events table five times. */
  private val landed =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()

  /** Landing dir for the shared events fixture (one parquet file), created
    * once per (session, data dir) — exposed so ops can size their stream
    * session from the landed bytes before opening the stream. */
  private def landedDir(s: SparkSession, d: String): String =
    landed.computeIfAbsent((s, d), { _ =>
      val dir = tmp("graft_land_")
      Tables.load(s, d, "events").coalesce(1)
        .write.mode("overwrite").parquet(dir)
      dir
    })

  /** Land events (µs-truncated ts, FIXTURES.md §A) as ONE parquet file and
    * open an explicit-schema stream over the landing dir. */
  private def landAndStream(s: SparkSession, d: String,
      streamOn: SparkSession = null): DataFrame = {
    val ev = Tables.load(s, d, "events")
    val in = landedDir(s, d)
    // streamOn: open the stream on a scoped clone (withRocksDbProvider /
    // streamSession) while the landing cache stays keyed by the caller's
    // shared session
    Option(streamOn).getOrElse(s).readStream.schema(ev.schema).parquet(in)
  }

  /** Shuffle/state partition count for ONE bounded streaming run, derived
    * from the landed input bytes (scale-adaptive partitioning, never the
    * session-wide core count). It is a start-time choice: repartitioning
    * live state is a migration. The measurement behind this: every
    * stateful key inherited `spark.sql.shuffle.partitions` = CPUS (32), so
    * each micro-batch paid 32 state-store opens/commits (32 RocksDB
    * instances for the tws keys) to hold a few KB of state — the stream
    * group benched 74.4 s of the 469 s total at sf0.1 with the state-store
    * machinery, not the data, dominating. One partition per 32 MB of
    * landed input keeps the same plan shape at every test SF and grows
    * linearly with real volume. */
  private def statePartitions(inputDirs: Seq[String]): Int = {
    val bytes = inputDirs.map { p =>
      try Option(new java.io.File(p).listFiles())
        .map(_.filter(_.isFile).map(_.length).sum).getOrElse(0L)
      catch { case _: Throwable => 0L }
    }.sum
    math.max(1L, math.min(4096L, bytes / (32L << 20) + 1L)).toInt
  }

  /** Clone of `s` for one streaming run with scale-adaptive shuffle/state
    * partitioning (see [[statePartitions]]). Conf binds at query start, so
    * it is set on a scoped clone — the shared session's conf is never
    * mutated (parallel suites run ops concurrently on one session). */
  private def streamSession(s: SparkSession, inputDirs: Seq[String]): SparkSession = {
    val rs = s.newSession()
    s.conf.getAll.foreach { case (k, v) =>
      try rs.conf.set(k, v) catch { case _: Exception => () }
    }
    rs.conf.set("spark.sql.shuffle.partitions",
      statePartitions(inputDirs).toString)
    rs
  }

  private def drain(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.awaitTermination()
  }

  private def msCol(c: String) = expr(s"unix_micros($c) div 1000")

  /** Runs `body` against a CLONED session whose state store provider is
    * RocksDB (required by transformWithState) — provider choice binds at
    * query start, so the scope covers exactly the queries started on the
    * clone. A clone, not set-then-restore on the shared session: any
    * streaming query another thread starts during a mutate/restore window
    * would bind the wrong provider or race the restore (parallel suites
    * run ops concurrently on one session). The clone shares the
    * SparkContext and cached data; its conf starts from the context conf,
    * so the parent's RUNTIME conf (shuffle partitions, session timezone)
    * is copied over first — static entries can't be re-set and keep their
    * context values. */
  private[graft] def withRocksDbProvider[T](s: SparkSession,
      inputDirs: Seq[String] = Nil)(body: SparkSession => T): T = {
    val rs = s.newSession()
    s.conf.getAll.foreach { case (k, v) =>
      try rs.conf.set(k, v) catch { case _: Exception => () }
    }
    rs.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
    // callers that pass their landing dirs get scale-adaptive state
    // partitioning (see statePartitions); no-arg callers keep the session
    // default untouched
    if (inputDirs.nonEmpty)
      rs.conf.set("spark.sql.shuffle.partitions",
        statePartitions(inputDirs).toString)
    body(rs)
  }

  /** One-time RocksDB warm-up for benchmark harnesses: drains a 4-row
    * transformWithState query so the RocksDB JNI load, state-store codegen,
    * and streaming-engine class init are absorbed OUTSIDE any timed key —
    * the tws/state-store keys then pay only their own micro-batch drains.
    * Behavior-neutral: runs on a provider-scoped clone, touches only temp
    * dirs, and executes the same UserTypeStatsProcessor the real keys use. */
  private[graft] def warmRocksDb(s: SparkSession): Unit =
    withRocksDbProvider(s) { rs =>
      import rs.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val land = tmp("graft_warm_land_"); val ck = tmp("graft_warm_ck_")
      // 4 synthetic rows of state: one partition is the right size
      rs.conf.set("spark.sql.shuffle.partitions", "1")
      rs.range(4)
        .select(col("id"), col("id").as("cents"), lit("t").as("typ"))
        .coalesce(1).write.mode("overwrite").parquet(land)
      val q = rs.readStream
        .schema("id BIGINT, cents BIGINT, typ STRING").parquet(land)
        .as[(Long, Long, String)]
        .groupByKey(_._1)
        .transformWithState(new UserTypeStatsProcessor(),
          TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "n", "sum_cents", "n_types", "max_type_n")
        .writeStream.outputMode("update")
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.format("noop").mode("overwrite").save(); ()
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      drain(q)
    }

  /** Stages `df` as ONE parquet file at `land/name` with a forced mtime —
    * the deterministic-micro-batch fixture (file source orders by mtime;
    * maxFilesPerTrigger=1 then yields one batch per staged file). */
  private def landOne(df: DataFrame, land: String, name: String,
      mtime: Long): Unit = {
    import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}
    val stage = tmp("graft_stage_")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = Paths.get(land, name)
    JFiles.move(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
    dst.toFile.setLastModified(mtime)
  }

  // A6 open equivalent: watch dir → append new files to a parquet sink with a
  // checkpoint; resume-without-reprocessing asserted in StreamingSpec.
  private val streamFileAppend = Op(
    "stream_file_append",
    (s, d) => {
      val out = tmp("graft_sfa_out_"); val ck = tmp("graft_sfa_ck_")
      val q = landAndStream(s, d).writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      drain(q)
      s.read.parquet(out)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
          msCol("ts").as("ts_ms"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS ts_ms
            FROM events ORDER BY event_id"""))

  // Tumbling 5-minute windows, APPEND mode + watermark — the only shape that
  // survives an unbounded stream (complete mode retains every window in state
  // forever and re-emits the full result per micro-batch). A window is
  // appended once the watermark (max ts − 10 min, advanced by the trailing
  // no-data batch of the AvailableNow run) reaches its end — eviction fires
  // at window_end <= watermark, INCLUSIVE (verified empirically with a
  // boundary-aligned max ts) — so the oracle cutoff must be <= too, or a
  // fixture whose max ts lands exactly on a window boundary flips the hash.
  private val streamTumblingAgg = Op(
    "stream_tumbling_agg",
    (s, d) => {
      val out = tmp("graft_sta_out_"); val ck = tmp("graft_sta_ck_")
      val rs = streamSession(s, Seq(landedDir(s, d)))
      val q = landAndStream(s, d, rs)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "5 minutes"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .select(expr("unix_micros(window.start) div 1000").as("ws_ms"),
          col("n"), col("sum_value"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      drain(q)
      s.read.parquet(out).orderBy("ws_ms")
    },
    Some("""SELECT (epoch_ms(ts) // 300000) * 300000 AS ws_ms, COUNT(*) AS n,
              CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1
            HAVING ws_ms + 300000 <= (SELECT MAX(epoch_ms(ts)) - 600000 FROM events)
            ORDER BY ws_ms"""))

  // Sliding 10-minute windows every 5 minutes (each event lands in 2
  // windows), APPEND mode + watermark like the tumbling op — same
  // state-eviction emission rule, same oracle-side watermark cutoff
  // (window end = ws_ms + 600000 here).
  private val streamSlidingAgg = Op(
    "stream_sliding_agg",
    (s, d) => {
      val out = tmp("graft_ssa_out_"); val ck = tmp("graft_ssa_ck_")
      val rs = streamSession(s, Seq(landedDir(s, d)))
      val q = landAndStream(s, d, rs)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(expr("unix_micros(window.start) div 1000").as("ws_ms"), col("n"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      drain(q)
      s.read.parquet(out).orderBy("ws_ms")
    },
    Some("""WITH b AS (
              SELECT (epoch_ms(ts) // 300000) * 300000 AS b0 FROM events),
            w AS (
              SELECT unnest([b0, b0 - 300000]) AS ws_ms FROM b)
            SELECT ws_ms, COUNT(*) AS n FROM w GROUP BY 1
            HAVING ws_ms + 600000 <= (SELECT MAX(epoch_ms(ts)) - 600000 FROM events)
            ORDER BY ws_ms"""))

  // Session windows (30-minute gap) per user, append mode (the only output
  // mode Spark supports for streaming session aggregation). Emission rule:
  // a session is appended once the watermark (max ts − 10 min, advanced by
  // the trailing no-data micro-batch of the AvailableNow run) passes its end.
  // Spark's session semantics — end = last ts + gap; an event at exactly
  // `gap` after the previous one starts a NEW session — are mirrored in the
  // oracle's `>= 1800000` split and its watermark filter.
  private val streamSessionWindow = Op(
    "stream_session_window",
    (s, d) => {
      val out = tmp("graft_ssw_out_"); val ck = tmp("graft_ssw_ck_")
      val rs = streamSession(s, Seq(landedDir(s, d)))
      val q = landAndStream(s, d, rs)
        .withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          expr("unix_micros(session_window.start) div 1000").as("ss_ms"),
          expr("unix_micros(session_window.end) div 1000").as("se_ms"),
          col("n"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      drain(q)
      s.read.parquet(out).orderBy("user_id", "ss_ms")
    },
    Some("""WITH g AS (
              SELECT user_id, event_id, epoch_ms(ts) AS ms,
                CASE WHEN lag(epoch_ms(ts)) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                     OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000
                     THEN 1 ELSE 0 END AS new_sess
              FROM events),
            sess AS (
              -- the running sum MUST use the same total order as the lag
              -- above: ordering by ms alone misassigns session ids under
              -- duplicate timestamps (overlapping phantom sessions)
              SELECT user_id, ms,
                SUM(new_sess) OVER (PARTITION BY user_id
                  ORDER BY ms, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM g),
            agg AS (
              SELECT user_id, MIN(ms) AS ss_ms, MAX(ms) + 1800000 AS se_ms,
                     COUNT(*) AS n
              FROM sess GROUP BY user_id, sid)
            SELECT user_id, ss_ms, se_ms, n FROM agg
            WHERE se_ms <= (SELECT MAX(epoch_ms(ts)) - 600000 FROM events)
            ORDER BY user_id, ss_ms"""))

  // Stream–static enrichment join: each micro-batch of events joins the
  // static customer dimension (stateless — no watermark or state store
  // needed; Spark re-plans the static side per batch, and a dimension this
  // small broadcasts, so the stream side never shuffles). The per-row
  // enrichment pattern every streaming ETL pipeline runs.
  private val streamJoinStatic = Op(
    "stream_join_static",
    (s, d) => {
      val out = tmp("graft_sjs_out_"); val ck = tmp("graft_sjs_ck_")
      val dim = Tables.load(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val q = landAndStream(s, d)
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("c_name"),
          col("c_mktsegment"), col("value"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      drain(q)
      s.read.parquet(out).orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, c_name, c_mktsegment, value
            FROM events JOIN customer ON user_id = c_custkey
            ORDER BY event_id"""))

  // Stream–stream interval join: purchases matched to same-user clicks in
  // the preceding hour. Both sides carry watermarks and the join condition
  // bounds event time on both (c_ts ∈ [p_ts − 1h, p_ts]), so each side's
  // buffered state is evicted once the other side's watermark passes the
  // bound — bounded state on unbounded streams, the shape Spark requires
  // for unbounded stream–stream inner joins. One shuffle per side on
  // user_id; emission is append as matches form.
  private val streamStreamJoin = Op(
    "stream_stream_join",
    (s, d) => {
      val out = tmp("graft_ssj_out_"); val ck = tmp("graft_ssj_ck_")
      val rs = streamSession(s, Seq(landedDir(s, d)))
      val purchases = landAndStream(s, d, rs)
        .where(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "2 hours")
      val clicks = landAndStream(s, d, rs)
        .where(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "2 hours")
      val q = purchases.join(clicks,
          col("user_id") === col("c_user") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
            col("c_ts") <= col("p_ts"))
        .select(col("p_id"), col("c_id"), col("user_id"),
          expr("unix_micros(p_ts) div 1000").as("p_ms"),
          expr("unix_micros(c_ts) div 1000").as("c_ms"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      drain(q)
      s.read.parquet(out).orderBy("p_id", "c_id")
    },
    Some("""SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id,
                   epoch_ms(p.ts) AS p_ms, epoch_ms(c.ts) AS c_ms
            FROM events p JOIN events c
              ON p.user_id = c.user_id
             AND p.event_type = 'purchase' AND c.event_type = 'click'
             AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
            ORDER BY p_id, c_id"""))

  // dropDuplicatesWithinWatermark — the Spark 3.5+/4 dedup API whose state
  // is EVICTABLE even when the dedup key carries no event-time: rows with
  // the same key are deduped only if they arrive within the watermark
  // delay of each other, and each key's state expires once the watermark
  // passes it. That bounded-state contract is what makes exactly-once-ish
  // dedup of an at-least-once queue viable on an UNBOUNDED stream —
  // `dropDuplicates` (stream_dedup_state) keeps every key forever unless
  // event-time is in the key. Harness: the landing dir gets the events
  // file twice; every duplicate pair arrives in the same micro-batch (well
  // within the delay), so the output is exactly the distinct event set and
  // the oracle is plain DISTINCT.
  private val streamDedupWithinWatermark = Op(
    "stream_dedup_within_watermark",
    (s, d) => {
      val ev = Tables.load(s, d, "events")
      val in = tmp("graft_sdw_in_")
      val out = tmp("graft_sdw_out_"); val ck = tmp("graft_sdw_ck_")
      ev.coalesce(1).write.mode("overwrite").parquet(in)
      ev.coalesce(1).write.mode("append").parquet(in)
      val rs = streamSession(s, Seq(in))
      val q = rs.readStream.schema(ev.schema).parquet(in)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"), col("user_id"), col("event_type"),
          msCol("ts").as("ts_ms"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      drain(q)
      s.read.parquet(out).orderBy("event_id")
    },
    Some("""SELECT DISTINCT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms
            FROM events ORDER BY event_id"""))

  // Stateful dedup within the watermark: the landing dir gets the events file
  // TWICE (two files → duplicate arrivals); `dropDuplicates` keyed state emits
  // each event_id once. Output = the distinct event set.
  private val streamDedupState = Op(
    "stream_dedup_state",
    (s, d) => {
      val ev = Tables.load(s, d, "events")
      val in = tmp("graft_sds_in_")
      val out = tmp("graft_sds_out_"); val ck = tmp("graft_sds_ck_")
      ev.coalesce(1).write.mode("overwrite").parquet(in)
      ev.coalesce(1).write.mode("append").parquet(in)
      val rs = streamSession(s, Seq(in))
      val q = rs.readStream.schema(ev.schema).parquet(in)
        .withWatermark("ts", "10 minutes")
        .dropDuplicates("event_id")
        .select(col("event_id"), col("user_id"), col("event_type"),
          msCol("ts").as("ts_ms"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      drain(q)
      s.read.parquet(out).orderBy("event_id")
    },
    Some("""SELECT DISTINCT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms
            FROM events ORDER BY event_id"""))

  // Arbitrary stateful processing via mapGroupsWithState — the API a custom
  // per-key accumulator (enrichment caches, anomaly state machines) uses when
  // windows/dedup can't express it. State is (count, cents-sum) per user;
  // cents are computed EXACTLY via decimal(18,2) BEFORE the lambda (round()
  // on a raw double breaks ties differently in Spark vs DuckDB — see
  // FnFamilies' rounding note) so the sum is an order-independent integer.
  // The update-mode sink is a per-batch UPSERT into the parquet target (the
  // A7 merge pattern in streaming): rows for keys updated in the batch
  // replace their previous totals, untouched keys survive — correct for any
  // number of micro-batches, unlike a whole-result overwrite.
  private val streamCustomState = Op(
    "stream_custom_state",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.GroupStateTimeout
      val out = tmp("graft_scs_out_"); val ck = tmp("graft_scs_ck_")
      val rs = streamSession(s, Seq(landedDir(s, d)))
      val q = landAndStream(s, d, rs)
        .withColumn("cents",
          (col("value").cast("decimal(18,2)") * 100).cast("long"))
        .select("user_id", "cents").as[(Long, Long)]
        .groupByKey(_._1)
        .mapGroupsWithState[(Long, Long), (Long, Long, Long)](
          GroupStateTimeout.NoTimeout) { case (uid, rows, state) =>
          val (n0, c0) = state.getOption.getOrElse((0L, 0L))
          var n = n0; var c = c0
          rows.foreach { r => n += 1; c += r._2 }
          state.update((n, c))
          (uid, n, c)
        }
        .toDF("user_id", "n", "sum_cents")
        .writeStream.outputMode("update")
        .foreachBatch { (b: DataFrame, _: Long) =>
          upsertParquet(b, Seq("user_id"), out)
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      drain(q)
      s.read.parquet(currentVersionDir(s, out).get).orderBy("user_id")
    },
    Some("""SELECT user_id, COUNT(*) AS n,
              CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
                AS sum_cents
            FROM events GROUP BY user_id ORDER BY user_id"""))

  // Streaming change-data-feed PRODUCTION (the streaming face of
  // cdc_emit_changes, delta.enableChangeDataFeed analog): each micro-batch
  // diffs its per-user delta against the running totals target and APPENDS
  // the change rows — op ∈ insert/update with before/after values — to a
  // feed a downstream incremental consumer tails, then upserts the new
  // totals. Two deterministic micro-batches (even event_ids land first,
  // odd second, forced by file mtimes + maxFilesPerTrigger=1) so the
  // update path is actually exercised: users seen in batch 1 emit insert
  // then update. Cents math in DECIMAL before summing (cross-engine
  // protocol); the oracle replays both batches as conditional aggregates.
  private val streamCdcFeed = Op(
    "stream_cdc_feed",
    (s, d) => {
      val land = tmp("graft_scf_land_"); val feed = tmp("graft_scf_feed_")
      val out = tmp("graft_scf_tgt_"); val ck = tmp("graft_scf_ck_")
      val ev = Tables.load(s, d, "events")
      val t0 = System.currentTimeMillis() - 60000
      landOne(ev.where(col("event_id") % 2 === 0), land, "b0.parquet", t0)
      landOne(ev.where(col("event_id") % 2 === 1), land, "b1.parquet",
        t0 + 10000)
      cdcFeedDrain(s, ev.schema, land, feed, out, ck)
      // partition discovery adds the batch column; the feed rows themselves
      // are the contract
      s.read.parquet(feed)
        .select("user_id", "op", "before_n", "after_n",
          "before_cents", "after_cents")
        .orderBy("user_id", "op")
    },
    Some("""WITH e AS (SELECT user_id, event_id,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
                 FROM events),
                 b1 AS (SELECT user_id, count(*) AS n, CAST(sum(cents) AS BIGINT) AS c
                        FROM e WHERE event_id % 2 = 0 GROUP BY user_id),
                 b2 AS (SELECT user_id, count(*) AS n, CAST(sum(cents) AS BIGINT) AS c
                        FROM e WHERE event_id % 2 = 1 GROUP BY user_id),
                 ins1 AS (SELECT user_id, 'insert' AS op,
                                 CAST(NULL AS BIGINT) AS before_n, n AS after_n,
                                 CAST(NULL AS BIGINT) AS before_cents, c AS after_cents
                          FROM b1),
                 ch2 AS (SELECT b2.user_id,
                                CASE WHEN b1.user_id IS NULL THEN 'insert'
                                     ELSE 'update' END AS op,
                                b1.n AS before_n,
                                coalesce(b1.n, 0) + b2.n AS after_n,
                                b1.c AS before_cents,
                                coalesce(b1.c, 0) + b2.c AS after_cents
                         FROM b2 LEFT JOIN b1 ON b2.user_id = b1.user_id)
            SELECT * FROM ins1 UNION ALL SELECT * FROM ch2
            ORDER BY user_id, op"""))

  /** One AvailableNow drain of the change-feed pipeline over `land`:
    * per micro-batch, diff the batch's per-user delta against the running
    * totals, write the change rows to an idempotent per-batchId feed
    * slice, upsert the totals. Shared by the `stream_cdc_feed` op and the
    * StreamingSpec checkpoint-resume test (resuming on the same checkpoint
    * must process only newly-landed files and never re-emit feed rows). */
  private[graft] def cdcFeedDrain(s: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      land: String, feed: String, out: String, ck: String): Unit = {
    val rs = streamSession(s, Seq(land))
    val q = rs.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(land)
      .writeStream.outputMode("update")
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        // replay guard: foreachBatch is at-least-once. The totals upsert
        // stages into the DETERMINISTIC dir v_b<batchId> — if that dir is
        // already the committed version, this batch fully applied before
        // the crash (the feed slice is written before the upsert, so it is
        // in place too) and re-diffing against the already-updated totals
        // would double-count. Skip; the checkpoint commit then catches up.
        val conf = s.sessionState.newHadoopConf()
        val root = new Path(out)
        val vName = s"v_b$batchId"
        if (graft.pipeline.Versioned.isCommitted(
            root, new Path(root, vName), conf)) ()
        else {
        val delta = b
          .withColumn("cents",
            (col("value").cast("decimal(18,2)") * 100).cast("long"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("dn"), sum(col("cents")).as("dc"))
        val before = currentVersionDir(s, out) match {
          case Some(cur) => s.read.parquet(cur)
          case None => s.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("user_id",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("n",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("c",
                org.apache.spark.sql.types.LongType))))
        }
        // localCheckpoint: the change set feeds TWO sinks (feed slice +
        // totals upsert); without it the diff join — including a full read
        // of the current totals version — would execute once per sink
        val changes = delta.as("d")
          .join(before.as("t"), Seq("user_id"), "left_outer")
          .select(col("user_id"),
            when(col("t.n").isNull, "insert").otherwise("update").as("op"),
            col("t.n").as("before_n"),
            (coalesce(col("t.n"), lit(0L)) + col("dn")).as("after_n"),
            col("t.c").as("before_cents"),
            (coalesce(col("t.c"), lit(0L)) + col("dc")).as("after_cents"))
          .trackedCkpt(eager = true)
        // one OVERWRITTEN dir per micro-batch id: a retried batch replaces
        // its own feed slice, never appends a duplicate (idempotent sink —
        // the trick Spark documents for exactly-once foreachBatch output)
        changes.write.mode("overwrite").parquet(s"$feed/batch=$batchId")
        upsertParquet(
          changes.select(col("user_id"), col("after_n").as("n"),
            col("after_cents").as("c")),
          Seq("user_id"), out, version = Some(vName))
        }
      }
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    drain(q)
  }

  /** Resolves the committed version dir under a versioned upsert target
    * ([[graft.pipeline.Versioned]] manifest protocol). */
  private[graft] def currentVersionDir(s: SparkSession, out: String): Option[String] =
    graft.pipeline.Versioned
      .current(new Path(out), s.sessionState.newHadoopConf())
      .map(_.toString)

  /** Per-batch upsert into a parquet target: batch rows replace rows with the
    * same key, all other target rows survive — one anti-join on the keys
    * (batches are small aggregates, so AQE broadcasts the batch side). Each
    * batch writes a FRESH version dir and commits through the shared
    * [[graft.pipeline.Versioned]] manifest rename: a crash mid-batch leaves
    * the previous version complete and pointed-to, never a half-rewritten
    * target. Pass `version` (e.g. a batchId) to make a replayed batch
    * overwrite its own staged dir instead of minting a new one. */
  private def upsertParquet(batch: DataFrame, keys: Seq[String], out: String,
      version: Option[String] = None): Unit = {
    val s = batch.sparkSession
    val conf = s.sessionState.newHadoopConf()
    val root = new Path(out)
    val merged = currentVersionDir(s, out) match {
      case Some(cur) =>
        batch.unionByName(
          s.read.parquet(cur).join(batch.select(keys.map(col): _*).distinct(),
            keys, "left_anti"))
      case None => batch
    }
    val next = graft.pipeline.Versioned.stagePath(root, version)
    merged.write.mode("overwrite").parquet(next.toString)
    graft.pipeline.Versioned.commit(root, next, conf)
  }

  // Streaming observability: Dataset.observe on an UNBOUNDED stream surfaces
  // per-micro-batch data-quality metrics (row count, exact control total in
  // cents) through StreamingQueryProgress.observedMetrics — counters ride
  // the batch's own pass, no second scan, and a monitoring loop reads them
  // from progress events without touching the data path. Two forced
  // micro-batches (even event_ids land first, odd second, mtime +
  // maxFilesPerTrigger=1 — the stream_cdc_feed protocol) make the per-batch
  // rows deterministic; the oracle replays both batches as conditional
  // aggregates.
  private val streamObserveMetrics = Op(
    "stream_observe_metrics",
    (s, d) => {
      val land = tmp("graft_som_land_"); val ck = tmp("graft_som_ck_")
      val sink = tmp("graft_som_sink_")
      val ev = Tables.load(s, d, "events")
      val t0 = System.currentTimeMillis() - 60000
      landOne(ev.where(col("event_id") % 2 === 0), land, "b0.parquet", t0)
      landOne(ev.where(col("event_id") % 2 === 1), land, "b1.parquet",
        t0 + 10000)
      val q = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(land)
        .observe("batch_metrics",
          count(lit(1)).as("n_rows"),
          sum(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
            .as("sum_cents"))
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      drain(q)
      import s.implicits._
      q.recentProgress.toSeq
        .filter(_.numInputRows > 0) // a trailing no-data commit batch has no totals
        .flatMap(p => Option(p.observedMetrics.get("batch_metrics"))
          .map(m => (p.batchId, m.getLong(0), m.getLong(1))))
        .toDF("batch_id", "n_rows", "sum_cents")
        .orderBy("batch_id")
    },
    Some("""SELECT CAST(0 AS BIGINT) AS batch_id, count(*) AS n_rows,
              CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
                AS sum_cents
            FROM events WHERE event_id % 2 = 0
            UNION ALL
            SELECT CAST(1 AS BIGINT), count(*),
              CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
            FROM events WHERE event_id % 2 = 1
            ORDER BY batch_id"""))

  // Watermark AUDIT: watermarks silently drop late rows — at 100 TB
  // "silently" is unacceptable, so a production stream publishes its
  // watermark progression (from StreamingQueryProgress.eventTime) next to
  // its per-batch input counts; any input behind the in-effect watermark is
  // dropped, and that is exactly auditable from these two columns. (The
  // engine's own numRowsDroppedByWatermark stays 0 for aggregations — the
  // late filter runs before the state operator — which is precisely why the
  // progression itself is the reliable audit surface.) Two forced batches
  // make it deterministic: the RECENT half arrives first and raises the
  // watermark to (max ts − 10 min, ms-truncated); the OLD half then arrives
  // entirely behind it. The oracle recomputes the watermark declaratively.
  private val streamWatermarkAudit = Op(
    "stream_watermark_audit",
    (s, d) => {
      val land = tmp("graft_sld_land_"); val ck = tmp("graft_sld_ck_")
      val sink = tmp("graft_sld_sink_")
      val ev = Tables.load(s, d, "events")
      val cutoff = "TIMESTAMP '2024-01-15 00:00:00'"
      val t0 = System.currentTimeMillis() - 60000
      landOne(ev.where(expr(s"ts >= $cutoff")), land,
        "b0.parquet", t0)                                        // recent half first
      landOne(ev.where(expr(s"ts < $cutoff")), land,
        "b1.parquet", t0 + 10000)                                // old half = late
      val rs = streamSession(s, Seq(land))
      val q = rs.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(land)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "5 minutes"))
        .agg(count(lit(1)).as("n"))
        .writeStream.outputMode("append").format("parquet")
        .option("path", sink).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      drain(q)
      import s.implicits._
      q.recentProgress.toSeq
        .filter(_.numInputRows > 0)
        .map(p => (p.batchId, p.numInputRows,
          java.time.Instant.parse(p.eventTime.get("watermark")).toEpochMilli))
        .toDF("batch_id", "input_rows", "wm_ms")
        .orderBy("batch_id")
    },
    Some("""SELECT CAST(0 AS BIGINT) AS batch_id, count(*) AS input_rows,
              CAST(0 AS BIGINT) AS wm_ms
            FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
            UNION ALL
            SELECT CAST(1 AS BIGINT), count(*),
              (SELECT epoch_ms(max(ts)) - 600000 FROM events
               WHERE ts >= TIMESTAMP '2024-01-15 00:00:00')
            FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
            ORDER BY batch_id"""))

  /** Body of [[streamThrottledBackfill]], exposed so StreamingSpec can
    * assert the multi-batch behavior: returns the backfilled result plus
    * the number of non-empty micro-batches the run committed. */
  private[graft] def throttledBackfillRun(
      s: SparkSession, d: String): (DataFrame, Long) = {
    val ev = Tables.load(s, d, "events")
    val in = tmp("graft_stb_in_")
    ev.repartition(4).write.mode("overwrite").parquet(in)
    val out = tmp("graft_stb_out_"); val ck = tmp("graft_stb_ck_")
    val q = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(in)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    drain(q)
    val batches = q.recentProgress.count(_.numInputRows > 0).toLong
    val res = s.read.parquet(out)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        msCol("ts").as("ts_ms"))
      .orderBy("event_id")
    (res, batches)
  }

  // Throttled backfill — the intake-rate knob a 100 TB catch-up run needs:
  // maxFilesPerTrigger bounds every micro-batch (here 1 file per trigger
  // over a 4-file landing), and Trigger.AvailableNow drains the backlog
  // through MULTIPLE bounded batches before stopping — unlike the
  // deprecated Trigger.Once, which ignores rate limits and loads the whole
  // backlog into one batch (the classic executor-OOM on a month of landed
  // files). Output equals batch semantics, so the key is oracle-checked;
  // StreamingSpec asserts the run really committed ≥ 4 bounded batches.
  private val streamThrottledBackfill = Op(
    "stream_throttled_backfill",
    (s, d) => throttledBackfillRun(s, d)._1,
    Some("""SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS ts_ms
            FROM events ORDER BY event_id"""))

  // Streaming upsert sink via foreachBatch — the CDC-merge pattern every
  // warehouse streaming ingest runs (the Delta `MERGE` in foreachBatch
  // analog): each micro-batch reduces to one row per key map-side, then
  // merges into the current target state by key, and commits a new target
  // version (versioned dirs stand in for a table format's transaction log;
  // the previous version is never read and written in the same job). The
  // merge is associative and commutative — max-by-event_id and summed
  // counts — so the final state is independent of how the backlog happened
  // to split into micro-batches, which is exactly the property that makes
  // the result oracle-checkable against one batch query over all events.
  // At scale each merge is a key-partitioned join of target × batch
  // partials; raw events never accumulate in state.
  /** One checkpointed drain of the upsert sink over `in` into versioned
    * target dirs under `tgtRoot`. Restart-safe by construction: the merge
    * base is recovered FROM DISK as the highest `_SUCCESS`-committed version
    * with id < the current batch id (never from driver memory, which a crash
    * wipes), and a replayed batch id overwrites its own `v<id>` dir from the
    * same base — foreachBatch's at-least-once redelivery lands on identical
    * state. `failAfterBatches` injects a crash before the (n+1)-th commit so
    * StreamingSpec can prove the replay property with a real kill+restart.
    * Returns the number of batches committed by THIS run. */
  private[graft] def upsertSinkDrain(s: SparkSession, in: String,
      tgtRoot: String, ck: String,
      failAfterBatches: Long = Long.MaxValue): Long = {
    val schema = s.read.parquet(in).schema
    val committed = new java.util.concurrent.atomic.AtomicLong(0L)
    def committedVersions(): Seq[(Long, String)] = {
      val dir = new java.io.File(tgtRoot)
      Option(dir.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("v") &&
          new java.io.File(f, "_SUCCESS").exists())
        .map(f => (f.getName.drop(1).toLong, f.getAbsolutePath))
    }
    def reduceBatch(df: DataFrame): DataFrame =
      df.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          max(struct(col("event_id"), col("event_type"), col("value"))).as("m"))
        .select(col("user_id"), col("n_events"),
          col("m.event_id").as("last_event_id"),
          col("m.event_type").as("last_type"), col("m.value").as("last_value"))
    val rs = streamSession(s, Seq(in))
    val q = rs.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (committed.get() >= failAfterBatches)
          throw new RuntimeException("graft injected sink failure")
        val b = reduceBatch(batch)
        val merged = committedVersions().filter(_._1 < id)
          .sortBy(-_._1).headOption match {
          case None => b
          case Some((_, prev)) =>
            s.read.parquet(prev).unionByName(b)
              .groupBy("user_id")
              .agg(sum(col("n_events")).as("n_events"),
                max(struct(col("last_event_id"), col("last_type"),
                  col("last_value"))).as("m"))
              .select(col("user_id"), col("n_events"),
                col("m.last_event_id").as("last_event_id"),
                col("m.last_type").as("last_type"),
                col("m.last_value").as("last_value"))
        }
        merged.write.mode("overwrite").parquet(s"$tgtRoot/v$id")
        committed.incrementAndGet()
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    try drain(q)
    catch { case e: org.apache.spark.sql.streaming.StreamingQueryException =>
      // swallow only the injected crash; anything else is a real failure
      def injected(t: Throwable): Boolean = t != null &&
        (Option(t.getMessage).exists(_.contains("graft injected sink failure"))
          || injected(t.getCause))
      if (!injected(e)) throw e
    }
    committed.get()
  }

  /** Reads back the latest committed target version under `tgtRoot`. */
  private[graft] def upsertSinkState(s: SparkSession, tgtRoot: String): DataFrame = {
    val latest = Option(new java.io.File(tgtRoot).listFiles())
      .getOrElse(Array.empty[java.io.File]).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("v") &&
        new java.io.File(f, "_SUCCESS").exists())
      .maxBy(_.getName.drop(1).toLong)
    s.read.parquet(latest.getAbsolutePath).orderBy("user_id")
  }

  private[graft] def upsertSinkRun(s: SparkSession, d: String): (DataFrame, Long) = {
    val ev = Tables.load(s, d, "events")
    val in = tmp("graft_sus_in_")
    ev.repartition(4).write.mode("overwrite").parquet(in)
    val tgtRoot = tmp("graft_sus_tgt_")
    val n = upsertSinkDrain(s, in, tgtRoot, tmp("graft_sus_ck_"))
    (upsertSinkState(s, tgtRoot), n)
  }

  private val streamUpsertSink = Op(
    "stream_upsert_sink",
    (s, d) => upsertSinkRun(s, d)._1,
    Some("""SELECT user_id, count(*) AS n_events,
                   max(event_id) AS last_event_id,
                   max_by(event_type, event_id) AS last_type,
                   max_by(value, event_id) AS last_value
            FROM events GROUP BY user_id ORDER BY user_id"""))

  // CHAINED stateful aggregations in one append-mode query (a Spark-4
  // capability: multiple stateful operators per stream): 5-minute counts
  // re-aggregate into 15-minute rollups downstream, all inside the same
  // micro-batch pipeline — the streaming analog of a partial/final
  // aggregate pair. Watermark semantics cascade: an inner window emits
  // when the watermark passes its end, the outer window closes once the
  // watermark passes ITS end, by which point every inner window inside it
  // has emitted — so the oracle is the batch 15-minute rollup restricted
  // to outer windows entirely below the final watermark.
  private val streamChainedWindows = Op(
    "stream_chained_windows",
    (s, d) => {
      val out = tmp("graft_scw_out_"); val ck = tmp("graft_scw_ck_")
      val rs = streamSession(s, Seq(landedDir(s, d)))
      val q = landAndStream(s, d, rs)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "5 minutes"))
        .agg(count(lit(1)).as("n5"))
        .groupBy(window(col("window"), "15 minutes"))
        .agg(sum("n5").as("n15"), count(lit(1)).as("n_sub"))
        .select(expr("unix_micros(window.start) div 1000").as("ws_ms"),
          col("n15"), col("n_sub"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      drain(q)
      s.read.parquet(out).orderBy("ws_ms")
    },
    Some("""SELECT (epoch_ms(ts) // 900000) * 900000 AS ws_ms,
              CAST(COUNT(*) AS BIGINT) AS n15,
              CAST(COUNT(DISTINCT epoch_ms(ts) // 300000) AS BIGINT) AS n_sub
            FROM events GROUP BY 1
            HAVING ws_ms + 900000 <=
              (SELECT MAX(epoch_ms(ts)) - 600000 FROM events)
            ORDER BY ws_ms"""))

  // Streaming CEP: the stateful-pattern-match shape (view → purchase
  // within 30 min with no error between — the same pattern as the batch
  // `event_sequence_match`, so the same DuckDB oracle checks it).
  // flatMapGroupsWithState carries O(1) state per user — (last_view,
  // last_error, n_purchases, n_converted) — across micro-batches; each
  // batch's group rows sort by (ts, event_id) before replay (a streaming
  // file source does not order rows within a batch; cross-batch order is
  // the state's job). Emissions are running per-user totals upserted into
  // the versioned parquet target, so after the bounded run the sink equals
  // the batch answer. At 100 TB this is one shuffle on user_id per batch
  // and constant state per key — the flink-CEP shape on Spark primitives.
  private val streamSequenceMatch = Op(
    "stream_sequence_match",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.GroupStateTimeout
      val out = tmp("graft_ssm_out_"); val ck = tmp("graft_ssm_ck_")
      val none = Long.MinValue
      val rs = streamSession(s, Seq(landedDir(s, d)))
      val q = landAndStream(s, d, rs)
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("us"), col("event_id"))
        .as[(Long, String, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long, Long, Long), (Long, Long, Long)](
          org.apache.spark.sql.streaming.OutputMode.Update(),
          GroupStateTimeout.NoTimeout) { case (uid, rows, state) =>
          var (lastView, lastError, nPurch, nConv) =
            state.getOption.getOrElse((none, none, 0L, 0L))
          rows.toSeq.sortBy(r => (r._3, r._4)).foreach {
            case (_, "view", us, _)  => lastView = us
            case (_, "error", us, _) => lastError = us
            case (_, "purchase", us, _) =>
              nPurch += 1
              if (lastView != none && lastView >= us - 30L * 60 * 1000000 &&
                (lastError == none || lastError < lastView)) nConv += 1
            case _ => ()
          }
          state.update((lastView, lastError, nPurch, nConv))
          Iterator((uid, nPurch, nConv))
        }
        .toDF("user_id", "n_purchases", "n_converted")
        .writeStream.outputMode("update")
        .foreachBatch { (b: DataFrame, _: Long) =>
          upsertParquet(b, Seq("user_id"), out)
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      drain(q)
      s.read.parquet(currentVersionDir(s, out).get)
        .where(col("n_purchases") > 0).orderBy("user_id")
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

  /** One AvailableNow drain of the notification-mode ingest over `man`:
    * the checkpointed text-journal stream is deduplicated ACROSS batches by
    * stateful dropDuplicates on the path — the SQS-consumer dedup ledger
    * (state is one row per notified FILE, bounded by file count, never data
    * volume), so a queue redelivering a path in a LATER journal file still
    * ingests it once. Each micro-batch's arrivals are read distributed and
    * written to an OVERWRITTEN per-batchId slice, so an at-least-once
    * foreachBatch replay rewrites its own slice instead of appending
    * duplicates. Shared by the `stream_manifest_ingest` op and the
    * StreamingSpec notification-contract test — the spec exercises THIS
    * code path, not a copy. */
  private[graft] def manifestIngestDrain(s: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      man: String, out: String, ck: String): Unit = {
    val rs = streamSession(s, Seq(man))
    val q = rs.readStream.text(man)
      .dropDuplicates("value")
      .writeStream.option("checkpointLocation", ck)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val paths = batch.distinct().collect()
          .map(_.getString(0)).filter(_.nonEmpty)
        if (paths.nonEmpty)
          s.read.schema(schema).parquet(paths.toIndexedSeq: _*)
            .write.mode("overwrite").parquet(s"$out/batch=$batchId")
        ()
      }.start()
    drain(q)
  }

  // A6's FILE-NOTIFICATION discovery mode (framework.py:180-181,
  // `cloudFiles.useNotifications = "true"`): the scale problem with the
  // directory-listing stream (`stream_file_append`) is the per-micro-batch
  // LISTING — O(total files ever landed) against a 100 M-file landing zone,
  // every trigger. Notification mode inverts it: the bucket's event queue
  // says WHICH files arrived, so per-trigger discovery is O(new arrivals).
  // No cloud queue exists in this environment, so the queue is modeled by
  // its open on-disk analog — a text manifest journal the producer appends
  // one landed path per line to; the stream sources the MANIFEST (tiny,
  // checkpointed, exactly-once over journal files) and never lists the data
  // dir at all. Paths — not data — come to the driver (bounded by arrivals
  // per trigger, the same contract as a real SQS/Event Grid consumer); the
  // data files themselves are read DISTRIBUTED with the explicit landing
  // schema. Dedup/idempotence semantics live in [[manifestIngestDrain]];
  // the notification contract (un-notified file invisible, same-batch AND
  // cross-batch redelivery ingests once, empty resume re-ingests nothing)
  // is asserted in StreamingSpec against the same code path.
  private val streamManifestIngest = Op(
    "stream_manifest_ingest",
    (s, d) => {
      val ev = Tables.load(s, d, "events")
      val land = tmp("graft_smi_land_"); val man = tmp("graft_smi_man_")
      val out = tmp("graft_smi_out_"); val ck = tmp("graft_smi_ck_")
      ev.repartition(4).write.mode("overwrite").parquet(land)
      val parts = new java.io.File(land).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted
      // producer-side notifications: two journal appends, split arrivals;
      // the second journal REDELIVERS the first's paths (at-least-once
      // queue) — the cross-batch dedup must absorb them
      val (first, rest) = parts.splitAt(parts.length / 2)
      Files.write(java.nio.file.Paths.get(man, "notify-000.txt"),
        first.mkString("\n").getBytes("UTF-8"))
      Files.write(java.nio.file.Paths.get(man, "notify-001.txt"),
        (rest ++ first).mkString("\n").getBytes("UTF-8"))
      manifestIngestDrain(s, ev.schema, man, out, ck)
      s.read.parquet(out)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), msCol("ts").as("ts_ms"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS ts_ms
            FROM events ORDER BY event_id"""))

  // transformWithState exercise: two deterministic micro-batches (even
  // event_ids land first, odd second — file mtimes + maxFilesPerTrigger=1)
  // so both state variables genuinely carry across batches; update-mode
  // emissions upsert into a versioned target, so the final state per user is
  // what the oracle sees. The RocksDB state store provider is required by
  // the API and is scoped to this query (session conf restored after the
  // drain — provider choice binds at query start).
  private val streamTwsState = Op(
    "stream_tws_state",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val land = tmp("graft_tws_land_")
      val out = tmp("graft_tws_out_"); val ck = tmp("graft_tws_ck_")
      val ev = Tables.load(s, d, "events")
      val t0 = System.currentTimeMillis() - 60000
      landOne(ev.where(col("event_id") % 2 === 0), land, "b0.parquet", t0)
      landOne(ev.where(col("event_id") % 2 === 1), land, "b1.parquet",
        t0 + 10000)
      withRocksDbProvider(s, Seq(land)) { rs =>
        val q = rs.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(land)
          .select(col("user_id"),
            (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"),
            col("event_type"))
          .as[(Long, Long, String)]
          .groupByKey(_._1)
          .transformWithState(new UserTypeStatsProcessor(),
            TimeMode.None(), OutputMode.Update())
          .toDF("user_id", "n", "sum_cents", "n_types", "max_type_n")
          .writeStream.outputMode("update")
          .foreachBatch { (b: DataFrame, _: Long) =>
            upsertParquet(b, Seq("user_id"), out)
          }
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow()).start()
        drain(q)
      }
      s.read.parquet(currentVersionDir(s, out).get).orderBy("user_id")
    },
    Some("""WITH e AS (SELECT user_id, event_type,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
                 FROM events),
                 per AS (SELECT user_id, event_type,
                                count(*) AS tn, CAST(sum(cents) AS BIGINT) AS tc
                         FROM e GROUP BY user_id, event_type)
            SELECT user_id,
                   CAST(sum(tn) AS BIGINT) AS n,
                   CAST(sum(tc) AS BIGINT) AS sum_cents,
                   count(*) AS n_types,
                   CAST(max(tn) AS BIGINT) AS max_type_n
            FROM per GROUP BY user_id ORDER BY user_id"""))

  // The TIMER surface of transformWithState: event-time-timer gap
  // sessionization — the custom-state spelling of `stream_session_window`'s
  // built-in session_window agg, and the capability (register/delete/expire
  // per-key timers) that mapGroupsWithState only approximated with a single
  // timeout. A session closes either when a later in-stream event exceeds
  // the 30-min gap (emitted from handleInputRows) or when the WATERMARK
  // passes last_event + gap (emitted from handleExpiredTimer); both paths
  // produce identical rows, so emission order doesn't matter to the oracle.
  //
  // Determinism against the batch oracle needs two landing choices:
  // (1) the two data files split by TIME, not id-parity — so cross-batch
  //     within-user disorder is zero and nothing is ever watermark-late;
  // (2) watermark delay == gap — then a timer can never fire while its
  //     session could still receive events: a straddling session's last
  //     first-half event L satisfies L > mid - gap, so its timer L+gap+1
  //     exceeds the first batch's closing watermark mid - gap.
  // Two far-future sentinel rows (user -1, ignored by the processor)
  // advance the watermark past every live timer so ALL sessions flush
  // before the AvailableNow drain ends.
  private val streamTwsTimers = Op(
    "stream_tws_timers",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val land = tmp("graft_twt_land_")
      val out = tmp("graft_twt_out_"); val ck = tmp("graft_twt_ck_")
      val ev = Tables.load(s, d, "events")
      val gapMs = 1800000L
      val Array(minMs, maxMs) = ev
        .agg(expr("min(unix_micros(ts) div 1000)"),
          expr("max(unix_micros(ts) div 1000)"))
        .first() match { case r => Array(r.getLong(0), r.getLong(1)) }
      val midMs = (minMs + maxMs) / 2
      def sentinel(ms: Long): DataFrame = ev.limit(1)
        .select(lit(-1L).as("event_id"), expr(s"timestamp_millis(${ms}L)").as("ts"),
          lit(-1L).as("user_id"), lit("noop").as("event_type"),
          lit(0.0).as("value"), lit("").as("props"))
        .select(ev.columns.map(col).toIndexedSeq: _*)
      val t0 = System.currentTimeMillis() - 60000
      landOne(ev.where(expr(s"unix_micros(ts) div 1000 < ${midMs}L")),
        land, "b0.parquet", t0)
      landOne(ev.where(expr(s"unix_micros(ts) div 1000 >= ${midMs}L")),
        land, "b1.parquet", t0 + 10000)
      // TWO sentinels, not three (r19): timers fire in the batch whose
      // START watermark exceeds them, and the watermark entering the s2
      // batch is already maxMs + 3·gap − gap = maxMs + 2·gap — past every
      // live timer (≤ maxMs + gap) — so every session flushes during s2's
      // batch and a third sentinel batch was a pure micro-batch cost
      // (~0.6 s of state-store commit + sink write per run)
      landOne(sentinel(maxMs + 3 * gapMs), land, "s1.parquet", t0 + 20000)
      landOne(sentinel(maxMs + 6 * gapMs), land, "s2.parquet", t0 + 30000)
      withRocksDbProvider(s, Seq(land)) { rs =>
        val q = rs.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(land)
          .withWatermark("ts", "30 minutes")
          .select(col("user_id"), col("event_id"),
            expr("unix_micros(ts) div 1000").as("ms"),
            (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
          .as[(Long, Long, Long, Long)]
          .groupByKey(_._1)
          .transformWithState(new SessionTimerProcessor(gapMs),
            TimeMode.EventTime(), OutputMode.Append())
          .toDF("user_id", "start_ms", "end_ms", "n", "sum_cents")
          .writeStream.outputMode("append")
          // per-batchId OVERWRITTEN slice: an at-least-once foreachBatch
          // replay rewrites its own slice instead of appending duplicate
          // session rows (the idempotent-sink discipline of cdcFeedDrain)
          .foreachBatch { (b: DataFrame, batchId: Long) =>
            b.write.mode("overwrite").parquet(s"$out/batch=$batchId"); ()
          }
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow()).start()
        drain(q)
      }
      s.read.parquet(out)
        .select("user_id", "start_ms", "end_ms", "n", "sum_cents")
        .orderBy("user_id", "start_ms")
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
                 FROM events),
                 f AS (SELECT *, CASE WHEN lag(ms) OVER w IS NULL
                                        OR ms - lag(ms) OVER w > 1800000
                                      THEN 1 ELSE 0 END AS new_sess
                       FROM e WINDOW w AS (PARTITION BY user_id
                                           ORDER BY ms, event_id)),
                 g AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
                          ORDER BY ms, event_id ROWS UNBOUNDED PRECEDING) AS sid
                       FROM f)
            SELECT user_id, min(ms) AS start_ms, max(ms) AS end_ms,
                   count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
            FROM g GROUP BY user_id, sid ORDER BY user_id, start_ms"""))

  // State BOOTSTRAP (StatefulProcessorWithInitialState): how a running
  // pipeline's accumulated state migrates into a NEW streaming job — the
  // operational move behind re-keying, topology changes, or engine
  // upgrades, where replaying 100 TB of history to rebuild counters is not
  // an option. The initial state is a per-user totals RELATION (here: the
  // even-event_id half of events, standing in for "everything the old job
  // had absorbed"), handed to transformWithState as a keyed Dataset; the
  // stream then delivers only the odd half. handleInitialState seeds each
  // user's ValueState before any input row; emissions (update mode, upsert
  // sink) therefore equal FULL-history totals for every user the stream
  // touches — which is exactly what the oracle checks.
  private val streamTwsInitState = Op(
    "stream_tws_init_state",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val land = tmp("graft_twi_land_")
      val out = tmp("graft_twi_out_"); val ck = tmp("graft_twi_ck_")
      val ev = Tables.load(s, d, "events")
        .withColumn("cents",
          (col("value").cast("decimal(18,2)") * 100).cast("long"))
      val initial = ev.where(col("event_id") % 2 === 0)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("cents").as("c"))
        .select(col("user_id"), col("n"), col("c"))
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .mapValues { case (_, n, c) => (n, c) }
      ev.where(col("event_id") % 2 === 1)
        .select("user_id", "cents").coalesce(1)
        .write.mode("overwrite").parquet(land)
      withRocksDbProvider(s, Seq(land)) { rs =>
        val q = rs.readStream
          .schema("user_id BIGINT, cents BIGINT").parquet(land)
          .as[(Long, Long)]
          .groupByKey(_._1)
          .transformWithState(new BootstrappedTotalsProcessor(),
            TimeMode.None(), OutputMode.Update(), initial)
          .toDF("user_id", "n", "sum_cents")
          .writeStream.outputMode("update")
          .foreachBatch { (b: DataFrame, _: Long) =>
            upsertParquet(b, Seq("user_id"), out)
          }
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow()).start()
        drain(q)
      }
      s.read.parquet(currentVersionDir(s, out).get).orderBy("user_id")
    },
    Some("""WITH e AS (SELECT user_id, event_id,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
                 FROM events),
                 tot AS (SELECT user_id, count(*) AS n,
                                CAST(sum(cents) AS BIGINT) AS sum_cents
                         FROM e GROUP BY user_id),
                 act AS (SELECT DISTINCT user_id FROM e WHERE event_id % 2 = 1)
            SELECT t.user_id, t.n, t.sum_cents
            FROM tot t JOIN act USING (user_id) ORDER BY user_id"""))

  // State-store DATA SOURCE (SPARK-45511, in-box since Spark 4): a drained
  // streaming aggregation's checkpoint read back as a DataFrame — the
  // operational window into live state (debugging a wedged stateful query,
  // auditing what a checkpoint actually holds, sizing state before a
  // migration) without touching the running job. The stream's sink output
  // is deliberately DISCARDED: everything the oracle checks arrives through
  // the state reader, proving the checkpoint itself carries the full
  // aggregation state. Value-struct field names are engine-internal buffer
  // names, so they're bound positionally (count buffer, then sum buffer —
  // the agg declaration order) and re-aliased.
  private val scanStateStore = Op(
    "scan_state_store",
    (s, d) => {
      val ck = tmp("graft_sss_ck_")
      val rs = streamSession(s, Seq(landedDir(s, d)))
      val q = landAndStream(s, d, rs)
        .withColumn("cents",
          (col("value").cast("decimal(18,2)") * 100).cast("long"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .writeStream.outputMode("update")
        // sink output discarded — but every partition must still be
        // materialized or the state stores never commit (the engine
        // validates per-partition commits for exactly this mistake)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.format("noop").mode("overwrite").save(); ()
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      drain(q)
      val st = s.read.format("statestore").load(ck)
      val vals = st.select("value.*").columns
      st.select(col("key.user_id").as("user_id"),
          col(s"value.`${vals(0)}`").cast("long").as("n"),
          col(s"value.`${vals(1)}`").cast("long").as("sum_cents"))
        .orderBy("user_id")
    },
    Some("""SELECT user_id, count(*) AS n,
              CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents
            FROM events GROUP BY user_id ORDER BY user_id"""))

  // The third transformWithState state type, ListState, as a BOUNDED
  // per-key buffer: the last-3 events per user (by event time, ties by
  // event_id), maintained across micro-batches by merge-sort-truncate —
  // the recent-activity / feature-window shape a serving pipeline keeps
  // per entity. The two batches split by event_id PARITY, so batch 2
  // delivers events OLDER than batch 1's for most users — the buffer
  // merge handles out-of-order arrival without any watermark (TimeMode
  // .None), which is the point: state is capped at k entries per key no
  // matter how disordered or voluminous the stream.
  private val streamTwsListState = Op(
    "stream_tws_list_state",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val land = tmp("graft_twl_land_")
      val out = tmp("graft_twl_out_"); val ck = tmp("graft_twl_ck_")
      val ev = Tables.load(s, d, "events")
        .select(col("user_id"), expr("unix_micros(ts) div 1000").as("ms"),
          col("event_id"))
      val t0 = System.currentTimeMillis() - 60000
      landOne(ev.where(col("event_id") % 2 === 0), land, "b0.parquet", t0)
      landOne(ev.where(col("event_id") % 2 === 1), land, "b1.parquet",
        t0 + 10000)
      withRocksDbProvider(s, Seq(land)) { rs =>
        val q = rs.readStream
          .schema("user_id BIGINT, ms BIGINT, event_id BIGINT")
          .option("maxFilesPerTrigger", "1").parquet(land)
          .as[(Long, Long, Long)]
          .groupByKey(_._1)
          .transformWithState(new RecentEventsProcessor(3),
            TimeMode.None(), OutputMode.Update())
          .toDF("user_id", "recent_ids", "last_ms")
          .writeStream.outputMode("update")
          .foreachBatch { (b: DataFrame, _: Long) =>
            upsertParquet(b, Seq("user_id"), out)
          }
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow()).start()
        drain(q)
      }
      // driver-boundary contract (RegistrySpec): result columns must be
      // scalar — the list is emitted as a comma-joined string
      s.read.parquet(currentVersionDir(s, out).get)
        .select(col("user_id"),
          expr("array_join(recent_ids, ',')").as("recent_ids"),
          col("last_ms"))
        .orderBy("user_id")
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms
                       FROM events)
            SELECT user_id,
                   array_to_string(
                     (list(event_id ORDER BY ms DESC, event_id DESC))[1:3],
                     ',') AS recent_ids,
                   max(ms) AS last_ms
            FROM e GROUP BY user_id ORDER BY user_id"""))

  // The state reader over a transformWithState checkpoint: custom typed
  // state is addressed by VARIABLE NAME (`stateVarName`) — a processor
  // holds many independent variables, and each reads back as its own
  // relation. Here the multi-variable UserTypeStatsProcessor runs a drain
  // whose sink is discarded, then the "totals" ValueState is read back and
  // hash-checked against the batch totals — the same audit-the-checkpoint
  // operational move as `scan_state_store`, now for arbitrary custom state.
  private val scanStateStoreTws = Op(
    "scan_state_store_tws",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val ck = tmp("graft_sst_ck_")
      withRocksDbProvider(s, Seq(landedDir(s, d))) { rs =>
        val q = landAndStream(s, d, rs)
          .select(col("user_id"),
            (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"),
            col("event_type"))
          .as[(Long, Long, String)]
          .groupByKey(_._1)
          .transformWithState(new UserTypeStatsProcessor(),
            TimeMode.None(), OutputMode.Update())
          .toDF("user_id", "n", "sum_cents", "n_types", "max_type_n")
          .writeStream.outputMode("update")
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.format("noop").mode("overwrite").save(); ()
          }
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow()).start()
        drain(q)
        // read back on the clone too: the state source resolves the store
        // provider from the SESSION conf, and this checkpoint is RocksDB
        val st = rs.read.format("statestore")
          .option("stateVarName", "totals").load(ck)
        val vals = st.select("value.*").columns
        st.select(col("key.value").cast("long").as("user_id"),
            col(s"value.`${vals(0)}`").cast("long").as("n"),
            col(s"value.`${vals(1)}`").cast("long").as("sum_cents"))
          .orderBy("user_id")
      }
    },
    Some("""SELECT user_id, count(*) AS n,
              CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents
            FROM events GROUP BY user_id ORDER BY user_id"""))

  val ops: Seq[Op] = Seq(
    streamThrottledBackfill, streamUpsertSink,
    streamFileAppend, streamTumblingAgg, streamSlidingAgg,
    streamSessionWindow, streamJoinStatic, streamStreamJoin,
    streamDedupState, streamDedupWithinWatermark, streamCustomState,
    streamCdcFeed,
    streamObserveMetrics, streamWatermarkAudit, streamChainedWindows,
    streamSequenceMatch, streamManifestIngest, streamTwsState,
    streamTwsTimers, streamTwsInitState, scanStateStore,
    streamTwsListState, scanStateStoreTws)
}

/** Per-user stats over MULTIPLE independent typed state variables — the
  * capability `transformWithState` (Spark 4's arbitrary-stateful-processing
  * API, SPARK-46815) adds over `mapGroupsWithState`'s single state object: a
  * ValueState for the running (count, cents) totals next to a MapState for
  * per-event-type counts, each read/updated/evicted independently by the
  * state store (RocksDB provider required). State shuffles on the grouping
  * key exactly like mapGroupsWithState — per-key state is the bounded
  * quantity at 100 TB, and the MapState's key space (event types) is
  * domain-bounded. Top-level class (not nested in the ops object) so the
  * serialized processor carries no `$outer` module reference. */
private class UserTypeStatsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, String), (Long, Long, Long, Long, Long)] {
  import org.apache.spark.sql.streaming.{MapState, OutputMode, TTLConfig,
    TimeMode, TimerValues, ValueState}
  import org.apache.spark.sql.Encoders
  @transient private var totals: ValueState[(Long, Long)] = _
  @transient private var typeCounts: MapState[String, Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    totals = getHandle.getValueState("totals",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
    typeCounts = getHandle.getMapState("typeCounts",
      Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
  }
  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, String)],
      timers: TimerValues): Iterator[(Long, Long, Long, Long, Long)] = {
    var (n, c) = if (totals.exists()) totals.get() else (0L, 0L)
    // per-trigger LOCAL pre-aggregation before touching MapState: state-
    // store calls are the cost unit of stateful processing (2 RocksDB ops
    // per ROW made the sf10 drain pay 20 M get/put for 5 event types) —
    // fold the batch into a heap map first, then write each DISTINCT type
    // once. Memory is bounded by the type domain, not the batch.
    val local = scala.collection.mutable.HashMap.empty[String, Long]
    rows.foreach { case (_, cents, typ) =>
      n += 1; c += cents
      local.update(typ, local.getOrElse(typ, 0L) + 1L)
    }
    local.foreach { case (typ, d) =>
      val t = if (typeCounts.containsKey(typ)) typeCounts.getValue(typ) else 0L
      typeCounts.updateValue(typ, t + d)
    }
    totals.update((n, c))
    var nTypes = 0L; var maxType = 0L
    typeCounts.values().foreach { v =>
      nTypes += 1; if (v > maxType) maxType = v
    }
    Iterator.single((key, n, c, nTypes, maxType))
  }
}

/** Gap-sessionization with per-key EVENT-TIME timers (the
  * `stream_tws_timers` processor): state is one open session per user —
  * (start_ms, last_ms, n, sum_cents, registered_timer_expiry) — closed
  * either by a later in-stream event exceeding the gap or by the watermark
  * passing last + gap (the timer path). Every input batch deletes the old
  * timer and registers the new one, so a fired timer always matches the
  * stored expiry; the guard keeps a stale double-fire harmless anyway.
  * Sentinel rows (key -1) exist only to advance the watermark and are
  * ignored. Top-level class: no `$outer` reference when serialized. */
private class SessionTimerProcessor(gapMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long, Long), (Long, Long, Long, Long, Long)] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
    TTLConfig, TimeMode, TimerValues, ValueState}
  import org.apache.spark.sql.Encoders
  @transient private var sess: ValueState[(Long, Long, Long, Long, Long)] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    sess = getHandle.getValueState("sess",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
      TTLConfig.NONE)
  override def handleInputRows(key: Long,
      rows: Iterator[(Long, Long, Long, Long)],
      timers: TimerValues): Iterator[(Long, Long, Long, Long, Long)] = {
    if (key == -1L) return Iterator.empty // watermark sentinel
    val closed =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
    // batch arrival order is arbitrary; session order is (ms, event_id) —
    // the same total order the batch oracle uses. The sort materializes
    // ONE key's ONE-trigger arrivals (TWS does not deliver per-key rows
    // ordered), so memory is bounded by per-key ingest rate × trigger
    // interval — not by history, which lives in the O(1) session state.
    val evs = rows.toArray.sortBy(r => (r._3, r._2))
    var cur: Option[(Long, Long, Long, Long)] =
      if (sess.exists()) {
        val (st0, last, n, c, exp) = sess.get()
        getHandle.deleteTimer(exp)
        Some((st0, last, n, c))
      } else None
    evs.foreach { case (_, _, ms, cents) =>
      cur = cur match {
        case Some((st0, last, n, c)) if ms - last > gapMs =>
          closed += ((key, st0, last, n, c))
          Some((ms, ms, 1L, cents))
        case Some((st0, last, n, c)) =>
          Some((st0, math.max(last, ms), n + 1, c + cents))
        case None => Some((ms, ms, 1L, cents))
      }
    }
    val (st0, last, n, c) = cur.get
    val expiry = last + gapMs + 1
    getHandle.registerTimer(expiry)
    sess.update((st0, last, n, c, expiry))
    closed.iterator
  }
  override def handleExpiredTimer(key: Long, timers: TimerValues,
      expired: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long, Long)] = {
    if (!sess.exists()) return Iterator.empty
    val (st0, last, n, c, exp) = sess.get()
    if (expired.getExpiryTimeInMs() != exp) Iterator.empty // stale fire
    else { sess.clear(); Iterator.single((key, st0, last, n, c)) }
  }
}

/** Bootstrapped running totals (the `stream_tws_init_state` processor):
  * handleInitialState seeds each key's ValueState from the migrated
  * relation BEFORE any stream row arrives; handleInputRows then extends the
  * same state — totals emitted over the stream are full-history totals.
  * Top-level class: no `$outer` reference when serialized. */
private class BootstrappedTotalsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
      Long, (Long, Long), (Long, Long, Long), (Long, Long)] {
  import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode,
    TimerValues, ValueState}
  import org.apache.spark.sql.Encoders
  @transient private var totals: ValueState[(Long, Long)] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState("totals",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
  override def handleInitialState(key: Long, initial: (Long, Long),
      timers: TimerValues): Unit =
    totals.update(initial)
  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
      timers: TimerValues): Iterator[(Long, Long, Long)] = {
    var (n, c) = if (totals.exists()) totals.get() else (0L, 0L)
    rows.foreach { case (_, cents) => n += 1; c += cents }
    totals.update((n, c))
    Iterator.single((key, n, c))
  }
}

/** Bounded recent-events buffer on ListState (the `stream_tws_list_state`
  * processor): merge the stored ≤k entries with the batch's arrivals, sort
  * by (ms, event_id) descending, keep k — per-key state never exceeds k
  * entries regardless of stream volume or disorder. Top-level class: no
  * `$outer` reference when serialized. */
private class RecentEventsProcessor(k: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long), (Long, Seq[Long], Long)] {
  import org.apache.spark.sql.streaming.{ListState, OutputMode, TTLConfig,
    TimeMode, TimerValues}
  import org.apache.spark.sql.Encoders
  @transient private var recent: ListState[(Long, Long)] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    recent = getHandle.getListState("recent",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
      timers: TimerValues): Iterator[(Long, Seq[Long], Long)] = {
    val existing = if (recent.exists()) recent.get().toArray
                   else Array.empty[(Long, Long)]
    val merged = (existing ++ rows.map(r => (r._2, r._3)))
      .sortBy { case (ms, id) => (-ms, -id) }.take(k)
    recent.put(merged)
    Iterator.single((key, merged.map(_._2).toSeq, merged.head._1))
  }
}
