package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Streaming semantics the DuckDB oracle can't see (SURVEY.md §5.2.4):
  * batch parity, checkpoint resume without reprocessing, late-data drop. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._
  import TempDirs.tmp


  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("ts", TimestampType), StructField("value", DoubleType)))

  private def mkEvents(rows: Seq[(Long, Long, Long, Double)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (e, u, ms, v) =>
        Row(e, u, new Timestamp(ms), v)
      }),
      schema)

  private def runAppend(in: String, out: String, ck: String,
                        dedup: Boolean = false): Unit = {
    var st = spark.readStream.schema(schema).parquet(in)
      .withWatermark("ts", "10 minutes")
    if (dedup) st = st.dropDuplicates("event_id")
    val q = st.writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  test("stream/batch parity: file append sees exactly the batch rows") {
    val result = SparkEntry.queries("stream_file_append")(spark, sfDir)
    val batch = Tables.load(spark, sfDir, "events")
    assert(result.count() === batch.count())
    assert(result.select(sum("event_id")).first().getLong(0) ===
      batch.select(sum("event_id")).first().getLong(0))
  }

  test("manifest ingest resumes on new notifications only, never listing the data dir") {
    // the notification-mode contract, exercised against the OP's own drain
    // code path (StreamOps.manifestIngestDrain), not a re-implementation:
    // the stream's checkpointed source is the manifest journal, so a
    // resumed run ingests exactly the files of NEW notifications —
    // including files already sitting in the data dir but not yet
    // notified, which a listing stream would have swept up early
    val land = tmp("g_man_land_"); val man = tmp("g_man_man_")
    val out = tmp("g_man_out_"); val ck = tmp("g_man_ck_")
    val t0 = 1700000000000L
    def landOne(name: String, rows: Seq[(Long, Long, Long, Double)]): String = {
      val dir = tmp("g_man_part_")
      mkEvents(rows).coalesce(1).write.mode("overwrite").parquet(dir)
      val f = new java.io.File(dir).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(land, name)
      java.nio.file.Files.copy(f.toPath, dst)
      dst.toString
    }
    def runManifest(): Unit =
      graft.streaming.StreamOps.manifestIngestDrain(spark, schema, man, out, ck)
    // two files land, only ONE is notified — the un-notified file must stay
    // invisible (exactly the listing-vs-notification difference)
    val p1 = landOne("a.parquet", Seq((1L, 1L, t0, 1.0)))
    val p2 = landOne("b.parquet", Seq((2L, 1L, t0 + 1000, 2.0)))
    java.nio.file.Files.write(java.nio.file.Paths.get(man, "n0.txt"),
      p1.getBytes("UTF-8"))
    runManifest()
    assert(spark.read.parquet(out).count() === 1, "un-notified file leaked in")
    // the late notification arrives (duplicated IN ONE delivery — the
    // same-batch at-least-once case): resume ingests exactly the new file
    java.nio.file.Files.write(java.nio.file.Paths.get(man, "n1.txt"),
      (p2 + "\n" + p2).getBytes("UTF-8"))
    runManifest()
    val ids = spark.read.parquet(out).select("event_id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().sorted
    assert(ids.toSeq === Seq(1L, 2L), "resume must add exactly the notified file")
    // CROSS-BATCH redelivery (the realistic at-least-once case): the queue
    // redelivers BOTH already-ingested paths in a later journal file — the
    // stateful path dedup must drop them, ingesting nothing
    java.nio.file.Files.write(java.nio.file.Paths.get(man, "n2.txt"),
      (p1 + "\n" + p2).getBytes("UTF-8"))
    runManifest()
    assert(spark.read.parquet(out).count() === 2,
      "cross-batch redelivered notification re-ingested")
    // silent resume: no new notifications, no re-ingestion
    runManifest()
    assert(spark.read.parquet(out).count() === 2, "empty resume re-ingested")
  }

  test("transformWithState carries per-key state across checkpointed runs") {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import org.apache.spark.sql.Encoders
    val in = tmp("g_tws_in_"); val out = tmp("g_tws_out_"); val ck = tmp("g_tws_ck_")
    val t0 = 1700000000000L
    graft.streaming.StreamOps.withRocksDbProvider(spark) { rs =>
      def run(): Unit = {
        val q = rs.readStream.schema(schema).parquet(in)
          .select(col("user_id"))
          .as[Long](Encoders.scalaLong)
          .groupByKey(identity)(Encoders.scalaLong)
          .transformWithState(new CountingProcessor(),
            TimeMode.None(), OutputMode.Update())(
            Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
          .toDF("user_id", "n")
          .writeStream.outputMode("update")
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("append").parquet(out); ()
          }
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      // run 1: u1 twice, u2 once
      mkEvents(Seq((1L, 1L, t0, 1.0), (2L, 1L, t0 + 1, 1.0),
        (3L, 2L, t0 + 2, 1.0))).coalesce(1)
        .write.mode("append").parquet(in)
      run()
      // run 2 on the same checkpoint: u1 once more, u3 appears — u1's
      // ValueState must resume at 2, not restart at 0
      mkEvents(Seq((4L, 1L, t0 + 3, 1.0), (5L, 3L, t0 + 4, 1.0)))
        .coalesce(1).write.mode("append").parquet(in)
      run()
      val finalN = spark.read.parquet(out).groupBy("user_id")
        .agg(max("n").as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(finalN === Map(1L -> 3L, 2L -> 1L, 3L -> 1L),
        s"state did not carry across runs: $finalN")
    }
  }

  test("checkpoint resume processes only newly-arrived files") {
    val in = tmp("g_ck_in_"); val out = tmp("g_ck_out_"); val ck = tmp("g_ck_ck_")
    val t0 = 1700000000000L
    mkEvents(Seq((1L, 1L, t0, 1.0), (2L, 1L, t0 + 1000, 2.0)))
      .coalesce(1).write.mode("append").parquet(in)
    runAppend(in, out, ck)
    assert(spark.read.parquet(out).count() === 2)

    // second landing batch
    mkEvents(Seq((3L, 2L, t0 + 2000, 3.0)))
      .coalesce(1).write.mode("append").parquet(in)
    runAppend(in, out, ck)
    val ids = spark.read.parquet(out).select("event_id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L), "resume must add only the new file")

    // third run with nothing new: no duplicates
    runAppend(in, out, ck)
    assert(spark.read.parquet(out).count() === 3)
  }

  test("watermark drops a late duplicate-keyed arrival") {
    val in = tmp("g_wm_in_"); val out = tmp("g_wm_out_"); val ck = tmp("g_wm_ck_")
    val t0 = 1700000000000L
    mkEvents(Seq((1L, 1L, t0, 1.0), (2L, 1L, t0 + 3600_000L, 2.0)))
      .coalesce(1).write.mode("append").parquet(in)
    runAppend(in, out, ck, dedup = true)
    assert(spark.read.parquet(out).count() === 2)

    // watermark is now max ts - 10 min = t0 + 50 min; land an event a full
    // hour older than that — must be discarded even though its id is new.
    mkEvents(Seq((99L, 1L, t0 - 3600_000L, 9.0)))
      .coalesce(1).write.mode("append").parquet(in)
    runAppend(in, out, ck, dedup = true)
    val ids = spark.read.parquet(out).select("event_id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    assert(!ids.contains(99L), "late row must be dropped by the watermark")
  }

  test("mapGroupsWithState accumulates across restarted bounded runs") {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val in = tmp("g_mgs_in_"); val out = tmp("g_mgs_out_"); val ck = tmp("g_mgs_ck_")
    val t0 = 1700000000000L
    val sparkStable = spark
    import sparkStable.implicits._
    def run(): Unit = {
      val q = spark.readStream.schema(schema).parquet(in)
        .select("user_id", "event_id")
        .as[(Long, Long)]
        .groupByKey(_._1)
        .mapGroupsWithState[Long, (Long, Long)](GroupStateTimeout.NoTimeout) {
          case (uid, rows, state) =>
            val n = state.getOption.getOrElse(0L) + rows.size
            state.update(n)
            (uid, n)
        }
        .toDF("user_id", "n")
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("overwrite").parquet(out)
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    mkEvents(Seq((1L, 7L, t0, 1.0), (2L, 7L, t0 + 1000, 2.0)))
      .coalesce(1).write.mode("append").parquet(in)
    run()
    mkEvents(Seq((3L, 7L, t0 + 2000, 3.0)))
      .coalesce(1).write.mode("append").parquet(in)
    run() // state must resume from the checkpoint: 2 old + 1 new = 3
    val n = spark.read.parquet(out)
      .where(col("user_id") === 7L).select("n").first().getLong(0)
    assert(n === 3L, "state lost across checkpointed restart")
  }

  // Change-feed lifecycle across a RESTART (separate drains on one
  // checkpoint): the first drain emits inserts only; after new files land,
  // the second drain emits exactly one update per returning user and
  // nothing else; a third drain with no new data emits nothing. Totals in
  // the versioned target always equal the full batch aggregate.
  test("cdc feed resumes on its checkpoint: inserts, then updates, then silence") {
    val evSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("ts", TimestampType)))
    def mk(rows: Seq[(Long, Long, Double)]): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (e, u, v) =>
          Row(e, u, "view", v, new Timestamp(1700000000000L + e))
        }), evSchema)
    val land = tmp("g_cdc_land_"); val feed = tmp("g_cdc_feed_")
    val out = tmp("g_cdc_tgt_"); val ck = tmp("g_cdc_ck_")
    def feedRows() = spark.read.parquet(feed)
      .select("user_id", "op", "after_n", "after_cents")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    // drain 1: users 1 and 2
    mk(Seq((1L, 1L, 1.50), (2L, 2L, 2.25))).coalesce(1)
      .write.mode("append").parquet(land)
    streaming.StreamOps.cdcFeedDrain(spark, evSchema, land, feed, out, ck)
    assert(feedRows().toSeq === Seq((1L, "insert", 1L, 150L), (2L, "insert", 1L, 225L)))
    // drain 2 (same checkpoint): user 1 returns, user 3 is new
    mk(Seq((3L, 1L, 0.50), (4L, 3L, 4.00))).coalesce(1)
      .write.mode("append").parquet(land)
    streaming.StreamOps.cdcFeedDrain(spark, evSchema, land, feed, out, ck)
    assert(feedRows().toSeq === Seq(
      (1L, "insert", 1L, 150L), (1L, "update", 2L, 200L),
      (2L, "insert", 1L, 225L), (3L, "insert", 1L, 400L)))
    // drain 3: nothing new landed -> no new feed rows
    streaming.StreamOps.cdcFeedDrain(spark, evSchema, land, feed, out, ck)
    assert(feedRows().length === 4, "an empty resume must not re-emit")
    // target totals equal the full aggregate at every point
    val totals = spark.read.parquet(
      streaming.StreamOps.currentVersionDir(spark, out).get)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(totals === Map(1L -> (2L, 200L), 2L -> (1L, 225L), 3L -> (1L, 400L)))
  }

  // Replay guard: if a batch's deterministic version dir (v_b<id>) is
  // already the committed target version, the whole foreachBatch body must
  // skip — re-diffing against the already-updated totals would double-count
  // (the at-least-once window between the upsert commit and the stream's
  // checkpoint commit).
  test("cdc feed skips a replayed batch whose upsert already committed") {
    import org.apache.hadoop.fs.Path
    val evSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("ts", TimestampType)))
    val land = tmp("g_rp_land_"); val feed = tmp("g_rp_feed_")
    val out = tmp("g_rp_tgt_"); val ck = tmp("g_rp_ck_")
    // pre-seed the target as if batch 0's upsert committed just before a
    // crash: totals for user 1 already include the batch
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(out)
    val v0 = pipeline.Versioned.stagePath(root, Some("v_b0"))
    Seq((1L, 1L, 150L)).toDF("user_id", "n", "c")
      .write.mode("overwrite").parquet(v0.toString)
    pipeline.Versioned.commit(root, v0, conf)
    // now the stream replays batch 0 (fresh checkpoint → first batch id 0)
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, 1L, "view", 1.50, new Timestamp(1700000000000L)))), evSchema)
      .coalesce(1).write.mode("append").parquet(land)
    streaming.StreamOps.cdcFeedDrain(spark, evSchema, land, feed, out, ck)
    // guard fired: no feed slice written, totals untouched
    assert(!new java.io.File(feed).exists() ||
      new java.io.File(feed).listFiles().forall(_.getName.startsWith(".")),
      "replayed batch must not write a feed slice")
    val totals = spark.read.parquet(
      streaming.StreamOps.currentVersionDir(spark, out).get)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(totals.toSeq === Seq((1L, 1L, 150L)), "totals must not double-count")
  }

  test("stateful dedup emits each key once across batches") {
    val result = SparkEntry.queries("stream_dedup_state")(spark, sfDir)
    val batch = Tables.load(spark, sfDir, "events")
    assert(result.count() === batch.select("event_id").distinct().count())
  }

  test("stateful dedup runs identically on the RocksDB state store") {
    // HDFS-backed state keeps every key on the JVM heap; RocksDB spills to
    // native storage — the provider a 100 TB keyspace needs. Same query,
    // same result, one conf switch.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val result = SparkEntry.queries("stream_dedup_state")(s2, sfDir)
    val expected = Tables.load(s2, sfDir, "events")
      .select("event_id").distinct().count()
    assert(result.count() === expected)
  }

  test("stream-stream interval join equals the batch interval join") {
    val streamed = SparkEntry.queries("stream_stream_join")(spark, sfDir)
    val ev = Tables.load(spark, sfDir, "events")
    val batch = ev.as("p").where(col("p.event_type") === "purchase")
      .join(ev.as("c").where(col("c.event_type") === "click"),
        col("p.user_id") === col("c.user_id") &&
          col("c.ts") >= col("p.ts") - expr("INTERVAL 1 HOUR") &&
          col("c.ts") <= col("p.ts"))
      .select(col("p.event_id").as("p_id"), col("c.event_id").as("c_id"))
    assert(streamed.count() === batch.count())
    assert(streamed.select("p_id", "c_id").exceptAll(batch).count() === 0)
  }

  test("stream_upsert_sink merges across batches to the batch-equivalent state") {
    val (res, versions) = streaming.StreamOps.upsertSinkRun(spark, sfDir)
    // 4 landed files at maxFilesPerTrigger=1 → at least two target commits,
    // so the result really went through an incremental key-merge
    assert(versions >= 2L, s"expected >= 2 merge commits, got $versions")
    val ev = Tables.load(spark, sfDir, "events")
    val batch = ev.groupBy("user_id")
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("n_events"),
        max(struct(col("event_id"), col("event_type"), col("value"))).as("m"))
      .select(col("user_id"), col("n_events"), col("m.event_id").as("last_event_id"),
        col("m.event_type").as("last_type"), col("m.value").as("last_value"))
    assert(res.count() === batch.count())
    assert(res.exceptAll(batch).count() === 0,
      "streamed merge state diverges from the one-shot batch aggregate")
  }

  test("stream_upsert_sink replays idempotently across a mid-stream crash") {
    val ev = Tables.load(spark, sfDir, "events")
    val in = tmp("g_susr_in_"); val tgt = tmp("g_susr_tgt_")
    val ck = tmp("g_susr_ck_")
    ev.repartition(4).write.mode("overwrite").parquet(in)
    // first run is killed after 2 of the 4 micro-batches commit
    val n1 = streaming.StreamOps.upsertSinkDrain(spark, in, tgt, ck,
      failAfterBatches = 2L)
    assert(n1 === 2L, s"crash injection should stop after 2 commits, got $n1")
    // restart from the SAME checkpoint: the killed batch replays, the rest
    // drains; replay must overwrite, not double-merge
    val n2 = streaming.StreamOps.upsertSinkDrain(spark, in, tgt, ck)
    assert(n2 >= 2L, s"restart should commit the remaining batches, got $n2")
    val res = streaming.StreamOps.upsertSinkState(spark, tgt)
    val batch = ev.groupBy("user_id")
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("n_events"),
        max(struct(col("event_id"), col("event_type"), col("value"))).as("m"))
      .select(col("user_id"), col("n_events"), col("m.event_id").as("last_event_id"),
        col("m.event_type").as("last_type"), col("m.value").as("last_value"))
    assert(res.count() === batch.count())
    assert(res.exceptAll(batch).count() === 0,
      "post-restart merge state diverges from the one-shot batch aggregate " +
        "(at-least-once replay double-counted a batch)")
  }

  test("stream_throttled_backfill drains through multiple bounded micro-batches") {
    val (res, batches) = streaming.StreamOps.throttledBackfillRun(spark, sfDir)
    // 4 landed files × maxFilesPerTrigger=1 → exactly 4 non-empty batches
    assert(batches === 4L, s"expected 4 bounded batches, got $batches")
    val expected = Tables.load(spark, sfDir, "events").count()
    assert(res.count() === expected, "throttling must not lose or duplicate rows")
  }

  test("stream_chained_windows rolls 5-minute counts into consistent 15-minute sums") {
    val rows = SparkEntry.queries("stream_chained_windows")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty, "the cascaded watermark must emit closed outer windows")
    rows.foreach { case (ws, n15, nSub) =>
      assert(ws % 900000L === 0L, "outer windows align to 15-minute boundaries")
      assert(nSub >= 1 && nSub <= 3, "an outer window holds at most three 5-minute subwindows")
      assert(n15 >= nSub, "each contributing subwindow counts at least one event")
    }
    // inner emissions must add up: the outer sum over a window equals the
    // batch count of events in that window
    val batch = Tables.load(spark, sfDir, "events")
      .select((expr("unix_micros(ts) div 1000") / 900000L).cast("long").as("w"))
      .groupBy("w").count()
      .collect().map(r => r.getLong(0) * 900000L -> r.getLong(1)).toMap
    rows.foreach { case (ws, n15, _) => assert(batch(ws) === n15) }
  }

  test("CEP pattern state survives a checkpointed restart") {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val in = tmp("g_cep_in_"); val out = tmp("g_cep_out_"); val ck = tmp("g_cep_ck_")
    val t0 = 1700000000000L
    val cepSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts", TimestampType)))
    def land(rows: Seq[(Long, Long, String, Long)]): Unit =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (e, u, ty, ms) =>
          Row(e, u, ty, new Timestamp(ms))
        }), cepSchema).coalesce(1).write.mode("append").parquet(in)
    val sparkStable = spark
    import sparkStable.implicits._
    val none = Long.MinValue
    def run(): Unit = {
      val q = spark.readStream.schema(cepSchema).parquet(in)
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
          b.write.mode("overwrite").parquet(out)
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // batch 1: user 7 sees an old error then a view; user 8 just a view
    land(Seq((1L, 7L, "error", t0 - 3600000L), (2L, 7L, "view", t0),
      (3L, 8L, "view", t0)))
    run()
    // batch 2 (restart): user 7 purchases 10 min after the batch-1 view —
    // converts ONLY if (last_view, last_error) survived the checkpoint;
    // user 8 errors between its view and purchase — must NOT convert
    land(Seq((4L, 7L, "purchase", t0 + 600000L),
      (5L, 8L, "error", t0 + 60000L), (6L, 8L, "purchase", t0 + 120000L)))
    run()
    val byUser = spark.read.parquet(out)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byUser(7L) === ((1L, 1L)),
      "pattern state (last_view) lost across the checkpointed restart")
    assert(byUser(8L) === ((1L, 0L)),
      "an error between view and purchase must block the match")
  }
}

/** Minimal ValueState counter for the transformWithState resume test —
  * top-level so the serialized processor carries no `$outer` reference. */
private class CountingProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Long, (Long, Long)] {
  import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode,
    TimerValues, ValueState}
  import org.apache.spark.sql.Encoders
  @transient private var n: ValueState[Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    n = getHandle.getValueState("n", Encoders.scalaLong, TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[Long],
      timers: TimerValues): Iterator[(Long, Long)] = {
    val c = (if (n.exists()) n.get() else 0L) + rows.size
    n.update(c)
    Iterator.single((key, c))
  }
}
