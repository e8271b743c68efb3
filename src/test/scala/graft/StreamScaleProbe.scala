package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Streaming/state scale probe (dev tool, test tree like [[ScaleProbe]]):
  * the batch sf10 gate proves plan shapes, but the stream keys' scale axis
  * is STATE — does RocksDB state stay bounded by the contract (k entries
  * per key for list state, keys-within-watermark for dedup, zero residue
  * after timer-driven flush), and what do 10 M events actually cost per
  * drain? This runner executes the stateful keys against a scaled data
  * dir, then audits each key's CHECKPOINT directly through Spark's
  * `statestore` reader (the same operational move as `scan_state_store`):
  *
  *   - state_rows per state variable (totals/typeCounts/sess/recent/dedup),
  *   - registered timers still pending after the drain,
  *   - checkpoint bytes on disk and micro-batch count (offsets log),
  *   - per-key bounded-state ASSERTIONS with pass/fail in the record:
  *       stream_tws_state   : totals == distinct users; typeCounts ==
  *                            distinct (user, type) — state is entity-
  *                            bounded, never event-bounded;
  *       stream_tws_timers  : sess state AND pending timers == 0 (every
  *                            session flushed by watermark expiry);
  *       stream_tws_list_state: per-key list length <= k (3) no matter
  *                            the arrival volume/disorder;
  *       stream_dedup_within_watermark: state <= distinct keys, with the
  *                            watermark-evicted flag recorded (contrast
  *                            key stream_dedup_state keeps EVERY key);
  *       stream_manifest_ingest: no stateful operator at all — exactly-
  *                            once re-ingest rides the source's file log,
  *                            so state_rows is structurally absent.
  *
  * Checkpoint discovery: the ops create their checkpoints via
  * TempDirs.tmp with a per-key prefix, so the probe diffs
  * the tmp dir around each run — no production code changes for a dev
  * readout. Wall seconds include the fixture landing writes (the ops
  * stage their own landing files), so they are drain-harness costs, not
  * pure engine costs; the record says so.
  *
  * Usage:
  *   SPARK_DRIVER_MEM=48g sbt -batch "Test/runMain graft.StreamScaleProbe \
  *     <dataDir> <out.json>"
  */
object StreamScaleProbe {
  private case class KeySpec(
      key: String,
      ckPrefix: String,
      stateVars: Seq[String],   // empty => default (unnamed) operator state
      rocksDb: Boolean,
      readTimers: Boolean,
      joinSides: Boolean = false) // stream-stream join: read left/right buffers

  private val specs = Seq(
    KeySpec("stream_dedup_within_watermark", "graft_sdw_ck_",
      Seq(""), rocksDb = false, readTimers = false),
    KeySpec("stream_dedup_state", "graft_sds_ck_",
      Seq(""), rocksDb = false, readTimers = false),
    KeySpec("stream_manifest_ingest", "graft_smi_ck_",
      Seq(), rocksDb = false, readTimers = false),
    KeySpec("stream_tws_state", "graft_tws_ck_",
      Seq("totals", "typeCounts"), rocksDb = true, readTimers = false),
    KeySpec("stream_tws_timers", "graft_twt_ck_",
      Seq("sess"), rocksDb = true, readTimers = true),
    KeySpec("stream_tws_list_state", "graft_twl_ck_",
      Seq("recent"), rocksDb = true, readTimers = false),
    // r15 extension: the remaining stateful families
    KeySpec("stream_tumbling_agg", "graft_sta_ck_",
      Seq(""), rocksDb = false, readTimers = false),
    KeySpec("stream_sliding_agg", "graft_ssa_ck_",
      Seq(""), rocksDb = false, readTimers = false),
    KeySpec("stream_session_window", "graft_ssw_ck_",
      Seq(""), rocksDb = false, readTimers = false),
    KeySpec("stream_custom_state", "graft_scs_ck_",
      Seq(""), rocksDb = false, readTimers = false),
    KeySpec("stream_tws_init_state", "graft_twi_ck_",
      Seq("totals"), rocksDb = true, readTimers = false),
    KeySpec("stream_stream_join", "graft_ssj_ck_",
      Seq(), rocksDb = false, readTimers = false, joinSides = true))

  def main(args: Array[String]): Unit = {
    val Array(dir, outFile) = args
    val bySpec = specs.map(sp => sp.key -> sp).toMap
    val keys = specs.map(_.key)
    val (meta, outcomes) = Harness.withSession(keys) { spark =>
      // entity cardinalities the bounded-state assertions compare against
      val ev = Tables.load(spark, dir, "events")
      val Seq(nEvents, nUsers, nUserTypes, nPurch, nClick) = Seq(
        ev.count(),
        ev.select("user_id").distinct().count(),
        ev.select("user_id", "event_type").distinct().count(),
        ev.where(col("event_type") === "purchase").count(),
        ev.where(col("event_type") === "click").count())
      System.err.println(s"[streamprobe] events=$nEvents users=$nUsers " +
        s"userTypes=$nUserTypes purchases=$nPurch clicks=$nClick")

      val tmpRoot = java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"))
      def cksWith(prefix: String): Set[String] = {
        val d = tmpRoot.toFile.listFiles()
        if (d == null) Set.empty
        else d.iterator.map(_.getName).filter(_.startsWith(prefix)).toSet
      }

      val meta = ListMap("data_dir" -> dir, "events" -> nEvents,
        "users" -> nUsers, "user_types" -> nUserTypes,
        "note" -> "secs include the op's own fixture landing writes")
      meta -> Harness.run(keys) { key =>
        val sp = bySpec(key)
        System.err.println(s"[streamprobe] ${sp.key} ...")
        val before = cksWith(sp.ckPrefix)
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(sp.key)(spark, dir)
        val rows = df.count()
        val secs = (System.nanoTime() - t0) / 1e9
        val ck = (cksWith(sp.ckPrefix) -- before).toSeq.sorted.lastOption
          .map(tmpRoot.resolve(_).toString)
          .getOrElse(sys.error(s"no new checkpoint dir ${sp.ckPrefix}*"))
        val bytes = dirBytes(ck)
        val batches = offsetBatches(ck)
        def readState(varName: String): Long =
          withProvider(spark, sp.rocksDb) { rs =>
            var r = rs.read.format("statestore")
            if (varName.nonEmpty) r = r.option("stateVarName", varName)
              .option("flattenCollectionTypes", "true")
            r.load(ck).count()
          }
        val stateRows: Map[String, Long] =
          sp.stateVars.map(v =>
            (if (v.isEmpty) "state" else v) -> readState(v)).toMap
        val pendingTimers: Option[Long] =
          if (!sp.readTimers) None
          else Some(withProvider(spark, sp.rocksDb) { rs =>
            // mutually exclusive with stateVarName (STDS_CONFLICT_OPTIONS)
            rs.read.format("statestore")
              .option("readRegisteredTimers", "true").load(ck).count()
          })
        // stream-stream join: per-side buffered-row counts (the state
        // the watermark + interval bounds must keep evicting)
        val joinBuf: Option[(Long, Long)] =
          if (!sp.joinSides) None
          else Some((
            spark.read.format("statestore").option("joinSide", "left")
              .load(ck).count(),
            spark.read.format("statestore").option("joinSide", "right")
              .load(ck).count()))
        // per-key list occupancy for the bounded-buffer assertion
        val maxListPerKey: Option[Long] =
          if (sp.key != "stream_tws_list_state") None
          else Some(withProvider(spark, rocks = true) { rs =>
            rs.read.format("statestore")
              .option("stateVarName", "recent")
              .option("flattenCollectionTypes", "true").load(ck)
              .groupBy("key").count()
              .agg(max("count")).first().getLong(0)
          })
        val asserts: Seq[(String, Boolean)] = sp.key match {
          case "stream_tws_state" => Seq(
            s"totals_rows==distinct_users($nUsers)" ->
              (stateRows("totals") == nUsers),
            s"typeCounts_rows==distinct_user_types($nUserTypes)" ->
              (stateRows("typeCounts") == nUserTypes))
          case "stream_tws_timers" => Seq(
            "sess_state_empty_after_flush" -> (stateRows("sess") == 0L),
            "no_pending_timers" -> pendingTimers.contains(0L))
          case "stream_tws_list_state" => Seq(
            "list_len_per_key<=3" -> maxListPerKey.exists(_ <= 3L),
            s"list_keys==distinct_users($nUsers)" ->
              (withProvider(spark, rocks = true) { rs =>
                rs.read.format("statestore")
                  .option("stateVarName", "recent")
                  .option("flattenCollectionTypes", "true").load(ck)
                  .select("key").distinct().count()
              } == nUsers))
          case "stream_dedup_within_watermark" => Seq(
            s"state_rows<=distinct_keys($nEvents)" ->
              (stateRows("state") <= nEvents))
          case "stream_dedup_state" => Seq(
            s"state_rows==distinct_keys($nEvents) (keeps every key)" ->
              (stateRows("state") == nEvents))
          // 5-min tumbling / 10-min sliding windows under a 10-min
          // watermark: residual state is only the windows whose end the
          // final watermark hasn't passed — a CONSTANT (<=4/6 windows at
          // the stream tail), independent of volume
          case "stream_tumbling_agg" => Seq(
            "residual_windows<=4" -> (stateRows("state") <= 4L))
          case "stream_sliding_agg" => Seq(
            "residual_windows<=6" -> (stateRows("state") <= 6L))
          // session state: only sessions still open inside the watermark
          // horizon survive — bounded by the concurrently-active users
          // at the stream tail, never by history
          case "stream_session_window" => Seq(
            s"residual_sessions<=users($nUsers)" ->
              (stateRows("state") <= nUsers))
          case "stream_custom_state" => Seq(
            s"state_rows==distinct_users($nUsers)" ->
              (stateRows("state") == nUsers))
          case "stream_tws_init_state" => Seq(
            s"totals_rows==distinct_users($nUsers)" ->
              (stateRows("totals") == nUsers))
          // interval join buffers: the 2 h watermarks + the 1 h interval
          // bound evict both sides as the stream advances — residual is
          // the tail window (~3 h of a 30-day stream), so <= 5% of each
          // side's arrivals proves eviction engages (the unbounded-state
          // failure mode would hold 100%)
          case "stream_stream_join" => Seq(
            s"left_buffer<=5%_of_purchases($nPurch)" ->
              joinBuf.exists(_._1 <= nPurch / 20),
            s"right_buffer<=5%_of_clicks($nClick)" ->
              joinBuf.exists(_._2 <= nClick / 20))
          case _ => Seq.empty
        }
        asserts.filterNot(_._2).foreach { case (a, _) =>
          System.err.println(s"[streamprobe] ${sp.key} ASSERT FAILED: $a")
        }
        System.err.println(s"[streamprobe] ${sp.key} done")
        val cell = ListMap("drain_secs" -> round3(secs), "rows" -> rows,
          "ck_bytes" -> bytes, "batches" -> batches,
          "state_rows" -> ListMap(stateRows.toSeq.sortBy(_._1): _*)) ++
          pendingTimers.map("pending_timers" -> _) ++
          maxListPerKey.map("max_list_per_key" -> _) ++
          joinBuf.map { case (l, r) => "join_buffer" -> ListMap("left" -> l, "right" -> r) } +
          ("asserts" -> ListMap(asserts: _*))
        (cell, asserts.forall(_._2))
      }
    }
    val cells = outcomes.map { o =>
      val base = ListMap("ok" -> o.result.isRight, "secs" -> round3(o.secs))
      o.key -> (o.result match {
        case Right((cell, _)) => base ++ cell
        case Left(e) => base + ("error" -> s"${e.getClass.getName}: ${e.getMessage}")
      })
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      Harness.json(ListMap(cells :+ ("_meta" -> meta): _*)) + "\n")
    println(s"[streamprobe] wrote $outFile")
    if (outcomes.exists(o => !o.result.exists(_._2))) sys.exit(1)
  }

  private def withProvider[T](s: SparkSession, rocks: Boolean)(
      body: SparkSession => T): T =
    if (rocks) graft.streaming.StreamOps.withRocksDbProvider(s)(body)
    else body(s)

  private def dirBytes(dir: String): Long = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import scala.util.Using
    Using.resource(Files.walk(Paths.get(dir))) { w =>
      w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
    }
  }

  private def offsetBatches(ck: String): Int = {
    val d = new java.io.File(ck, "offsets")
    if (!d.isDirectory) 0
    else d.listFiles().count(f => f.getName.forall(_.isDigit))
  }

  private def round3(d: Double): Double = math.round(d * 1000) / 1000.0
}
