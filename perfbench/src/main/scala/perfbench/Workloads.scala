package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{DataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

import graft.pipeline._

import Main.{OpRec, Workload}

object Workloads {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def error(e: Throwable): Option[String] =
    Some(s"${e.getClass.getName}: ${e.getMessage}".take(500))
}

import Workloads._

/** Registry keys over one table directory. A pass runs every key once, in
  * the given order, as the library's own harnesses do: build the DataFrame,
  * run it through the noop sink, then `Mats.release()`. The check pass
  * writes each result to one parquet file instead. */
final class OpsWorkload(spark: SparkSession, meter: Meter, data: String,
    keys: Seq[String], outDir: String) extends Workload {

  private val fns = {
    val q = graft.SparkEntry.queries
    keys.map(k => k -> q(k))
  }

  /** The DuckDB SQL each key is checked against (None: no oracle). */
  override def outputs: Map[String, Any] = {
    val oracle = graft.SparkEntry.oracleSql
    Map("dir" -> outDir, "oracle" -> keys.map(k => k -> oracle.get(k)).toMap)
  }

  def runPass(index: Int, kind: String, trace: Boolean): Seq[OpRec] =
    fns.map { case (k, fn) =>
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try {
        val layers =
          if (kind == "check") {
            fn(spark, data).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$k")
            graft.Mats.release()
            Map.empty[String, Double]
          } else if (trace) traced(fn)
          else {
            fn(spark, data).write.format("noop").mode("overwrite").save()
            graft.Mats.release()
            Map.empty[String, Double]
          }
        OpRec(k, "key", (System.nanoTime() - t0) / 1e9, None, None, layers,
          startMs, System.currentTimeMillis())
      } catch { case e: Throwable =>
        graft.Mats.release()
        OpRec(k, "key", (System.nanoTime() - t0) / 1e9, None, error(e),
          Map.empty, startMs, System.currentTimeMillis())
      }
    }

  /** Cached blocks and bytes the block manager holds right now. */
  private def cached(): (Long, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    (infos.map(_.numCachedPartitions.toLong).sum,
      infos.map(i => i.memSize + i.diskSize).sum)
  }

  /** The same work as an untraced key, timed phase by phase through the
    * library's public calls. */
  private def traced(fn: (SparkSession, String) => DataFrame): Map[String, Double] = {
    val sc = spark.sparkContext
    val (blocks0, bytes0) = cached()
    PerfbenchBus.drain(sc)
    val jobs0 = meter.counts.jobs
    val (df, buildS) = timed(fn(spark, data))
    PerfbenchBus.drain(sc)
    val buildJobs = meter.counts.jobs - jobs0
    val (plan, planS) = timed(df.queryExecution.executedPlan)
    val nodes = Ops.walk(plan).toSeq
    val (_, execS) =
      timed(df.write.format("noop").mode("overwrite").save())
    val (blocks1, bytes1) = cached()
    val (_, releaseS) = timed(graft.Mats.release())
    Map(
      "build_s" -> buildS, "build_jobs" -> buildJobs.toDouble,
      "plan_s" -> planS,
      "exchanges" -> nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      }.toDouble,
      "scans" -> nodes.count {
        case _: DataSourceScanExec | _: BatchScanExec => true
        case _ => false
      }.toDouble,
      "exec_s" -> execS,
      "cached_blocks" -> math.max(0L, blocks1 - blocks0).toDouble,
      "cached_bytes" -> math.max(0L, bytes1 - bytes0).toDouble,
      "release_s" -> releaseS)
  }
}

object Ops {
  /** Every node of a physical plan, looking through adaptive wrappers,
    * query stages and subqueries. */
  def walk(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case _ => Iterator(p) ++ (p.children ++ p.subqueries).iterator.flatMap(walk)
  }
}

/** `IngestionRunner.run()` over landing batches that run.py cut from the
  * reference tables. Each pass writes a fresh database `p<index>`:
  *
  *   - one append per `append_*` batch into `events_log`;
  *   - one merge per `merge_*` batch into `orders_cur`, rows with
  *     `op = 'D'` being tombstones (`deleteOnMatch`);
  *   - two drains of a file stream into `events_stream`, `stream_1` landing
  *     between them;
  *   - an overwrite of `events_clustered` with `clusterBy = user_id`;
  *   - an append into `events_gated` behind a quarantining constraint.
  *
  * The check pass keeps its tables for run.py; every other pass is
  * dropped after it ends. */
final class IngestWorkload(spark: SparkSession, meter: Meter, landing: String,
    run: String) extends Workload {

  private def batches(prefix: String): Seq[String] =
    new File(landing).listFiles().filter(_.getName.startsWith(prefix))
      .map(_.getPath).sorted.toSeq

  private val appends = batches("append_")
  private val merges = batches("merge_")
  private val streams = batches("stream_")
  private var kept: Map[String, Any] = Map.empty

  private def root(index: Int) = s"$run/ingest/p$index"

  private def copyParts(from: String, to: String): Unit = {
    new File(to).mkdirs()
    new File(from).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.copy(f.toPath, new File(to, f.getName).toPath,
        StandardCopyOption.REPLACE_EXISTING))
  }

  def runPass(index: Int, kind: String, trace: Boolean): Seq[OpRec] = {
    val db = s"p$index"
    val dir = root(index)
    def op(name: String, kind: String, cfg: IngestionConfig): OpRec = {
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val r =
        try new IngestionRunner(spark, cfg).run().left.map(Some(_))
        catch { case e: Throwable => Left(error(e)) }
      OpRec(name, kind, (System.nanoTime() - t0) / 1e9, r.toOption,
        r.left.toOption.flatten, Map.empty, startMs, System.currentTimeMillis())
    }
    val appendOps = appends.zipWithIndex.map { case (src, i) =>
      op(s"append_$i", "append", IngestionConfig(db, "events_log", src))
    }
    val mergeOps = merges.zipWithIndex.map { case (src, i) =>
      op(s"merge_$i", "merge", IngestionConfig(db, "orders_cur", src,
        writeMode = WriteMode.Merge(Seq("o_orderkey"),
          deleteOnMatch = Some("op = 'D'"))))
    }
    val streamCfg = IngestionConfig(db, "events_stream", s"$dir/stream_src",
      ingestMode = IngestMode.Stream(s"$dir/stream_checkpoint"),
      targetPath = Some(s"$dir/events_stream"))
    val streamOps = streams.zipWithIndex.map { case (src, i) =>
      copyParts(src, s"$dir/stream_src")
      op(s"stream_$i", "stream", streamCfg)
    }
    val overwriteOp = op("overwrite", "overwrite",
      IngestionConfig(db, "events_clustered", s"$landing/overwrite",
        writeMode = WriteMode.Overwrite, clusterBy = Seq("user_id")))
    val gateOp = op("gate", "gate",
      IngestionConfig(db, "events_gated", s"$landing/gated",
        constraints = Seq(Constraint("value_cap", "value <= 150")),
        onViolation = ViolationAction.Quarantine(s"$dir/quarantine")))
    appendOps ++ mergeOps ++ streamOps ++ Seq(overwriteOp, gateOp)
  }

  private val tables =
    Seq("events_log", "orders_cur", "events_stream", "events_clustered",
      "events_gated")

  override def afterPass(index: Int, kind: String): Map[String, Double] = {
    val db = s"p$index"
    val files = tables.map { t =>
      t -> (try spark.table(s"$db.$t").inputFiles.toSeq
            catch { case _: Exception => Seq.empty[String] })
    }.toMap
    val filesPerTable = files.values.map(_.size).sum.toDouble / tables.size
    if (kind == "check") {
      val q = new File(s"${root(index)}/quarantine")
      kept = Map(
        "tables" -> files,
        "quarantine" -> Option(q.listFiles()).toSeq.flatten
          .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted)
    } else {
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
      deleteTree(new File(root(index)))
      deleteTree(new File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), s"$db.db"))
    }
    Map("files_per_table" -> filesPerTable,
      "clustered_files" -> files("events_clustered").size.toDouble)
  }

  override def outputs: Map[String, Any] = kept
}
