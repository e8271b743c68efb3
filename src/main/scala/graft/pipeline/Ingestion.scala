package graft.pipeline

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Config-driven ingestion pipelines — the reference framework's design
  * re-expressed as idiomatic Scala (SURVEY.md §2A / §7.1).
  *
  * The reference (framework.py:45-80) models a pipeline as a typed config
  * plus a runner: validate → plan/dry-run → idempotent DDL → read →
  * write(append|overwrite|merge) or stream → post-write layout pass.
  * Literal unions become sealed traits; the URI-scheme factory
  * (framework.py:297-302) becomes pattern-match dispatch; Delta-specific
  * machinery (MERGE, OPTIMIZE ZORDER) becomes join-based upsert and
  * range-repartition clustering over parquet (§7.4) since no Delta jar
  * ships in this environment.
  *
  * Scale posture: every write path is a parallel DataFrame write — the
  * runner never collects; merge is one shuffle on the merge keys (or a
  * broadcast anti-join when the source batch is small, left to AQE).
  */
sealed trait WriteMode
object WriteMode {
  case object Append extends WriteMode
  case object Overwrite extends WriteMode
  /** Join-based upsert (framework.py:211-231 semantics, §7.4 rewrite) with
    * the two conditional clauses Delta MERGE adds on top of plain upsert:
    *
    *   - `deleteOnMatch`: SQL predicate over SOURCE columns — a source row
    *     satisfying it is a TOMBSTONE: it deletes the matching target row
    *     instead of upserting (and inserts nothing when unmatched). The
    *     `WHEN MATCHED AND <cond> THEN DELETE` clause; mechanics identical
    *     to `cdc_apply_changelog`'s tombstone handling.
    *   - `deleteNotMatchedBySource`: SQL predicate over TARGET columns —
    *     a target row with NO matching source row satisfying it is purged
    *     (the `WHEN NOT MATCHED BY SOURCE AND <cond> THEN DELETE` clause,
    *     the "source is the full truth, drop stale rows" sync shape).
    *
    * Both default to None = plain upsert, byte-compatible with the
    * pre-existing behavior. Still ONE shuffle on the merge keys: the
    * clauses are filters on the two union branches, not extra joins. */
  final case class Merge(keys: Seq[String],
      deleteOnMatch: Option[String] = None,
      deleteNotMatchedBySource: Option[String] = None) extends WriteMode
}

/** Write-time data constraint (the enforcement half of the reference's
  * Delta surface: NOT NULL / `CHECK` rejection at write,
  * framework.py:15's schema-evolution promise implies it): `predicate` is
  * a SQL boolean over the incoming batch's columns, checked on EVERY
  * batch, merge, and stream write before anything commits.
  *
  * A row VIOLATES iff the predicate evaluates FALSE. NULL/UNKNOWN
  * SATISFIES — the SQL-standard CHECK (and Delta) semantics, the same
  * three-valued discipline as the merge clauses' `IS NOT TRUE`; express
  * non-nullability as `col IS NOT NULL`, which is never UNKNOWN. */
final case class Constraint(name: String, predicate: String)

/** What a constrained write does with violating rows. */
sealed trait ViolationAction
object ViolationAction {
  /** Reject the batch: the first violating row fails the write job (a
    * row-level guard inside the write projection — no pre-scan), the file
    * committer discards every task's uncommitted output, and the error
    * carries the rule name plus the violating row as JSON. Delta CHECK
    * behavior. Nothing of the failed batch becomes visible; the
    * stronger whole-table atomicity on overwrite remains the versioned
    * rewrite paths' job, as everywhere else.
    *
    * "Nothing becomes visible" relies on a JOB-atomic committer: with
    * `mapreduce.fileoutputcommitter.algorithm.version=2` (or direct-write
    * cloud committers) tasks publish their part-files as they finish, so
    * tasks that completed before the violating row surfaced would leave
    * partial batch data in an append-mode target. Gated direct batch
    * appends therefore force algorithm v1 on the write
    * ([[IngestionRunner.writeBatch]]); the merge/optimize paths are immune
    * regardless — they stage into a fresh unreferenced dir and publish by
    * pointer swap. */
  case object Fail extends ViolationAction
  /** Route violating rows (tagged with the violated rule names in a
    * `graft_violations` column) to a parquet quarantine dir for replay /
    * debugging, and commit only the clean rows — the managed
    * badRecordsPath shape, applied to semantic rules instead of parse
    * errors.
    *
    * Publish order (batch and merge): violations are STAGED during the
    * gate but only become readable at `path` AFTER the main write/merge
    * commits — a batch whose commit fails (or loses a commitExclusive
    * race) publishes nothing, so a retry cannot duplicate quarantine rows
    * for a batch that never landed. Delivery is at-least-once, not
    * exactly-once: a crash between the main commit and the publish (or,
    * on the streaming path, between the micro-batch's writes and its
    * checkpoint commit) replays the batch and re-quarantines its
    * violations — the same contract as a managed badRecordsPath. */
  final case class Quarantine(path: String) extends ViolationAction
}

sealed trait IngestMode
object IngestMode {
  case object Batch extends IngestMode
  /** Open Auto Loader analog: checkpointed bounded file-stream drain. */
  final case class Stream(checkpointPath: String) extends IngestMode
}

/** Mirrors IngestionConfig (framework.py:45-80), trimmed to the fields with
  * engine behavior. The reference's 3-level `catalog.schema.table` identity
  * (framework.py:53-55,79-80) maps onto OSS Spark's 2-level session catalog
  * as a `catalog__schema` database prefix: `main.raw.t` lives in database
  * `main__raw` as table `t` — every catalog reader round-trips the same
  * 3-part name through [[IngestionConfig.forName]] / [[fullTableName]]. */
final case class IngestionConfig(
    database: String,
    table: String,
    sourcePath: String,
    sourceFormat: String = "parquet",
    options: Map[String, String] = Map.empty,
    writeMode: WriteMode = WriteMode.Append,
    ingestMode: IngestMode = IngestMode.Batch,
    partitionBy: Seq[String] = Nil,
    clusterBy: Seq[String] = Nil,
    targetPath: Option[String] = None,
    schema: Option[org.apache.spark.sql.types.StructType] = None,
    comment: Option[String] = None,
    tableProperties: Map[String, String] = Map.empty,
    dryRun: Boolean = false,
    // how many committed versions each full rewrite retains on disk
    // (`delta.logRetention`/time-travel analog): 1 = space-frugal default,
    // >1 keeps history readable via Versioned.versionDir / scan_time_travel
    retainVersions: Int = 1,
    // top namespace level (framework.py:53's `catalog`); None = the plain
    // 2-level `database.table` identity used before round 6
    catalog: Option[String] = None,
    // write-time constraints over the incoming batch (see [[Constraint]]);
    // every batch/merge/stream write is gated before anything commits
    constraints: Seq[Constraint] = Nil,
    onViolation: ViolationAction = ViolationAction.Fail) {

  /** The Spark-side database this config's 3-part name flattens into. */
  def qualifiedDatabase: String =
    catalog.map(c => s"${c}__$database").getOrElse(database)

  def fullTableName: String = s"$qualifiedDatabase.$table"

  /** The user-facing name: 3-part when a catalog is set. */
  def displayName: String =
    catalog.map(c => s"$c.$database.$table").getOrElse(s"$database.$table")

  /** A1 (framework.py:121-126): cross-field rules, fail fast. */
  def validate(): Either[String, IngestionConfig] = {
    val errs = Seq(
      Option.when(database.isEmpty || table.isEmpty)("database/table required"),
      Option.when(catalog.exists(_.isEmpty))("catalog must be non-empty when set"),
      Option.when((catalog.toSeq :+ database :+ table).exists(_.contains("__")))(
        "name segments must not contain '__' (reserved as the catalog separator)"),
      Option.when(sourcePath.isEmpty)("sourcePath required"),
      writeMode match {
        case WriteMode.Merge(keys, _, _) if keys.isEmpty =>
          Some("merge requires non-empty merge keys")
        case _ => None
      },
      ingestMode match {
        case IngestMode.Stream(cp) if cp.isEmpty =>
          Some("stream mode requires a checkpoint path")
        // schema-less streams are allowed: the runner tracks an inferred
        // schema next to the checkpoint and evolves it (Auto Loader analog)
        case _ => None
      },
      Option.when(!Set("parquet", "json", "csv").contains(sourceFormat))(
        s"unsupported format: $sourceFormat"),
      Option.when(retainVersions < 1)("retainVersions must be >= 1"),
      Option.when(constraints.exists(k => k.name.isEmpty || k.predicate.isEmpty))(
        "constraints require non-empty name and predicate"),
      Option.when(constraints.map(_.name).distinct.size != constraints.size)(
        "constraint names must be unique"),
      onViolation match {
        case ViolationAction.Quarantine(p) if p.isEmpty =>
          Some("quarantine requires a non-empty path")
        case _ => None
      }
    ).flatten
    if (errs.isEmpty) Right(this) else Left(errs.mkString("; "))
  }

  /** A2 (framework.py:128-137): human-readable plan for dry runs. */
  def plan: String = {
    val mode = writeMode match {
      case WriteMode.Merge(keys, delOnMatch, delUnmatched) =>
        s"merge on (${keys.mkString(", ")})" +
          delOnMatch.map(c => s" delete-on-match [$c]").getOrElse("") +
          delUnmatched.map(c => s" purge-not-matched-by-source [$c]")
            .getOrElse("")
      case m => m.toString.toLowerCase
    }
    val ingest = ingestMode match {
      case IngestMode.Batch => "batch"
      case IngestMode.Stream(cp) => s"stream (checkpoint=$cp)"
    }
    val gate =
      if (constraints.isEmpty) ""
      else {
        val action = onViolation match {
          case ViolationAction.Fail => "fail"
          case ViolationAction.Quarantine(p) => s"quarantine @ $p"
        }
        s"  gate   : ${constraints.map(k => s"${k.name} [${k.predicate}]")
          .mkString(", ")} (on violation: $action)\n"
      }
    s"""Ingestion plan
       |  source : $sourceFormat @ $sourcePath ${if (options.nonEmpty) options else ""}
       |  target : $displayName${targetPath.map(p => s" (external @ $p)").getOrElse(" (managed)")}
       |  mode   : $ingest / $mode
       |  layout : partitionBy=${partitionBy.mkString(",")} clusterBy=${clusterBy.mkString(",")}
       |""".stripMargin + gate
  }
}

object IngestionConfig {
  /** Parses a 1-, 2-, or 3-part dotted name (framework.py:79-80's
    * `catalog.schema.table` identity): `t` → default database, `db.t`,
    * `cat.db.t`. More than 3 parts is the caller's bug — fail fast. */
  def forName(name: String, sourcePath: String): IngestionConfig =
    name.split('.') match {
      case Array(t)        => IngestionConfig("default", t, sourcePath)
      case Array(d, t)     => IngestionConfig(d, t, sourcePath)
      case Array(c, d, t)  => IngestionConfig(d, t, sourcePath, catalog = Some(c))
      case _ => throw new IllegalArgumentException(
        s"table name must have 1-3 dot-separated parts: $name")
    }
}

/** A12/A13 (framework.py:271-302): source-scheme specialization + factory.
  * Cloud auth hooks are no-ops in the reference too (framework.py:273-274);
  * here each scheme just validates its URI shape. */
sealed trait SourceKind { def validateUri(uri: String): Either[String, Unit] }
object SourceKind {
  case object Local extends SourceKind {
    def validateUri(uri: String) =
      Either.cond(!uri.contains("://") || uri.startsWith("file://"),
        (), s"not a local path: $uri")
  }
  case object S3 extends SourceKind {
    def validateUri(uri: String) =
      Either.cond(uri.startsWith("s3://") || uri.startsWith("s3a://"),
        (), s"not an s3 uri: $uri")
  }
  case object Azure extends SourceKind {
    def validateUri(uri: String) =
      Either.cond(uri.startsWith("abfss://") || uri.startsWith("wasbs://"),
        (), s"not an azure uri: $uri")
  }
  /** framework.py:297-302 dispatch-on-scheme. */
  def forUri(uri: String): SourceKind =
    if (uri.startsWith("s3://") || uri.startsWith("s3a://")) S3
    else if (uri.startsWith("abfss://") || uri.startsWith("wasbs://")) Azure
    else Local
}

/** A constraint-gated batch: the clean relation to write, a `publish`
  * hook the caller runs AFTER the main write commits (moves staged
  * quarantine files into the quarantine dir — no-op for Fail mode), and
  * a `release` hook for the finally path (unpersists the batch snapshot
  * and sweeps an unpublished staging dir). */
private[graft] final case class GatedBatch(clean: DataFrame,
    publish: () => Unit, release: () => Unit)

/** A14 (framework.py:93-108): validate → plan/dry-run → DDL → read → write. */
final class IngestionRunner(spark: SparkSession, cfg: IngestionConfig) {

  private val ungated: () => Unit = () => ()

  // every pipeline session gets the curated-dimension auto-broadcast rule
  // (graft.plans.BroadcastDimensionsRule) — idempotent, hint-respecting
  graft.plans.BroadcastDimensions.install(spark)

  /** Runs the pipeline; returns the plan string (dry-run) or the row count
    * written. */
  def run(): Either[String, Long] =
    for {
      c <- cfg.validate()
      _ <- SourceKind.forUri(c.sourcePath).validateUri(c.sourcePath)
      n <- if (c.dryRun) { println(c.plan); Right(0L) } else execute(c)
    } yield n

  /** A3 (framework.py:139-141): idempotent DDL for both namespace levels —
    * the reference's CREATE CATALOG + CREATE SCHEMA pair maps to a marker
    * database for the bare catalog plus the flattened `catalog__schema`
    * database the table actually lives in. */
  private def ensureDatabase(c: IngestionConfig): Unit = {
    c.catalog.foreach(cat =>
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $cat"))
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${c.qualifiedDatabase}")
  }

  // A4 (framework.py:144-151): options loop + optional explicit schema
  private def readBatch(c: IngestionConfig): DataFrame =
    LandingRead.load(spark, c.sourceFormat, c.options, Seq(c.sourcePath), c.schema)

  /** `clusterBy` columns the batch cannot supply. A merge also keeps the
    * target's columns (schema evolution backfills what the source lacks),
    * so those count too. Checked before anything is written: the optimize
    * pass runs after the commit and swallows its own failures. */
  private def unknownClusterCols(c: IngestionConfig, batch: DataFrame): Seq[String] = {
    val resolver = spark.sessionState.conf.resolver
    def missing(ks: Seq[String], cols: Array[String]) =
      ks.filterNot(k => cols.exists(resolver(_, k)))
    val notInBatch = missing(c.clusterBy, batch.columns)
    c.writeMode match {
      case _: WriteMode.Merge if notInBatch.nonEmpty &&
          spark.catalog.tableExists(c.fullTableName) =>
        missing(notInBatch, spark.table(c.fullTableName).columns)
      case _ => notInBatch
    }
  }

  private def execute(c: IngestionConfig): Either[String, Long] =
    c.ingestMode match {
      case IngestMode.Batch =>
        val batch = readBatch(c)
        val unknown = unknownClusterCols(c, batch)
        if (unknown.nonEmpty)
          Left(s"clusterBy column(s) not in ${c.displayName}: ${unknown.mkString(", ")}")
        else {
          ensureDatabase(c)
          // constraints gate the INCOMING batch — for a merge that is the
          // source relation (surviving target rows were gated at their own
          // write time), exactly Delta's per-written-row CHECK scope
          val gated = gateConstraints(c, batch)
          try {
            val n = c.writeMode match {
              case m: WriteMode.Merge => mergeInto(c, gated.clean, m)
              case m => writeBatch(c, gated.clean, m)
            }
            // quarantined rows publish only AFTER the main commit (see
            // [[ViolationAction.Quarantine]]): a failed/conflicted write
            // reaches the finally below with nothing published
            gated.publish()
            Right(n)
          } finally gated.release()
        }
      case IngestMode.Stream(cp) =>
        ensureDatabase(c)
        Right(writeStream(c, cp))
    }

  /** True for rows violating ANY constraint. Per-rule `IS FALSE` keeps the
    * three-valued CHECK semantics (UNKNOWN satisfies) and makes the OR
    * null-free, so the clean-side negation is exact. */
  private def violatedAny(ks: Seq[Constraint]): Column =
    ks.map(k => expr(s"(${k.predicate}) IS FALSE")).reduce(_ || _)

  /** The Fail-mode row guard: ONE expression inside the write projection —
    * the first violating row `raise_error`s with the rule name and the row
    * as JSON, the write job fails, and the file committer discards every
    * task's uncommitted output. Zero extra scans: at 100 TB the gate rides
    * the write pass itself (the same discipline as the observe metrics),
    * never a validation pre-pass that would double the read cost. Used by
    * both the batch gate below and the streaming plan directly. */
  private def failGate(c: IngestionConfig): Column =
    c.constraints.foldRight(lit(true): Column) { (k, acc) =>
      when(expr(s"(${k.predicate}) IS FALSE"),
        raise_error(concat(
          lit(s"graft constraint '${k.name}' (${k.predicate}) violated by row "),
          to_json(struct(col("*")))))).otherwise(acc)
    }

  /** Write-time constraint gate (see [[Constraint]]/[[ViolationAction]]).
    *
    * Quarantine mode tags the batch once and persists the tagged snapshot,
    * so the landing files are listed and scanned exactly ONCE (the staging
    * write below materializes the cache; the clean-side main write rides
    * it) — the previous two-filter spelling re-read the unpersisted source
    * per side, so a landing file arriving between the two jobs could land
    * in both relations or neither. Violations go to a HIDDEN staging dir
    * under the quarantine path (invisible to `spark.read.parquet(qPath)`)
    * and are renamed into the quarantine dir only by `publish()` — i.e.
    * only after the main write commits (see [[ViolationAction.Quarantine]]
    * for the at-least-once contract). Works on batch relations; the
    * streaming path routes each micro-batch through this gate via
    * foreachBatch (see [[writeStream]]) since a streaming plan cannot fork
    * two sinks from one writer. */
  private def gateConstraints(c: IngestionConfig, df: DataFrame): GatedBatch =
    if (c.constraints.isEmpty) GatedBatch(df, ungated, ungated)
    else c.onViolation match {
      case ViolationAction.Fail =>
        GatedBatch(df.where(failGate(c)), ungated, ungated)
      case ViolationAction.Quarantine(qPath) =>
        val tags = array(c.constraints.map(k =>
          when(expr(s"(${k.predicate}) IS FALSE"), lit(k.name))): _*)
        val tagged = df.withColumn("graft_violations", concat_ws(",", tags))
          .persist()
        val qDir = new Path(qPath)
        val staging =
          new Path(qDir, s".staging_${java.util.UUID.randomUUID()}")
        val fs = fsFor(qDir)
        // the staging write runs during gate construction, BEFORE the
        // caller holds a GatedBatch whose release() could clean up — so a
        // failed write must unpersist the snapshot and sweep the partial
        // staging dir here, or both leak for the life of the session
        try tagged.filter(violatedAny(c.constraints))
          .write.mode("overwrite").parquet(staging.toString)
        catch { case e: Throwable =>
          tagged.unpersist()
          try { if (fs.exists(staging)) fs.delete(staging, true) }
          catch { case _: Exception => () }
          throw e
        }
        val clean = tagged.filter(!violatedAny(c.constraints))
          .drop("graft_violations")
        GatedBatch(
          clean,
          publish = () => {
            // move staged part-files into the quarantine dir. Spark part
            // names carry the write's job UUID, so they never collide with
            // earlier published batches (append semantics preserved)
            fs.mkdirs(qDir)
            fs.listStatus(staging).iterator
              .filter(st => st.isFile && !st.getPath.getName.startsWith("_")
                && !st.getPath.getName.startsWith("."))
              .foreach { st =>
                val dst = new Path(qDir, st.getPath.getName)
                // rename returns false instead of throwing on most Hadoop
                // filesystems; a silent false here would drop quarantined
                // rows (the next line deletes staging) — fail loudly and
                // leave staging intact for replay
                if (!fs.rename(st.getPath, dst))
                  throw new java.io.IOException(
                    s"quarantine publish: rename ${st.getPath} -> $dst " +
                      "failed; staging retained for replay")
              }
            fs.delete(staging, true); ()
          },
          release = () => {
            tagged.unpersist()
            // unpublished staging (main write failed/conflicted): sweep it;
            // the retry regenerates its own staging from the re-read batch
            try { if (fs.exists(staging)) fs.delete(staging, true) }
            catch { case _: Exception => () }
          })
    }

  /** Hadoop FS handle for a path — checkpoints and targets are HDFS/S3
    * URIs in production; java.io.File would silently resolve them against
    * the local filesystem root. */
  private def fsFor(p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** Runs `write` over `df` and returns the rows it wrote, counted by an
    * [[org.apache.spark.sql.Observation]] riding the written relation: one
    * `count` aggregate in the write's own plan, so no rescan of the
    * (ever-growing) target and no extra job. An Observation belongs to
    * this one DataFrame, so concurrent writes on a shared session never
    * add to each other's counts; its metrics come from the result stage,
    * where accumulator updates apply once per task; and `get` wakes on the
    * query's end event. Task output metrics would need a listener scoped
    * by job group and a wait for late bus events instead. The same
    * mechanism counts the stream path's clean micro-batch writes. */
  private def countWritten(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = new org.apache.spark.sql.Observation()
    write(df.observe(obs, count(lit(1)).as("n")))
    obs.get("n").asInstanceOf[Long]
  }

  /** A5 (framework.py:154-175): append/overwrite, partitioned, managed
    * (saveAsTable) or external (save + register). */
  private def writeBatch(c: IngestionConfig, df: DataFrame, m: WriteMode): Long = {
    val mode = if (m == WriteMode.Overwrite) "overwrite" else "append"
    val n = countWritten(df) { observed =>
      var w = observed.write.format("parquet").mode(mode)
      if (c.partitionBy.nonEmpty) w = w.partitionBy(c.partitionBy: _*)
      // Fail-gated DIRECT writes need a job-atomic committer: algorithm v2
      // (and direct-write cloud committers) publish part-files per task, so
      // tasks finishing before the raise_error would leave partial batch
      // data visible in an append target. The option lands in this write's
      // hadoop conf only; the versioned merge/optimize paths don't need it
      // (fresh-dir stage + pointer-swap publish).
      if (c.constraints.nonEmpty && c.onViolation == ViolationAction.Fail)
        w = w.option("mapreduce.fileoutputcommitter.algorithm.version", "1")
      c.targetPath match {
        case Some(p) => w.save(p)
        case None => w.saveAsTable(c.fullTableName)
      }
    }
    c.targetPath.foreach(p => registerExternal(c, p, Some(df.schema)))
    applyMetadata(c)
    optimizePostWrite(c)
    n
  }

  /** A9 (framework.py:240-246): external registration over parquet. When an
    * explicit schema is known it goes into the DDL (a parquet table otherwise
    * takes its schema from one file footer — wrong once the layout has
    * evolved); a registration whose column set drifted from the given schema
    * is dropped and recreated so evolution is visible to catalog readers. */
  private def registerExternal(c: IngestionConfig, path: String,
      schema: Option[org.apache.spark.sql.types.StructType]): Unit = {
    val drifted = schema.exists(sch =>
      spark.catalog.tableExists(c.fullTableName) &&
        spark.table(c.fullTableName).columns.toSeq != sch.fieldNames.toSeq)
    if (drifted) spark.sql(s"DROP TABLE IF EXISTS ${c.fullTableName}")
    val cols = schema.map(sch => s" (${sch.toDDL})").getOrElse("")
    spark.sql(
      s"CREATE TABLE IF NOT EXISTS ${c.fullTableName}$cols USING PARQUET LOCATION '$path'")
  }

  /** A10 (framework.py:248-255): comment + table properties (quote-escaped),
    * applied after every write like the reference. */
  private def applyMetadata(c: IngestionConfig): Unit = {
    c.comment.foreach { m =>
      spark.sql(
        s"COMMENT ON TABLE ${c.fullTableName} IS '${m.replace("'", "''")}'")
    }
    if (c.tableProperties.nonEmpty) {
      val kvs = c.tableProperties.toSeq.sortBy(_._1).map { case (k, v) =>
        s"'${k.replace("'", "''")}' = '${v.replace("'", "''")}'"
      }.mkString(", ")
      spark.sql(s"ALTER TABLE ${c.fullTableName} SET TBLPROPERTIES ($kvs)")
    }
  }

  // -------------------------------------------------- versioned full rewrite
  // Emulates the Delta-log guarantee the reference gets for free
  // (framework.py:227-231): a full-table rewrite (merge, optimize) writes a
  // FRESH version directory that no reader can see, then commits by
  // repointing the catalog table — a metadata-only, effectively atomic
  // operation. A crash at ANY point before the commit leaves the previous
  // version complete and readable; there is no moment where the table's
  // location holds a partial rewrite (the window SURVEY §7.5.3 documented).

  /** Version dirs live in a sibling of the external target path (or under
    * the warehouse for managed tables). The catalog location is the source
    * of truth after the first versioned rewrite; the original flat path is
    * not rewritten in place — that in-place overwrite was exactly the
    * non-atomic window being closed. */
  private[graft] def versionsRoot(c: IngestionConfig): Path =
    c.targetPath match {
      case Some(p) => new Path(p.stripSuffix("/") + "__graft_versions")
      case None =>
        val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
        new Path(s"$wh/${c.qualifiedDatabase}.db/${c.table}__graft_versions")
    }

  /** Stage: write the new table contents into a fresh version dir. Readers
    * are unaffected — the catalog still points at the previous version. */
  private[graft] def stageVersion(c: IngestionConfig, df: DataFrame): Path = {
    val dir = new Path(versionsRoot(c), s"v_${System.nanoTime()}")
    df.write.mode("overwrite").parquet(dir.toString)
    dir
  }

  /** Commit: repoint the catalog (the commit point for every catalog
    * reader), then move the `_current` manifest for path-based readers and
    * GC older versions ([[Versioned.commit]]).
    *
    * `expectedParent = Some(p)` makes the commit CONDITIONAL
    * ([[Versioned.commitExclusive]]): `p` is the version this writer
    * staged from; a sibling commit in between throws
    * [[Versioned.CommitConflictException]] — with a cheap pre-fence before
    * the catalog is touched, and a catalog rollback onto the winner's
    * version if the race is lost inside the final window, so a losing
    * writer never leaves the catalog pointing at its doomed staged dir. */
  private[graft] def commitVersion(c: IngestionConfig, dir: Path,
      expectedParent: Option[Option[String]] = None): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val root = versionsRoot(c)
    expectedParent.foreach { p =>
      val cur = Versioned.current(root, conf).map(_.getName)
      if (cur != p && cur != Some(dir.getName))
        throw new Versioned.CommitConflictException(
          s"concurrent write at $root: staged from " +
            s"${p.getOrElse("<none>")} but current is now " +
            s"${cur.getOrElse("<none>")}")
    }
    spark.sql(s"ALTER TABLE ${c.fullTableName} SET LOCATION '${dir.toString}'")
    spark.catalog.refreshTable(c.fullTableName)
    try expectedParent match {
      case Some(p) =>
        Versioned.commitExclusive(root, dir, conf, p,
          keepVersions = c.retainVersions)
      case None =>
        Versioned.commit(root, dir, conf, keepVersions = c.retainVersions)
    } catch { case e: Versioned.CommitConflictException =>
      Versioned.current(root, conf).foreach { winner =>
        spark.sql(
          s"ALTER TABLE ${c.fullTableName} SET LOCATION '${winner.toString}'")
        spark.catalog.refreshTable(c.fullTableName)
      }
      throw e
    }
  }

  /** SET LOCATION repoints only the table root — a PARTITIONED table's
    * catalog-tracked partition entries keep their absolute old paths, so a
    * versioned commit would leave catalog readers on pre-rewrite data.
    * Partitioned targets take the legacy full-redefine rewrite instead
    * (stage out, then saveAsTable overwrite recreating the definition —
    * the documented non-atomic window applies only to this layout). */
  private def isPartitionedTable(c: IngestionConfig): Boolean =
    spark.catalog.tableExists(c.fullTableName) && {
      val id = spark.sessionState.sqlParser.parseTableIdentifier(c.fullTableName)
      spark.sessionState.catalog.getTableMetadata(id).partitionColumnNames.nonEmpty
    }

  private def legacyRewriteFromStage(c: IngestionConfig, staged: Path): Unit = {
    var w = spark.read.parquet(staged.toString).write.mode("overwrite").format("parquet")
    if (c.partitionBy.nonEmpty) w = w.partitionBy(c.partitionBy: _*)
    w.saveAsTable(c.fullTableName)
    try fsFor(staged).delete(staged, true) catch { case _: Exception => () }
  }

  /** A7 (framework.py:211-231) without Delta: matched rows take the source
    * version, unmatched target rows survive — source ∪ (target anti source),
    * one shuffle on the keys; bootstraps an empty target like
    * framework.py:218's limit(0) write. The rewrite goes through
    * stage/commit above, so the swap is atomic and the plan never reads the
    * files it is replacing.
    *
    * Schema evolution on the merge path (framework.py:15's promise, Delta
    * `autoMerge` analog): a source batch that GAINED a column merges via
    * `unionByName(allowMissingColumns = true)` — surviving target rows read
    * the new column as NULL backfill (and a column the source dropped
    * likewise backfills on the source side). When the merged column set
    * differs from the catalog's, the registration is recreated at the new
    * version dir so catalog readers see the evolved schema. */
  private def mergeInto(c: IngestionConfig, source: DataFrame,
      m: WriteMode.Merge): Long = {
    val keys = m.keys
    if (!spark.catalog.tableExists(c.fullTableName)) {
      val dir = stageVersion(c, source.limit(0))
      registerExternal(c, dir.toString, Some(source.schema))
    }
    // optimistic concurrency (Versioned.commitExclusive): remember the
    // version this merge READS — the commit fences on it, so a sibling
    // writer that commits in between makes THIS merge throw instead of
    // silently overwriting the sibling's rows (lost update)
    val parent = Versioned.current(versionsRoot(c),
      spark.sessionState.newHadoopConf()).map(_.getName)
    val target = spark.table(c.fullTableName)
    // conditional clauses (see WriteMode.Merge): a deleteOnMatch tombstone
    // is EXCLUDED from the upsert branch but still CLAIMS its key (so the
    // matching target row is dropped by the anti join and an unmatched
    // tombstone is a no-op); deleteNotMatchedBySource filters the
    // surviving-target branch. Both are filters on existing branches —
    // the plan keeps the single shuffle on the merge keys. `IS NOT TRUE`
    // (not `NOT`) so a NULL-valued predicate means clause-not-satisfied —
    // the row upserts/survives, matching Delta's `WHEN … AND <cond> THEN
    // DELETE` semantics; a bare NOT would silently delete NULL rows.
    val upserts = m.deleteOnMatch
      .map(cond => source.filter(s"($cond) IS NOT TRUE")).getOrElse(source)
    val survivors0 =
      target.join(source.select(keys.map(col): _*).distinct(), keys, "left_anti")
    val survivors = m.deleteNotMatchedBySource
      .map(cond => survivors0.filter(s"($cond) IS NOT TRUE"))
      .getOrElse(survivors0)
    val merged = upserts.unionByName(survivors, allowMissingColumns = true)
    val partitioned = isPartitionedTable(c)
    var staged: Path = null
    // only the stage write is counted — the legacy path's saveAsTable
    // re-write of the staged rows is the commit, not more written rows
    val n = countWritten(merged)(m => staged = stageVersion(c, m))
    if (partitioned) legacyRewriteFromStage(c, staged)
    else if (target.columns.toSeq != merged.columns.toSeq) {
      // evolved: SET LOCATION would keep the old column set — drop and
      // recreate the registration (registerExternal's drift path) at the
      // staged dir, then move the version pointer as usual
      registerExternal(c, staged.toString, Some(merged.schema))
      spark.catalog.refreshTable(c.fullTableName)
      Versioned.commitExclusive(versionsRoot(c), staged,
        spark.sessionState.newHadoopConf(), parent,
        keepVersions = c.retainVersions)
    } else commitVersion(c, staged, Some(parent))
    applyMetadata(c)
    optimizePostWrite(c)
    n
  }

  /** A6 (framework.py:177-209) open analog: file stream → checkpointed
    * parquet append, drained bounded via AvailableNow. With no explicit
    * schema, the schema is tracked and evolved next to the checkpoint
    * (framework.py:15, 184-187 `cloudFiles.schemaLocation` /
    * `inferColumnTypes` analog). */
  private def writeStream(c: IngestionConfig, checkpoint: String): Long = {
    val target = c.targetPath.getOrElse(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") +
        s"/${c.qualifiedDatabase}.db/${c.table}")
    val schema = c.schema.getOrElse(trackedSchema(c, checkpoint))
    val source = spark.readStream.options(c.options).schema(schema)
      .format(c.sourceFormat).load(c.sourcePath)
    val appended: Long = c.onViolation match {
      case ViolationAction.Quarantine(_) if c.constraints.nonEmpty =>
        // a streaming plan cannot fork two sinks from one writer — route
        // each micro-batch through the batch gate (staged quarantine +
        // clean append; the gate persists the tagged batch, so the landing
        // files are scanned once, not once per sink). foreachBatch replays
        // are at-least-once on crash recovery: the quarantine dir is a
        // debugging/replay aid and may hold duplicates of a batch whose
        // commit raced a crash — same contract as a managed badRecordsPath.
        // The committed count is the clean write's (see [[countWritten]]),
        // not numInputRows, which counts quarantined rows too.
        val cleanRows = new java.util.concurrent.atomic.AtomicLong(0L)
        val q = source.writeStream
          .option("checkpointLocation", checkpoint)
          .outputMode("append").trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val gated = gateConstraints(c, batch)
            try {
              cleanRows.addAndGet(countWritten(gated.clean)(
                _.write.mode("append").parquet(target)))
              // publish after the clean append, inside the micro-batch —
              // the batch's checkpoint commit still follows, hence the
              // documented at-least-once quarantine delivery
              gated.publish()
            } finally gated.release()
          }.start()
        q.awaitTermination()
        cleanRows.get
      case _ =>
        // Fail mode (or no constraints): the raise_error gate is a plain
        // row expression — it rides the streaming plan itself, failing the
        // micro-batch before its sink commit
        val gatedSource =
          if (c.constraints.isEmpty) source else source.where(failGate(c))
        val q = gatedSource
          .writeStream.format("parquet").option("path", target)
          .option("checkpointLocation", checkpoint)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        // rows appended by THIS drain, summed from the run's progress
        // events — not a rescan of the whole target. recentProgress
        // retains the last ~100 micro-batches; a long-running production
        // stream would accumulate through a StreamingQueryListener
        // instead of a bounded drain.
        q.recentProgress.map(_.numInputRows).sum
    }
    registerExternal(c, target, Some(schema))
    applyMetadata(c)
    appended
  }

  /** Streaming schema tracking (Auto Loader `schemaLocation` analog): infer
    * a schema from landing files NEWER than the last schema commit, merge
    * it with the persisted schema (existing columns keep their position and
    * type; NEW columns append — older files read them as null), persist the
    * merged schema next to the checkpoint, and stream with it.
    *
    * Bounding inference to new files is what survives a million-file
    * landing dir (framework.py:180-187's file-notification concern): each
    * run reads footers/samples only for files that arrived since the
    * previous commit, and a pre-existing malformed or schema-drifted file
    * can never poison later schema commits. All IO goes through the Hadoop
    * FileSystem API — checkpoints are HDFS/S3 URIs in production, where
    * java.io.File would silently resolve against the local filesystem. */
  private def trackedSchema(c: IngestionConfig,
      checkpoint: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{DataType, StructType}
    val schemaPath = new Path(checkpoint, "graft_schema.json")
    val fs = fsFor(schemaPath)
    val prev: Option[StructType] =
      if (fs.exists(schemaPath)) {
        val in = fs.open(schemaPath)
        val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        Some(DataType.fromJson(txt).asInstanceOf[StructType])
      } else None
    // "new since last commit" is judged against a persisted HIGH-WATER MARK
    // of file mtimes actually seen by inference, compared INCLUSIVELY — not
    // against the schema file's own mtime with a strict >, which would
    // permanently skip a file landing in the same clock tick as (or, with
    // cross-store clock skew, just before) the schema write. Boundary files
    // re-infer on the next run; the merge is idempotent so that is free.
    val wmPath = new Path(checkpoint, "graft_schema_mtime")
    val since: Long =
      if (fs.exists(wmPath)) {
        val in = fs.open(wmPath)
        try new String(in.readAllBytes(), "UTF-8").trim.toLong finally in.close()
      } else Long.MinValue
    val landing = new Path(c.sourcePath)
    val lfs = fsFor(landing)
    // recursive: landing dirs are often nested (date=.../part-*.json) —
    // the stream source itself reads them, so inference must see them too.
    // An entry with a hidden (_ or .) name below the landing root is
    // metadata, not data: the walk skips it and everything under it.
    // listStatus, not listFiles: on a local filesystem without native
    // Hadoop, every LocatedFileStatus that listFiles builds forks an
    // `ls -ld` for its permissions.
    def walk(dir: Path): Iterator[FileStatus] =
      lfs.listStatus(dir).iterator
        .filterNot(st => st.getPath.getName.startsWith("_") ||
          st.getPath.getName.startsWith("."))
        .flatMap(st => if (st.isDirectory) walk(st.getPath) else Iterator(st))
    val fresh =
      if (lfs.exists(landing)) walk(landing).filter(_.getModificationTime >= since).toSeq
      else Nil
    val inferred: Option[StructType] = Option.when(fresh.nonEmpty)(
      LandingRead.load(spark, c.sourceFormat, c.options,
        fresh.map(_.getPath.toString)).schema)
    val merged = (prev, inferred) match {
      case (Some(p), Some(i)) => StructType(p.fields ++
        i.fields.filterNot(x => p.fieldNames.contains(x.name)))
      case (Some(p), None) => p
      case (None, Some(i)) => i
      case (None, None) => throw new IllegalArgumentException(
        s"stream ${c.fullTableName}: no schema given and no files in ${c.sourcePath} to infer one")
    }
    // the schema file changes only when the schema does; the watermark
    // moves whenever fresh files were seen
    if (!prev.contains(merged)) {
      val out = fs.create(schemaPath, true)
      try out.write(merged.json.getBytes("UTF-8")) finally out.close()
    }
    if (fresh.nonEmpty) {
      val wm = fs.create(wmPath, true)
      try wm.write(fresh.map(_.getModificationTime).max.toString.getBytes("UTF-8"))
      finally wm.close()
    }
    merged
  }

  /** A11 (framework.py:256-266) OPTIMIZE/ZORDER emulation, failure-tolerant:
    * range-repartition + sort-within-partitions on the cluster keys, as an
    * atomic versioned rewrite (stage/commit — a crash mid-optimize leaves
    * the pre-optimize table fully readable). */
  private def optimizePostWrite(c: IngestionConfig): Unit =
    if (c.clusterBy.nonEmpty) try {
      val clustered = spark.table(c.fullTableName)
        .repartitionByRange(c.clusterBy.map(col): _*)
        .sortWithinPartitions(c.clusterBy.map(col): _*)
      val staged = stageVersion(c, clustered)
      if (isPartitionedTable(c)) legacyRewriteFromStage(c, staged)
      else commitVersion(c, staged)
    } catch { case e: Exception =>
      System.err.println(s"[ingest] optimize skipped: ${e.getMessage}")
    }
}
