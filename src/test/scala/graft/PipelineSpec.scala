package graft

import graft.pipeline._
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** Config-driven pipeline runner (reference A1-A14 semantics, SURVEY.md §2A):
  * validation, dry-run, factory dispatch, batch/merge/stream execution. */
class PipelineSpec extends AnyFunSuite with TimeLimits {
  import TestSpark._
  import TempDirs.tmp

  // interrupts a run() stuck waiting for a write count that never arrives,
  // so the test fails instead of hanging the suite
  private implicit val signaler: Signaler = ThreadSignaler
  private val countTimeout = Span(120, Seconds)

  private val srcDir: String = {
    // the default in-memory catalog forgets tables between JVMs while their
    // managed locations survive — clear stale test-db dirs so saveAsTable
    // does not hit LOCATION_ALREADY_EXISTS
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    Seq("graft_it.db", "graft_dry.db", "main__raw.db").foreach { db =>
      val dir = new java.io.File(wh, db)
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(dir)
      }
    }
    val d = tmp("g_pipe_src_")
    Tables.load(spark, sfDir, "region").write.mode("overwrite").parquet(d)
    d
  }

  test("validation rejects bad configs (A1)") {
    val base = IngestionConfig("db", "t", srcDir)
    assert(base.validate().isRight)
    assert(IngestionConfig("", "t", srcDir).validate().isLeft)
    assert(base.copy(writeMode = WriteMode.Merge(Nil)).validate().isLeft)
    assert(base.copy(ingestMode = IngestMode.Stream("")).validate().isLeft)
    assert(base.copy(ingestMode = IngestMode.Stream("/tmp/ck")).validate()
      .isRight, "schema-less stream is valid (schema tracking kicks in)")
    assert(base.copy(sourceFormat = "avro").validate().isLeft)
  }

  test("factory dispatches on uri scheme (A13) and validates it (A12)") {
    assert(SourceKind.forUri("s3://b/k") === SourceKind.S3)
    assert(SourceKind.forUri("abfss://c@a/p") === SourceKind.Azure)
    assert(SourceKind.forUri("/local/path") === SourceKind.Local)
    assert(SourceKind.S3.validateUri("abfss://x").isLeft)
    assert(SourceKind.Azure.validateUri("abfss://c@a/p").isRight)
  }

  test("dry run renders the plan and writes nothing (A2)") {
    val cfg = IngestionConfig("graft_dry", "t1", srcDir, dryRun = true)
    assert(new IngestionRunner(spark, cfg).run() === Right(0L))
    assert(cfg.plan.contains("batch") && cfg.plan.contains("append"))
    assert(!spark.catalog.databaseExists("graft_dry"))
    // merge clauses surface in the rendered plan
    val mp = cfg.copy(writeMode = WriteMode.Merge(Seq("k"),
      deleteOnMatch = Some("v < 0"),
      deleteNotMatchedBySource = Some("stale"))).plan
    assert(mp.contains("merge on (k)"))
    assert(mp.contains("delete-on-match [v < 0]"))
    assert(mp.contains("purge-not-matched-by-source [stale]"))
  }

  test("batch overwrite ingests into a managed table (A3-A5)") {
    val cfg = IngestionConfig("graft_it", "region_m", srcDir,
      writeMode = WriteMode.Overwrite, comment = Some("it's a 'test'"))
    val n = new IngestionRunner(spark, cfg).run()
    assert(n === Right(Tables.load(spark, sfDir, "region").count()))
    assert(spark.table("graft_it.region_m").columns.contains("r_name"))
  }

  test("3-level catalog.schema.table round-trips through ingest (A3/§7.4)") {
    val expected = Tables.load(spark, sfDir, "region").count()
    // managed: 3-part name parses, both namespace levels get DDL, and the
    // flattened database.table identity reads back the ingested rows
    val cfg = IngestionConfig.forName("main.raw.region3", srcDir)
      .copy(writeMode = WriteMode.Overwrite)
    assert(cfg.catalog === Some("main") && cfg.database === "raw")
    assert(cfg.fullTableName === "main__raw.region3")
    assert(cfg.displayName === "main.raw.region3")
    assert(new IngestionRunner(spark, cfg).run() === Right(expected))
    assert(spark.catalog.databaseExists("main"), "catalog marker database")
    assert(spark.table("main__raw.region3").count() === expected)
    // external registration under the same 3-part identity
    val ext = tmp("g_threelevel_ext_")
    val cfgE = cfg.copy(table = "region3_ext", targetPath = Some(ext))
    assert(new IngestionRunner(spark, cfgE).run() === Right(expected))
    assert(spark.table("main__raw.region3_ext").count() === expected)
    // reserved separator and 4-part names fail fast
    assert(cfg.copy(database = "a__b").validate().isLeft)
    assertThrows[IllegalArgumentException](
      IngestionConfig.forName("a.b.c.d", srcDir))
  }

  test("merge upserts matched keys and keeps unmatched target rows (A7)") {
    val db = "graft_it"; val tbl = s"$db.region_merge"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    // bootstrap from empty (framework.py:218 path), then merge twice
    val src1 = tmp("g_merge1_")
    Tables.load(spark, sfDir, "region").write.mode("overwrite").parquet(src1)
    val cfg = IngestionConfig(db, "region_merge", src1,
      writeMode = WriteMode.Merge(Seq("r_regionkey")))
    assert(new IngestionRunner(spark, cfg).run() === Right(5L))
    // second source: one updated row, one new row
    val src2 = tmp("g_merge2_")
    Tables.load(spark, sfDir, "region")
      .filter(col("r_regionkey") === 0)
      .withColumn("r_name", lit("UPDATED"))
      .unionByName(spark.sql("SELECT 99 AS r_regionkey, 'NEW' AS r_name"))
      .write.mode("overwrite").parquet(src2)
    assert(new IngestionRunner(spark, cfg.copy(sourcePath = src2)).run() === Right(6L))
    val rows = spark.table(tbl).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(rows(0) === "UPDATED" && rows(99) === "NEW" && rows.size === 6)
    // idempotence: merging the same source again changes nothing
    assert(new IngestionRunner(spark, cfg.copy(sourcePath = src2)).run() === Right(6L))
  }

  test("merge applies conditional delete clauses (tombstones + stale purge)") {
    import spark.implicits._
    val db = "graft_it"; val tbl = s"$db.merge_del"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val src1 = tmp("g_md1_")
    Seq((1, "a", 10), (2, "b", 10), (3, "c", 99), (4, "d", 10))
      .toDF("k", "s", "v").write.mode("overwrite").parquet(src1)
    val boot = IngestionConfig(db, "merge_del", src1,
      writeMode = WriteMode.Merge(Seq("k")))
    assert(new IngestionRunner(spark, boot).run() === Right(4L))
    // batch 2: k=2 updates, k=4 is a tombstone (v < 0 = delete-on-match),
    // k=5 inserts; unmatched target rows with v < 50 are stale → purged
    // (k=1 goes, k=3 with v=99 survives)
    val src2 = tmp("g_md2_")
    Seq((2, "B2", 10), (4, "d", -1), (5, "e", 10))
      .toDF("k", "s", "v").write.mode("overwrite").parquet(src2)
    val cfg2 = boot.copy(sourcePath = src2,
      writeMode = WriteMode.Merge(Seq("k"),
        deleteOnMatch = Some("v < 0"),
        deleteNotMatchedBySource = Some("v < 50")))
    assert(new IngestionRunner(spark, cfg2).run() === Right(3L))
    val rows = spark.table(tbl).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
    assert(rows === Set((2, "B2", 10), (3, "c", 99), (5, "e", 10)))
    // an unmatched tombstone is a no-op: replaying the same batch with the
    // same clauses leaves the table unchanged (k=4 no longer exists)
    assert(new IngestionRunner(spark, cfg2).run() === Right(3L))
    assert(spark.table(tbl).count() === 3)
  }

  test("merge treats a NULL delete predicate as not-satisfied (Delta clause semantics)") {
    import spark.implicits._
    val db = "graft_it"; val tbl = s"$db.merge_nullpred"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val src1 = tmp("g_mnp1_")
    Seq((1, "a", Some(10)), (2, "b", Option.empty[Int]), (3, "c", Some(20)))
      .toDF("k", "s", "v").write.mode("overwrite").parquet(src1)
    val boot = IngestionConfig(db, "merge_nullpred", src1,
      writeMode = WriteMode.Merge(Seq("k")))
    assert(new IngestionRunner(spark, boot).run() === Right(3L))
    // batch 2: k=1 arrives with v NULL — its deleteOnMatch predicate
    // (v < 0) evaluates NULL, which Delta treats as clause-NOT-satisfied:
    // the row must UPSERT, not silently delete. Unmatched target k=2 has
    // v NULL, so deleteNotMatchedBySource (v < 15) is NULL too — it must
    // SURVIVE. k=3 (v=20) survives the purge on plain false.
    val src2 = tmp("g_mnp2_")
    Seq((1, "A2", Option.empty[Int]))
      .toDF("k", "s", "v").write.mode("overwrite").parquet(src2)
    val cfg2 = boot.copy(sourcePath = src2,
      writeMode = WriteMode.Merge(Seq("k"),
        deleteOnMatch = Some("v < 0"),
        deleteNotMatchedBySource = Some("v < 15")))
    assert(new IngestionRunner(spark, cfg2).run() === Right(3L))
    val rows = spark.table(tbl).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(rows === Set((1, "A2"), (2, "b"), (3, "c")))
  }

  test("merge commit fences on the version it read (writer conflict)") {
    val db = "graft_it"; val tbl = s"$db.merge_race"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val src1 = tmp("g_mr1_")
    Tables.load(spark, sfDir, "region").write.mode("overwrite").parquet(src1)
    val cfg = IngestionConfig(db, "merge_race", src1,
      writeMode = WriteMode.Merge(Seq("r_regionkey")), retainVersions = 5)
    val runner = new IngestionRunner(spark, cfg)
    assert(runner.run() === Right(5L))
    val root = runner.versionsRoot(cfg)
    val conf = spark.sessionState.newHadoopConf()
    val winner = Versioned.current(root, conf).get
    // a writer that staged from a parent the sibling has since superseded
    // must THROW and leave the catalog on the winner's version — not
    // blind-overwrite the sibling's commit (lost update)
    val staged = Versioned.stagePath(root, Some("v_loser"))
    spark.table(tbl).limit(1).write.mode("overwrite").parquet(staged.toString)
    val e = intercept[Versioned.CommitConflictException] {
      runner.commitVersion(cfg, staged, Some(Some("not_the_parent")))
    }
    assert(e.getMessage.contains("concurrent write"))
    assert(Versioned.current(root, conf).map(_.getName) === Some(winner.getName))
    assert(Versioned.history(root, conf).last === winner.getName)
    assert(spark.table(tbl).count() === 5, "no committed rows lost")
  }

  test("merge evolves the schema when the source gains a column (A7 + evolution)") {
    import spark.implicits._
    val db = "graft_it"; val tbl = s"$db.evolve_m"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val src1 = tmp("g_evm1_")
    Seq((1, "a"), (2, "b")).toDF("k", "s").write.mode("overwrite").parquet(src1)
    val cfg = IngestionConfig(db, "evolve_m", src1,
      writeMode = WriteMode.Merge(Seq("k")))
    assert(new IngestionRunner(spark, cfg).run() === Right(2L))
    // the next batch gained a column: matched row takes the source version,
    // the surviving target row reads the new column as NULL backfill, and
    // catalog readers see the evolved schema
    val src2 = tmp("g_evm2_")
    Seq((2, "UPDATED", "t2"), (3, "c", "t3")).toDF("k", "s", "tag")
      .write.mode("overwrite").parquet(src2)
    assert(new IngestionRunner(spark, cfg.copy(sourcePath = src2)).run() === Right(3L))
    val evolved = spark.table(tbl)
    assert(evolved.columns.toSeq === Seq("k", "s", "tag"))
    val rows = evolved.collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[String]("s"), r.getAs[String]("tag"))).toSet
    assert(rows === Set((1, "a", null), (2, "UPDATED", "t2"), (3, "c", "t3")))
  }

  test("retainVersions keeps merge history readable (time travel)") {
    val db = "graft_it"; val tbl = s"$db.region_tt"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val src1 = tmp("g_tt1_")
    Tables.load(spark, sfDir, "region").write.mode("overwrite").parquet(src1)
    val cfg = IngestionConfig(db, "region_tt", src1,
      writeMode = WriteMode.Merge(Seq("r_regionkey")), retainVersions = 3)
    assert(cfg.validate().isRight)
    assert(cfg.copy(retainVersions = 0).validate().isLeft)
    assert(new IngestionRunner(spark, cfg).run() === Right(5L))
    val src2 = tmp("g_tt2_")
    Tables.load(spark, sfDir, "region")
      .withColumn("r_name", lit("V2"))
      .write.mode("overwrite").parquet(src2)
    val runner = new IngestionRunner(spark, cfg.copy(sourcePath = src2))
    assert(runner.run() === Right(5L))
    // current reads V2; version 0 (the bootstrap) must still be readable
    assert(spark.table(tbl).filter(col("r_name") =!= "V2").count() === 0)
    val root = runner.versionsRoot(cfg)
    val conf = spark.sessionState.newHadoopConf()
    assert(pipeline.Versioned.history(root, conf).size === 2)
    val v0 = pipeline.Versioned.versionDir(root, 0, conf)
    assert(v0.isDefined, "bootstrap version vacuumed despite retainVersions=3")
    val old = spark.read.parquet(v0.get.toString)
    assert(old.count() === 5 && old.filter(col("r_name") === "V2").count() === 0)
  }

  test("stream mode drains the landing dir through a checkpoint (A6)") {
    val db = "graft_it"
    spark.sql(s"DROP TABLE IF EXISTS $db.region_s")
    val ev = Tables.load(spark, sfDir, "region")
    val cfg = IngestionConfig(db, "region_s", srcDir,
      ingestMode = IngestMode.Stream(tmp("g_pipe_ck_")),
      targetPath = Some(tmp("g_pipe_tgt_")),
      schema = Some(ev.schema))
    assert(new IngestionRunner(spark, cfg).run() === Right(ev.count()))
  }

  test("write gate rejects a batch with a violating row; nothing commits") {
    import spark.implicits._
    val db = "graft_it"
    spark.sql(s"DROP TABLE IF EXISTS $db.gated_fail")
    val land = tmp("g_gate_land_")
    Seq((1L, 10.0), (2L, -5.0), (3L, 7.0)).toDF("k", "v")
      .write.mode("overwrite").parquet(land)
    val tgt = tmp("g_gate_tgt_") + "/t"
    val cfg = IngestionConfig(db, "gated_fail", land,
      targetPath = Some(tgt),
      constraints = Seq(Constraint("v_positive", "v > 0")))
    val e = intercept[Exception] { new IngestionRunner(spark, cfg).run() }
    // the error names the rule and carries the violating row
    def msgs(t: Throwable): String =
      Option(t).map(x => x.getMessage + msgs(x.getCause)).getOrElse("")
    assert(msgs(e).contains("v_positive"))
    // the failed job committed nothing: no data files at the target, and
    // the catalog registration never happened
    val tdir = new java.io.File(tgt)
    assert(!tdir.exists() ||
      Option(tdir.listFiles()).getOrElse(Array.empty)
        .forall(f => !f.getName.startsWith("part-")),
      "a rejected batch must not leave committed data files")
    assert(!spark.catalog.tableExists(s"$db.gated_fail"))
  }

  test("write gate: NULL predicate satisfies (CHECK three-valued semantics)") {
    import spark.implicits._
    val db = "graft_it"
    spark.sql(s"DROP TABLE IF EXISTS $db.gated_null")
    val land = tmp("g_gate_land_")
    // v = NULL makes `v > 0` UNKNOWN — the row must COMMIT (SQL standard
    // CHECK / Delta semantics); only v = -5 violates
    Seq((1L, Some(10.0)), (2L, None), (3L, Some(-5.0)))
      .toDF("k", "v").write.mode("overwrite").parquet(land)
    val qdir = tmp("g_gate_q_") + "/q"
    val cfg = IngestionConfig(db, "gated_null", land,
      writeMode = WriteMode.Overwrite,
      targetPath = Some(tmp("g_gate_tgt_") + "/t"),
      constraints = Seq(Constraint("v_positive", "v > 0")),
      onViolation = ViolationAction.Quarantine(qdir))
    assert(new IngestionRunner(spark, cfg).run() === Right(2L))
    val committed = spark.table(s"$db.gated_null").select("k")
      .collect().map(_.getLong(0)).sorted
    assert(committed.toSeq === Seq(1L, 2L), "NULL predicate row must commit")
    val quarantined = spark.read.parquet(qdir)
    assert(quarantined.count() === 1L)
    val row = quarantined.collect().head
    assert(row.getAs[Long]("k") === 3L)
    assert(row.getAs[String]("graft_violations") === "v_positive")
  }

  test("write gate applies to the merge source and tags every violated rule") {
    import spark.implicits._
    val db = "graft_it"
    spark.sql(s"DROP TABLE IF EXISTS $db.gated_m")
    val tgt = tmp("g_gate_tgt_") + "/t"
    // bootstrap a clean target
    val land0 = tmp("g_gate_land_")
    Seq((1L, 10.0, "a"), (2L, 20.0, "b")).toDF("k", "v", "s")
      .write.mode("overwrite").parquet(land0)
    val base = IngestionConfig(db, "gated_m", land0,
      writeMode = WriteMode.Merge(Seq("k")), targetPath = Some(tgt),
      constraints = Seq(
        Constraint("v_positive", "v > 0"),
        Constraint("s_known", "s IN ('a','b')")),
      onViolation = ViolationAction.Quarantine(tmp("g_gate_q_") + "/q"))
    assert(new IngestionRunner(spark, base).run() === Right(2L))
    // merge batch: k=2 updates cleanly, k=9 violates BOTH rules and must be
    // quarantined (double-tagged) instead of inserted
    val land1 = tmp("g_gate_land_")
    Seq((2L, 25.0, "b"), (9L, -1.0, "zzz")).toDF("k", "v", "s")
      .write.mode("overwrite").parquet(land1)
    val qdir = tmp("g_gate_q_") + "/q"
    assert(new IngestionRunner(spark,
      base.copy(sourcePath = land1,
        onViolation = ViolationAction.Quarantine(qdir))).run() === Right(2L))
    val after = spark.table(s"$db.gated_m").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(after.toSeq === Seq((1L, 10.0), (2L, 25.0)),
      "clean update lands, violating insert does not")
    val q = spark.read.parquet(qdir).collect()
    assert(q.length === 1 && q.head.getAs[Long]("k") === 9L)
    assert(q.head.getAs[String]("graft_violations") === "v_positive,s_known")
  }

  test("quarantine publishes only after the main write commits") {
    import spark.implicits._
    val db = "graft_it"
    spark.sql(s"DROP TABLE IF EXISTS $db.gated_pub")
    val land = tmp("g_gate_land_")
    Seq((1L, 1.0), (2L, -2.0)).toDF("k", "v")
      .write.mode("overwrite").parquet(land)
    val qdir = tmp("g_gate_q_") + "/q"
    // partitionBy names a column that doesn't exist: the gate stages its
    // violations fine, then the MAIN write throws — the r11 ADVICE
    // scenario (eager quarantine side effect surviving a failed commit)
    val cfg = IngestionConfig(db, "gated_pub", land,
      targetPath = Some(tmp("g_gate_tgt_") + "/t"),
      partitionBy = Seq("no_such_col"),
      constraints = Seq(Constraint("v_positive", "v > 0")),
      onViolation = ViolationAction.Quarantine(qdir))
    intercept[Exception] { new IngestionRunner(spark, cfg).run() }
    // nothing published for the failed batch, and the staging dir is swept
    val leftovers = Option(new java.io.File(qdir).listFiles())
      .getOrElse(Array.empty[java.io.File])
    assert(leftovers.isEmpty,
      s"failed batch must publish no quarantine output: ${leftovers.mkString(",")}")
    // the retry (layout fixed) commits the clean row and publishes exactly
    // the violating one — no duplicates from the failed attempt
    assert(new IngestionRunner(spark,
      cfg.copy(partitionBy = Seq.empty)).run() === Right(1L))
    assert(spark.read.parquet(qdir).select("k")
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("write gate quarantines on the streaming path through foreachBatch") {
    import spark.implicits._
    val db = "graft_it"
    spark.sql(s"DROP TABLE IF EXISTS $db.gated_s")
    val land = tmp("g_gate_land_")
    Seq((1L, 1.0), (2L, -2.0), (3L, 3.0), (4L, -4.0)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(land)
    val qdir = tmp("g_gate_q_") + "/q"
    val tgt = tmp("g_gate_tgt_")
    val cfg = IngestionConfig(db, "gated_s", land,
      ingestMode = IngestMode.Stream(tmp("g_gate_ck_")),
      targetPath = Some(tgt),
      schema = Some(spark.read.parquet(land).schema),
      constraints = Seq(Constraint("v_positive", "v > 0")),
      onViolation = ViolationAction.Quarantine(qdir))
    // the drain reports COMMITTED (clean) rows; the split is asserted on disk
    assert(new IngestionRunner(spark, cfg).run() === Right(2L))
    assert(spark.table(s"$db.gated_s").select("k")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
    assert(spark.read.parquet(qdir).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 4L))
  }

  test("table properties are applied and visible (A10)") {
    val db = "graft_it"
    spark.sql(s"DROP TABLE IF EXISTS $db.region_p")
    val cfg = IngestionConfig(db, "region_p", srcDir,
      writeMode = WriteMode.Overwrite,
      comment = Some("props demo"),
      tableProperties = Map("quality" -> "gold", "team" -> "data'team"))
    assert(new IngestionRunner(spark, cfg).run().isRight)
    val props = spark.sql(s"SHOW TBLPROPERTIES $db.region_p").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("quality") === Some("gold"))
    assert(props.get("team") === Some("data'team"))
  }

  test("schema-less stream tracks and evolves the schema (Auto Loader analog)") {
    import spark.implicits._
    val db = "graft_it"
    spark.sql(s"DROP TABLE IF EXISTS $db.evolving_s")
    val land = tmp("g_evo_land_"); val ck = tmp("g_evo_ck_")
    val tgt = tmp("g_evo_tgt_")
    Seq(("r1", 1L), ("r2", 2L)).toDF("name", "v")
      .coalesce(1).write.mode("append").json(land)
    val cfg = IngestionConfig(db, "evolving_s", land, sourceFormat = "json",
      ingestMode = IngestMode.Stream(ck), targetPath = Some(tgt))
    assert(new IngestionRunner(spark, cfg).run() === Right(2L))
    assert(spark.table(s"$db.evolving_s").columns.toSet === Set("name", "v"))
    // second landing batch carries a NEW column; same checkpoint. Sleep so
    // the new file's mtime is strictly newer than the schema commit (schema
    // inference is bounded to files newer than the last commit).
    Thread.sleep(1200)
    Seq(("r3", 3L, "extra")).toDF("name", "v", "tag")
      .coalesce(1).write.mode("append").json(land)
    // run() returns rows appended by THIS drain (1), not the target total
    assert(new IngestionRunner(spark, cfg).run() === Right(1L))
    val evolved = spark.table(s"$db.evolving_s")
    assert(evolved.columns.toSet === Set("name", "v", "tag"))
    val byName = evolved.collect()
      .map(r => r.getAs[String]("name") -> r.getAs[String]("tag")).toMap
    assert(byName("r3") === "extra")
    assert(byName("r1") === null, "pre-evolution rows read the new column as null")
  }

  test("append returns the batch's row count without rescanning the target") {
    val db = "graft_it"
    spark.sql(s"DROP TABLE IF EXISTS $db.region_a")
    val cfg = IngestionConfig(db, "region_a", srcDir)
    // two appends of 5 rows: the old implementation counted the whole
    // target after writing (5 then 10); the write-metric path returns the
    // batch size both times — and a listener proves no execution in the
    // second run scans the target's files at all
    assert(new IngestionRunner(spark, cfg).run() === Right(5L))
    val scannedTarget = new java.util.concurrent.atomic.AtomicBoolean(false)
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        val plan = qe.executedPlan match {
          case c: org.apache.spark.sql.execution.CommandResultExec => c.commandPhysicalPlan
          case p => p
        }
        plan.foreach {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains("region_a")) =>
            scannedTarget.set(true)
          case _ => ()
        }
      }
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      assert(new IngestionRunner(spark, cfg).run() === Right(5L))
      Thread.sleep(500) // listener delivery is async
    } finally spark.listenerManager.unregister(l)
    assert(!scannedTarget.get, "append must not read the target table")
    assert(spark.table(s"$db.region_a").count() === 10L)
  }

  test("run() leaves the caller's job group in place") {
    val sc = spark.sparkContext
    val cfg = IngestionConfig("graft_it", "region_jg", srcDir,
      writeMode = WriteMode.Overwrite)
    sc.setJobGroup("caller-group", "harness work", interruptOnCancel = false)
    try {
      assert(new IngestionRunner(spark, cfg).run() === Right(5L))
      assert(sc.getLocalProperty("spark.jobGroup.id") === "caller-group")
    } finally sc.clearJobGroup()
  }

  test("a schema-less parquet append starts exactly one Spark job") {
    val db = "graft_it"
    spark.sql(s"DROP TABLE IF EXISTS $db.region_jobs")
    val cfg = IngestionConfig(db, "region_jobs", srcDir)
    // the write is the only job: the landing schema comes from one footer
    // read on the driver, not from Spark's inference job
    for (_ <- 1 to 2)
      assert(jobsOf(assert(new IngestionRunner(spark, cfg).run() === Right(5L))) === 1)
  }

  test("a merge into an existing table starts only the merge's own jobs") {
    val db = "graft_it"
    spark.sql(s"DROP TABLE IF EXISTS $db.region_mjobs")
    val cfg = IngestionConfig(db, "region_mjobs", srcDir,
      writeMode = WriteMode.Merge(Seq("r_regionkey")))
    assert(new IngestionRunner(spark, cfg).run() === Right(5L))
    assert(jobsOf(assert(new IngestionRunner(spark, cfg).run() === Right(5L))) === 3)
  }

  test("a schema-less stream drain starts no job on the caller's thread") {
    import spark.implicits._
    val db = "graft_it"
    spark.sql(s"DROP TABLE IF EXISTS $db.stream_jobs")
    val land = tmp("g_sjobs_land_")
    Seq(("r1", 1L), ("r2", 2L)).toDF("name", "v").coalesce(1)
      .write.mode("append").parquet(land)
    val cfg = IngestionConfig(db, "stream_jobs", land,
      ingestMode = IngestMode.Stream(tmp("g_sjobs_ck_")),
      targetPath = Some(tmp("g_sjobs_tgt_")))
    // micro-batches run in the query's own job group; the schema tracking
    // reads its footer on the driver
    assert(jobsOf(assert(new IngestionRunner(spark, cfg).run() === Right(2L))) === 0)
  }

  test("concurrent appends on one session each count only their own rows") {
    val db = "graft_it"
    val nationDir = tmp("g_pipe_nation_")
    Tables.load(spark, sfDir, "nation").write.mode("overwrite").parquet(nationDir)
    val nations = spark.read.parquet(nationDir).count()
    assert(nations !== 5L, "the two batches must differ in size")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val jobs = Seq("region_cc" -> srcDir, "nation_cc" -> nationDir).map {
      case (t, dir) =>
        spark.sql(s"DROP TABLE IF EXISTS $db.$t")
        IngestionConfig(db, t, dir)
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try failAfter(countTimeout) {
      for (_ <- 1 to 3) {
        val start = new java.util.concurrent.CyclicBarrier(2)
        val counts = jobs.map { cfg =>
          pool.submit(new java.util.concurrent.Callable[Either[String, Long]] {
            def call() = { start.await(); new IngestionRunner(spark, cfg).run() }
          })
        }.map(_.get())
        assert(counts === Seq(Right(5L), Right(nations)))
      }
    } finally pool.shutdownNow()
    assert(spark.table(s"$db.region_cc").count() === 15L)
    assert(spark.table(s"$db.nation_cc").count() === 3 * nations)
  }

  test("an empty landing batch appends and counts zero rows") {
    import spark.implicits._
    val db = "graft_it"
    // one empty part file, and a dir with no data file at all (explicit
    // schema): the second writes from a relation with no input partition
    val emptyFile = tmp("g_empty_file_")
    Seq.empty[(Int, String)].toDF("k", "s").write.mode("overwrite").parquet(emptyFile)
    val emptyDir = tmp("g_empty_dir_")
    val schema = Seq.empty[(Int, String)].toDF("k", "s").schema
    for ((t, cfg) <- Seq(
        "empty_f" -> IngestionConfig(db, "empty_f", emptyFile),
        "empty_d" -> IngestionConfig(db, "empty_d", emptyDir, schema = Some(schema)))) {
      spark.sql(s"DROP TABLE IF EXISTS $db.$t")
      failAfter(countTimeout) {
        assert(new IngestionRunner(spark, cfg).run() === Right(0L))
        assert(new IngestionRunner(spark, cfg).run() === Right(0L))
      }
      assert(spark.table(s"$db.$t").count() === 0L)
    }
  }

  test("an all-tombstone merge returns the staged row count") {
    import spark.implicits._
    val db = "graft_it"; val tbl = s"$db.merge_tomb"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val src1 = tmp("g_mt1_")
    Seq((1, "a", 1), (2, "b", 1), (3, "c", 1))
      .toDF("k", "s", "v").write.mode("overwrite").parquet(src1)
    val boot = IngestionConfig(db, "merge_tomb", src1,
      writeMode = WriteMode.Merge(Seq("k"), deleteOnMatch = Some("v < 0")))
    // only tombstones: each source row deletes its match and inserts
    // nothing, so the stage holds exactly the surviving target rows
    val src2 = tmp("g_mt2_"); val src3 = tmp("g_mt3_")
    Seq((1, "a", -1), (2, "b", -1), (9, "z", -1))
      .toDF("k", "s", "v").write.mode("overwrite").parquet(src2)
    Seq((3, "c", -1)).toDF("k", "s", "v").write.mode("overwrite").parquet(src3)
    failAfter(countTimeout) {
      assert(new IngestionRunner(spark, boot).run() === Right(3L))
      assert(new IngestionRunner(spark, boot.copy(sourcePath = src2)).run() === Right(1L))
      assert(spark.table(tbl).collect().map(_.getInt(0)).toSeq === Seq(3))
      assert(new IngestionRunner(spark, boot.copy(sourcePath = src3)).run() === Right(0L))
    }
    assert(spark.table(tbl).count() === 0L)
  }

  test("a clusterBy column the batch lacks fails before anything is written") {
    val db = "graft_it"
    spark.sql(s"DROP TABLE IF EXISTS $db.region_badc")
    val cfg = IngestionConfig(db, "region_badc", srcDir,
      writeMode = WriteMode.Overwrite, clusterBy = Seq("r_regionkey", "no_such_col"))
    val res = new IngestionRunner(spark, cfg).run()
    assert(res.isLeft && res.swap.exists(_.contains("no_such_col")), res)
    assert(!spark.catalog.tableExists(s"$db.region_badc"))
    // column names resolve as the session does: case-insensitively here
    assert(new IngestionRunner(spark,
      cfg.copy(clusterBy = Seq("R_REGIONKEY"))).run() === Right(5L))
    // a merge keeps target columns its source lacks, so they may cluster
    val narrow = tmp("g_badc_src_")
    spark.table(s"$db.region_badc").select("r_regionkey")
      .write.mode("overwrite").parquet(narrow)
    assert(new IngestionRunner(spark, cfg.copy(sourcePath = narrow,
      writeMode = WriteMode.Merge(Seq("r_regionkey")),
      clusterBy = Seq("r_name"))).run() === Right(5L))
  }

  test("a crash between stage and commit leaves the old version readable (A7 atomicity)") {
    import spark.implicits._
    val db = "graft_it"; val tbl = s"$db.atomic_m"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val src = tmp("g_atomic_src_")
    Seq((1, "a"), (2, "b")).toDF("k", "s").write.mode("overwrite").parquet(src)
    val cfg = IngestionConfig(db, "atomic_m", src,
      writeMode = WriteMode.Merge(Seq("k")))
    val runner = new IngestionRunner(spark, cfg)
    assert(runner.run() === Right(2L))
    val before = spark.table(tbl).collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    // "crash" after staging a rewrite but before the commit: the staged
    // version dir exists on disk, but neither pointer has moved — the
    // table must still read exactly the previous contents
    val staged = runner.stageVersion(cfg,
      Seq((1, "CHANGED"), (9, "NEW")).toDF("k", "s"))
    assert(spark.table(tbl).collect().map(r => r.getInt(0) -> r.getString(1)).toMap
      === before, "uncommitted stage must be invisible")
    // completing the commit makes the staged version the table, atomically
    runner.commitVersion(cfg, staged)
    val after = spark.table(tbl).collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(after === Map(1 -> "CHANGED", 9 -> "NEW"))
  }

  // SET LOCATION repoints only the table root; a partitioned table's
  // catalog partition entries keep absolute paths, so the versioned commit
  // cannot serve it — merges against partitioned targets must take the
  // full-redefine rewrite and still read back correctly.
  test("merge into a partitioned table rewrites through the table definition") {
    import spark.implicits._
    val db = "graft_it"; val tbl = s"$db.part_m"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val src1 = tmp("g_pm1_")
    Seq((1, "a", "x"), (2, "b", "y")).toDF("k", "s", "p")
      .write.mode("overwrite").parquet(src1)
    val base = IngestionConfig(db, "part_m", src1, partitionBy = Seq("p"))
    assert(new IngestionRunner(spark, base.copy(
      writeMode = WriteMode.Overwrite)).run() === Right(2L))
    val src2 = tmp("g_pm2_")
    Seq((2, "UPDATED", "y"), (3, "c", "z")).toDF("k", "s", "p")
      .write.mode("overwrite").parquet(src2)
    assert(new IngestionRunner(spark, base.copy(sourcePath = src2,
      writeMode = WriteMode.Merge(Seq("k")))).run() === Right(3L))
    val rows = spark.table(tbl).collect()
      .map(r => r.getAs[Int]("k") -> r.getAs[String]("s")).toMap
    assert(rows === Map(1 -> "a", 2 -> "UPDATED", 3 -> "c"))
  }

  test("schema inference ignores landing files older than the last commit") {
    import spark.implicits._
    val db = "graft_it"
    spark.sql(s"DROP TABLE IF EXISTS $db.bounded_s")
    val land = tmp("g_bound_land_"); val ck = tmp("g_bound_ck_")
    Seq(("r1", 1L)).toDF("name", "v").coalesce(1).write.mode("append").json(land)
    val cfg = IngestionConfig(db, "bounded_s", land, sourceFormat = "json",
      ingestMode = IngestMode.Stream(ck), targetPath = Some(tmp("g_bound_tgt_")))
    assert(new IngestionRunner(spark, cfg).run() === Right(1L))
    // drop a schema-drifting file BACKDATED to before the schema commit:
    // bounded inference must never look at it, so the tracked schema keeps
    // exactly {name, v} (unbounded inference would have added "sneaky")
    val old = new java.io.File(land, "zz_old.json")
    java.nio.file.Files.write(old.toPath,
      """{"name":"stale","v":9,"sneaky":"x"}""".getBytes("UTF-8"))
    old.setLastModified(System.currentTimeMillis() - 3600 * 1000)
    assert(new IngestionRunner(spark, cfg).run() === Right(1L),
      "the backdated file still streams in (discovery is the checkpoint's job)")
    assert(spark.table(s"$db.bounded_s").columns.toSet === Set("name", "v"),
      "schema must not evolve from a file older than the last commit")
  }

  test("schema tracking rewrites its schema only on change, its watermark on every fresh file") {
    import spark.implicits._
    val db = "graft_it"
    spark.sql(s"DROP TABLE IF EXISTS $db.steady_s")
    val land = tmp("g_steady_land_"); val ck = tmp("g_steady_ck_")
    def land1(name: String) = {
      Seq((name, 1L)).toDF("name", "v").coalesce(1).write.mode("append").parquet(land)
      new java.io.File(land).listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.lastModified).max
    }
    val schemaFile = new java.io.File(ck, "graft_schema.json")
    def watermark =
      new String(java.nio.file.Files.readAllBytes(
        new java.io.File(ck, "graft_schema_mtime").toPath), "UTF-8").trim.toLong
    val cfg = IngestionConfig(db, "steady_s", land,
      ingestMode = IngestMode.Stream(ck), targetPath = Some(tmp("g_steady_tgt_")))
    land1("r1")
    assert(new IngestionRunner(spark, cfg).run() === Right(1L))
    schemaFile.setLastModified(1000L)
    // a later mtime for the second file, so a watermark left at the first
    // file's mtime reads as stale
    Thread.sleep(50)
    val newest = land1("r2")
    assert(new IngestionRunner(spark, cfg).run() === Right(1L))
    assert(schemaFile.lastModified === 1000L, "an unchanged schema was rewritten")
    assert(watermark === newest, "the watermark did not move to the fresh file")
  }

  test("csv source ingests with header + inference (A4 csv path)") {
    val db = "graft_it"
    spark.sql(s"DROP TABLE IF EXISTS $db.region_csv")
    val csvDir = tmp("g_pipe_csv_")
    Tables.load(spark, sfDir, "region").write.mode("overwrite")
      .option("header", "true").csv(csvDir)
    val cfg = IngestionConfig(db, "region_csv", csvDir,
      sourceFormat = "csv", options = Map("header" -> "true"),
      writeMode = WriteMode.Overwrite)
    assert(new IngestionRunner(spark, cfg).run() === Right(5L))
    assert(spark.table(s"$db.region_csv").columns.toSet ===
      Set("r_regionkey", "r_name"))
  }

  test("clusterBy rewrites the table into sorted layout (A11)") {
    val db = "graft_it"
    spark.sql(s"DROP TABLE IF EXISTS $db.region_c")
    val cfg = IngestionConfig(db, "region_c", srcDir,
      writeMode = WriteMode.Overwrite, clusterBy = Seq("r_regionkey"))
    assert(new IngestionRunner(spark, cfg).run() === Right(5L))
    val vals = spark.table(s"$db.region_c").collect().map(_.getInt(0))
    assert(vals.toSet === Set(0, 1, 2, 3, 4))
  }

  // VERDICT r16 #4: derived side tables (partsupp dim, ANN index, zone map)
  // stage through ONE conf-driven root — spark.graft.stageRoot — so a
  // cluster deployment can point every stage at a shared filesystem. The
  // root is also keyed by an input content fingerprint (ADVICE r16): same
  // conf + same inputs → same root; touching an input file → a NEW root,
  // so a regenerated source dir can never be served a stale stage.
  test("stageRoot honors spark.graft.stageRoot and fingerprints inputs") {
    val base = tmp("g_stageroot_")
    val prev = spark.conf.getOption(Versioned.StageRootConf)
    spark.conf.set(Versioned.StageRootConf, base)
    try {
      val r1 = Versioned.stageRoot(spark, "demo", sfDir, Seq("region"))
      assert(r1.toString.startsWith(base.toString),
        s"stage root $r1 must live under the configured base $base")
      assert(r1 === Versioned.stageRoot(spark, "demo", sfDir, Seq("region")),
        "same conf + same inputs must yield the same root (cache stability)")
      // the derived partsupp dim actually stages under the configured base
      val ps = operators.Partsupp.table(spark, sfDir)
      assert(ps.count() > 0)
      val staged = new java.io.File(base).listFiles()
        .map(_.getName).filter(_.startsWith("graft_partsupp_"))
      assert(staged.nonEmpty, "partsupp must stage under spark.graft.stageRoot")
      // input regeneration → different fingerprint → different root
      val src2 = tmp("g_stageroot_src_")
      Tables.load(spark, sfDir, "region").write.mode("overwrite")
        .parquet(s"$src2/region.parquet")
      val a = Versioned.stageRoot(spark, "demo", src2, Seq("region"))
      Tables.load(spark, sfDir, "region").limit(3).write.mode("overwrite")
        .parquet(s"$src2/region.parquet")
      val b = Versioned.stageRoot(spark, "demo", src2, Seq("region"))
      assert(a !== b, "rewriting an input must change the stage root")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(Versioned.StageRootConf, v)
        case None    => spark.conf.unset(Versioned.StageRootConf)
      }
    }
  }
}
