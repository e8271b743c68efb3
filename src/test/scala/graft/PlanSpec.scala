package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the shapes that matter at 100 TB (broadcast
  * choice, scan pushdown, limit pushdown, no accidental cartesians) must not
  * regress silently. */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(key: String): String =
    SparkEntry.queries(key)(spark, sfDir).queryExecution.sparkPlan.toString

  test("join_inner_broadcast broadcasts the dimension side") {
    assert(plan("join_inner_broadcast").contains("BroadcastHashJoin"))
  }

  test("join_inner_shuffle falls back to a shuffle join for large sides") {
    // at sf0.001 both sides fit the broadcast threshold (and broadcasting is
    // the RIGHT plan); disabling it simulates the 100 TB shape
    val conf = spark.conf
    val old = conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("join_inner_shuffle")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p.take(400))
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("filter_pred predicates reach the parquet scan") {
    val p = plan("filter_pred")
    assert(p.contains("PushedFilters: ["), p.take(600))
    assert(!p.replaceAll("(?s)PushedFilters: \\[\\],.*", "X").equals("X"),
      "PushedFilters list is empty")
  }

  test("SQL UDFs inline into the plan — no ScalaUDF/codegen fence") {
    // the point of declarative SQL UDFs over JVM UDFs: the analyzer
    // rewrites the call into its body, so the plan is plain expressions
    val p = plan("fn_sql_udf")
    assert(!p.contains("ScalaUDF"), p.take(600))
    assert(p.contains("HashAggregate"), p.take(600))
  }

  test("pipe-syntax WHERE is pushed into the parquet scan") {
    // |> WHERE before AGGREGATE must reach the scan like classic SQL
    val p = plan("sql_pipe_syntax")
    assert(p.contains("PushedFilters: ["), p.take(600))
    assert(p.contains("GreaterThanOrEqual(l_quantity"), p.take(1200))
  }

  test("scan_json_rescue derives struct and rescue map from ONE text scan") {
    // the documented single-pass claim: two from_json over the same value
    // column must not re-scan the landing files
    val p = SparkEntry.queries("scan_json_rescue")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("FileScan text".r.findAllIn(p).length === 1, p.take(800))
  }

  test("global top-k plans as TakeOrderedAndProject, not a full sort") {
    assert(plan("limit_topk").contains("TakeOrderedAndProject"))
    assert(plan("sim_cosine_topk").contains("TakeOrderedAndProject"))
  }

  test("theta-range join is a broadcast nested loop, never a cartesian") {
    val p = plan("join_theta_range")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(400))
    assert(!p.contains("CartesianProduct"))
  }

  test("LSH dedup ops never plan an unblocked cross join") {
    for (k <- Seq("dedup_minhash", "dedup_simhash", "dedup_embedding",
                  "dedup_ngram_jaccard", "emb_knn_graph", "join_fuzzy")) {
      val p = plan(k)
      assert(!p.contains("CartesianProduct"), s"$k plans a cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$k plans a nested loop")
    }
  }

  test("agg_percentile is partial+final hash aggregation, never holistic") {
    // the builtin percentile() plans an ObjectHashAggregate whose buffer
    // materializes every group value (OOM shape at 100×); the
    // domain-collapse spelling must stay on codegen'd HashAggregate
    val p = plan("agg_percentile")
    assert(!p.contains("ObjectHashAggregate"), p.take(800))
    assert(!p.contains("SortAggregate"), p.take(800))
    assert(p.contains("HashAggregate"))
  }

  test("whole-stage codegen covers the flagship aggregate") {
    val df = SparkEntry.entry(spark)
    df.collect() // run THIS plan so AQE finalizes it (count() plans separately)
    val p = df.queryExecution.executedPlan.toString
    // codegen'd spans print as "*(n) Operator" in the finalized AQE plan
    assert(p.contains("*(") || p.contains("WholeStageCodegen"), p.take(600))
  }

  test("unpivot plans one Expand pass, not a join or union of scans") {
    val p = plan("unpivot_long")
    assert(p.contains("Expand"), p.take(400))
    assert(!p.contains("Join"), "unpivot should not plan a join")
    assert(p.sliding("Scan parquet".length).count(_ == "Scan parquet") <= 1,
      "unpivot should read the table once")
  }

  test("null-safe join stays a hash join (hashable condition)") {
    val p = plan("join_null_safe")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p.take(400))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("BroadcastDimensionsRule broadcasts a registered dim with stats disabled") {
    import org.apache.spark.sql.functions.col
    val conf = spark.conf
    val old = conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // other suites (PipelineSpec via IngestionRunner) may have installed the
    // rule on the shared session — reset to prove the negative first
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations
        .filterNot(_.isInstanceOf[plans.BroadcastDimensionsRule])
    try {
      val li = Tables.load(spark, sfDir, "lineitem")
      val na = Tables.load(spark, sfDir, "nation")
      def joined = li.join(na, li("l_suppkey") % 25 === na("n_nationkey"))
        .select(col("l_orderkey"), col("n_name"))
      // without the rule: size-based broadcast is off -> shuffle join
      assert(!joined.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"))
      plans.BroadcastDimensions.install(spark)
      try
        assert(joined.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"))
      finally
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations
            .filterNot(_.isInstanceOf[plans.BroadcastDimensionsRule])
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("BroadcastDimensionsRule matches catalog tables and respects the size cap") {
    import org.apache.spark.sql.functions.col
    val conf = spark.conf
    val old = conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations
        .filterNot(_.isInstanceOf[plans.BroadcastDimensionsRule])
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_dims")
    spark.sql("DROP TABLE IF EXISTS graft_dims.nation_cat")
    // the in-memory catalog forgets tables between JVMs but their managed
    // dirs survive — clear the stale location or saveAsTable refuses
    locally {
      val wh = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
        "graft_dims.db/nation_cat")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      if (wh.exists()) rm(wh)
    }
    try {
      // a MANAGED (saveAsTable'd) dimension: no path-name convention applies,
      // the rule must recognize it by catalog identity
      Tables.load(spark, sfDir, "nation").write.saveAsTable("graft_dims.nation_cat")
      plans.BroadcastDimensions.register("graft_dims.nation_cat")
      val li = Tables.load(spark, sfDir, "lineitem")
      def joined = li.join(spark.table("graft_dims.nation_cat"),
        li("l_suppkey") % 25 === col("n_nationkey"))
        .select(col("l_orderkey"), col("n_name"))
      assert(!joined.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"))
      plans.BroadcastDimensions.install(spark)
      try {
        assert(joined.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"),
          "registered catalog table must broadcast")
        // size guard: with the cap below the dim's size the rule must NOT
        // inject the hint — a mis-registered big table degrades to shuffle
        val oldCap = plans.BroadcastDimensions.maxBroadcastBytes
        plans.BroadcastDimensions.maxBroadcastBytes = 16L
        try assert(!joined.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"),
          "size cap must veto the broadcast")
        finally plans.BroadcastDimensions.maxBroadcastBytes = oldCap
      } finally
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations
            .filterNot(_.isInstanceOf[plans.BroadcastDimensionsRule])
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("shingle df-cap plans a partial hash aggregate on s, never a window") {
    // the skew guard's whole point: hot-shingle df comes from a map-side-
    // combined partial aggregate (one counter per map task), NOT a
    // Window.partitionBy(s) that ships every occurrence of the hottest
    // shingle to one reducer. Pinned uncached — a cached DF plans as an
    // InMemoryTableScan and would hide the aggregate.
    import spark.implicits._
    val docs = Seq((1L, "en", "a b c d e"), (2L, "en", "b c d e f"))
      .toDF("doc_id", "lang", "text")
    val p = operators.LlmOps.cappedShinglesFrom(docs, persist = false)
      .queryExecution.sparkPlan.toString
    assert(p.contains("partial_count"), p.take(800))
    assert(!p.contains("Window"), s"df-cap must not plan a window:\n${p.take(800)}")
  }

  test("minhash band join never plans a cartesian and caps via aggregate") {
    import spark.implicits._
    val banded = Seq((1L, 0, 42L), (2L, 0, 42L)).toDF("doc_id", "band", "bh")
    val p = operators.LlmOps.minhashCandidatePairs(banded, maxBucket = 64)
      .queryExecution.sparkPlan.toString
    assert(p.contains("partial_count"), p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p.take(800))
  }

  test("sim_ann_persisted probes the committed index, never the raw table") {
    // build-once-serve-many: the query-time plan must scan only the
    // committed index parquet — no signature recompute, no read of the raw
    // embeddings table (even the probe's bucket comes from the index)
    val p = plan("sim_ann_persisted")
    assert(p.contains("graft_ann1_"), p.take(800))
    assert(!p.contains("embeddings.parquet"),
      s"probe re-reads the raw embeddings table:\n${p.take(800)}")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("decontam_check joins the corpus against a broadcast eval set") {
    val p = plan("decontam_check")
    assert(p.contains("BroadcastHashJoin"), p.take(400))
    assert(!p.contains("SortMergeJoin"), "corpus side must not shuffle for decontam")
  }

  test("emb_knn_graph window reuses the join's bucket partitioning") {
    // the top-k window keys on (bk, vec_a); hash(bk) from the self-join
    // already satisfies that clustering, so the scored pair set — the big
    // intermediate — must not be re-shuffled: expected exchanges are the
    // two join inputs plus the presentation sort only
    val p = plan("emb_knn_graph")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 3, s"pair set re-shuffled ($exchanges exchanges):\n${p.take(800)}")
    assert(p.contains("Window"), p.take(400))
  }

  test("window_gap_islands runs both window passes on one user_id shuffle") {
    // lag + running-sum share the user_id partitioning, and the island
    // aggregate's (user, type, grp) clustering is satisfied by hash(user):
    // expected exchanges are the user shuffle and the presentation sort
    val p = plan("window_gap_islands")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"extra shuffle ($exchanges exchanges):\n${p.take(800)}")
  }

  test("corpus_build broadcasts its eval set and never plans a cartesian") {
    val p = plan("corpus_build")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), "capstone plans an unblocked join")
  }

  test("join_runtime_bloom injects a bloom runtime filter on the fact side") {
    // the op builds on its own cloned session with the injection thresholds
    // forced; the filter shows up as might_contain(...) over the fact scan
    val p = plan("join_runtime_bloom")
    assert(p.toLowerCase.contains("might_contain"), p.take(1000))
  }

  test("join_range_binned is a hash equi-join on the bin key, never a loop") {
    val p = plan("join_range_binned")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("sql_tpch_q18's IN-subquery plans as a semi join + top-k, no per-row subquery") {
    val p = plan("sql_tpch_q18")
    assert(p.contains("LeftSemi"), p.take(800))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("sql_tpch_q5 broadcasts both dimension tables") {
    val p = plan("sql_tpch_q5")
    assert(p.sliding("BroadcastHashJoin".length)
      .count(_ == "BroadcastHashJoin") >= 2, p.take(800))
    assert(!p.contains("CartesianProduct"))
  }

  test("agg_bitmap_distinct stays a two-phase hash aggregate (no expand)") {
    // the point of the bitmap layout: no count-distinct Expand rewrite, just
    // partial/final hash aggregates over constant-size chunk state
    val p = plan("agg_bitmap_distinct")
    assert(!p.contains("Expand"), p.take(500))
    assert(p.contains("HashAggregate"), p.take(500))
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    // the runtime complement of join_skew_salted's MANUAL salting: AQE
    // detects the oversized post-shuffle partition and splits it without
    // any query rewrite — the knob a 100 TB deployment leans on first
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled", "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> util.Try(conf.get(k)).toOption).toMap
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128KB")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // planted skew: half of the left side lands on key 0
      val left = spark.range(300000).select(
        when(col("id") % 2 === 0, 0L).otherwise(col("id")).as("k"),
        lpad(col("id").cast("string"), 100, "x").as("pad"))
      val right = spark.range(2000).select(col("id").as("k"), lit(1).as("tag"))
      // aggregate ON the joined frame and run THAT plan: AQE finalizes the
      // join inside this QueryExecution (a write/count would plan separately);
      // summing pad lengths keeps the wide column from being pruned so the
      // skewed partition actually carries its bytes through the shuffle
      val agg = left.join(right, "k").groupBy().agg(sum(length(col("pad"))))
      agg.collect()
      val p = agg.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), p.take(1200))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("join_asof_nearest runs both direction windows on one user shuffle") {
    // the union-window trick: backward and forward click windows share the
    // user_id partitioning, so the whole op costs ONE exchange (plus the
    // output sort) — never a per-purchase range join
    val p = plan("join_asof_nearest")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    val exchanges = p.sliding("Exchange".length).count(_ == "Exchange")
    assert(exchanges <= 2, s"expected window shuffle + output sort only:\n${p.take(900)}")
  }

  test("graph_pagerank iterations never plan a cartesian") {
    val p = plan("graph_pagerank")
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("join_dpp prunes fact partitions at runtime (dynamicpruning subquery)") {
    val p = plan("join_dpp")
    assert(p.toLowerCase.contains("dynamicpruning"), p.take(800))
  }

  test("per-row pipeline ops shuffle only for their output sort") {
    // hash-sample, PII mask, embedding quantization, mixture sampling,
    // repetition scoring, chunking, audio windows: map-side work; the only
    // Exchange allowed is the final presentation ORDER BY.
    for (k <- Seq("sample_hash", "text_pii_mask", "emb_normalize",
        "corpus_mix", "text_repetition", "text_chunk_overlap",
        "mm_audio_window", "emb_dim_reduce")) {
      val p = plan(k)
      val exchanges = "Exchange".r.findAllIn(p).length
      assert(exchanges <= 1, s"$k plans $exchanges exchanges:\n${p.take(600)}")
    }
  }

  test("dedup_embedding_clusters edge generation is a bucketed equi-join, no cartesian") {
    val p = plan("dedup_embedding_clusters")
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(600))
  }

  test("agg_regression is a two-phase hash aggregate (partial map-side combine)") {
    val p = plan("agg_regression")
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(600))
  }

  test("event_path_analysis top-20 plans as TakeOrderedAndProject, not a full sort") {
    assert(plan("event_path_analysis").contains("TakeOrderedAndProject"))
  }

  test("join_temporal_dim is an equi-join on the dim key with a residual range") {
    // the validity-range predicate must ride an equi-join on user_id, never
    // degrade the whole join to a nested-loop over facts × versions
    val p = plan("join_temporal_dim")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(600))
  }

  test("join_multiway_star broadcasts every dim; the fact shuffles exactly once") {
    // executedPlan, not sparkPlan: exchanges are only inserted by
    // EnsureRequirements, which runs after physical planning
    val p = SparkEntry.queries("join_multiway_star")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p).length === 3, p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      p.take(800))
    // the only hash-partitioned exchange is the final aggregate's
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1, p.take(800))
  }

  test("subquery_decorrelate plans as aggregate + equi-join, no per-row subquery") {
    val p = plan("subquery_decorrelate")
    assert(p.contains("HashAggregate"), p.take(600))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(600))
  }

  test("graph_triangles wedge and closure joins stay equi — no nested loop") {
    // rank-ordered wedges keep the closing edge oriented, so closure is an
    // equi-join on (lo, hi); an id-ordered spelling would need an OR of both
    // directions and degrade to a nested loop. The only nested-loop joins
    // allowed are the two 1-row metric cross-joins that assemble the final
    // (n_nodes, n_edges, n_triangles) summary row.
    val p = plan("graph_triangles")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 2, p.take(800))
  }

  test("corpus_curriculum global ranking never funnels through one task") {
    // two-phase ranking (per-stage row_number + broadcast offsets) must keep
    // the plan free of Exchange SinglePartition — the partition-less window
    // spelling would serialize the whole corpus through a single task
    val p = SparkEntry.queries("corpus_curriculum")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SinglePartition"), p.take(800))
  }

  test("dedup_substring span accounting is linear — no pair join anywhere") {
    val p = plan("dedup_substring")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(800))
  }

  test("profile_skew readout is TakeOrderedAndProject over a partial aggregate") {
    val p = plan("profile_skew")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p.take(800))
  }

  test("text_bpe_train explodes pairs AFTER the word-frequency collapse") {
    // the pair explode must consume the distinct-word aggregate, not raw
    // rows: exactly the Generate(sequence) sits above a HashAggregate on w
    val p = plan("text_bpe_train")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    val genIdx = p.indexOf("Generate explode(sequence")
    assert(genIdx >= 0, p.take(1200))
    assert(p.substring(genIdx).contains("HashAggregate"),
      "no aggregate below the pair explode — pairs would expand raw rows")
  }

  test("dq_expectations evaluates every rule in one scan") {
    val p = plan("dq_expectations")
    // a single parquet scan: all rules are counters in one aggregate
    assert("Scan parquet".r.findAllIn(p).length === 1, p.take(800))
  }

  test("corpus_token_budget global cumsum never funnels through one task") {
    val p = SparkEntry.queries("corpus_token_budget")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SinglePartition"), p.take(800))
  }

  test("sql_tpch_q10 broadcasts the nation dim and heaps the top-20") {
    val p = plan("sql_tpch_q10")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
  }

  test("agg_count_min probes the tiny sketch via broadcast") {
    val p = plan("agg_count_min")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
  }

  test("corpus_epoch_shuffle never funnels through one task") {
    // per-(epoch, shard) windows keep every stage hash-partitioned; a
    // global row_number spelling would show Exchange SinglePartition
    val p = SparkEntry.queries("corpus_epoch_shuffle")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SinglePartition"), p.take(800))
  }

  test("sql_tpch_q17 decorrelates the scalar subquery into one aggregate") {
    // a correlated per-row re-scan would appear as a non-decorrelated
    // subquery; Catalyst must rewrite to aggregate + join
    val p = SparkEntry.queries("sql_tpch_q17")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert(!p.contains("scalar-subquery"), p.take(800))
  }

  test("sql_tpch_q21 decorrelates EXISTS/NOT EXISTS into semi + anti joins") {
    val p = plan("sql_tpch_q21")
    assert(p.contains("LeftSemi"), p.take(800))
    assert(p.contains("LeftAnti"), p.take(800))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("sql_tpch_q22 plans the anti join hashed and no correlated re-scan") {
    val p = plan("sql_tpch_q22")
    assert(p.contains("LeftAnti"), p.take(800))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("sql_tpch_q2 decorrelates the per-part min into one aggregate") {
    val p = SparkEntry.queries("sql_tpch_q2")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert(!p.contains("scalar-subquery"), p.take(800))
  }

  test("agg_pivot_dynamic compiles to one hash aggregate, no join") {
    // the distinct-values pass happens at PLAN time; the executed plan must
    // be a plain grouped aggregate over events, not a per-value join
    val p = plan("agg_pivot_dynamic")
    assert(p.contains("HashAggregate"), p.take(500))
    assert(!p.contains("Join"), p.take(500))
  }

  test("sql_tpch_q1 partially aggregates before its only exchange") {
    // two HashAggregate spans (partial + final) around one shuffle — the
    // map-side combine that keeps the exchange O(groups) at any SF
    val p = plan("sql_tpch_q1")
    assert(p.sliding("HashAggregate".length)
      .count(_ == "HashAggregate") >= 2, p.take(800))
  }

  // ---- round-8 TPC-H completion suite ----

  test("sql_tpch_q4 plans EXISTS as a left semi join, no re-scan loop") {
    val p = plan("sql_tpch_q4")
    assert(p.contains("LeftSemi"), p.take(800))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("sql_tpch_q6 pushes all three predicates into the parquet scan") {
    val p = plan("sql_tpch_q6")
    assert(p.contains("PushedFilters: ["), p.take(800))
    assert(p.contains("l_shipdate") && p.contains("l_discount") &&
      p.contains("l_quantity"), p.take(800))
    // scan-dominated query: partial + final aggregate around the exchange
    assert(p.sliding("HashAggregate".length)
      .count(_ == "HashAggregate") >= 2, p.take(800))
  }

  test("sql_tpch_q7 broadcasts nation and region on both join sides") {
    val p = plan("sql_tpch_q7")
    assert(p.sliding("BroadcastHashJoin".length)
      .count(_ == "BroadcastHashJoin") >= 4, p.take(1200))
    assert(!p.contains("CartesianProduct"))
  }

  test("sql_tpch_q13 keeps the outer join and double-aggregates") {
    val p = plan("sql_tpch_q13")
    assert(p.contains("LeftOuter"), p.take(800))
    // two aggregate levels, each partial+final = >=4 HashAggregate spans
    assert(p.sliding("HashAggregate".length)
      .count(_ == "HashAggregate") >= 4, p.take(800))
  }

  test("sql_tpch_q15 joins the argmax row hashed, never a cartesian") {
    val p = plan("sql_tpch_q15")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("sql_tpch_q19 keeps the equi-join hashed with the OR as residual") {
    val p = plan("sql_tpch_q19")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("sql_tpch_q20 plans the IN filter as a left semi join") {
    val p = plan("sql_tpch_q20")
    assert(p.contains("LeftSemi"), p.take(800))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  // ---- round-16 batch ----

  test("agg_kendall_tau self-joins the collapsed cell relation, not rows") {
    // the concordance pair compute must sit ABOVE the (g,x,y) cell
    // aggregate: partial+final HashAggregates below the join, so the
    // self-join input is domain-bounded (<=550 cells/group) at any volume
    val p = plan("agg_kendall_tau")
    assert(p.sliding("HashAggregate".length)
      .count(_ == "HashAggregate") >= 2, p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("agg_shapley_attribution collapses users before the 16-row lattice") {
    // the only non-bounded work is the per-user mask aggregate; the
    // coalition lattice joins 16-row relations (a nested loop THERE is the
    // right plan and cannot grow with volume)
    val p = plan("agg_shapley_attribution")
    assert(p.sliding("HashAggregate".length)
      .count(_ == "HashAggregate") >= 2, p.take(800))
  }

  test("window_adx runs the Wilder recursion join-free") {
    // one bar aggregate + one mapPartitions scan: no join anywhere in the
    // physical plan (a per-step self-join would be quadratic in bars)
    val p = plan("window_adx")
    assert(!p.contains("Join"), p.take(800))
    // the bar rollup carries a struct-max (argmax close), which plans as a
    // SortAggregate — either aggregate flavor is the bounded one-pass shape
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      p.take(800))
  }

  test("join_interval_overlap pairs day-COUNT relations, not rows") {
    // r14 rewrite: the bin equi-join enumerated every overlapping pair
    // (density-squared — 665 s at the sf10 probe); now both sides collapse
    // to per-day counts FIRST, and the |da-db| < 10d pairing is a
    // BroadcastNestedLoopJoin over two CALENDAR-BOUNDED (<= 366-row)
    // relations — the one place a nested loop is the right plan, because
    // its inputs cannot grow with data volume. Pin that the aggregates sit
    // BELOW the join (a_n/b_n count columns feed it), so a regression back
    // to row-level pairing fails here.
    val p = plan("join_interval_overlap")
    assert(p.contains("a_n#") && p.contains("b_n#"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("event_sequence_match runs the whole pattern in one window pass") {
    // running conditional state (filtered MAX over unbounded-preceding)
    // means ONE shuffle on user_id and no self-join per pattern symbol
    val p = plan("event_sequence_match")
    assert(!p.contains("Join"), "sequence match should not plan a join:\n" +
      p.take(800))
    assert(p.contains("Window"), p.take(800))
  }

  test("agg_ks_test runs the CDF window bucket-partitioned, not global") {
    // two-phase cumsum: the running-sum window must be partitioned on the
    // coarse bucket (a partition-less spec would sort ALL points in one
    // task); the only SinglePartition exchanges are the O(1)-row final
    // aggregates
    val p = SparkEntry.queries("agg_ks_test")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("windowspecdefinition(bucket"), p.take(1200))
  }

  test("layout_zorder tiles are dense in BOTH dimensions") {
    // the Z-order property 1-D range clustering lacks: every z div 4096
    // bucket is a 64×64 cell, so per-tile min/max spans bound at 63 on
    // EACH dimension — the file-skipping guarantee for either predicate
    val rows = SparkEntry.queries("layout_zorder")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("max_a") - r.getAs[Long]("min_a") <= 63L)
      assert(r.getAs[Long]("max_b") - r.getAs[Long]("min_b") <= 63L)
    }
    // and the interleave itself round-trips bit-exactly
    assert(graft.functions.MortonCode.interleave(0L, 0L) === 0L)
    assert(graft.functions.MortonCode.interleave(1L, 0L) === 1L)
    assert(graft.functions.MortonCode.interleave(0L, 1L) === 2L)
    assert(graft.functions.MortonCode.interleave(1023L, 1023L) === (1L << 20) - 1)
    val (a, b) = (0x2d5e1L, 0x71a3fL)
    val z = graft.functions.MortonCode.interleave(a, b)
    // de-interleave by collecting alternating bits
    def gather(z: Long, off: Int): Long =
      (0 until 31).foldLeft(0L)((acc, i) =>
        acc | (((z >> (2 * i + off)) & 1L) << i))
    assert(gather(z, 0) === a && gather(z, 1) === b)
  }

  test("graft_morton stays inside whole-stage codegen") {
    graft.functions.MortonCode.register(spark)
    val df = Tables.load(spark, sfDir, "orders")
      .selectExpr("graft_morton(o_custkey % 1024, o_orderkey % 1024) AS z")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(") || p.contains("WholeStageCodegen"), p.take(600))
  }

  test("agg_kmv_intersect sketches collapse before any pair join") {
    // the k-row per-type sketches join; the raw (user, day) elements never
    // cross-join — no cartesian anywhere
    val p = plan("agg_kmv_intersect")
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("sample_reservoir rank filter pushes a WindowGroupLimit") {
    // the rn <= 25 filter must pre-limit each map task's input BEFORE the
    // exchange (two WindowGroupLimit nodes: Partial below the shuffle,
    // Final above) — the two-phase reservoir-merge shape; without it the
    // full table sorts through the window
    val p = SparkEntry.queries("sample_reservoir")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("event_dau_wau expands pairs instead of range-joining") {
    // the trailing-7-day distinct count must come from the 7-row explode +
    // equi-groupBy, never a nested-loop range join over (day BETWEEN …)
    val p = plan("event_dau_wau")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("Generate"), p.take(800))
  }

  test("window_vwap shares one sort across both cumulative frames") {
    // both running sums ride the same (partkey / shipdate…) window spec —
    // exactly one Exchange and one Sort in the executed plan
    val p = SparkEntry.queries("window_vwap")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges\n" +
      p.take(800))
  }

  test("volume-scaled rankings run two-phase, bucket-partitioned") {
    // the ABC cumulatives, the Lorenz/gain/eval deciles: their rank domain
    // (parts, customers, events, docs) GROWS with volume, so each runs the
    // bucket-partitioned two-phase rank, lifted by per-bucket offsets
    // computed as a cumulative window over the tiny counts relation (one
    // row per bucket — r10 rewrite off the O(buckets²) triangular join).
    // Assert the rank/cumsum window is partitioned on the bucket column —
    // the partition-less spelling (which serializes the domain through one
    // task) prints windowspecdefinition WITHOUT the bu partition key. The
    // remaining SinglePartition exchanges are the O(1)-row scalar readouts
    // (totals) and the O(buckets)-row offset window, the documented
    // exceptions.
    for (k <- Seq("agg_abc_class", "agg_abc_xyz", "agg_lorenz",
                  "agg_gain_chart", "corpus_eval_sample")) {
      val p = SparkEntry.queries(k)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(p.contains("windowspecdefinition(bu#"), s"$k: " + p.take(800))
    }
  }

  test("low-cardinality-stratum windows run over collapsed relations") {
    // the r13 sf10 probe caught four keys whose window partitioned on the
    // 3-value returnflag over RAW rows (3 sort partitions × 20 M rows each
    // at sf10: 179-259 s). Pin the scale-safe rewrites:
    //  - agg_weighted_percentile / agg_spearman: a domain-collapse
    //    HashAggregate (keys = stratum + value) sits below the window, so
    //    the window input is bounded by the value domain, not the rows
    //  - profile_stats: per-column unioned aggregates — the 4-way Expand
    //    that a single multi-DISTINCT aggregate plans (row count ×4
    //    through one exchange) must not come back
    //  - sample_stratified: the guarded hash-prefix prune (h < "01")
    //    reaches the plan, so the stratum window sorts ~0.4% of the rows
    val wp = SparkEntry.queries("agg_weighted_percentile")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(wp.contains("HashAggregate(keys=[rf#"), wp.take(800))
    val sp = SparkEntry.queries("agg_spearman")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(sp.contains("HashAggregate(keys=[g#"), sp.take(800))
    val ps = SparkEntry.queries("profile_stats")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!ps.contains("Expand"), ps.take(800))
    // sample_stratified's guard only engages the prune when every stratum
    // keeps >= 100 pruned rows (~25.6k rows/stratum) — plan at sf0.1,
    // where it does; at the tiny sfDir the unpruned fallback is correct
    val ss = SparkEntry.queries("sample_stratified")(spark, "/root/testdata/sf0.1")
      .queryExecution.executedPlan.toString
    assert(ss.contains("< 01"), ss.take(800))
  }

  test("no triangular bucket-offset self-join remains in engine SQL") {
    // the O(buckets²) `bt a LEFT JOIN bt x ON x.bu < a.bu` offset idiom —
    // measured at 27 s / 10k buckets inside agg_percentile and replaced by
    // a cumulative window over the tiny per-bucket counts relation
    // (Relational.scala interpPercentileByGroup pattern) — must not come
    // back in any engine-side SQL. Lint all operator sources for it.
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    import scala.util.Using
    // resolve the source root by walking up from the test JVM's CWD (sbt
    // forks with CWD = baseDirectory, but a different runner must not make
    // the lint silently scan nothing and pass vacuously)
    val root = Iterator.iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .map(_.resolve("src/main/scala/graft"))
      .find(Files.isDirectory(_))
      .getOrElse(fail("cannot locate src/main/scala/graft from " +
        sys.props("user.dir")))
    val (scanned, hits) = Using.resource(Files.walk(root)) { walk =>
      val sources = walk.iterator().asScala
        .filter(_.toString.endsWith(".scala")).toList
      (sources.size, sources.flatMap { p: Path =>
        val src = new String(Files.readAllBytes(p), "UTF-8")
        if (src.contains("< a.bu") || src.contains("x.bu <"))
          Some(p.toString)
        else None
      })
    }
    assert(scanned > 0, s"lint scanned no .scala files under $root — vacuous")
    assert(hits.isEmpty, s"triangular bu-offset join found in: $hits")
  }

  test("agg_multi_distinct plans the multi-count-distinct Expand") {
    // the deliberate contrast to profile_stats: three distinct columns
    // wanted ATOMICALLY per group ride one Expand (row ×3 through one
    // exchange) instead of three scans — pin that Catalyst still picks it
    val p = SparkEntry.queries("agg_multi_distinct")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("Expand"), p.take(800))
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 parquet scan, got $scans\n" + p.take(800))
  }

  test("join_hinted_strategies honors both join-strategy hints") {
    // one branch must plan ShuffledHashJoin, the other SortMergeJoin —
    // if Catalyst ever starts ignoring either hint (or broadcast sneaks
    // in under the sf0.001 threshold) the key loses its point
    val p = SparkEntry.queries("join_hinted_strategies")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), p.take(800))
    assert(p.contains("SortMergeJoin"), p.take(800))
  }

  test("agg_gini ranks inside (prio, price-bucket) partitions") {
    // the r14 sf10 probe caught the direct PARTITION BY prio spelling
    // (3 M-row sorts per task + BIGINT overflow of Σ rank·cents); the
    // two-phase rewrite must keep the bucket term in the window partition
    val p = SparkEntry.queries("agg_gini")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("div 100000"), p.take(1200))
  }

  test("stratum windows stay bucket-partitioned (r14 rewrites)") {
    // window_drawdown's running max and window_spc_rule's sliding frame
    // both partitioned on the 5-value priority over RAW orders before r14
    // (3 M-row sorts per task at sf10); pin the month-bucket term (bu) in
    // drawdown's window and the halo column in spc's engaged two-phase
    val dd = SparkEntry.queries("window_drawdown")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(dd.contains("bu#"), dd.take(1000))
    val spc = SparkEntry.queries("window_spc_rule")(spark, "/root/testdata/sf0.1")
      .queryExecution.executedPlan.toString
    assert(spc.contains("halo#"), spc.take(1000))
    // join_interval_overlap: the day-collapse aggregate sits below the
    // pair join, so the join inputs are the calendar-bounded day relations
    val ov = SparkEntry.queries("join_interval_overlap")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(ov.contains("a_n#") && ov.contains("b_n#"), ov.take(1200))
  }

  test("fn_try_arith failure rows stay rare (TryEval exception pricing)") {
    // Each failing try_* row constructs a Java exception inside TryEval
    // (~10 us/row — the r14 sf10 probe priced an always-failing spelling
    // at 1230 s where the 1-in-1000 shape runs 9.8 s, a 125× tax on code
    // that LOOKS free in the plan). Pin the discipline: the canary
    // failure columns must keep failures ~1-in-1000, never a
    // constant-failure spelling; and tn (12-digit to_number over a
    // <=9-digit partkey at any plausible sf) must never fail at all.
    import org.apache.spark.sql.functions.col
    val df = SparkEntry.queries("fn_try_arith")(spark, sfDir).cache()
    try {
      val n = df.count()
      for (c <- Seq("tm", "ta", "tc")) {
        val fails = df.where(col(c).isNull).count()
        assert(fails * 200 <= n,
          s"$c fails $fails of $n rows — TryEval pricing requires ~1e-3")
      }
      assert(df.where(col("tn").isNull).count() === 0L,
        "tn (try_to_number) must never fail: format must cover partkey")
    } finally df.unpersist()
  }

  test("agg_ols_multi collects all nine moments in one scan") {
    // a single partial→final aggregate pair over one FileScan — the fit is
    // free next to the scan; a second scan or join would break the shape
    val p = SparkEntry.queries("agg_ols_multi")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 parquet scan, got $scans\n" + p.take(800))
  }

  test("sample_systematic ranks inside (priority, key-bucket) partitions") {
    // the local rank window must carry the bucket column — a rank
    // partitioned on o_orderpriority alone serializes n/5 rows through
    // one task at scale (the low-cardinality-stratum shape); the offset
    // window rides the tiny per-bucket counts relation
    val p = SparkEntry.queries("sample_systematic")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("windowspecdefinition(o_orderpriority"), p.take(800))
    assert(p.contains("bk#"), p.take(800))
  }

  test("stochastic/donchian frames share one sort per series") {
    // %K min/max (+ the %D running mean after one re-sort of the derived
    // column) and the Donchian high/low ride the SAME window spec — at
    // most one hash exchange per series key, never one per frame
    for ((k, maxEx) <- Seq("window_stochastic" -> 2, "window_donchian" -> 1)) {
      val p = SparkEntry.queries(k)(spark, sfDir)
        .queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(exchanges <= maxEx,
        s"$k: expected <= $maxEx hash exchanges, got $exchanges\n" +
          p.take(800))
    }
  }

  test("emb_hubness broadcasts the probe side of the pair join") {
    val p = SparkEntry.queries("emb_hubness")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("graph_kcore peels with broadcast semi-joins, no shuffle of edges") {
    // each round's alive set is one row per vertex — it must broadcast
    // onto the cached edge relation, not shuffle it
    val p = SparkEntry.queries("graph_kcore")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("agg_hodges_lehmann pairs the VALUE domain, not rows") {
    // the pairwise-mean relation must be built from the quantized
    // distinct-value aggregate (HashAggregate below the self-join) — a
    // row-level self-join is O(n²) and unrunnable at scale
    val df = SparkEntry.queries("agg_hodges_lehmann")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    val joinIdx = p.indexOf("Join")
    assert(joinIdx >= 0, p.take(400))
    assert(p.indexOf("HashAggregate") >= 0 &&
      p.substring(joinIdx).contains("HashAggregate"),
      "domain-collapse aggregate must sit below the pair join\n" +
        p.take(1200))
  }

  test("corpus_source_cap rank filter pushes a WindowGroupLimit") {
    // rank <= K must pre-limit map-side (the sample_reservoir shape) so
    // the exchange carries O(sources*K) rows at any corpus size
    val p = SparkEntry.queries("corpus_source_cap")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("sim_mips_topk broadcasts the probe and take-orders the top-k") {
    val p = SparkEntry.queries("sim_mips_topk")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(800))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("sim_range_search broadcasts the probe set, never a cartesian") {
    val p = SparkEntry.queries("sim_range_search")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  // the r17 recall pass: candidates must come from the band-bucket
  // EQUI-join (hash-partitioned on the band key) with the saturation
  // filter on an aggregate — no cartesian, no unblocked self-join
  test("minhash-star candidates ride a band equi-join, never a cartesian") {
    val p = operators.LlmOps.minhashStarEdgesFrom(
      Tables.load(spark, sfDir, "documents"), 1)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  // domain-collapsed median: the only window runs over the per-VALUE
  // count relation (bounded by the cent domain), never a per-row sort
  // of a 5-partition event stream
  test("agg_levene_test medians ride the domain-collapsed count relation") {
    val p = SparkEntry.queries("agg_levene_test")(spark, sfDir)
      .queryExecution.sparkPlan.toString
    // the window's child must aggregate (g, x) BEFORE the window, so a
    // HashAggregate appears below the Window in the plan tree
    val wi = p.indexOf("Window")
    assert(wi >= 0 && p.indexOf("HashAggregate", wi) >= 0, p.take(1200))
  }

  // one scan for the min/max, one for the per-segment bucket counts: the
  // global distribution and the cumulative sums come from that aggregate,
  // not from joins that re-inline the scan
  test("privacy_tcloseness scans customer at most twice") {
    val p = plan("privacy_tcloseness")
    assert("Scan parquet".r.findAllIn(p).length <= 2, p.take(1200))
  }

  /** Stages that read a parquet file while `key` is built and written once
    * to the noop sink, and the key's optimized plan. A relation that is
    * materialized once is scanned in one stage, however many references
    * read it. */
  private def scanStagesOf(key: String) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}
    val sc = spark.sparkContext
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add(e.stageInfo)
    }
    // a build of the same key earlier in the suite can leave its cache
    // filled, and a filled cache is read with no scan: start from none
    Mats.release()
    org.apache.spark.GraftBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val df = SparkEntry.queries(key)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      org.apache.spark.GraftBus.drain(sc)
      val scans = stages.toArray(Array.empty[StageInfo])
        .count(_.rddInfos.exists(_.name == "FileScanRDD"))
      (scans, df.queryExecution.optimizedPlan)
    } finally { sc.removeSparkListener(listener); Mats.release() }
  }

  // the keys whose multiply-referenced intermediate is materialized (a
  // checkpoint or a cache, per MATS.md): each reads the materialized
  // relation, and its one input table is scanned only by the relation's
  // own plan, at every scale. text_heaps_fit's prefix table reads
  // documents in two scan stages of its own (three references: the word
  // explode, the per-doc token counts and the max doc id).
  for ((key, cached, scanStages) <- Seq(
      ("agg_cov_matrix", false, 1), ("agg_jackknife", false, 1),
      ("agg_jonckheere", false, 1), ("agg_kendall_w", false, 1),
      ("agg_kmv_difference", true, 1), ("agg_kruskal_wallis", false, 1),
      ("agg_lorenz", false, 1),
      ("agg_raking_ipf", false, 1), ("agg_spearman", true, 1),
      ("dedup_minhash_md5", false, 1), ("event_churn_hazard", false, 1),
      ("text_heaps_fit", false, 2))) {
    test(s"$key reads its materialized relation and scans its input once") {
      import org.apache.spark.sql.execution.LogicalRDD
      import org.apache.spark.sql.execution.columnar.InMemoryRelation
      val (scans, lp) = scanStagesOf(key)
      val mats = lp.collectWithSubqueries {
        case r: LogicalRDD if !cached => r
        case r: InMemoryRelation if cached => r
      }
      assert(mats.nonEmpty, lp.treeString.take(1200))
      assert(scans === scanStages, lp.treeString.take(1200))
    }
  }
}
