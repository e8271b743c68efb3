package graft.operators

import graft.Mats.MatOps
import graft.{Op, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph algorithms over the supply network (customer nation →
  * supplier nation edges derived from the order/lineitem fact), the relation
  * shape the reference's delegated Spark surface leaves to the engine
  * (/root/reference/.devcontainer/src/my_datapipeline/framework.py:154-168
  * batch read → transform → write; graph iteration is a transform).
  *
  * `graph_components` runs large-star/small-star contraction (O(log n)
  * rounds — see [[LlmOps.connectedComponents]]); the BFS/SSSP keys run
  * driver-coordinated FIXPOINT loops — the standard Spark
  * iterative-graph shape (what GraphX/Pregel do under the hood): each
  * iteration is one shuffle-free broadcast-or-hash join plus a map-side
  * combinable `min` aggregate, lineage is cut with `localCheckpoint` so the
  * plan does not grow unboundedly, and convergence is detected with a ONE-ROW
  * monotone aggregate (`sum(comp)` / `(count, sum)` of hops) rather than a
  * row-level diff join. At 100 TB the same loop holds: the label/dist
  * relation shuffles on vertex id once per round, the edge relation is
  * re-used from cache, and BFS/SSSP rounds are inherently bounded by the
  * hop radius of interest (a BFS MUST touch frontier k before k+1 — there
  * is no sublinear-round spelling to port, unlike components).
  *
  * Determinism: the edge set is an exact integer-count derivation (`w % 7`
  * sparsification keeps a nontrivial component structure), min-label /
  * min-hop fixpoints have a unique solution, so ANY execution order, engine,
  * or cluster size produces identical output. The DuckDB oracle replays the
  * fixpoint declaratively as a recursive CTE — same unique solution.
  */
object GraphOps {
  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Sparsified undirected supply-graph edges (src, dst), symmetric, in
    * session scope: nine graph keys read them, and the 4-table fact join
    * that derives them is most of each cheap graph key's wall. The edge set
    * has one row per nation pair, tiny at any scale. */
  private[operators] def supplyEdges(s: SparkSession, d: String): DataFrame = {
    val pairs = t(s, d, "customer")
      .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
      .join(t(s, d, "lineitem"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").cast("long").as("a"),
        col("s_nationkey").cast("long").as("b"))
      .agg(count(lit(1)).as("w"))
      .where(col("w") % 7 === 0 && col("a") =!= col("b"))
    val und = pairs
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
    // both edge directions from ONE pass over und: the union spelling
    // referenced und twice, and CTE-style inlining re-ran the whole
    // 4-table fact join + distinct once per direction while the cache
    // materialized (2 scans of each fact table in the r18 before-plans)
    und.select(explode(array(
        struct(col("u").as("src"), col("v").as("dst")),
        struct(col("v").as("src"), col("u").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .sharedCache()
  }

  private def nodes(s: SparkSession, d: String): DataFrame =
    t(s, d, "nation").select(col("n_nationkey").cast("long").as("vid"))

  private val oracleEdgeCte =
    """pairs AS (
      |  SELECT CAST(c_nationkey AS BIGINT) AS a,
      |         CAST(s_nationkey AS BIGINT) AS b, count(*) AS w
      |  FROM customer
      |  JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY 1, 2),
      |und AS (
      |  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
      |  FROM pairs WHERE w % 7 = 0 AND a <> b),
      |edges AS (
      |  SELECT u AS src, v AS dst FROM und
      |  UNION SELECT v, u FROM und)""".stripMargin

  // Connected components by large-star/small-star contraction
  // ([[LlmOps.connectedComponents]] — the same machinery that labels the
  // dedup similarity graph): O(log n) driver-coordinated rounds instead of
  // the O(graph diameter) rounds plain min-label propagation needs — the
  // difference between ~40 and ~10 sequential shuffle rounds on a 100 TB
  // long-diameter graph. The fixpoint label is still the minimum vertex id
  // reachable from each vertex (unique solution, engine-independent);
  // isolated vertices never appear in the edge relation, so they re-enter
  // at the output boundary as their own singleton component via the
  // left join + coalesce. Round bound on a planted path graph (the shape
  // where propagation degenerates to n rounds) is asserted in GraphOpsSpec.
  private val graphComponents = Op(
    "graph_components",
    (s, d) => {
      val labels = LlmOps.connectedComponents(
        supplyEdges(s, d).select(col("src").as("u"), col("dst").as("v")))
      nodes(s, d).join(labels, col("vid") === col("node"), "left")
        .select(col("vid"), coalesce(col("lab"), col("vid")).as("comp"))
        .orderBy("vid")
    },
    Some(s"""WITH RECURSIVE $oracleEdgeCte,
             nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS vid FROM nation),
             walk(vid, m) AS (
               SELECT vid, vid FROM nodes
               UNION
               SELECT e.dst, w.m FROM walk w JOIN edges e ON e.src = w.vid)
             SELECT vid, CAST(min(m) AS BIGINT) AS comp
             FROM walk GROUP BY vid ORDER BY vid"""))

  // Single-source BFS hop counts (source vertex 0) by iterative edge
  // relaxation: dist(v) = min(dist(v), 1 + min over in-neighbours). Each
  // round is one join + one min-aggregate; convergence when the
  // (reached-count, hop-sum) pair stops changing — both monotone, so one
  // tiny two-column aggregate per round. Unreachable vertices are dropped
  // at the output boundary (their dist never materializes — no sentinel
  // infinities to diverge on).
  private val graphBfsHops = Op(
    "graph_bfs_hops",
    (s, d) => {
      val e = supplyEdges(s, d)
      val n = nodes(s, d)
      var dist = n.where(col("vid") === 0).withColumn("hops", lit(0L))
        .trackedCkpt()
      var prev = (-1L, -1L)
      var cur = (1L, 0L)
      var it = 0
      while (cur != prev && it < 30) {
        val relaxed = e.join(dist, e("src") === dist("vid"))
          .groupBy(e("dst").as("nv")).agg((min(col("hops")) + 1L).as("nh"))
        dist = dist.join(relaxed, dist("vid") === col("nv"), "full")
          .select(coalesce(col("vid"), col("nv")).as("vid"),
            least(coalesce(col("hops"), col("nh")),
              coalesce(col("nh"), col("hops"))).as("hops"))
          // lazy: the convergence aggregate right below is the
          // materializing action (eager would run a second, redundant
          // job per round — the connectedComponents discipline)
          .trackedCkpt()
        prev = cur
        val r = dist.agg(count(lit(1)), sum("hops")).head()
        cur = (r.getLong(0), r.getLong(1))
        it += 1
      }
      dist.orderBy("vid")
    },
    Some(s"""WITH RECURSIVE $oracleEdgeCte,
             walk(vid, h) AS (
               SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
               UNION
               SELECT e.dst, w.h + 1
               FROM walk w JOIN edges e ON e.src = w.vid
               WHERE w.h < 30)
             SELECT vid, CAST(min(h) AS BIGINT) AS hops
             FROM walk GROUP BY vid ORDER BY vid"""))

  // Link prediction by common-neighbor counting + Jaccard: candidate pairs
  // come from a self-join of the adjacency on the SHARED NEIGHBOR — the
  // wedge join (u—w—v), never a node cross product — so work is Σ_w deg(w)²,
  // bounded by local degree exactly like the triangle count's basket cap.
  // Known edges are anti-joined out; the Jaccard score divides two exact
  // integers (|Γu∩Γv| / |Γu|+|Γv|−|∩|) once, rounded — engine-stable.
  private val graphLinkPredict = Op(
    "graph_link_predict",
    (s, d) => {
      val e = supplyEdges(s, d)
      val deg = e.groupBy(col("src").as("n")).agg(count(lit(1)).as("deg"))
      val wedges = e.select(col("src").as("u"), col("dst").as("w"))
        .join(e.select(col("src").as("w"), col("dst").as("v")), "w")
        .where(col("u") < col("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("cn"))
      val known = e.where(col("src") < col("dst"))
        .select(col("src").as("u"), col("dst").as("v"))
      wedges.join(known, Seq("u", "v"), "left_anti")
        .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
        .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
        .select(col("u"), col("v"), col("cn"),
          round(col("cn").cast("double") /
            (col("du") + col("dv") - col("cn")), 4).as("jaccard"))
        .orderBy("u", "v")
    },
    Some(s"""WITH $oracleEdgeCte,
             deg AS (SELECT src AS n, count(*) AS deg FROM edges GROUP BY src),
             wedges AS (
               SELECT e1.src AS u, e2.dst AS v,
                      CAST(count(*) AS BIGINT) AS cn
               FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
               WHERE e1.src < e2.dst
               GROUP BY 1, 2),
             known AS (SELECT src AS u, dst AS v FROM edges WHERE src < dst)
             SELECT w.u, w.v, w.cn,
                    round(CAST(w.cn AS DOUBLE)
                          / (du.deg + dv.deg - w.cn), 4) AS jaccard
             FROM wedges w
             LEFT JOIN known k ON w.u = k.u AND w.v = k.v
             JOIN deg du ON w.u = du.n
             JOIN deg dv ON w.v = dv.n
             WHERE k.u IS NULL
             ORDER BY w.u, w.v"""))

  // Per-node clustering coefficient: 2·triangles(v) / (deg(v)·(deg(v)−1))
  // — the local-density metric behind community/spam detection (a node
  // whose neighbours all know each other scores 1). Triangles enumerate
  // once in canonical a<b<c orientation (two hash equi-joins over the
  // u<v edge list — the graph_triangles wedge shape, never all-pairs),
  // then each corner credits its node; degrees come from one aggregate
  // over the symmetric edges. Exact integer counts; the single division
  // rounds to 6 dp. deg<2 nodes are excluded (coefficient undefined).
  private val graphClusteringCoeff = Op(
    "graph_clustering_coeff",
    (s, d) => {
      val el = supplyEdges(s, d).where(col("src") < col("dst"))
        .select(col("src").as("u"), col("dst").as("v"))
      val tri = el.as("e1")
        .join(el.as("e2"), col("e1.v") === col("e2.u"))
        .join(el.as("e3"),
          col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
        .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
      val triPerNode = tri.select(col("a").as("vid"))
        .unionAll(tri.select(col("b").as("vid")))
        .unionAll(tri.select(col("c").as("vid")))
        .groupBy("vid").agg(count(lit(1)).as("tri"))
      val deg = supplyEdges(s, d).groupBy(col("src").as("vid"))
        .agg(count(lit(1)).as("deg"))
      deg.where(col("deg") >= 2)
        .join(broadcast(triPerNode), Seq("vid"), "left")
        .select(col("vid"), col("deg"),
          coalesce(col("tri"), lit(0L)).as("triangles"),
          round(lit(2.0) * coalesce(col("tri"), lit(0L)) /
            (col("deg") * (col("deg") - 1)), 6).as("coeff"))
        .orderBy("vid")
    },
    Some(s"""WITH $oracleEdgeCte,
             el AS (SELECT u, v FROM und),
             tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
                     FROM el e1
                     JOIN el e2 ON e1.v = e2.u
                     JOIN el e3 ON e3.u = e1.u AND e3.v = e2.v),
             tpn AS (SELECT vid, CAST(COUNT(*) AS BIGINT) AS tri
                     FROM (SELECT a AS vid FROM tri
                           UNION ALL SELECT b FROM tri
                           UNION ALL SELECT c FROM tri) x
                     GROUP BY vid),
             deg AS (SELECT src AS vid, CAST(COUNT(*) AS BIGINT) AS deg
                     FROM edges GROUP BY src)
             SELECT d.vid, d.deg,
                    CAST(COALESCE(t.tri, 0) AS BIGINT) AS triangles,
                    round(2.0 * COALESCE(t.tri, 0) /
                          (d.deg * (d.deg - 1)), 6) AS coeff
             FROM deg d LEFT JOIN tpn t ON d.vid = t.vid
             WHERE d.deg >= 2
             ORDER BY d.vid"""))

  /** Weighted symmetric edges: wt ∈ [1,10] derived deterministically from
    * the pair's traffic count (min over the two directions before the
    * undirected dedup, so both engines see one canonical weight). */
  private def weightedEdges(s: SparkSession, d: String): DataFrame = {
    val pairs = t(s, d, "customer")
      .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
      .join(t(s, d, "lineitem"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").cast("long").as("a"),
        col("s_nationkey").cast("long").as("b"))
      .agg(count(lit(1)).as("w"))
      .where(col("w") % 7 === 0 && col("a") =!= col("b"))
    val und = pairs
      .groupBy(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .agg(expr("(min(w) div 7) % 10 + 1").as("wt"))
    // one pass for both directions (see supplyEdges): the union spelling
    // re-ran the 4-table fact join once per direction
    und.select(explode(array(
        struct(col("u").as("src"), col("v").as("dst"), col("wt")),
        struct(col("v").as("src"), col("u").as("dst"), col("wt")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.wt").as("wt"))
  }

  private val oracleWeightedEdgeCte =
    """pairs AS (
      |  SELECT CAST(c_nationkey AS BIGINT) AS a,
      |         CAST(s_nationkey AS BIGINT) AS b, count(*) AS w
      |  FROM customer
      |  JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY 1, 2),
      |und AS (
      |  SELECT least(a, b) AS u, greatest(a, b) AS v,
      |         (CAST(min(w) AS BIGINT) // 7) % 10 + 1 AS wt
      |  FROM pairs WHERE w % 7 = 0 AND a <> b GROUP BY 1, 2),
      |wedges AS (
      |  SELECT u AS src, v AS dst, wt FROM und
      |  UNION ALL SELECT v, u, wt FROM und)""".stripMargin

  // Single-source WEIGHTED shortest paths (Bellman-Ford by rounds): each
  // round relaxes every edge out of the current frontier — one hash join
  // + one min-aggregate, the same per-round cost as BFS but with
  // dist + wt instead of hops + 1. Positive integer weights ⇒ the min-dist
  // fixpoint is unique, so any execution order (or cluster size) lands on
  // identical output; convergence is the same monotone (reached-count,
  // dist-sum) scalar pair as graph_bfs_hops, rounds ≤ V−1. The oracle
  // replays the relaxation as a bounded recursive walk (dist ≤ V·max_wt
  // caps the state space; UNION dedups exact (vid, dist) pairs).
  private val graphSsspWeighted = Op(
    "graph_sssp_weighted",
    (s, d) => {
      val e = weightedEdges(s, d).trackedCache()
      var dist = nodes(s, d).where(col("vid") === 0)
        .withColumn("dist", lit(0L)).trackedCkpt()
      var prev = (-1L, -1L)
      var cur = (1L, 0L)
      var it = 0
      while (cur != prev && it < 40) {
        val relaxed = e.join(dist, e("src") === dist("vid"))
          .groupBy(e("dst").as("nv"))
          .agg(min(col("dist") + col("wt")).as("nd"))
        dist = dist.join(relaxed, dist("vid") === col("nv"), "full")
          .select(coalesce(col("vid"), col("nv")).as("vid"),
            least(coalesce(col("dist"), col("nd")),
              coalesce(col("nd"), col("dist"))).as("dist"))
          // lazy: materialized by the convergence aggregate below
          .trackedCkpt()
        prev = cur
        val r = dist.agg(count(lit(1)), sum("dist")).head()
        cur = (r.getLong(0), r.getLong(1))
        it += 1
      }
      dist.orderBy("vid")
    },
    Some(s"""WITH RECURSIVE $oracleWeightedEdgeCte,
             walk(vid, dist) AS (
               SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
               UNION
               SELECT e.dst, w.dist + e.wt
               FROM walk w JOIN wedges e ON e.src = w.vid
               WHERE w.dist + e.wt <= 250)
             SELECT vid, CAST(min(dist) AS BIGINT) AS dist
             FROM walk GROUP BY vid ORDER BY vid"""))

  // Degree distribution — the first diagnostic run on any production
  // graph (power-law check, max-degree skew estimate for join salting).
  // Two partial-aggregated shuffles: degree per vertex, then vertex count
  // per degree; both combine map-side, so at 100 TB the exchanges carry
  // one row per vertex then one per distinct degree.
  private val graphDegreeDist = Op(
    "graph_degree_dist",
    (s, d) => {
      val deg = supplyEdges(s, d)
        .groupBy(col("src").as("vid")).agg(count(lit(1)).as("degree"))
      deg.groupBy("degree").agg(count(lit(1)).as("n_nodes"))
        .orderBy("degree")
    },
    Some(s"""WITH $oracleEdgeCte,
             deg AS (SELECT src AS vid, CAST(count(*) AS BIGINT) AS degree
                     FROM edges GROUP BY src)
             SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
             FROM deg GROUP BY degree ORDER BY degree"""))

  // Edge reciprocity over the DIRECTED trade graph (buyer-nation →
  // supplier-nation, before the symmetrization the other graph keys use):
  // the share of directed edges whose reverse also exists — the
  // macro-level "is trade mutual" diagnostic. One directed-edge rollup,
  // one self-join on the REVERSED key (equi-join — at any scale this is a
  // hash join on (b, a)), exact counts, one division.
  private val graphReciprocity = Op(
    "graph_reciprocity",
    (s, d) => {
      for (n <- Seq("customer", "orders", "lineitem", "supplier"))
        t(s, d, n).createOrReplaceTempView(s"${n}_rc")
      s.sql("""
        WITH pairs AS (
               SELECT CAST(c_nationkey AS BIGINT) AS a,
                      CAST(s_nationkey AS BIGINT) AS b, count(*) AS w
               FROM customer_rc
               JOIN orders_rc ON c_custkey = o_custkey
               JOIN lineitem_rc ON l_orderkey = o_orderkey
               JOIN supplier_rc ON l_suppkey = s_suppkey
               GROUP BY 1, 2),
             de AS (SELECT a, b FROM pairs WHERE w % 7 = 0 AND a <> b),
             r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
                          CAST(SUM(CASE WHEN x.b IS NOT NULL
                                        THEN 1 ELSE 0 END) AS BIGINT)
                            AS n_recip
                   FROM de LEFT JOIN de x
                     ON de.a = x.b AND de.b = x.a)
        SELECT n_edges, n_recip,
               round(CAST(n_recip AS DOUBLE) / n_edges, 6)
                 AS reciprocity
        FROM r""")
    },
    Some("""WITH pairs AS (
                   SELECT CAST(c_nationkey AS BIGINT) AS a,
                          CAST(s_nationkey AS BIGINT) AS b, count(*) AS w
                   FROM customer
                   JOIN orders ON c_custkey = o_custkey
                   JOIN lineitem ON l_orderkey = o_orderkey
                   JOIN supplier ON l_suppkey = s_suppkey
                   GROUP BY 1, 2),
                 de AS (SELECT a, b FROM pairs
                        WHERE w % 7 = 0 AND a <> b),
                 r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
                              CAST(SUM(CASE WHEN x.b IS NOT NULL
                                            THEN 1 ELSE 0 END) AS BIGINT)
                                AS n_recip
                       FROM de LEFT JOIN de x
                         ON de.a = x.b AND de.b = x.a)
            SELECT n_edges, n_recip,
                   round(CAST(n_recip AS DOUBLE) / n_edges, 6)
                     AS reciprocity
            FROM r"""))

  // Degree assortativity — Pearson correlation of endpoint degrees over
  // the undirected edge set: do hubs link to hubs (positive) or to leaves
  // (negative)? Degrees join onto the edges by two hash joins (the degree
  // relation is one row per vertex — broadcast-sized for any real graph's
  // vertex count relative to edges); the five correlation moments are
  // exact BIGINT sums, combined once in float64.
  private val graphAssortativity = Op(
    "graph_assortativity",
    (s, d) => {
      val e = supplyEdges(s, d)
      val deg = e.groupBy("src").agg(count(lit(1)).cast("long").as("deg"))
      val j = e.join(broadcast(deg.withColumnRenamed("src", "s1")
            .withColumnRenamed("deg", "dx")), col("src") === col("s1"))
        .join(broadcast(deg.withColumnRenamed("src", "s2")
            .withColumnRenamed("deg", "dy")), col("dst") === col("s2"))
        .select(col("dx"), col("dy"))
      j.agg(count(lit(1)).cast("long").as("n"),
          sum("dx").cast("long").as("sx"), sum("dy").cast("long").as("sy"),
          sum(col("dx") * col("dx")).cast("long").as("sxx"),
          sum(col("dy") * col("dy")).cast("long").as("syy"),
          sum(col("dx") * col("dy")).cast("long").as("sxy"))
        .selectExpr("n",
          """round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * sqrt(CAST(n AS DOUBLE) * syy
                       - CAST(sy AS DOUBLE) * sy)), 6) AS assortativity""")
    },
    Some(s"""WITH $oracleEdgeCte,
                 deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
                         FROM edges GROUP BY src),
                 j AS (SELECT da.deg AS dx, db.deg AS dy
                       FROM edges e
                       JOIN deg da ON e.src = da.src
                       JOIN deg db ON e.dst = db.src),
                 m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                              CAST(SUM(dx) AS BIGINT) AS sx,
                              CAST(SUM(dy) AS BIGINT) AS sy,
                              CAST(SUM(dx * dx) AS BIGINT) AS sxx,
                              CAST(SUM(dy * dy) AS BIGINT) AS syy,
                              CAST(SUM(dx * dy) AS BIGINT) AS sxy
                       FROM j)
            SELECT n,
                   round((CAST(n AS DOUBLE) * sxy
                          - CAST(sx AS DOUBLE) * sy)
                         / (sqrt(CAST(n AS DOUBLE) * sxx
                                 - CAST(sx AS DOUBLE) * sx)
                            * sqrt(CAST(n AS DOUBLE) * syy
                                   - CAST(sy AS DOUBLE) * sy)), 6)
                     AS assortativity
            FROM m"""))

  // 2-core membership by 4-round degeneracy peeling: each round drops
  // vertices whose degree over the SURVIVING subgraph fell below 2, then
  // recounts. The round count is a fixed part of the operator's contract
  // (a bounded-peel, like graph_bfs_hops' bounded radius) so both engines
  // run the identical algebra — no fixpoint detection to diverge on; four
  // rounds fully peels every tree tail of depth ≤ 4 hanging off the core.
  // Each round is one semi-join of edges against the alive set (alive is
  // one row per vertex — broadcast-sized at any real scale) plus one
  // map-side-combinable degree count; lineage stays 4 joins deep, no
  // driver loop state. Output: every nation vertex with its post-peel
  // core membership flag (isolated vertices never enter the edge relation
  // and publish 0 via the left join).
  private val graphKcore = Op(
    "graph_kcore",
    (s, d) => {
      // one edge-derivation pass, not one per peel round: the 4-table join
      // over the fact is the expensive part (4 full re-derivations cost
      // 42 s vs 10 s at sf10) — checkpoint cuts the loop's lineage to the
      // ~|V|-row cached edge relation, the graph_bfs_hops discipline
      val edges = supplyEdges(s, d).trackedCkpt()
      val alive = peelSurvivors(edges, 2)
      // the survivor set is ≤|V| rows but reaches this join as a stats-less
      // LogicalRDD (lineage was cut per peel round), so auto-broadcast
      // can't fire — hint it or the readout falls to SortMergeJoin
      nodes(s, d)
        .join(broadcast(alive.withColumn("in_core", lit(1))),
          Seq("vid"), "left")
        .select(col("vid"),
          coalesce(col("in_core"), lit(0)).cast("int").as("in_core"))
        .orderBy("vid")
    },
    Some(s"""WITH $oracleEdgeCte,
             a0 AS (SELECT DISTINCT src AS vid FROM edges),
             e1 AS (SELECT e.src, e.dst FROM edges e
                    JOIN a0 s ON e.src = s.vid JOIN a0 t ON e.dst = t.vid),
             a1 AS (SELECT src AS vid FROM e1
                    GROUP BY src HAVING count(*) >= 2),
             e2 AS (SELECT e.src, e.dst FROM edges e
                    JOIN a1 s ON e.src = s.vid JOIN a1 t ON e.dst = t.vid),
             a2 AS (SELECT src AS vid FROM e2
                    GROUP BY src HAVING count(*) >= 2),
             e3 AS (SELECT e.src, e.dst FROM edges e
                    JOIN a2 s ON e.src = s.vid JOIN a2 t ON e.dst = t.vid),
             a3 AS (SELECT src AS vid FROM e3
                    GROUP BY src HAVING count(*) >= 2),
             e4 AS (SELECT e.src, e.dst FROM edges e
                    JOIN a3 s ON e.src = s.vid JOIN a3 t ON e.dst = t.vid),
             a4 AS (SELECT src AS vid FROM e4
                    GROUP BY src HAVING count(*) >= 2),
             nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS vid
                       FROM nation)
             SELECT n.vid,
                    CAST(CASE WHEN a4.vid IS NOT NULL THEN 1 ELSE 0 END
                      AS INT) AS in_core
             FROM nodes n LEFT JOIN a4 ON n.vid = a4.vid
             ORDER BY n.vid"""))

  /** 4-round k-peel survivors over a checkpointed edge relation (the
    * graph_kcore inner loop, parameterized by k). */
  private def peelSurvivors(edges: DataFrame, k: Int): DataFrame = {
    var alive = edges.select(col("src").as("vid")).distinct()
    for (_ <- 1 to 4) {
      val e2 = edges
        .join(broadcast(alive.withColumnRenamed("vid", "sv")),
          col("src") === col("sv"))
        .join(broadcast(alive.withColumnRenamed("vid", "dv")),
          col("dst") === col("dv"))
        .select("src", "dst")
      alive = e2.groupBy(col("src").as("vid"))
        .agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k)
        .select("vid")
        // lineage cut per round: each round references the previous
        // round's survivor set TWICE (both join sides), so an uncut plan
        // doubles per round — 2^4 copies of round 1 by the readout (374
        // Exchange nodes in the r18 graph_core_decompose before-plan).
        // Lazy localCheckpoint: the ~|V|-row set materializes once on
        // first downstream use, one job per peel, and the plan stays
        // O(rounds) (the connectedComponents loop discipline).
        .trackedCkpt()
    }
    alive
  }

  /** Unrolled 4-round k-peel as DuckDB CTEs named `<p>4` over `edges`. */
  private def peelCtes(p: String, k: Int): String = {
    val rounds = (1 to 4).map { i =>
      val prev = if (i == 1) s"${p}0" else s"$p${i - 1}"
      s"""${p}e$i AS (SELECT e.src, e.dst FROM edges e
         JOIN $prev s ON e.src = s.vid JOIN $prev t ON e.dst = t.vid),
         $p$i AS (SELECT src AS vid FROM ${p}e$i
                  GROUP BY src HAVING count(*) >= $k)"""
    }.mkString(",\n")
    s"""${p}0 AS (SELECT DISTINCT src AS vid FROM edges),
       $rounds"""
  }

  // Core decomposition (bounded): each vertex's core NUMBER capped at 3 —
  // the max k ∈ {1,2,3} whose 4-round k-peel it survives (0 = isolated).
  // The coreness label orders dedup/sampling priority in graph-shaped
  // corpora the way quality scores do in text ones. Three independent
  // bounded peels over ONE checkpointed edge relation (each round a
  // broadcast semi-join + map-side degree count); the label assembles from
  // nested left joins. Same bounded-algebra contract as graph_kcore: both
  // engines run identical round counts, no fixpoint detection.
  private val graphCoreDecompose = Op(
    "graph_core_decompose",
    (s, d) => {
      val edges = supplyEdges(s, d).trackedCkpt()
      // stats-less survivor sets (see graph_kcore): broadcast each ≤|V|-row
      // label relation explicitly so the assembly stays exchange-free
      val c1 = broadcast(peelSurvivors(edges, 1).withColumn("k1", lit(1)))
      val c2 = broadcast(peelSurvivors(edges, 2).withColumn("k2", lit(1)))
      val c3 = broadcast(peelSurvivors(edges, 3).withColumn("k3", lit(1)))
      nodes(s, d)
        .join(c1, Seq("vid"), "left").join(c2, Seq("vid"), "left")
        .join(c3, Seq("vid"), "left")
        .select(col("vid"),
          (coalesce(col("k1"), lit(0)) + coalesce(col("k2"), lit(0)) +
            coalesce(col("k3"), lit(0))).cast("int").as("core"))
        .orderBy("vid")
    },
    Some(s"""WITH $oracleEdgeCte,
             ${peelCtes("ca", 1)},
             ${peelCtes("cb", 2)},
             ${peelCtes("cc", 3)},
             nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS vid
                       FROM nation)
             SELECT n.vid,
                    CAST((CASE WHEN ca4.vid IS NOT NULL THEN 1 ELSE 0 END)
                       + (CASE WHEN cb4.vid IS NOT NULL THEN 1 ELSE 0 END)
                       + (CASE WHEN cc4.vid IS NOT NULL THEN 1 ELSE 0 END)
                      AS INT) AS core
             FROM nodes n
             LEFT JOIN ca4 ON n.vid = ca4.vid
             LEFT JOIN cb4 ON n.vid = cb4.vid
             LEFT JOIN cc4 ON n.vid = cc4.vid
             ORDER BY n.vid"""))

  val ops: Seq[Op] = Seq(graphComponents, graphBfsHops, graphLinkPredict,
    graphClusteringCoeff, graphSsspWeighted, graphDegreeDist,
    graphReciprocity, graphAssortativity, graphKcore, graphCoreDecompose)
}
