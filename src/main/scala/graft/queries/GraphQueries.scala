package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{AssocOps, AudioOps, ContaminationOps, DedupOps, EstimatorOps, ExperimentOps, GraphOps, IndexOps, IvfOps, JoinOps, LakeOps, LatticeKmeans, LmOps, ModelOps, MultimodalOps, PcaOps, PqOps, PrepOps, PrivacyOps, ProfileOps, SamplingOps, SearchOps, SimilarityOps, SketchOps, TextOps}
import graft.streaming.{EventOps, IngestDedupStream}

import QueryShared._

/** Graph analytics: pagerank/HITS/PPR, k-core, triangles, communities, link prediction.
  *
  * Domain slice of the gated catalog (split out of PipelineQueries
  * in round 9); assembled and exposed by [[PipelineQueries]].
  */
private[queries] object GraphQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Fixed-iteration PageRank over the customer<->supplier trade graph,
    // in 64-bit fixed point: every reduction is an integer sum, so ranks
    // are bit-identical under any partitioning AND exactly reproducible
    // by the oracle's unrolled integer recurrence (a float PageRank could
    // not be hash-compared across engines). Per iteration the edge list
    // stays put (hash-partitioned once); only the node-sized rank table
    // moves — the iterative-graph scale shape.
    // Node encoding: customers are 2k, suppliers 2k+1 — provably disjoint
    // at ANY scale (an additive offset like suppkey + 1e6 silently merges
    // nodes once custkeys cross the offset, and the oracle, sharing the
    // encoding, could never catch it).
    "q_pagerank" -> ((s, dir) => {
      val e = custSuppPairs(s, dir)
      val edges = e.select(col("cust").as("src"), col("supp").as("dst"))
        .union(e.select(col("supp").as("src"), col("cust").as("dst")))
      GraphOps.pageRank(edges, "src", "dst", iters = 5)
    }),

    // Personalized PageRank (random walk with restart): teleport mass
    // returns to ONE seed customer, so scores localize around its
    // suppliers and co-purchasing customers — the graph-recommender
    // candidate generator. Unreached nodes stay at exact 0; the oracle
    // unrolls the same seeded recurrence.
    "q_ppr" -> ((s, dir) => {
      val e = custSuppPairs(s, dir)
      val edges = e.select(col("cust").as("src"), col("supp").as("dst"))
        .union(e.select(col("supp").as("src"), col("cust").as("dst")))
      GraphOps.pageRank(edges, "src", "dst", iters = 3, seeds = Seq(2L))
    }),

    // HITS hubs & authorities (Kleinberg) on the directed
    // customer->supplier graph — customers are pure hubs, suppliers pure
    // authorities, so both sides of the alternating recurrence carry
    // real mass. Exact fixed point with max-normalization (no sqrt/L2 —
    // nonneg toward-zero division, portable); the oracle unrolls all 3
    // rounds including each round's 1-row max.
    "q_hits" -> ((s, dir) =>
      GraphOps.hits(
        custSuppPairs(s, dir).select(
          col("cust").as("src"), col("supp").as("dst")),
        "src", "dst", iters = 3)),

    // Canonical PageRank semantics on the DIRECTED customer->supplier
    // graph: every supplier is dangling (no out-edges), so this exercises
    // the redistribute-dangling-mass mode hard — its rank mass re-enters
    // the recurrence as an exact integer share each iteration, and the
    // oracle unrolls the same scalar term per round.
    "q_pagerank_dangling" -> ((s, dir) => {
      val e = custSuppPairs(s, dir)
        .select(col("cust").as("src"), col("supp").as("dst"))
      GraphOps.pageRank(e, "src", "dst", iters = 3, redistributeDangling = true)
    }),

    // Per-node triangle counts over the part co-occurrence graph (parts
    // appearing in the same order). Degree-ordered orientation bounds the
    // wedge join by O(sqrt(m)) out-degrees — hub-degree-proof — while
    // the oracle counts the same triangles with the plain id-ordered
    // three-way join (equivalent result, only viable at oracle scale).
    // Co-occurrence pairs are generated ROW-LOCALLY from each order's
    // sorted part set (groupBy + nested transform) instead of an
    // items-on-items self-join: no join, no broadcast of a corpus-sized
    // side, and one less distinct — measured 1.8 s -> 1.5 s warm for the
    // edge stage, and the at-scale shape no longer depends on the item
    // table fitting anywhere.
    "q_triangles" -> ((s, dir) =>
      GraphOps.triangleCounts(partCooccurrenceEdges(s, dir), "u", "v")),

    // Degree assortativity of the same co-purchase graph — do hub parts
    // co-occur with hubs or with leaves? One degree aggregate, keyed
    // joins, decimal-128 moments, the corrByGroup closing chain.
    "q_assortativity" -> ((s, dir) =>
      GraphOps.degreeAssortativity(partCooccurrenceEdges(s, dir), "u", "v")),

    // k-core of the customer-supplier interaction graph (disjoint
    // even/odd node encoding, as q_pagerank): the coreness filter that
    // drops weakly-attached nodes a raw degree cut keeps. rounds=8 is
    // past fixpoint on this graph (rounds-invariance pinned in
    // GraphOpsSpec); the oracle unrolls the identical 8 synchronous
    // peel rounds.
    "q_kcore" -> ((s, dir) => {
      val e = custSuppPairs(s, dir)
        .select(col("cust").as("u"), col("supp").as("v"))
      GraphOps.kCoreNodes(e, "u", "v", k = 40, rounds = 8)
        .select(col("node"), col("degree"))
    }),

    // Market-basket co-occurrence: unordered part pairs bought together
    // in >= 3 orders. Basket-local pair generation under the
    // maxBasketSize skew guard — never an unbounded item self-join.
    "q_cooccurrence" -> ((s, dir) =>
      GraphOps.cooccurrencePairs(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey", minCount = 3L)
        .select(col("item_a"), col("item_b"), col("n_baskets"))),

    // Association rules (Agrawal et al. SIGMOD'93) over order->brand
    // baskets: support/confidence/lift, directional. Pair explosion is
    // row-local after ONE basket-keyed collect_set shuffle (baskets are
    // small; the corpus-sized self-join is the rejected plan); the brand
    // dimension joins in broadcast. Confidence/lift are single IEEE
    // divisions of exact longs — engine-portable.
    "q_assoc_rules" -> ((s, dir) =>
      AssocOps.assocRules(
        t(s, dir, "lineitem")
          .join(broadcast(t(s, dir, "part")),
            col("l_partkey") === col("p_partkey")),
        basketCol = col("l_orderkey"),
        itemCol = col("p_brand"),
        minSupportCnt = 50L)),

    // Deterministic synchronous LPA (4 rounds, neighbor-majority, min
    // label on ties) over the part co-occurrence graph: splits the
    // connected graph into cohesive groups where components can't. The
    // oracle unrolls the identical 4 rounds. The label frame is
    // memoized like the edge tables: q_modularity scores the SAME
    // partition, so the 4 LPA rounds run once per catalog sweep, not
    // twice.
    "q_communities" -> ((s, dir) => partCommunities(s, dir)),

    // Quality score of the LPA partition: exact integer rational
    // Σ(4·m·e_c - d_c²) / 4m² — one portable closing division. The
    // oracle replays the identical rounds then the same integer
    // algebra.
    "q_modularity" -> ((s, dir) =>
      GraphOps.modularity(partCooccurrenceEdges(s, dir), "u", "v",
        partCommunities(s, dir))),

    // Bounded-hop BFS over the customer<->supplier trade graph (shortest
    // hop counts from customer 1) — Pregel-style frontier expansion:
    // the edge list partitions by src ONCE and is cached; each round
    // moves only frontier-sized rows (join, distinct, anti-join against
    // visited), so round cost tracks the frontier, not the graph.
    // Nodes use the q_pagerank disjoint encoding (cust*2, supp*2+1).
    "q_shortest_hops" -> ((s, dir) => {
      val pairsDf = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * lit(2L)).as("cust"),
          (col("l_suppkey") * lit(2L) + lit(1L)).as("supp"))
        .distinct()
      val edges = pairsDf.select(col("cust").as("src"), col("supp").as("dst"))
        .union(pairsDf.select(col("supp").as("src"), col("cust").as("dst")))
      GraphOps.bfsHops(edges, "src", "dst", Seq(2L), maxHops = 3)
    }),

    // WEIGHTED shortest distances within 3 legs (Bellman-Ford in the
    // min-plus semiring — q_shortest_hops counts hops; this costs them):
    // synthetic deterministic edge weights ((src + dst) mod 7 + 1), so
    // cheaper multi-hop detours can genuinely beat direct edges and the
    // oracle replays every relaxation exactly.
    "q_shortest_paths" -> ((s, dir) => {
      val pairsDf = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * lit(2L)).as("cust"),
          (col("l_suppkey") * lit(2L) + lit(1L)).as("supp"))
        .distinct()
      val edges = pairsDf.select(col("cust").as("src"), col("supp").as("dst"))
        .union(pairsDf.select(col("supp").as("src"), col("cust").as("dst")))
        .withColumn("w", (col("src") + col("dst")) % 7 + 1)
      GraphOps.shortestPathsWeighted(
        edges, "src", "dst", "w", Seq(2L), rounds = 3)
    }),

    // Adamic-Adar link scores over the customer->supplier bipartite
    // graph: top-20 supplier pairs by shared-customer evidence, hub
    // customers (deg > 64) excluded BEFORE adjacency collection — the
    // wedge-center degree cap that bounds both memory and the deg²
    // wedge fanout (and which the oracle applies identically). Inverse
    // log2 weights are exact integer divisions on Log2Fixed.
    "q_link_predict" -> ((s, dir) =>
      EstimatorOps.adamicAdarTopK(custSuppPairs(s, dir),
        "cust", "supp", maxCenterDegree = 64L, k = 20)),

    // Local clustering coefficient over the same co-purchase graph as
    // q_triangles — neighborhood tightness per part, exact on the ×10⁶
    // grid; the same degree-oriented closure join plus one degree
    // aggregate (a hub with many triangles can still be loosely knit).
    "q_clustering_coeff" -> ((s, dir) =>
      GraphOps.clusteringCoeff(partCooccurrenceEdges(s, dir), "u", "v")),

    // 3-truss of the REPEAT co-purchase backbone (pairs bought together
    // in >= 2 orders — thresholding is the density control that keeps
    // the truss frame edge-bounded at any corpus scale): the
    // edge-cohesion filter above q_kcore — every surviving edge sits in
    // a triangle among survivors, 3 synchronous peel rounds (past
    // fixpoint). Each round reruns the degree-oriented triangle
    // enumeration; the oracle unrolls the identical rounds.
    "q_ktruss" -> ((s, dir) =>
      GraphOps.kTrussEdges(
        GraphOps.cooccurrencePairs(
          t(s, dir, "lineitem"), "l_orderkey", "l_partkey", minCount = 2L)
          .select(col("item_a").as("u"), col("item_b").as("v")),
        "u", "v", k = 3, rounds = 3)),
  )

  val oracleSql: Map[String, String] = Map(

    "q_pagerank" -> pageRankOracle(iters = 5),

    // Plain id-ordered triangle enumeration (u < v < w) — equivalent to
    // the Spark side's degree-ordered orientation, which finds each
    // triangle exactly once too.
    "q_triangles" ->
      """WITH n AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM n a JOIN n b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1 JOIN e e2 ON e2.u = e1.v
        |       JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |nodes AS (SELECT unnest([a, b, c]) AS node FROM tri)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM nodes GROUP BY node""".stripMargin,

    // Same edge build, both orientations, HUGEINT moments, the same
    // closing chain.
    "q_assortativity" ->
      """WITH n AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM n a JOIN n b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |dir AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        |deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
        |  FROM dir GROUP BY 1),
        |p AS (SELECT d1.deg AS du, d2.deg AS dv
        |  FROM dir JOIN deg d1 ON dir.u = d1.node
        |           JOIN deg d2 ON dir.v = d2.node),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS m_directed,
        |    sum(CAST(du AS HUGEINT)) AS sx, sum(CAST(dv AS HUGEINT)) AS sy,
        |    sum(CAST(du * dv AS HUGEINT)) AS sxy,
        |    sum(CAST(du * du AS HUGEINT)) AS sxx,
        |    sum(CAST(dv * dv AS HUGEINT)) AS syy
        |  FROM p),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
        |SELECT m_directed, n_nodes,
        |  CASE WHEN CAST(m_directed AS DOUBLE) * CAST(sxx AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
        |        AND CAST(m_directed AS DOUBLE) * CAST(syy AS DOUBLE)
        |           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0.0
        |    THEN (CAST(m_directed AS DOUBLE) * CAST(sxy AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / sqrt((CAST(m_directed AS DOUBLE) * CAST(sxx AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        * (CAST(m_directed AS DOUBLE) * CAST(syy AS DOUBLE)
        |           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |  END AS r_assort
        |FROM a, nn""".stripMargin,

    "q_pagerank_dangling" -> pageRankOracle(iters = 3, dangling = true),

    "q_hits" -> hitsOracle(iters = 3),

    "q_ppr" -> pprOracle(seeds = Seq(2L), iters = 3),

    "q_kcore" -> kCoreSql(k = 40, rounds = 8),

    // Basket-local pair join on the distinct (order, part) set — the
    // oracle needs no skew guard at its scale.
    "q_cooccurrence" ->
      """WITH it AS (
        |  SELECT DISTINCT l_orderkey AS bk, CAST(l_partkey AS BIGINT) AS item
        |  FROM lineitem)
        |SELECT a.item AS item_a, b.item AS item_b,
        |  CAST(count(*) AS BIGINT) AS n_baskets
        |FROM it a JOIN it b ON a.bk = b.bk AND a.item < b.item
        |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin,

    // Independent formulation: basket-keyed self-join pair counts (the
    // Spark side explodes row-locally — same pairs); confidence/lift are
    // the same single divisions of the same exact longs.
    "q_assoc_rules" ->
      """WITH it AS (
        |  SELECT DISTINCT l_orderkey AS bk, p_brand AS item
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |n AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS n_baskets FROM it),
        |ic AS (SELECT item, CAST(count(*) AS BIGINT) AS cnt FROM it GROUP BY item),
        |pc AS (
        |  SELECT a.item AS antecedent, b.item AS consequent,
        |    CAST(count(*) AS BIGINT) AS pair_cnt
        |  FROM it a JOIN it b ON a.bk = b.bk AND a.item <> b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 50)
        |SELECT pc.antecedent, pc.consequent, pc.pair_cnt,
        |  ia.cnt AS ante_cnt, ca.cnt AS cons_cnt, n.n_baskets,
        |  CAST(pc.pair_cnt AS DOUBLE) / CAST(ia.cnt AS DOUBLE) AS confidence,
        |  CAST(pc.pair_cnt * n.n_baskets AS DOUBLE)
        |    / CAST(ia.cnt * ca.cnt AS DOUBLE) AS lift
        |FROM pc
        |JOIN ic ia ON ia.item = pc.antecedent
        |JOIN ic ca ON ca.item = pc.consequent
        |CROSS JOIN n""".stripMargin,

    "q_communities" -> lpaSql(rounds = 4),

    "q_modularity" -> modularitySql(rounds = 4),

    // Recursive walk with per-level dedup (UNION, not UNION ALL — path
    // counts would explode combinatorially); min(hops) per node IS the
    // BFS distance.
    "q_shortest_hops" ->
      """WITH RECURSIVE
        |pairs AS (SELECT DISTINCT o_custkey * 2 AS cust,
        |            l_suppkey * 2 + 1 AS supp
        |          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT cust AS src, supp AS dst FROM pairs
        |      UNION ALL SELECT supp, cust FROM pairs),
        |walk(node, hops) AS (
        |  SELECT CAST(2 AS BIGINT) AS node, 0 AS hops
        |  UNION
        |  SELECT e.dst, w.hops + 1 FROM walk w JOIN e ON e.src = w.node
        |  WHERE w.hops < 3)
        |SELECT node, min(hops) AS hops FROM walk GROUP BY node""".stripMargin,

    // Same min-plus recursion with the hop counter bounding rounds; the
    // modular weight regenerates row-locally on both engines.
    "q_shortest_paths" ->
      """WITH RECURSIVE
        |pairs AS (SELECT DISTINCT o_custkey * 2 AS cust,
        |            l_suppkey * 2 + 1 AS supp
        |          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst, (src + dst) % 7 + 1 AS w FROM (
        |  SELECT cust AS src, supp AS dst FROM pairs
        |  UNION ALL SELECT supp, cust FROM pairs)),
        |walk(node, d, h) AS (
        |  SELECT CAST(2 AS BIGINT) AS node, CAST(0 AS BIGINT) AS d, 0 AS h
        |  UNION ALL
        |  SELECT e.dst, w.d + e.w, w.h + 1 FROM walk w JOIN e ON e.src = w.node
        |  WHERE w.h < 3)
        |SELECT node, CAST(min(d) AS BIGINT) AS dist FROM walk GROUP BY node""".stripMargin,

    // From-scratch Adamic-Adar replay: distinct bipartite edges, center
    // degrees, log2FixedSql over the (bounded) distinct degree values,
    // the identical hub cutoff, wedges via the center self-join (viable
    // at oracle scale; the engine emits them row-locally), integer
    // floor-division weights (positive operands: DuckDB // == Spark div).
    "q_link_predict" ->
      s"""WITH e AS (SELECT DISTINCT o_custkey * 2 AS ctr,
         |    l_suppkey * 2 + 1 AS leaf
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |dg AS (SELECT ctr, count(*) AS deg FROM e GROUP BY ctr),
         |vals AS (SELECT DISTINCT deg AS v FROM dg WHERE deg BETWEEN 2 AND 64),
         |${log2FixedSql("vals")},
         |w AS (SELECT dg.ctr, ${EstimatorOps.AaMicroNum} // lg.lg AS wm
         |      FROM dg JOIN lg ON lg.v = dg.deg
         |      WHERE dg.deg BETWEEN 2 AND 64),
         |wg AS (SELECT a.leaf AS node_a, b.leaf AS node_b, w.wm
         |       FROM e a JOIN e b ON a.ctr = b.ctr AND a.leaf < b.leaf
         |       JOIN w ON w.ctr = a.ctr)
         |SELECT node_a::BIGINT AS node_a, node_b::BIGINT AS node_b,
         |  CAST(count(*) AS BIGINT) AS n_common,
         |  CAST(sum(wm) AS BIGINT) AS aa_micro
         |FROM wg GROUP BY node_a, node_b
         |ORDER BY aa_micro DESC, node_a, node_b LIMIT 20""".stripMargin,

    // The q_triangles enumeration plus the both-orientation degree
    // count; lcc exact ×10⁶ intdiv on nonnegative operands.
    "q_clustering_coeff" ->
      """WITH n AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM n a JOIN n b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1 JOIN e e2 ON e2.u = e1.v
        |       JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |tn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM (SELECT unnest([a, b, c]) AS node FROM tri) GROUP BY node),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree
        |  FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        |  GROUP BY node)
        |SELECT d.node, d.degree,
        |  CAST(coalesce(tn.n_triangles, 0) AS BIGINT) AS n_triangles,
        |  CAST((2000000 * coalesce(tn.n_triangles, 0))
        |       // (d.degree * (d.degree - 1)) AS BIGINT) AS lcc_micro
        |FROM deg d LEFT JOIN tn ON tn.node = d.node
        |WHERE d.degree >= 2""".stripMargin,

    // The same id-ordered triangle enumeration as the q_triangles
    // oracle, unrolled per peel round (MATERIALIZED against exponential
    // CTE inlining — the kCoreSql discipline), final support recomputed
    // on the surviving subgraph.
    "q_ktruss" -> {
      val (k, rounds) = (3, 3)
      val peels = (0 until rounds).map { i =>
        s"""t$i AS MATERIALIZED (SELECT e1.u AS a, e1.v AS b, e2.v AS c
           |  FROM e$i e1 JOIN e$i e2 ON e2.u = e1.v
           |  JOIN e$i e3 ON e3.u = e1.u AND e3.v = e2.v),
           |sp$i AS MATERIALIZED (SELECT u, v,
           |    CAST(count(*) AS BIGINT) AS sup
           |  FROM (SELECT a AS u, b AS v FROM t$i
           |        UNION ALL SELECT a, c FROM t$i
           |        UNION ALL SELECT b, c FROM t$i) GROUP BY u, v),
           |e${i + 1} AS MATERIALIZED (SELECT e.u, e.v FROM e$i e
           |  JOIN sp$i s ON s.u = e.u AND s.v = e.v
           |  WHERE s.sup >= ${k - 2})""".stripMargin
      }.mkString(",\n")
      s"""WITH n0 AS (SELECT DISTINCT l_orderkey AS bk,
         |    CAST(l_partkey AS BIGINT) AS pk FROM lineitem),
         |e0 AS MATERIALIZED (SELECT a.pk AS u, b.pk AS v
         |  FROM n0 a JOIN n0 b ON a.bk = b.bk AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |$peels,
         |tf AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM e$rounds e1 JOIN e$rounds e2 ON e2.u = e1.v
         |  JOIN e$rounds e3 ON e3.u = e1.u AND e3.v = e2.v),
         |sf AS (SELECT u, v, CAST(count(*) AS BIGINT) AS sup FROM (
         |    SELECT a AS u, b AS v FROM tf UNION ALL SELECT a, c FROM tf
         |    UNION ALL SELECT b, c FROM tf) GROUP BY u, v)
         |SELECT e.u, e.v, CAST(coalesce(s.sup, 0) AS BIGINT) AS support
         |FROM e$rounds e LEFT JOIN sf s ON s.u = e.u AND s.v = e.v"""
        .stripMargin
    },
  )
}
