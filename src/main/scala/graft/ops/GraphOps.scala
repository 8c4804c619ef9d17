package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Lineage.LineageOps

/** Distributed connected components — the clustering step that turns
  * near-duplicate PAIRS (from [[DedupOps.ngramJaccardPairs]],
  * [[SimilarityOps]] LSH candidates, MinHash bands, ...) into canonical
  * duplicate CLUSTERS, so a pipeline can keep exactly one representative
  * per transitive group.
  *
  * Algorithm: alternating large-star / small-star contraction (Kiveris et
  * al., "Connected Components in MapReduce and Beyond", SoCC'14 — public
  * algorithm). Each half-round is ONE window aggregation over the edge
  * list keyed by an 8-byte node id; the edge set contracts toward one star
  * per component in O(log^2 n) rounds regardless of graph diameter. That
  * bound is the scale property: a transitive chain of near-duplicates
  * (doc1~doc2~...~docK, common in boilerplate-heavy corpora) converges
  * logarithmically, where naive min-label propagation needs K rounds of
  * full-edge shuffles.
  *
  * Determinism: the component id is the minimum node id in the component —
  * independent of partitioning, iteration count, or merge order.
  */
object GraphOps {

  /** Driver-side union-find (weighted by rank of the id ordering: the
    * smaller root always wins, so labels are the component minima —
    * identical contract to the distributed path). Iterative find, so a
    * degenerate million-node chain cannot overflow the stack.
    */
  private[ops] def unionFindLocal(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x0: Long): Long = {
      var root = x0
      while (parent.getOrElseUpdate(root, root) != root) root = parent(root)
      var x = x0 // path compression
      while (parent(x) != root) { val nxt = parent(x); parent(x) = root; x = nxt }
      root
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val keys = parent.keys.toArray
    keys.iterator.map(k => k -> find(k)).toMap
  }

  /** Large-star: every node connects its LARGER neighbors to the minimum
    * of its neighborhood (including itself). Operates on the symmetric
    * neighbor list; one shuffle (window by node). No dedup here — each
    * input edge yields at most one output row (multiplicity cannot grow),
    * and the following small-star pass dedups, so a distinct would only
    * add a shuffle.
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val nbrs = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    val w = Window.partitionBy(col("u"))
    nbrs
      .withColumn("m", least(min(col("v")).over(w), col("u")))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
  }

  /** Small-star: with edges pointed big->small, every node connects its
    * smaller neighbors (and itself) to the neighborhood minimum.
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    val dir = edges.select(
      greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
    val w = Window.partitionBy(col("u"))
    val withM = dir.withColumn("m", min(col("v")).over(w))
    withM.select(col("v").as("u"), col("m").as("v"))
      .union(withM.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Connected components of the undirected graph given by `(srcCol,
    * dstCol)` pairs. Returns `(node, component)` for every node incident
    * to at least one edge, `component` = min node id reachable. Self-loops
    * ignored; direction ignored.
    *
    * Adaptive physical strategy, chosen from the OBSERVED edge count (the
    * same runtime-size adaptivity as a broadcast-join threshold):
    *
    *   - `<= smallGraphEdges` (default 4M ~ 64 MB of longs): collect the
    *     deduped edge list and run union-find on the driver. After
    *     near-dup filtering the candidate pair graph is almost always
    *     microscopic relative to the corpus, and a dozen distributed
    *     shuffle rounds for a few thousand edges is pure scheduler
    *     overhead. Bounded driver memory by the threshold, like a
    *     broadcast build side.
    *   - above the threshold: alternating large-star/small-star rounds
    *     (3 shuffles/round) to a fixpoint detected by an exact edge-set
    *     checksum (count + order-independent hash sum — one tiny action
    *     per round, never a collect). O(log^2 n) rounds suffice (Kiveris
    *     et al. Thm 2); `maxRounds` is a safety valve only.
    */
  def connectedComponents(
      pairs: DataFrame,
      srcCol: String,
      dstCol: String,
      maxRounds: Int = 40,
      smallGraphEdges: Long = 4L << 20): DataFrame = {
    var edges = pairs
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct()
      .cache()

    def checksum(e: DataFrame): (Long, String) = {
      val r = e.agg(
        count(lit(1)).as("n"),
        // order-independent exact fingerprint of the edge SET: sum of
        // 64-bit hashes in decimal(38,0) (never overflows below ~1e19
        // edges; plain long sums trip ANSI overflow checks)
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("h")).head()
      (r.getLong(0), r.getDecimal(1).toPlainString)
    }

    var prev = checksum(edges)
    if (prev._1 <= smallGraphEdges) {
      val local = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      edges.unpersist(false)
      val labels = unionFindLocal(local)
      val session = pairs.sparkSession
      import session.implicits._
      return labels.toSeq.toDF("node", "component")
    }

    var round = 0
    var done = prev._1 == 0L
    while (!done && round < maxRounds) {
      val next = smallStar(largeStar(edges)).cache()
      // every ~4 rounds cut the lineage so plan size stays O(1) per round
      val materialized =
        if (round % 4 == 3) next.cutLineage() else next
      val cur = checksum(materialized)
      edges.unpersist(false)
      edges = materialized
      done = cur == prev
      prev = cur
      round += 1
    }

    // at the fixpoint every non-minimum node has an edge to its component
    // minimum: label = min over incident edges (seen from both ends)
    val nbrs = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    nbrs.groupBy(col("u"))
      .agg(min(col("v")).as("mn"))
      .select(col("u").as("node"), least(col("mn"), col("u")).as("component"))
  }

  /** Fixed-iteration PageRank over a directed edge list, computed
    * entirely in 64-bit fixed point (`scale` units of rank mass).
    *
    * Per iteration:
    * {{{
    *   rank_0(v)     = scale div n
    *   contrib(u->v) = rank_i(u) div outdeg(u)
    *   rank_{i+1}(v) = base + (dampNum * SUM contrib) div dampDen
    *   base          = ((scale div n) * (dampDen - dampNum)) div dampDen
    * }}}
    * with `div` = truncating integer division throughout. Every
    * cross-partition reduction is an integer SUM — commutative and
    * associative with no rounding — so the result is bit-identical under
    * any partitioning or merge order, and an SQL engine unrolling the same
    * integer recurrence reproduces it exactly (a double-precision PageRank
    * cannot make either guarantee: float sums depend on reduction order).
    *
    * Personalized PageRank (random walk with restart — the "related items
    * for THIS user/item" scoring behind graph recommenders) is the same
    * recurrence with a non-empty `seeds` set: the teleport mass returns to
    * the seeds instead of spreading uniformly, so `scale div n` above
    * becomes `scale div |seeds|` on each seed and 0 elsewhere (no node
    * count is taken). Nodes the walk cannot reach from the seeds stay at
    * exact 0 — the locality that makes it a candidate generator. Seeds
    * with `redistributeDangling` are rejected.
    *
    * Semantics notes: parallel edges are collapsed (simple graph).
    * Dangling-node mass (nodes with no out-edges) is DROPPED by default —
    * the common power-iteration simplification — so `sum(rank) <= scale`
    * with equality iff no dangling nodes. Pass
    * `redistributeDangling = true` for the canonical semantics: each
    * iteration adds one scalar aggregate (the dangling nodes' total rank,
    * still an exact integer sum) whose per-node share `D_i div n` joins
    * the recurrence as
    * `rank_{i+1}(v) = base + (dampNum * (SUM contrib + D_i div n)) div
    * dampDen` — the 1-row share broadcasts, so the per-iteration shuffle
    * shape is unchanged. Overflow headroom: total in-flight mass never
    * exceeds `scale` in either mode, so `dampNum * (sum + share)` stays
    * below `dampNum * scale` (~8.5e13 at defaults), far inside Long even
    * under ANSI overflow checks.
    *
    * Scale shape: `outdeg` is computed once and joined into the edge list
    * once; each iteration is ONE shuffle of the (node-sized) rank table by
    * `src` to meet the pre-partitioned edges plus ONE map-side-combined
    * `groupBy(dst)` sum — the edge list itself is hash-partitioned once
    * and reused, never re-shuffled. Lineage is cut ([[Lineage.cut]])
    * every 4 iterations so the plan stays O(1) per round (same discipline
    * as [[connectedComponents]]), and every iteration in dangling mode,
    * whose share reads the rank table a second time. The edge/node caches
    * stay alive for the caller's action and are released by session
    * cache eviction — an eager materialize-then-unpersist epilogue was
    * measured at ~2x the query cost (one full extra pass, and it
    * un-pipelines the final iteration) and rejected.
    *
    * Returns `(node, rank_fp)` with `rank_fp` in `scale` units.
    */
  def pageRank(
      pairs: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      dampNum: Long = 85L,
      dampDen: Long = 100L,
      scale: Long = 1000000000000L,
      redistributeDangling: Boolean = false,
      seeds: Seq[Long] = Nil): DataFrame = {
    require(iters >= 0 && dampNum >= 0 && dampDen > 0 && dampNum <= dampDen)
    require(seeds.isEmpty || !redistributeDangling,
      "pageRank: seeds and redistributeDangling cannot be combined")
    // overflow guard for the docstring's safety claim: the two products
    // in the recurrence are init*(dampDen-dampNum) and dampNum*sum, and
    // both factors' rank-mass side is bounded by `scale`
    require(scale > 0 &&
      scale <= Long.MaxValue / math.max(math.max(dampNum, dampDen - dampNum), 1L),
      s"scale * damping factors must stay within Long: scale=$scale")
    val edges = pairs
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct()
      .cache()
    val seedSet = seeds.distinct
    lazy val n = math.max(nodes.count(), 1L) // the seeded form never counts
    val init = scale / (if (seedSet.isEmpty) n else seedSet.length)
    val base = init * (dampDen - dampNum) / dampDen
    // teleport mass: on every node, or on the seeds alone
    def teleport(mass: Long): Column =
      if (seedSet.isEmpty) lit(mass)
      else when(col("node").isin(seedSet: _*), lit(mass)).otherwise(lit(0L))

    // outdeg joined in once; partitioned by src so each iteration's
    // rank-join reuses this layout instead of re-shuffling the edges.
    // (A broadcast-the-ranks variant was measured and REJECTED: each
    // broadcast is a blocking driver collect, and 2 barriers x iters of
    // them cost ~2x the pipelined shuffle plan even at 16k nodes —
    // local-mode shuffles are memory moves; at cluster scale the rank
    // table is node-sized and may not fit a broadcast at all.)
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val edgesDeg = edges.join(outdeg, "src")
      .repartition(col("src"))
      .cache()

    // dangling node set computed ONCE (node-sized, cached); per iteration
    // its rank mass is one integer scalar aggregate
    val danglingNodes =
      if (redistributeDangling)
        nodes.join(outdeg, nodes("node") === outdeg("src"), "left_anti")
          .select(col("node")).cache()
      else null

    var ranks = nodes.select(col("node"), teleport(init).as("rank"))
    for (i <- 1 to iters) {
      // shuffle_hash on the node-sized rank side: the rank table inherits
      // hash(node) partitioning from the cached `nodes` frame, so the join
      // needs no exchange — but that also means NO shuffle stage exists
      // for AQE to size, and the planner's default-size estimate keeps the
      // join sort-merge: both sides (including the edge-sized cached
      // stream) get re-SORTED every iteration. Hashing the rank side
      // builds a node-sized table per partition instead (guide §3.1 —
      // scale-safe where a broadcast of the rank table is not; see the
      // rejected-broadcast note above).
      val sums = edgesDeg
        .join(ranks.hint("shuffle_hash"), edgesDeg("src") === ranks("node"))
        .select(col("dst"), expr("rank div outdeg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("s"))
      val joined = nodes.join(sums, nodes("node") === sums("dst"), "left")
      // dangling mode adds each node's share of the dangling rank mass
      val (received, mass) =
        if (!redistributeDangling) (joined, "coalesce(s, 0L)")
        else {
          val share = danglingNodes.join(ranks, "node")
            .agg(coalesce(sum(col("rank")), lit(0L)).as("d"))
            .select(expr(s"d div $n").as("share"))
          // 1 row: BNLJ attach, no shuffle
          (joined.crossJoin(broadcast(share)), "(coalesce(s, 0L) + share)")
        }
      val next = received.select(col("node"),
        (teleport(base) + expr(s"($dampNum * $mass) div $dampDen")).as("rank"))
      // dangling mode consumes the rank table TWICE per iteration (edge
      // contributions + the dangling share), so each iteration's table is
      // cut: a cached one would still carry its whole lineage in its plan
      val cut = i < iters && (redistributeDangling || i % 4 == 0)
      ranks = if (cut) next.cutLineage() else next
    }
    ranks.select(col("node"), col("rank").as("rank_fp"))
  }

  /** HITS hubs & authorities (Kleinberg JACM'99) in exact fixed point —
    * the second classic link-scoring recurrence next to [[pageRank]]:
    * per round, authority(v) = Σ hub(u) over in-edges, then hub(u) =
    * Σ authority(v) over out-edges, each vector max-normalized. The
    * float algorithm L2-normalizes; portable exactness wants neither
    * sqrt nor float sums, so this uses MAX-normalization to `scale`
    * (`v * scale div max` — nonnegative toward-zero division, identical
    * on every engine; same ranking, bounded values: post-normalization
    * entries are ≤ 2^20, so round sums stay ≤ 2^20·maxdeg — no overflow
    * at any realistic graph).
    *
    * Scale shape: the edge list is materialized ONCE in two join
    * layouts (src-keyed and dst-keyed — each HITS round joins on the
    * OTHER side, unlike PageRank's src-only recurrence); each round
    * then moves only node-sized score tables through two
    * map-side-combined aggregates and two 1-row max attaches. Lineage
    * cut every 2 rounds (the [[pageRank]] discipline).
    *
    * Returns (node, hub_fp, auth_fp); nodes that never receive mass on
    * a side report 0 there.
    */
  def hits(
      pairs: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      scale: Long = 1L << 20): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(scale >= 2, s"scale must be >= 2, got $scale")
    val edges = pairs
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val eBySrc = edges.repartition(col("src")).cache()
    val eByDst = edges.repartition(col("dst")).cache()
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct().cache()

    def normalized(raw: DataFrame): DataFrame = {
      // each half-round materializes ONCE: its 1-row max AND the next
      // half-round's join both read the checkpoint. Without the cut the
      // max's broadcast subquery re-executes the ENTIRE alternating
      // lineage, which doubles per half-round — the same
      // two-consumers-per-iteration trap pageRank's dangling mode
      // caches against (measured here: 10.2 s -> sub-second at sf0.1).
      val r = raw.cutLineage()
      val mx = r.agg(max(col("v")).as("m"))
      r.crossJoin(broadcast(mx)) // 1 row: BNLJ attach, no shuffle
        .select(col("node"), expr(s"(v * $scale) div m").as("v"))
    }

    var hub = nodes.select(col("node"), lit(1L).as("v"))
    var auth: DataFrame = null
    for (i <- 1 to iters) {
      // (A shuffle_hash hint here — the pageRank fix — was measured and
      // REJECTED: rounds 2+ join CUT score frames, which already re-plan
      // per round with real stats and broadcast under AQE; forcing SHJ
      // replaced those broadcasts and read 5.66 s vs 5.05 s un-hinted in
      // the same warm window. Only round 1 pays the sort-merge trap, and
      // one edge sort is cheaper than de-optimizing every later round.)
      auth = normalized(
        eBySrc.join(hub, eBySrc("src") === hub("node"))
          .groupBy(col("dst").as("node")).agg(sum(col("v")).as("v")))
      hub = normalized(
        eByDst.join(auth, eByDst("dst") === auth("node"))
          .groupBy(col("src").as("node")).agg(sum(col("v")).as("v")))
    }
    nodes
      .join(hub.select(col("node"), col("v").as("hub_fp")), Seq("node"), "left")
      .join(auth.select(col("node"), col("v").as("auth_fp")), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("hub_fp"), lit(0L)).as("hub_fp"),
        coalesce(col("auth_fp"), lit(0L)).as("auth_fp"))
  }

  /** Per-node triangle counts by degree-ordered edge orientation (the
    * classic MapReduce triangle algorithm — Suri & Vassilvitskii WWW'11):
    * orient every undirected edge from its lower-(degree, id) endpoint to
    * the higher one, build wedges by joining oriented edges on their
    * shared source, and close each wedge with one more equi-join. The
    * orientation is THE scale property: out-degrees are bounded by
    * O(sqrt(m)) regardless of how skewed raw degrees are, so the wedge
    * join never explodes on hub nodes — a raw shared-neighbor self-join
    * would square the hottest degree. Each triangle is found exactly once
    * (at its unique 2-out-degree apex in the orientation's total order).
    *
    * `edges` must be distinct undirected pairs with `srcCol < dstCol`
    * (self-loops excluded). Returns (node, n_triangles), nodes in no
    * triangle omitted.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // The edge list is referenced by FIVE downstream legs (two degree
    // legs, the degree-attach stream, and both adjacency derivations);
    // without a lineage cut each leg would re-execute the caller's edge
    // construction — for the gated co-occurrence graph that is a
    // 600k-row self-join plus a 1.9M-row distinct, and the static plan
    // repeats that subtree four times. Materialize the (u,v) pairs once
    // (same discipline as pageRank's per-iteration checkpoint above).
    // Trade-offs of the eager cut, deliberately accepted: construction
    // runs jobs immediately, and in the default localCheckpoint mode
    // the truncated lineage is NOT recomputable after executor loss —
    // on a preemptible cluster set `spark.graft.checkpointDir` and
    // every cut in this module switches to reliable checkpoint()
    // storage instead (see [[Lineage.cut]]).
    val e = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .cutLineage()
    // one row per triangle (s, t, w), then per-node attribution
    triangleRows(e)
      .select(explode(array(col("s"), col("t"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  /** One row per triangle of a canonical (u < v, distinct) edge list —
    * the [[triangleCounts]] degree-oriented enumeration factored out so
    * per-EDGE consumers ([[kTrussEdges]]) share it. Columns `(s, t, w)`
    * name the triangle's vertices (s→t the oriented apex edge, w the
    * closing out-neighbor); each triangle appears exactly once.
    *
    * Adjacency-intersection instead of wedge materialization: a wedge
    * join would shuffle Σ C(outdeg, 2) rows; joining each oriented edge
    * to the two out-neighbor lists it closes against moves only
    * edge-count rows, and the per-edge intersection is row-local.
    * Out-lists are O(sqrt(m))-bounded by the degree orientation, so
    * neither the lists nor the intersections blow up on hubs. The
    * oriented frame feeds the closure join AND both adjacency legs —
    * cut so the degree joins run once; shuffle_hash hints because
    * sorting the edge-sized stream twice buys nothing.
    */
  private def triangleRows(e: DataFrame): DataFrame = {
    val deg = e.select(col("u").as("n")).union(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(fwd, col("u")).otherwise(col("v")).as("s"),
      when(fwd, col("v")).otherwise(col("u")).as("t"))
      .cutLineage()
    val adj = oriented.groupBy(col("s"))
      .agg(sort_array(collect_list(col("t"))).as("nb"))
    oriented
      .join(adj.select(col("s"), col("nb").as("nb_s"))
        .hint("shuffle_hash"), "s")
      .join(adj.select(col("s").as("t"), col("nb").as("nb_t"))
        .hint("shuffle_hash"), "t")
      .select(col("s"), col("t"),
        array_intersect(col("nb_s"), col("nb_t")).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("s"), col("t"), explode(col("ws")).as("w"))
  }

  /** k-truss edge peeling (Cohen 2008) — the cohesive-subgraph filter a
    * tier above [[kCoreNodes]]: keep only edges embedded in at least
    * `k−2` triangles AMONG SURVIVING EDGES, iterated synchronously for
    * `rounds` rounds (early exit at the fixpoint; a fixed `rounds` past
    * it keeps the unrolled oracle equivalent). Per round: the
    * [[triangleRows]] degree-oriented enumeration (hub-degree-proof —
    * never a shared-neighbor self-join), three row-local canonical edge
    * emissions per triangle, one edge-keyed support count, one keyed
    * semi-prune. Per-round lineage cuts keep the plan O(1) (the
    * [[kCoreNodes]] discipline).
    *
    * Output: surviving edges with their final support —
    * `(u, v, support)`, support ≥ k−2 by construction (recomputed on
    * the surviving subgraph).
    */
  def kTrussEdges(
      pairs: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    def supports(edges: DataFrame): DataFrame =
      triangleRows(edges)
        .select(explode(array(
          struct(least(col("s"), col("t")).as("u"),
            greatest(col("s"), col("t")).as("v")),
          struct(least(col("s"), col("w")).as("u"),
            greatest(col("s"), col("w")).as("v")),
          struct(least(col("t"), col("w")).as("u"),
            greatest(col("t"), col("w")).as("v")))).as("ed"))
        .select(col("ed.u").as("u"), col("ed.v").as("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("support"))
    val canon = pairs.select(
      least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("u"),
      greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    var e = canon.cutLineage()
    var nEdges = e.count()
    var r = 0
    var fixed = false
    while (r < rounds && !fixed) {
      val keep = supports(e).filter(col("support") >= (k - 2).toLong)
        .select(col("u"), col("v"))
      val pruned = e.join(keep, Seq("u", "v"), "left_semi").cutLineage()
      val n = pruned.count()
      fixed = n == nEdges
      e = pruned
      nEdges = n
      r += 1
    }
    e.join(supports(e), Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Bounded-hop BFS (multi-source shortest hop counts) — Pregel-style
    * frontier expansion: round h joins the frontier (nodes first reached
    * at hop h-1) against the once-partitioned edge list, dedups, and
    * anti-joins the visited set; survivors are exactly the nodes whose
    * BFS distance is h. Hop counts are exact integers, so the result is
    * bit-portable and layout-invariant by construction.
    *
    * Scale shape: the edge list hash-partitions by src ONCE and is
    * cached (the pageRank discipline); every round moves only
    * frontier-sized and visited-sized rows — never the full graph again.
    * Each frontier materializes via `.cache()` + `count()` so round h+1
    * does not recompute rounds 1..h through the growing lineage; the
    * count is a 1-long driver action, not a collect.
    *
    * Returns `(node, hops)` for every node within `maxHops` of a source.
    */
  def bfsHops(
      pairs: DataFrame,
      srcCol: String,
      dstCol: String,
      sources: Seq[Long],
      maxHops: Int): DataFrame = {
    require(sources.nonEmpty, "bfsHops needs at least one source node")
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val spark0 = pairs.sparkSession
    import spark0.implicits._
    val e = pairs
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .repartition(col("src")).cache()
    var visited = sources.distinct.map(n => (n, 0)).toDF("node", "hops").cache()
    var frontier = visited.select(col("node"))
    var h = 1
    var exhausted = false
    while (h <= maxHops && !exhausted) {
      val next = frontier.join(e, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select(col("node").as("vn")),
          col("node") === col("vn"), "left_anti")
        .withColumn("hops", lit(h))
        .cache()
      exhausted = next.count() == 0
      // `visited` is referenced TWICE per hop (the anti-join and this
      // union), so plain cache doubles the analyzed plan every round —
      // the exponential-lineage trap labelPropagation's hub probe hit.
      // Eager localCheckpoint keeps the plan O(1) per hop (node-sized
      // materialization, same price as the cache+count it replaces).
      visited = visited.union(next).cutLineage()
      frontier = next.select(col("node"))
      h += 1
    }
    visited
  }

  /** Round-bounded multi-source shortest WEIGHTED distances —
    * Bellman-Ford in the min-plus semiring: after `rounds` relaxations
    * the table holds the exact cheapest cost over paths of at most
    * `rounds` edges (nonnegative integer weights; the hop bound is the
    * semantics, not an approximation — production "within N legs"
    * routing/attribution queries want exactly this, and it terminates on
    * graphs with cycles without distance-convergence bookkeeping).
    *
    * Scale shape — the [[pageRank]] discipline: the weighted edge list
    * hash-partitions by src ONCE and is cached; each round is one
    * frontier-to-edges equi-join plus one map-side-combined `min`
    * aggregate, moving node-sized rows only. The distance table is
    * consumed twice per round (relaxation join + the union), so each
    * round eager-localCheckpoints — the same exponential-lineage trap
    * [[bfsHops]] documents.
    *
    * Returns (node, dist) for every node reachable within `rounds` hops.
    */
  def shortestPathsWeighted(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      sources: Seq[Long],
      rounds: Int): DataFrame = {
    require(sources.nonEmpty, "shortestPathsWeighted needs at least one source")
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val spark0 = edges.sparkSession
    import spark0.implicits._
    val e = edges.select(
        col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"),
        // negative weights would need true convergence detection (and
        // break the min-plus round bound's meaning) — refuse loudly
        when(col(weightCol).cast("long") >= 0, col(weightCol).cast("long"))
          .otherwise(raise_error(concat(
            lit("shortestPathsWeighted: negative weight on edge "),
            col(srcCol), lit("->"), col(dstCol)))).as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull && col("w").isNotNull)
      .repartition(col("src")).cache()
    var dist = sources.distinct.map(n => (n, 0L)).toDF("node", "dist")
      .cutLineage()
    for (_ <- 1 to rounds) {
      val relaxed = dist.join(e, col("node") === col("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      dist = dist.union(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .cutLineage()
    }
    dist
  }

  /** k-CORE: the maximal subgraph in which every node has degree >= k —
    * the standard coreness filter for pruning weakly-connected spam/noise
    * nodes from a web or interaction graph before expensive downstream
    * analytics (a node kept by raw degree but dropped by k-core only
    * touched other low-degree nodes).
    *
    * Matula-Beck peeling as `rounds` synchronous pruning rounds: each
    * round computes degrees, keeps nodes with degree >= k, and restricts
    * the edge list to kept endpoints. A round that removes nothing is a
    * fixpoint and every later round is a no-op, so any `rounds` at or
    * past convergence yields the true k-core — the early-exit check is a
    * pure shortcut, never a semantics knob (KCore fixpoint pinned in
    * GraphOpsSpec by rounds=r vs rounds=r+4 equality).
    *
    * Scale shape: the canonical simple-graph edge list is cached ONCE;
    * every round is one map-side-combined degree aggregate plus two
    * semi-joins keyed on the 8-byte node id, all edge-list-sized — the
    * [[pageRank]] discipline of moving only node-sized state per round.
    * Peeling depth on real graphs is small (the degeneracy ordering
    * collapses in O(log n) synchronous rounds in practice); each round
    * materializes via cache + count to cut lineage.
    *
    * Output: (node, degree) of the surviving subgraph, degree >= k.
    */
  def kCoreNodes(
      pairs: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val canon = pairs.select(
      least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("u"),
      greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    var e = canon.cache()
    var nEdges = e.count()
    var r = 0
    var fixed = false
    def degrees(edges: DataFrame): DataFrame =
      edges.select(col("u").as("node"))
        .union(edges.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    while (r < rounds && !fixed) {
      val keep = degrees(e).filter(col("degree") >= k).select(col("node"))
      // `e` is referenced THREE times per round (the degree aggregate
      // and both semi-joins), so plain cache grows the analyzed plan
      // 3x per round — 3^8 at the canonical rounds=8 (the exponential-
      // lineage trap labelPropagation's hub probe exposed). The eager
      // localCheckpoint keeps the plan O(1) per round and doubles as
      // the materialization the fixpoint count needs.
      val pruned = e
        .join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
        .select(col("u"), col("v")).cutLineage()
      val n = pruned.count()
      fixed = n == nEdges
      e.unpersist(false)
      e = pruned
      nEdges = n
      r += 1
    }
    degrees(e).filter(col("degree") >= k)
  }

  /** Synchronous label propagation (Raghavan et al. 2007) for community
    * detection, made fully DETERMINISTIC: every node starts labeled by
    * its own id; each round it adopts the most frequent label among its
    * neighbors, ties broken toward the SMALLEST label; `rounds` is fixed
    * (the caller picks the budget — LPA has no natural fixpoint on many
    * graphs, and synchronous variants can oscillate, so a bounded round
    * count IS the semantics, not an approximation of one).
    * Connected-components ([[connectedComponents]]) answers "reachable
    * at all"; LPA answers "densely attached where", splitting a
    * connected near-dup/interaction graph into cohesive groups.
    *
    * Scale shape: the bidirectional edge list is partitioned by the
    * neighbor key ONCE and cached; each round is one edge-sized join
    * against the node-sized label frame, one map-side-combined
    * (node, label) count, and one bounded argmax via max(struct) — no
    * window, no sort. Labels materialize per round (cache + count) to
    * cut lineage, the [[pageRank]] discipline.
    *
    * SKEW: the `nbr`-keyed label join is the hot path on a power-law
    * graph — a hub with degree d lands d edge rows in ONE partition
    * every round, serializing the round on that task at scale. When any
    * node's degree exceeds `hotDegree`, the edge list splits ONCE into a
    * cold part (regular shuffle join, now hub-free) and a SALTED hot
    * part: hot edges get a per-row salt and are partitioned by
    * (nbr, salt) once; each round the hot label slice (at most
    * edges/hotDegree rows, carved out by a broadcast semi-join against
    * the hot-id set) replicates across the salt values and equi-joins on
    * (nbr, salt) — the [[graft.ops.JoinOps.saltedJoin]] replicate-the-
    * small-side technique applied to an iterative join, with no
    * per-round driver barrier (the broadcast-the-ranks variant pageRank
    * measured and rejected). A hub's rows thus spread over `saltBuckets`
    * tasks instead of one. Results are path-independent (same join +
    * count algebra either way; differential-pinned in GraphOpsSpec);
    * graphs with no hub keep the original single-path plan.
    *
    * The `hotDegree` default (~2M) is MEASURED, not guessed: below a
    * few million rows a single task absorbs a hub faster than the split
    * pays its per-round overhead (local[16], 6M edges, 2M-degree hub,
    * 6 rounds: 31.7 s single vs 44.7 s split), while at 8M edges with a
    * 4M-degree hub over 9 rounds the split wins 139.5 s vs 194.7 s and
    * the gap widens with degree — see PERF.md "LPA hub skew". Cluster
    * numbers shift the crossover LOWER (network shuffle + executor
    * memory ceilings punish the straggler task harder than local mode),
    * so callers on real clusters may pass a smaller threshold.
    *
    * Output: (node, label) after `rounds` rounds.
    */
  def labelPropagation(
      pairs: DataFrame,
      srcCol: String,
      dstCol: String,
      rounds: Int,
      hotDegree: Int = 1 << 21,
      saltBuckets: Int = 32): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(hotDegree >= 1, s"hotDegree must be >= 1, got $hotDegree")
    require(saltBuckets >= 1, s"saltBuckets must be >= 1, got $saltBuckets")
    val canon = pairs.select(
      least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("u"),
      greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val bidirAll = canon.select(col("u").as("node"), col("v").as("nbr"))
      .union(canon.select(col("v").as("node"), col("u").as("nbr")))
    // hub census: one edge-sized aggregate, paid once before the rounds
    val hotIds = bidirAll.groupBy(col("nbr")).agg(count(lit(1)).as("d"))
      .filter(col("d") > hotDegree).select(col("nbr")).cache()
    val anyHot = hotIds.limit(1).count() > 0
    val bidir =
      (if (anyHot) bidirAll.join(broadcast(hotIds), Seq("nbr"), "left_anti")
       else bidirAll)
        .repartition(col("nbr")).cache()
    // hot edges salted and laid out ONCE; the per-row salt spreads each
    // hub's rows over saltBuckets partitions for every round's join
    val bidirHot =
      if (anyHot) bidirAll.join(broadcast(hotIds), Seq("nbr"), "left_semi")
        .withColumn("__salt", pmod(xxhash64(col("node")), lit(saltBuckets)))
        .repartition(col("nbr"), col("__salt")).cache()
      else null
    if (!anyHot) hotIds.unpersist(false)
    var labels = bidirAll.select(col("node")).distinct()
      .select(col("node"), col("node").as("label")).cache()
    labels.count()
    for (round <- 1 to rounds) {
      val coldVotes = bidir
        .join(labels.select(col("node").as("nbr"), col("label")), "nbr")
        .select(col("node"), col("label"))
      val votes =
        if (anyHot) {
          val hotLabels = labels
            .join(broadcast(hotIds.withColumnRenamed("nbr", "node")),
              Seq("node"), "left_semi")
            .select(col("node").as("nbr"), col("label"))
            .withColumn("__salt",
              explode(array((0 until saltBuckets).map(lit(_)): _*)))
          coldVotes.union(
            bidirHot.join(hotLabels, Seq("nbr", "__salt"))
              .select(col("node"), col("label")))
        } else coldVotes
      val agreed = votes
        .groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("node"))
        // argmax count, ties -> smallest label: max over (cnt, -label)
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("label"))
      // lineage: the hot path references `labels` TWICE per round (cold
      // branch + hot branch), so plain cache leaves an analyzed plan that
      // DOUBLES per round — exponential in `rounds` (a 9-round hub probe
      // hit Spark's 2 GiB plan-string cap). Cut it with an eager
      // localCheckpoint every round on the hot path, every 4th otherwise
      // (the pageRank discipline).
      val next =
        if (anyHot || round % 4 == 0) agreed.cutLineage()
        else { val c = agreed.cache(); c.count(); c }
      labels.unpersist(false)
      labels = next
    }
    labels
  }

  /** Basket co-occurrence: for every unordered item pair appearing
    * together in the same basket, the number of baskets containing both
    * (market-basket affinity, co-view/co-purchase graphs, shingle-free
    * related-items candidates).
    *
    * Pair generation is basket-LOCAL and ROW-LOCAL: baskets collapse to
    * one sorted distinct item set each (map-side-combined collect_set),
    * and pairs explode from nested array transforms — no self-join, so
    * the input is scanned ONCE and the whole op is two Exchanges (basket
    * key, then pair key). A basket self-join was measured to re-scan and
    * re-shuffle the input for each join side. Candidate volume is
    * Σ size²/2 over baskets — bounded a priori by the `maxBasketSize`
    * raise_error guard (the intervalJoin skew discipline: one degenerate
    * basket with 10^5 items would otherwise fan out to 10^10 pairs at
    * 100 TB; loud refusal beats a silent blow-up).
    *
    * Output: (item_a, item_b, n_baskets) with item_a < item_b and
    * n_baskets >= minCount.
    */
  def cooccurrencePairs(
      baskets: DataFrame,
      basketCol: String,
      itemCol: String,
      minCount: Long,
      maxBasketSize: Long = 4096): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(maxBasketSize >= 2, s"maxBasketSize must be >= 2, got $maxBasketSize")
    val ps = col("__ps")
    baskets
      .groupBy(col(basketCol).as("bk"))
      .agg(sort_array(collect_set(col(itemCol).cast("long"))).as("__ps0"))
      .withColumn("__ps",
        when(size(col("__ps0")) <= maxBasketSize, col("__ps0"))
          .otherwise(raise_error(format_string(
            s"cooccurrencePairs: basket %s has more than $maxBasketSize " +
              "items (skew guard; pre-filter mega-baskets or raise the cap)",
            col("bk"))).cast("array<bigint>")))
      .select(explode(flatten(transform(ps,
        (x, i) => transform(slice(ps, i + 2, size(ps)),
          y => struct(x.as("item_a"), y.as("item_b")))))).as("p"))
      .groupBy(col("p.item_a").as("item_a"), col("p.item_b").as("item_b"))
      .agg(count(lit(1)).as("n_baskets"))
      .filter(col("n_baskets") >= minCount)
  }

  /** Newman modularity Q of a node partition — the standard quality
    * score for a community assignment ([[labelPropagation]],
    * [[connectedComponents]], any external clustering):
    * Q = Σ_c (e_c/m − (d_c/2m)²) over communities, with m undirected
    * edges, e_c intra-community edges, d_c the community degree sum.
    *
    * Computed as the exact integer rational
    * Q = Σ_c (4·m·e_c − d_c²) / (4m²): every term and the numerator sum
    * are int64 (reduction-order-proof), and the single closing division
    * is one correctly-rounded IEEE op — so Q is bit-portable, unlike a
    * naive Σ of per-community doubles whose summation order varies by
    * engine. Headroom: needs d_c² and 4·m·e_c < 2^63 — fine to ~10^9
    * community degree; past that, scale to DECIMAL(38).
    *
    * Scale shape: two edge-sized hash joins label the endpoints, then
    * everything is community-sized aggregates. Output: ONE row
    * (m_edges, q_num, q).
    */
  def modularity(
      pairs: DataFrame,
      srcCol: String,
      dstCol: String,
      labels: DataFrame): DataFrame = {
    val canon = pairs.select(
      least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("u"),
      greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("v"))
      .filter(col("u") =!= col("v")).distinct().cache()
    val lab = labels.select(col("node"), col("label"))
    val labeled = canon
      .join(lab.select(col("node").as("u"), col("label").as("la")), "u")
      .join(lab.select(col("node").as("v"), col("label").as("lb")), "v")
      .cache()
    val m = labeled.count()
    val intra = labeled.filter(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("ec"))
    val degc = labeled.select(col("u").as("node"), col("la").as("label"))
      .union(labeled.select(col("v").as("node"), col("lb").as("label")))
      .groupBy(col("label")).agg(count(lit(1)).as("dc"))
    degc.join(intra, Seq("label"), "left")
      .agg(sum(lit(4L) * lit(m) * coalesce(col("ec"), lit(0L)) -
        col("dc") * col("dc")).as("q_num"))
      .select(lit(m).as("m_edges"), col("q_num"),
        (col("q_num").cast("double") / lit(4.0 * m.toDouble * m.toDouble))
          .as("q"))
  }

  /** [[connectedComponents]] extended to a full node table: nodes with no
    * edges become singleton components labeled by their own id.
    */
  def componentsOf(
      nodes: DataFrame,
      nodeCol: String,
      pairs: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val comp = connectedComponents(pairs, srcCol, dstCol)
    nodes.select(col(nodeCol).cast("long").as("node"))
      .join(comp, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("component"), col("node")).as("component"))
  }

  /** Degree assortativity (Newman's r) of an undirected edge list — the
    * one-scalar answer to "do hubs link to hubs or to leaves?", which
    * decides whether hub-capped candidate generation (the
    * [[EstimatorOps]] wedge caps) biases a graph's tail or its core.
    * Pearson correlation of endpoint degrees over the DIRECTED edge
    * instances (both orientations — the standard convention, which also
    * makes the two marginals identical). Exact core: degrees are one
    * node-keyed aggregate, the five moments accumulate in DECIMAL(38,0)
    * (Σ(du·dv) ≤ m·deg_max² outgrows int64 on hub-heavy graphs; 128-bit
    * sums stay exact and both engines convert the same integer to the
    * same double), and r closes as the [[ProfileOps.corrByGroup]] fixed
    * IEEE chain.
    *
    * Scale shape: symmetrize (row-local union), one degree aggregate,
    * two KEYED joins of the node-sized degree frame onto the edges, one
    * 1-row closing fold. No window touches the edge set.
    *
    * Output: `(m_directed, n_nodes, r_assort)` — NULL r on degree-
    * regular graphs (zero variance).
    */
  def degreeAssortativity(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"))
    val dir = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val deg = dir.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val pairs = dir
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    val agg = pairs.agg(
      count(lit(1)).as("m_directed"),
      sum(col("du").cast("decimal(38,0)")).as("sx"),
      sum(col("dv").cast("decimal(38,0)")).as("sy"),
      sum((col("du") * col("dv")).cast("decimal(38,0)")).as("sxy"),
      sum((col("du") * col("du")).cast("decimal(38,0)")).as("sxx"),
      sum((col("dv") * col("dv")).cast("decimal(38,0)")).as("syy"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val m = d(col("m_directed"))
    val vx = m * d(col("sxx")) - d(col("sx")) * d(col("sx"))
    val vy = m * d(col("syy")) - d(col("sy")) * d(col("sy"))
    agg.crossJoin(broadcast(nNodes))
      .select(col("m_directed"), col("n_nodes"),
        when(vx > 0.0 && vy > 0.0,
          (m * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
            sqrt(vx * vy)).as("r_assort"))
  }

  /** Local clustering coefficient per node — how close each node's
    * neighborhood is to a clique: `lcc = 2·triangles(v) / (d·(d−1))`,
    * the standard community-tightness readout next to the raw
    * [[triangleCounts]] (a hub with many triangles can still be loosely
    * clustered; a degree-3 node with 3 triangles is a clique corner).
    * Exactly [[triangleCounts]]' degree-oriented machinery plus one
    * degree aggregate and a keyed left join; the coefficient lands
    * exactly on the ×10⁶ grid via intdiv (numerator `2·10⁶·tri`, both
    * exact longs — float-free). Nodes of degree < 2 are excluded (the
    * coefficient is undefined on them).
    *
    * `edges` contract matches [[triangleCounts]]: distinct undirected
    * pairs, `srcCol < dstCol`, no self-loops.
    *
    * Output: `(node, degree, n_triangles, lcc_micro)`.
    */
  def clusteringCoeff(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges
      .select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
      .cutLineage()
    val deg = e.select(col("u").as("node")).union(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    // straight to the shared enumeration — routing through
    // triangleCounts would checkpoint the (already-cut) edge frame a
    // second time (measured 5.9 s -> 4.2 s warm at sf0.1)
    val tri = triangleRows(e)
      .select(explode(array(col("s"), col("t"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    deg.filter(col("degree") >= 2L)
      // both sides are node-sized aggregates already hash(node)-
      // partitioned; without the hint the planner keeps the left join
      // sort-merge off the conservative pre-aggregation stage estimates
      // and pays two node-frame sorts for nothing
      .join(tri.hint("shuffle_hash"), Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        expr("""(2000000 * coalesce(n_triangles, 0))
               DIV (degree * (degree - 1))""").as("lcc_micro"))
  }
}
