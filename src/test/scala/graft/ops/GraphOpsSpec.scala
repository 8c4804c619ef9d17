package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  /** smallGraphEdges = -1 forces the distributed star loop; default uses
    * the adaptive driver union-find path. Tests run both.
    */
  private def components(pairs: Seq[(Long, Long)], threshold: Long = 4L << 20): Map[Long, Long] =
    GraphOps.connectedComponents(pairs.toDF("a", "b"), "a", "b",
      smallGraphEdges = threshold)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** In-test oracle: sequential union-find. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // relabel every root to the component MINIMUM (find compresses to the
    // union-order root, which is already the min because we always hang
    // the larger root under the smaller); snapshot keys — find() mutates
    val ks = parent.keys.toVector
    ks.map(k => k -> find(k)).toMap
  }

  for ((label, thr) <- Seq("driver union-find" -> (4L << 20), "distributed star loop" -> -1L)) {

    test(s"[$label] a transitive chain collapses to one component labeled by its minimum") {
      val chain = (1L until 20L).map(i => (i, i + 1))
      val got = components(chain, thr)
      assert(got == (1L to 20L).map(_ -> 1L).toMap)
    }

    test(s"[$label] disjoint components keep separate minimal labels; self-loops ignored") {
      val got = components(Seq((5L, 3L), (3L, 9L), (20L, 21L), (30L, 30L)), thr)
      assert(got == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L))
    }

    test(s"[$label] matches sequential union-find on a pseudo-random graph") {
      // deterministic LCG so the test never flakes
      var seed = 12345L
      def next(n: Int): Int = { seed = seed * 6364136223846793005L + 1442695040888963407L; (math.abs(seed) % n).toInt }
      val pairs = (1 to 300).map(_ => (next(200).toLong, next(200).toLong)).filter(p => p._1 != p._2)
      assert(components(pairs, thr) == unionFind(pairs))
    }

    test(s"[$label] result is invariant under input partitioning") {
      val pairs = (1L until 50L).map(i => (i, i + 1))
      val df1 = pairs.toDF("a", "b").repartition(1)
      val df8 = pairs.toDF("a", "b").repartition(8)
      val r1 = GraphOps.connectedComponents(df1, "a", "b", smallGraphEdges = thr)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val r8 = GraphOps.connectedComponents(df8, "a", "b", smallGraphEdges = thr)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(r1 == r8)
    }
  }

  test("componentsOf labels edge-free nodes as singletons") {
    val nodes = (1L to 8L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val got = GraphOps.componentsOf(nodes, "id", pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 8L))
  }

  test("empty edge set yields empty components frame") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(GraphOps.connectedComponents(empty, "a", "b").count() == 0)
  }

  // ------------------------------------------------------------ PageRank

  /** In-test oracle: the same integer recurrence evaluated sequentially.
    * Integer sums are order-independent, so sequential == distributed is
    * an exact equality, not a tolerance check.
    */
  private def pageRankLocal(
      edges: Seq[(Long, Long)],
      iters: Int,
      scale: Long = 1000000000000L): Map[Long, Long] = {
    val es = edges.distinct
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val n = nodes.size.toLong
    val init = scale / n
    val base = init * 15L / 100L
    val outdeg = es.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var rank = nodes.map(_ -> init).toMap
    for (_ <- 1 to iters) {
      val in = es.groupBy(_._2).map { case (dst, ins) =>
        dst -> ins.map(e => rank(e._1) / outdeg(e._1)).sum
      }
      rank = nodes.map(v => v -> (base + 85L * in.getOrElse(v, 0L) / 100L)).toMap
    }
    rank
  }

  private def pageRankOf(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    GraphOps.pageRank(edges.toDF("s", "d"), "s", "d", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("triangleCounts: hand-computed graphs (K4, path, star+chord)") {
    // K4: every node sits in C(3,2) = 3 triangles
    val k4 = (for (u <- 1L to 4L; v <- (u + 1) to 4L) yield (u, v)).toDF("u", "v")
    val got = GraphOps.triangleCounts(k4, "u", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // path graph: no triangles -> empty result
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    assert(GraphOps.triangleCounts(path, "u", "v").count() == 0)
    // star + one chord: exactly one triangle (hub, spoke1, spoke2)
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (2L, 3L)).toDF("u", "v")
    val sc = GraphOps.triangleCounts(star, "u", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("triangleCounts matches naive enumeration on a pseudo-random graph; layout-invariant") {
    val edges = (1 to 400).map { i =>
      val u = (i * 7919) % 30; val v = (i * 104729) % 30
      (math.min(u, v).toLong, math.max(u, v).toLong)
    }.filter { case (u, v) => u != v }.distinct.toDF("u", "v")
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = (for {
      (a, b) <- es; (c, d) <- es if a == c && b < d && es.contains((b, d))
    } yield Seq(a, b, d)).toSeq.flatten
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    val got = GraphOps.triangleCounts(edges, "u", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == naive, s"got $got\nexpected $naive")
    val rep = GraphOps.triangleCounts(edges.repartition(7), "u", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep == naive)
  }

  test("pageRank matches the sequential integer recurrence on a pseudo-random graph") {
    var seed = 98765L
    def next(n: Int): Int = { seed = seed * 6364136223846793005L + 1442695040888963407L; (math.abs(seed) % n).toInt }
    val edges = (1 to 400).map(_ => (next(60).toLong, next(60).toLong))
      .filter(p => p._1 != p._2)
    assert(pageRankOf(edges, 5) == pageRankLocal(edges, 5))
  }

  test("pageRank: a star hub outranks its spokes; total mass is bounded by scale") {
    // 1..8 all point at 0, 0 points back at 1 (so 0 is not dangling)
    val edges = (1L to 8L).map(i => (i, 0L)) :+ (0L, 1L)
    val got = pageRankOf(edges, 10)
    assert(got(0L) > got(2L) * 4, s"hub should dominate: $got")
    assert(got.values.sum <= 1000000000000L)
    assert(got == pageRankLocal(edges, 10))
  }

  test("pageRank drops dangling mass (documented simplification)") {
    // 1 -> 2, 2 dangling: each round 2's rank leaks out of the system
    val edges = Seq((1L, 2L))
    val got = pageRankOf(edges, 3)
    assert(got == pageRankLocal(edges, 3))
    assert(got.values.sum < 1000000000000L)
  }

  /** Sequential twin of the redistribute-dangling recurrence. */
  private def pageRankDanglingLocal(
      edges: Seq[(Long, Long)],
      iters: Int,
      scale: Long = 1000000000000L): Map[Long, Long] = {
    val es = edges.distinct
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val n = nodes.size.toLong
    val init = scale / n
    val base = init * 15L / 100L
    val outdeg = es.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var rank = nodes.map(_ -> init).toMap
    for (_ <- 1 to iters) {
      val share = nodes.filterNot(outdeg.contains).map(rank).sum / n
      val in = es.groupBy(_._2).map { case (dst, ins) =>
        dst -> ins.map(e => rank(e._1) / outdeg(e._1)).sum
      }
      rank = nodes.map(v =>
        v -> (base + 85L * (in.getOrElse(v, 0L) + share) / 100L)).toMap
    }
    rank
  }

  test("pageRank redistributes dangling mass when asked (canonical semantics)") {
    // 1 -> 2, 2 dangling; 3 -> 2 as well. In drop mode node 2's mass
    // leaks; in redistribute mode every node receives its share back.
    val edges = Seq((1L, 2L), (3L, 2L), (1L, 3L))
    val got = GraphOps.pageRank(
      edges.toDF("s", "d"), "s", "d", 4, redistributeDangling = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == pageRankDanglingLocal(edges, 4))
    // retains strictly more mass than drop mode
    assert(got.values.sum > pageRankOf(edges, 4).values.sum)
    // hand computation, iteration 1, n=3, init=333333333333, base=49999999999:
    // outdeg(1)=2, outdeg(3)=1; dangling={2}: share = init/3 = 111111111111
    // in(2) = init/2 + init = 499999999999; in(3) = init/2 = 166666666666
    val init = 1000000000000L / 3
    val base = init * 15 / 100
    val share = init / 3
    val r1 = Map(
      1L -> (base + 85 * share / 100),
      2L -> (base + 85 * (init / 2 + init + share) / 100),
      3L -> (base + 85 * (init / 2 + share) / 100))
    assert(pageRankDanglingLocal(edges, 1) == r1)
  }

  test("pageRank: empty edge set yields an empty rank frame; self-loops feed themselves") {
    assert(pageRankOf(Seq.empty, 3).isEmpty)
    // 1 -> 1 self-loop plus 1 -> 2: self-loop mass recirculates; both
    // nodes still match the sequential recurrence exactly
    val edges = Seq((1L, 1L), (1L, 2L))
    assert(pageRankOf(edges, 4) == pageRankLocal(edges, 4))
  }

  test("pageRank is bit-identical under input partitioning") {
    val edges = (1L to 100L).map(i => (i, i % 7))
    val df1 = edges.toDF("s", "d").repartition(1)
    val df8 = edges.toDF("s", "d").repartition(8)
    val r1 = GraphOps.pageRank(df1, "s", "d", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val r8 = GraphOps.pageRank(df8, "s", "d", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(r1 == r8)
  }

  test("pageRank is identical under reliable-checkpoint mode (spark.graft.checkpointDir)") {
    // Lineage.cut switches every iterative materialization from
    // localCheckpoint (fast, not executor-loss-tolerant) to reliable
    // checkpoint() when the config names a directory — the production
    // mode for preemptible clusters. Results must be bit-identical.
    val edges = (1L to 100L).map(i => (i, i % 7))
    val local = pageRankOf(edges, 5)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ckpt_").toString
    // SparkContext.checkpointDir is JVM-global and FIRST-set wins
    // (another suite — LineageModeSpec — may have pinned it already), so
    // count files under whatever dir the context actually uses
    def count(d: String): Long = {
      val p = if (d.startsWith("file:"))
        java.nio.file.Paths.get(java.net.URI.create(d))
      else java.nio.file.Paths.get(d)
      if (!java.nio.file.Files.exists(p)) 0L
      else {
        val s = java.nio.file.Files.walk(p)
        try s.filter(java.nio.file.Files.isRegularFile(_)).count()
        finally s.close()
      }
    }
    val before = spark.sparkContext.getCheckpointDir.map(count).getOrElse(0L)
    spark.conf.set(Lineage.CheckpointDirKey, dir)
    try {
      val reliable = pageRankOf(edges, 5)
      assert(reliable == local)
      // the reliable path actually wrote checkpoint data
      val actual = spark.sparkContext.getCheckpointDir
      assert(actual.isDefined, "reliable run never set a checkpoint dir")
      assert(count(actual.get) > before,
        s"no checkpoint files under ${actual.get}")
    } finally spark.conf.unset(Lineage.CheckpointDirKey)
  }

  test("bfsHops: hand-computed hop levels, hop cap, layout invariance") {
    // 1-2-3-4-5 path plus a 2-6 branch and an unreachable 8-9 island;
    // directed edges given one-way — BFS follows direction
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 6L),
      (8L, 9L)).toDF("s", "d")
    def run(df: org.apache.spark.sql.DataFrame, hops: Int) =
      GraphOps.bfsHops(df, "s", "d", Seq(1L), hops)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = run(edges, 3)
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2, 6L -> 2, 4L -> 3),
      s"got $got")
    // cap respected: node 5 (hop 4) absent above, present at maxHops 4
    assert(run(edges, 4).get(5L).contains(4))
    // early exhaustion: a huge cap terminates once the frontier drains
    assert(run(edges, 100) == run(edges, 4))
    // multi-source takes the min distance; layout-invariant
    val multi = GraphOps.bfsHops(edges.repartition(7), "s", "d",
        Seq(1L, 4L), 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(multi == Map(1L -> 0, 4L -> 0, 2L -> 1, 5L -> 1, 3L -> 2, 6L -> 2))
  }

  test("kCoreNodes: hand-computed 2-core; peeling cascades") {
    // Triangle 1-2-3 (2-core) with a pendant chain 3-4-5: removing 5
    // (deg 1) exposes 4 (deg 1) — the cascade needs two rounds, and the
    // triangle must survive both.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("a", "b")
    val got = GraphOps.kCoreNodes(edges, "a", "b", k = 2, rounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2, 2L -> 2, 3L -> 2), s"got $got")
  }

  test("kCoreNodes: rounds at/past fixpoint agree; parallel edges and self-loops collapse") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(400)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .toDF("a", "b")
    def run(rounds: Int) =
      GraphOps.kCoreNodes(edges, "a", "b", k = 4, rounds = rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r8 = run(8)
    assert(r8 == run(12), "extra rounds past fixpoint changed the result")
    assert(r8.nonEmpty && r8.values.forall(_ >= 4))
    // duplicate + reversed edges and self-loops do not inflate degrees
    val doubled = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
      .union(Seq((7L, 7L)).toDF("a", "b"))
    val gotDoubled = GraphOps.kCoreNodes(doubled, "a", "b", k = 4, rounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDoubled == r8)
  }

  test("labelPropagation: two cliques + bridge split into min-labeled communities") {
    // Clique {1,2,3} and clique {10,11,12} joined by one bridge 3-10.
    // Hand-traced synchronous rounds: label 1 wins clique A by round 2;
    // the bridge leaks node 3's ID into clique B, where tie-breaks carry
    // it to all of {10,11,12} by round 4 — two communities, labels 1 and
    // 3, stable from round 4 on. (The leaked-label value is exactly the
    // determinism being pinned: any tie-break change shifts it.)
    val k3a = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val k3b = Seq((10L, 11L), (11L, 12L), (10L, 12L))
    val edges = (k3a ++ k3b :+ (3L, 10L)).toDF("a", "b")
    val got = GraphOps.labelPropagation(edges, "a", "b", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L), s"got $got")
    // deterministic and layout-invariant
    val re = GraphOps.labelPropagation(edges.repartition(7), "a", "b", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(re == got)
  }

  test("labelPropagation: single round on a star adopts the hub/spoke labels symmetrically") {
    // Star 5-(1,2,3): after one synchronous round the hub sees labels
    // {1,2,3} (tie -> 1) and each spoke sees only {5}.
    val edges = Seq((5L, 1L), (5L, 2L), (5L, 3L)).toDF("a", "b")
    val got = GraphOps.labelPropagation(edges, "a", "b", rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(5L -> 1L, 1L -> 5L, 2L -> 5L, 3L -> 5L), s"got $got")
  }

  test("labelPropagation: hub-split (hot) path is result-identical to the single path") {
    // Power-law-ish graph: hub 0 touches every node (degree >= 20% of
    // edges) plus a pseudo-random sparse remainder. hotDegree=8 forces
    // the broadcast two-path plan; hotDegree=MaxValue is the original
    // single-path plan — the results must match bit for bit.
    val rnd = new scala.util.Random(42)
    val hub = (1L to 60L).map(i => (0L, i))
    val sparse = (0 until 120).map(_ =>
      (rnd.nextInt(60).toLong + 1L, rnd.nextInt(60).toLong + 1L))
    val edges = (hub ++ sparse).toDF("a", "b")
    def run(hot: Int) =
      GraphOps.labelPropagation(edges, "a", "b", rounds = 3, hotDegree = hot)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val split = run(8)
    val single = run(Int.MaxValue)
    assert(split == single, "two-path LPA must be semantics-preserving")
    assert(split.nonEmpty && split.contains(0L))
  }

  test("modularity: two clean triangles score the textbook 0.5; one community scores 0") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L)).toDF("a", "b")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 4L), (5L, 4L), (6L, 4L)).toDF("node", "label")
    val r = GraphOps.modularity(edges, "a", "b", labels).collect()(0)
    // m=6; per community e_c=3, d_c=6 -> num = 2*(4*6*3 - 36) = 72
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) == ((6L, 72L, 0.5)))
    // everything in one community: Q = 0 exactly
    val one = labels.select(col("node"), lit(1L).as("label"))
    assert(GraphOps.modularity(edges, "a", "b", one).collect()(0)
      .getDouble(2) == 0.0)
    // a bad split (cut both triangles in half) scores negative
    val bad = Seq((1L, 1L), (2L, 1L), (3L, 2L),
      (4L, 1L), (5L, 2L), (6L, 2L)).toDF("node", "label")
    assert(GraphOps.modularity(edges, "a", "b", bad).collect()(0)
      .getDouble(2) < 0.0)
  }

  test("cooccurrencePairs: hand case, minCount filter, and the basket-size guard") {
    val baskets = Seq(
      (1, 10L), (1, 11L), (1, 12L),
      (2, 10L), (2, 11L),
      (3, 10L), (3, 11L), (3, 11L), // duplicate item collapses
      (4, 12L)).toDF("bk", "item")
    val got = GraphOps.cooccurrencePairs(baskets, "bk", "item", minCount = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((10L, 11L) -> 3L), s"got $got")
    val all = GraphOps.cooccurrencePairs(baskets, "bk", "item", minCount = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(all == Map((10L, 11L) -> 3L, (10L, 12L) -> 1L, (11L, 12L) -> 1L))
    val err = intercept[Exception] {
      GraphOps.cooccurrencePairs(baskets, "bk", "item",
        minCount = 1L, maxBasketSize = 2L).collect()
    }
    assert(err.getMessage.contains("basket"), err.getMessage)
  }

  test("personalizedPageRank: hand-computed rounds, locality, layout invariance") {
    import spark.implicits._
    // two components; the walk restarts at seed 1 — nodes 3/4 must stay
    // at EXACT 0 (the locality that makes PPR a candidate generator)
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L)).toDF("s", "d")
    def run(iters: Int) = GraphOps
      .pageRank(edges, "s", "d", iters = iters, seeds = Seq(1L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // r1: seed = base = init*15//100; neighbor = 85%*init
    assert(run(1) == Map(
      1L -> 150000000000L, 2L -> 850000000000L, 3L -> 0L, 4L -> 0L))
    // r2: seed = base + 85%*r1(2); neighbor = 85%*r1(1)
    assert(run(2) == Map(
      1L -> 872500000000L, 2L -> 127500000000L, 3L -> 0L, 4L -> 0L))
    assert(GraphOps.pageRank(
        edges.repartition(7), "s", "d", 2, seeds = Seq(1L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == run(2))
    intercept[IllegalArgumentException](GraphOps.pageRank(
      edges, "s", "d", 2, redistributeDangling = true, seeds = Seq(1L)))
  }

  test("shortestPathsWeighted: detour beats direct edge, hop bound, negative refuse") {
    import spark.implicits._
    // 1 -> 4 direct costs 10; 1 -> 2 -> 4 costs 2 + 3 = 5; 1 -> 2 -> 3 -> 5
    // reaches 5 only with >= 3 rounds; node 6 unreachable
    val edges = Seq(
      (1L, 4L, 10L), (1L, 2L, 2L), (2L, 4L, 3L), (2L, 3L, 4L), (3L, 5L, 1L))
      .toDF("src", "dst", "w")
    def run(rounds: Int) = GraphOps
      .shortestPathsWeighted(edges, "src", "dst", "w", Seq(1L), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(3) == Map(1L -> 0L, 2L -> 2L, 3L -> 6L, 4L -> 5L, 5L -> 7L))
    // hop bound is the semantics: with 1 round the direct edge wins
    assert(run(1) == Map(1L -> 0L, 2L -> 2L, 4L -> 10L))
    // layout invariance (exact integer min-plus)
    val r13 = GraphOps.shortestPathsWeighted(
        edges.repartition(13), "src", "dst", "w", Seq(1L), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r13 == run(3))
    // negative weights refuse loudly
    val neg = Seq((1L, 2L, -1L)).toDF("src", "dst", "w")
    val err = intercept[Exception] {
      GraphOps.shortestPathsWeighted(neg, "src", "dst", "w", Seq(1L), 1).collect()
    }
    assert(err.getMessage.contains("negative weight"), err.getMessage)
  }

  test("hits: hand-computed round, bipartite separation, scale bound, layout invariance") {
    import spark.implicits._
    val S = 1L << 20
    // 1 -> {a=100, b=101}, 2 -> {b}: node 1 is the stronger hub, b the
    // stronger authority
    val edges = Seq((1L, 100L), (1L, 101L), (2L, 101L)).toDF("src", "dst")
    def run(df: org.apache.spark.sql.DataFrame, iters: Int) =
      GraphOps.hits(df, "src", "dst", iters)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    // one round by hand: ar = {a:1, b:2}, max 2 -> a1 = {a:S/2, b:S};
    // hr = {1: S/2+S, 2: S}, max 3S/2 -> h1 = {1:S, 2: S*S div (3S/2)}
    val r1 = run(edges, 1)
    assert(r1(100L) == (0L, S / 2))
    assert(r1(101L) == (0L, S))
    assert(r1(1L) == (S, 0L))
    assert(r1(2L) == (S * S / (3 * S / 2), 0L))

    // deeper rounds: bipartite separation holds, every score is in
    // [0, scale], and both maxima ARE scale (normalization pins the top)
    val r3 = run(edges, 3)
    assert(r3.values.forall { case (h, a) => h >= 0 && h <= S && a >= 0 && a <= S })
    assert(Seq(100L, 101L).forall(n => r3(n)._1 == 0L))
    assert(Seq(1L, 2L).forall(n => r3(n)._2 == 0L))
    assert(r3.values.map(_._1).max == S && r3.values.map(_._2).max == S)
    // node 1 out-ranks node 2 as a hub; b out-ranks a as an authority
    assert(r3(1L)._1 > r3(2L)._1 && r3(101L)._2 > r3(100L)._2)

    // exact integer recurrence => bit-identical under any partitioning
    assert(run(edges.repartition(7), 3) == r3)
  }

  test("degreeAssortativity: star -1, scalar replica, regular graph NULL") {
    import spark.implicits._
    def assort(es: Seq[(Long, Long)]): org.apache.spark.sql.Row =
      GraphOps.degreeAssortativity(es.toDF("u", "v"), "u", "v")
        .collect().head
    // a star is maximally DISassortative: r = -1 exactly
    val star = (2L to 9L).map(i => (1L, i))
    val rs = assort(star)
    assert(rs.getAs[Long]("m_directed") == 16L)
    assert(rs.getAs[Long]("n_nodes") == 9L)
    assert(rs.getAs[Double]("r_assort") == -1.0)
    // a cycle is degree-regular: zero variance -> NULL
    val cyc = (1L to 6L).map(i => (i, i % 6 + 1))
    assert(assort(cyc).isNullAt(2))
    // arbitrary graph == the scalar Pearson-over-directed-edges replica
    val es = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (4L, 5L), (5L, 6L))
    val r = assort(es)
    val dirE = es ++ es.map(_.swap)
    val deg = dirE.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val prods = dirE.map { case (a, b) => (deg(a), deg(b)) }
    val m = prods.length.toDouble
    val sx = prods.map(_._1).sum.toDouble
    val sxy = prods.map(p => p._1 * p._2).sum.toDouble
    val sxx = prods.map(p => p._1 * p._1).sum.toDouble
    val expect = (m * sxy - sx * sx) / math.sqrt(
      (m * sxx - sx * sx) * (m * sxx - sx * sx))
    assert(r.getAs[Double]("r_assort") == expect)
  }

  test("clusteringCoeff: clique corners score 10^6, bridge scores the " +
    "hand value, degree-1 leaves excluded") {
    // triangle {1,2,3} + K4 {4,5,6,7}, bridged 3-4; leaf 8 off node 1
    val k4 = for {
      a <- Seq(4L, 5L, 6L, 7L); b <- Seq(4L, 5L, 6L, 7L) if a < b
    } yield (a, b)
    val es = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (1L, 8L)) ++ k4
    val out = GraphOps.clusteringCoeff(es.toDF("u", "v"), "u", "v")
      .collect().map(r => r.getAs[Long]("node") -> r).toMap
    assert(!out.contains(8L), "degree-1 node has no defined coefficient")
    assert(out(2L).getAs[Long]("lcc_micro") == 1000000L, "clique corner")
    assert(out(5L).getAs[Long]("lcc_micro") == 1000000L, "K4 corner")
    // node 3: degree 3 (1,2,4), triangles 1 -> 2*1e6*1/(3*2)
    assert(out(3L).getAs[Long]("degree") == 3L &&
      out(3L).getAs[Long]("n_triangles") == 1L &&
      out(3L).getAs[Long]("lcc_micro") == 2000000L / 6L)
    // node 4: degree 4 (3,5,6,7), triangles 3 (inside K4) -> 6e6/12
    assert(out(4L).getAs[Long]("lcc_micro") == 6000000L / 12L)
    // node 1: degree 3 (2,3,8), triangles 1, same 1/3
    assert(out(1L).getAs[Long]("lcc_micro") == 333333L)
  }

  test("kTrussEdges: K5 survives 5-truss peeling, pendant triangles fall " +
    "to 4-truss, chains fall to 3-truss; extra rounds past fixpoint " +
    "change nothing") {
    // K5 {1..5} + triangle {5,6,7} hanging off node 5 + path 7-8-9
    val k5 = for {
      a <- 1L to 5L; b <- 1L to 5L if a < b
    } yield (a, b)
    val es = k5 ++ Seq((5L, 6L), (5L, 7L), (6L, 7L), (7L, 8L), (8L, 9L))
    val df = es.toDF("u", "v")
    def edgesOf(k: Int, rounds: Int): Set[(Long, Long)] =
      GraphOps.kTrussEdges(df, "u", "v", k, rounds).collect()
        .map(r => (r.getAs[Long]("u"), r.getAs[Long]("v"))).toSet
    // 3-truss: every edge in a triangle (path edges drop)
    assert(edgesOf(3, 2) == (k5 ++ Seq((5L, 6L), (5L, 7L), (6L, 7L))).toSet)
    // 5-truss: only K5 (each K5 edge sits in 3 triangles inside K5)
    assert(edgesOf(5, 3) == k5.toSet)
    // support column: inside the surviving K5 every edge has support 3
    val sup = GraphOps.kTrussEdges(df, "u", "v", 5, 3).collect()
    sup.foreach(r => assert(r.getAs[Long]("support") == 3L))
    // 6-truss of K5 is empty (needs support 4)
    assert(edgesOf(6, 3).isEmpty)
    // rounds past fixpoint are a no-op
    assert(edgesOf(4, 2) == edgesOf(4, 6))
  }
}
