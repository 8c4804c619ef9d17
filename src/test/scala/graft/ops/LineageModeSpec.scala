package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Every `Lineage.cut` caller exercised under BOTH lineage modes —
  * default eager localCheckpoint AND reliable `checkpoint()` selected by
  * `spark.graft.checkpointDir` (the production mode for preemptible
  * clusters, where losing one of 1000 executors mid-iteration is
  * near-certain). Round 8 pinned pageRank only; this spec covers the
  * full caller set: every GraphOps iteration, ModelOps.bradleyTerry,
  * LakeOps.eraseCascade, IndexOps.refreshBloom, ComponentStore.refresh,
  * and the CdcStream lake fold. Results must be identical in both modes,
  * and each reliable run must actually write checkpoint data.
  */
class LineageModeSpec extends SparkSpec {

  import spark.implicits._

  // ONE spec-wide reliable dir: SparkContext.checkpointDir is set once
  // per JVM by the first reliable cut (later Lineage.cut calls keep it),
  // so per-test temp dirs would see zero writes after the first test —
  // instead count files under whatever dir the context actually uses.
  private val ckptDir =
    java.nio.file.Files.createTempDirectory("graft_rckpt_").toString

  private def countFiles(d: String): Long = {
    // SparkContext reports the checkpoint dir as a file: URI
    val p = if (d.startsWith("file:"))
      java.nio.file.Paths.get(java.net.URI.create(d))
    else java.nio.file.Paths.get(d)
    if (!java.nio.file.Files.exists(p)) return 0L
    val s = java.nio.file.Files.walk(p)
    try s.filter(java.nio.file.Files.isRegularFile(_)).count()
    finally s.close()
  }

  /** Run `f` in reliable mode; assert checkpoint data was written. */
  private def reliable[T](f: => T): T = {
    val before = spark.sparkContext.getCheckpointDir
      .map(countFiles).getOrElse(0L)
    spark.conf.set(Lineage.CheckpointDirKey, ckptDir)
    try {
      val r = f
      val dir = spark.sparkContext.getCheckpointDir
      assert(dir.isDefined, "reliable run never set a checkpoint dir")
      assert(countFiles(dir.get) > before,
        s"no checkpoint files written under ${dir.get}")
      r
    } finally spark.conf.unset(Lineage.CheckpointDirKey)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Assert op(…) gives identical rows in default and reliable modes. */
  private def bothModes(tag: String)(op: => DataFrame): Unit = {
    val local = rows(op)
    val rel = reliable(rows(op))
    assert(rel == local, s"$tag diverged under reliable checkpoints")
    assert(local.nonEmpty, s"$tag fixture produced no rows")
  }

  // ring + chords (two of which close triangles) + a second component:
  // every iterative op has real work
  private def edges: DataFrame =
    ((1L to 40L).map(i => (i, i % 40 + 1)) ++
      Seq((1L, 20L), (5L, 30L), (1L, 3L), (5L, 7L), (50L, 51L), (51L, 52L)))
      .toDF("s", "d")

  test("every GraphOps iteration is mode-identical") {
    bothModes("connectedComponents")(
      // smallGraphEdges=0 forces the distributed star-contraction path
      // (the local union-find fast path never cuts lineage)
      GraphOps.connectedComponents(edges, "s", "d", smallGraphEdges = 0L))
    bothModes("pageRank")(GraphOps.pageRank(edges, "s", "d", iters = 6))
    bothModes("hits")(GraphOps.hits(edges, "s", "d", iters = 6))
    bothModes("triangleCounts")(GraphOps.triangleCounts(edges, "s", "d"))
    bothModes("bfsHops")(
      GraphOps.bfsHops(edges, "s", "d", sources = Seq(1L), maxHops = 6))
    bothModes("personalizedPageRank")(
      GraphOps.pageRank(edges, "s", "d", iters = 6, seeds = Seq(1L, 50L)))
    bothModes("shortestPathsWeighted")(
      GraphOps.shortestPathsWeighted(
        edges.withColumn("w", pmod(col("s") * 7 + col("d"), lit(5)) + 1),
        "s", "d", "w", sources = Seq(1L), rounds = 6))
    bothModes("kCoreNodes")(
      GraphOps.kCoreNodes(edges, "s", "d", k = 2, rounds = 6))
    bothModes("labelPropagation")(
      GraphOps.labelPropagation(edges, "s", "d", rounds = 4))
  }

  test("bradleyTerry is mode-identical") {
    val battles = Seq(
      (1L, 2L, 10L, 7L), (1L, 3L, 10L, 6L), (2L, 3L, 10L, 5L),
      (2L, 4L, 10L, 2L), (3L, 4L, 10L, 4L))
      .toDF("pa", "pb", "n_games", "wins_a")
    bothModes("bradleyTerry")(ModelOps.bradleyTerry(battles, iters = 3))
  }

  test("eraseCascade is mode-identical (fresh lake per mode)") {
    def run(): DataFrame = {
      val root = java.nio.file.Files
        .createTempDirectory("graft_lmerase_").toString
      (1L to 60L).map(i => (i, (i % 3).toString, i * 10))
        .toDF("user_id", "region", "v")
        .write.partitionBy("region").parquet(s"$root/users")
      LakeOps.eraseCascade(Seq(LakeOps.ErasureStep(
        "users", s"$root/users", Seq("region"), "user_id",
        Seq(3L, 7L, 9L).toDF("user_id"))))
    }
    val local = rows(run())
    val rel = reliable(rows(run()))
    assert(rel == local)
  }

  test("refreshBloom and ComponentStore.refresh are mode-identical " +
    "(fresh store per mode)") {
    def bloomRun(): DataFrame = {
      val idx = java.nio.file.Files
        .createTempDirectory("graft_lmbloom_").toString
      val rowsDf = (1L to 200L).map(i => (i, i % 8)).toDF("k", "p")
      IndexOps.refreshBloom(rowsDf.filter(col("k") <= 120), idx, "base",
        col("p"), col("k"))
      IndexOps.refreshBloom(rowsDf.filter(col("k") > 120), idx, "delta",
        col("p"), col("k"))
      IndexOps.readBloom(spark, idx)
    }
    assert(reliable(rows(bloomRun())) == rows(bloomRun()))

    def compRun(): DataFrame = {
      val store = java.nio.file.Files
        .createTempDirectory("graft_lmcomp_").toString
      val docs = Seq(
        (1L, "aa bb cc dd ee ff"), (2L, "aa bb cc dd ee gg"),
        (3L, "pp qq rr ss tt uu"), (4L, "pp qq rr ss tt vv"),
        (5L, "xx yy zz x2 y2 z2")).toDF("doc_id", "text")
      ComponentStore.refresh(docs.filter(col("doc_id") % 2 === 0), store, "a")
      ComponentStore.refresh(docs.filter(col("doc_id") % 2 =!= 0), store, "b")
      ComponentStore.assignment(spark, store)
    }
    assert(reliable(rows(compRun())) == rows(compRun()))
  }

  test("CdcStream lake fold is mode-identical (fresh stream per mode)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def run(): Seq[String] = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_lmcdc_").toFile
      val lake = new java.io.File(dir, "lake").getPath
      val ckpt = new java.io.File(dir, "ckpt").getPath
      val mem = MemoryStream[(Long, String, Long, String)]
      val q = CdcStreamFoldFixture.start(mem.toDF()
        .toDF("k", "status", "seq", "op"), lake, ckpt)
      try {
        mem.addData((1L, "a", 1L, "U"), (2L, "b", 1L, "U"))
        q.processAllAvailable()
        mem.addData((1L, "a2", 2L, "U"), (2L, "b", 2L, "D"), (3L, "c", 1L, "U"))
        q.processAllAvailable()
        rows(graft.streaming.CdcStream.readView(spark, lake))
      } finally q.stop()
    }
    val local = run()
    assert(reliable(run()) == local)
  }
}

/** Tiny indirection so the spec body stays readable. */
private object CdcStreamFoldFixture {
  def start(df: DataFrame, lake: String, ckpt: String) =
    graft.streaming.CdcStream.applyToLake(df, lake, ckpt, "k", "seq", "op")
}
