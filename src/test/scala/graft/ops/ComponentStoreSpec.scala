package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The component-store invariant: after ANY refresh sequence the stored
  * assignment is bit-equal to a from-scratch ngramJaccardPairs +
  * componentsOf over every ingested document. The fixtures force the
  * interesting merge paths: clusters cut across segments, two existing
  * components fused by a LATER bridge document, and singletons.
  */
class ComponentStoreSpec extends SparkSpec {

  import spark.implicits._

  // Near-dup families under 3-gram Jaccard >= 0.2: docs within a family
  // share most shingles; families share none (distinct vocabularies).
  private def fam(prefix: String, tail: String) =
    s"${prefix}1 ${prefix}2 ${prefix}3 ${prefix}4 ${prefix}5 ${prefix}6 $tail"
  private val docs: DataFrame = Seq(
    // family A: docs 1 (seg even) and 2, 3 (odd segs)
    (1L, fam("aa", "x y")),
    (2L, fam("aa", "x z")),
    (3L, fam("aa", "w y")),
    // family B: docs 4 (even), 5 (odd)
    (4L, fam("bb", "p q")),
    (5L, fam("bb", "p r")),
    // singleton with shingles
    (6L, "uu vv ww xx yy zz"),
    // too short for 3-shingles (edge: absent from the index entirely)
    (7L, "one two"),
    // family C: 8 and 9 in DIFFERENT early segments, fused only by the
    // late bridge doc 10 which overlaps both
    (8L, "cc1 cc2 cc3 cc4 cc5 cc6 cc7 cc8"),
    (9L, "dd1 dd2 dd3 dd4 dd5 dd6 dd7 dd8"),
    (10L, "cc1 cc2 cc3 cc4 dd1 dd2 dd3 dd4")
  ).toDF("doc_id", "text")

  private def fromScratch(d: DataFrame): Array[(Long, Long)] = {
    val pairs = DedupOps.ngramJaccardPairs(d, "doc_id", "text",
      k = 3, threshold = 0.2)
    GraphOps.componentsOf(d, "doc_id", pairs, "id_a", "id_b")
      .select(col("node").cast("long"), col("component").cast("long"))
      .as[(Long, Long)].collect().sortBy(_._1)
  }

  private def stored(store: String): Array[(Long, Long)] =
    ComponentStore.assignment(spark, store)
      .select(col("doc_id").cast("long"), col("component").cast("long"))
      .as[(Long, Long)].collect().sortBy(_._1)

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_cs_$tag").toString

  test("single-segment build == from-scratch components") {
    val store = tmp("one")
    ComponentStore.refresh(docs, store, "all")
    assert(stored(store).sameElements(fromScratch(docs)))
  }

  test("even/odd split: cross-segment clusters merge to the from-scratch " +
    "assignment; re-refresh is a no-op") {
    val store = tmp("eo")
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 =!= 0)
    ComponentStore.refresh(even, store, "base")
    ComponentStore.refresh(odd, store, "delta")
    val after = stored(store)
    assert(after.sameElements(fromScratch(docs)))
    ComponentStore.refresh(odd, store, "delta") // idempotent
    assert(stored(store).sameElements(after))
    // the split genuinely exercised a merge: family A spans both sides
    val compOf = after.toMap
    assert(compOf(1L) == compOf(2L) && compOf(2L) == compOf(3L))
    assert(compOf(1L) == 1L, "label must be the component-minimum doc id")
  }

  test("late bridge fuses two components born in different segments") {
    val store = tmp("bridge")
    ComponentStore.refresh(docs.filter(col("doc_id") <= 4), store, "s1")
    ComponentStore.refresh(
      docs.filter(col("doc_id") > 4 && col("doc_id") <= 9), store, "s2")
    // before the bridge: 8 and 9 are separate
    val mid = stored(store).toMap
    assert(mid(8L) != mid(9L))
    ComponentStore.refresh(docs.filter(col("doc_id") === 10), store, "s3")
    val fin = stored(store)
    assert(fin.sameElements(fromScratch(docs)))
    val compOf = fin.toMap
    assert(compOf(8L) == 8L && compOf(9L) == 8L && compOf(10L) == 8L)
    // untouched families keep their labels through the remap join
    assert(compOf(4L) == 4L && compOf(5L) == 4L && compOf(6L) == 6L)
    // the shingle-free doc stays a singleton
    assert(compOf(7L) == 7L)
  }

  test("replay of a TORN refresh (assignment committed, ledger lost) does " +
    "not reset merged labels") {
    val store = tmp("torn")
    ComponentStore.refresh(docs.filter(col("doc_id") % 2 === 0), store, "base")
    ComponentStore.refresh(docs.filter(col("doc_id") % 2 =!= 0), store, "delta")
    val good = stored(store)
    // simulate the torn window: the ledger vanishes (crash between the
    // assignment overwrite and recordSegment) and foreachBatch replays
    // the delta — the merged labels must survive the re-union
    val ledger = java.nio.file.Paths.get(s"$store/segments")
    java.nio.file.Files.walk(ledger)
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    ComponentStore.refresh(docs.filter(col("doc_id") % 2 =!= 0), store, "delta")
    assert(stored(store).sameElements(good),
      "torn-refresh replay must not reset delta labels")
  }

  test("streamed ingest (applyStream) == batch clustering after every batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val store = tmp("stream")
    val ckpt = tmp("streamck")
    val mem = MemoryStream[(Long, String)]
    val q = ComponentStore.applyStream(
      mem.toDF().toDF("doc_id", "text"), store, ckpt)
    val all = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    try {
      // batch 1: the first two families' even docs; batch 2: the rest
      // minus the bridge; batch 3: the bridge alone (late fuse)
      val b1 = all.filter(_._1 <= 4)
      val b2 = all.filter(d => d._1 > 4 && d._1 <= 9)
      val b3 = all.filter(_._1 == 10L)
      mem.addData(b1.toSeq: _*)
      q.processAllAvailable()
      assert(stored(store).sameElements(
        fromScratch(docs.filter(col("doc_id") <= 4))))
      mem.addData(b2.toSeq: _*)
      q.processAllAvailable()
      assert(stored(store).sameElements(
        fromScratch(docs.filter(col("doc_id") <= 9))))
      mem.addData(b3.toSeq: _*)
      q.processAllAvailable()
      assert(stored(store).sameElements(fromScratch(docs)))
    } finally q.stop()
  }

  test("weights off the artifact == dedupWeights shape off from-scratch") {
    val store = tmp("w")
    ComponentStore.refresh(docs.filter(col("doc_id") % 3 === 0), store, "s0")
    ComponentStore.refresh(docs.filter(col("doc_id") % 3 === 1), store, "s1")
    ComponentStore.refresh(docs.filter(col("doc_id") % 3 === 2), store, "s2")
    val got = ComponentStore.weights(spark, store)
      .select(col("doc_id").cast("long"), col("component").cast("long"),
        col("cluster_size").cast("long"), col("weight_micro").cast("long"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    val asg = fromScratch(docs)
    val sizes = asg.groupBy(_._2).map { case (c, xs) => c -> xs.length.toLong }
    val want = asg.map { case (d, c) =>
      (d, c, sizes(c), 1000000L / sizes(c)) }.sortBy(_._1)
    assert(got.sameElements(want))
  }
}
