package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Lineage.LineageOps

/** Persisted, incrementally-maintained near-duplicate COMPONENT artifact —
  * the [[IndexOps]] lifecycle treatment for connected components.
  *
  * Five gated queries (weights, ESS, keep-best, apply, k-fold) each
  * recompute ngram-Jaccard pairs + connected components from scratch
  * (~1-4.6 s each at sf0.1; at 100 TB each would be a full corpus pass).
  * This store computes the clustering ONCE per ingested segment and lets
  * every downstream consumer JOIN the assignment instead of rebuilding:
  *
  *   - `shingles/` — the hashed shingle inverted index, appended per
  *     segment into `pmod(sh, 64)` bucket partitions (the postings-lake
  *     layout of [[IndexOps.refreshPostings]]): a future segment probes
  *     base shingles through a bucket-pruned equi-join, never a rebuild.
  *   - `sizes/` — per-doc distinct-shingle counts (appended), the |A|
  *     term future Jaccard verifications need.
  *   - `assignment/` — the (doc_id, component) snapshot, OVERWRITTEN per
  *     refresh (a slim 2-column table; the overwrite is the artifact's
  *     only corpus-sized write and rides a lineage cut, the
  *     [[LakeOps]] erasure discipline).
  *   - `segments/.ledger/components/` — the idempotence ledger, one
  *     marker file per refreshed segment ([[IndexOps.coveredSegments]]).
  *
  * Incremental merge = the textbook label-contraction argument: new
  * edges (delta×delta ∪ delta×base, both inverted-index equi-joins
  * bounded by the DELTA's shingle postings) are mapped through the
  * stored assignment, components run over that LABEL graph (touched
  * components only, not the corpus), and the resulting relabel map —
  * bounded by the labels the delta touched — joins back. Because stored
  * labels are component-minimum doc ids, the merged minimum equals the
  * from-scratch minimum, so after ANY refresh sequence the assignment is
  * bit-equal to a from-scratch [[GraphOps.componentsOf]] over every
  * ingested document (the gated oracle replays exactly that).
  *
  * Segment contract: a document belongs to exactly ONE segment (its
  * shingle set never spans refreshes), and doc ids are unique across
  * segments. Pair semantics match [[DedupOps.ngramJaccardPairs]] with no
  * DF cap — by induction every qualifying pair is found exactly once
  * (delta-internal pairs at the delta's refresh; cross pairs when the
  * LATER endpoint arrives).
  */
object ComponentStore {

  /** Qualifying Jaccard edges between two shingle indexes: exact
    * intersection counts off the 8-byte-hash equi-join, the single IEEE
    * division of [[DedupOps.ngramJaccardPairs]]. `selfJoin` restricts to
    * a<b (within one segment); the cross form relies on disjoint ids.
    */
  private def jaccardEdges(
      idxA: DataFrame, sizesA: DataFrame,
      idxB: DataFrame, sizesB: DataFrame,
      threshold: Double, selfJoin: Boolean): DataFrame = {
    val cond = if (selfJoin)
      col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id")
    else col("a.sh") === col("b.sh")
    val inter = idxA.as("a").join(idxB.as("b"), cond)
      .groupBy(col("a.doc_id").as("u"), col("b.doc_id").as("v"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizesA.select(col("doc_id").as("u"), col("n").as("n_u")), "u")
      .join(sizesB.select(col("doc_id").as("v"), col("n").as("n_v")), "v")
      .filter(col("i").cast("double") /
        (col("n_u") + col("n_v") - col("i")) >= threshold)
      .select(col("u"), col("v"))
  }

  /** Build-or-extend the component store with one named segment of
    * documents. First call creates the store; every further call folds
    * the segment in through the label-contraction merge. Idempotent per
    * segment name (a re-run is a no-op).
    */
  def refresh(
      docs: DataFrame,
      storeDir: String,
      segment: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3,
      threshold: Double = 0.2): Unit = {
    val spark = docs.sparkSession
    if (IndexOps.coveredSegments(spark, storeDir, "components")
        .contains(segment)) return

    val newIdx = DedupOps.shingleIndexHashed(docs, idCol, textCol, k, None)
      .cache()
    val newSizes = newIdx.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .cache()
    val ids = docs.select(col(idCol).cast("long").as("doc_id"))

    val asgPath = s"$storeDir/assignment"
    val next: DataFrame =
      if (!IndexOps.hasParquet(spark, asgPath)) {
        // first segment: plain components over the internal pair graph
        val edges = jaccardEdges(newIdx, newSizes, newIdx, newSizes,
          threshold, selfJoin = true)
        GraphOps.componentsOf(ids, "doc_id", edges, "u", "v")
          .select(col("node").as("doc_id"), col("component"))
      } else {
        // Bucket-prune the base postings scan by the DELTA's buckets: the
        // cross-segment join matches on sh (and sb = pmod(sh, 64) is a
        // function of sh), so base buckets the delta never touches cannot
        // produce a pair — filter them out of the scan (guide §6: the
        // predicate lands in PartitionFilters, unprobed bucket dirs are
        // never listed or read). The bucket list is ≤ 64 small ints off the
        // cached delta index; a corpus-scale base with a narrow delta (a
        // streaming micro-batch) reads only the delta's buckets.
        val deltaBuckets = newIdx
          .select(pmod(col("sh"), lit(64L)).as("sb")).distinct()
          .collect().map(_.getLong(0).toInt) // bounded: <= 64 rows
        val baseIdx = readShingles(spark, storeDir)
          .filter(col("sb").isin(deltaBuckets: _*))
        val baseSizes = readSizes(spark, storeDir)
        val baseAsg = spark.read.parquet(asgPath)
        val edges = jaccardEdges(newIdx, newSizes, newIdx, newSizes,
            threshold, selfJoin = true)
          .unionByName(jaccardEdges(newIdx, newSizes, baseIdx, baseSizes,
            threshold, selfJoin = false))
        // contract: base endpoints collapse to their stored label; delta
        // endpoints label as themselves. Components over the label graph
        // touch only what the delta touched.
        val labelEdges = edges
          .join(baseAsg.select(col("doc_id").as("u"),
            col("component").as("l_u")), Seq("u"), "left")
          .join(baseAsg.select(col("doc_id").as("v"),
            col("component").as("l_v")), Seq("v"), "left")
          .select(coalesce(col("l_u"), col("u")).as("lu"),
            coalesce(col("l_v"), col("v")).as("lv"))
          .filter(col("lu") =!= col("lv"))
        val remap = GraphOps.connectedComponents(labelEdges, "lu", "lv")
          .select(col("node").as("old_label"), col("component").as("new_label"))
        val mergedBase = baseAsg
          .join(remap.withColumnRenamed("old_label", "component"),
            Seq("component"), "left")
          .select(col("doc_id"),
            coalesce(col("new_label"), col("component")).as("component"))
        val mergedNew = ids
          // exclude ids the assignment already carries: under the segment
          // contract this is empty, but a replay of a TORN refresh (crash
          // after the assignment overwrite, before the ledger record)
          // would otherwise union duplicate doc_id rows with reset labels
          .join(baseAsg.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .join(remap.withColumnRenamed("old_label", "doc_id"),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("new_label"), col("doc_id")).as("component"))
        mergedBase.unionByName(mergedNew)
      }

    // reading assignment/ and overwriting it is the refreshBloom cycle —
    // cut lineage before the overwrite
    next.cutLineage().coalesce(4).write.mode("overwrite").parquet(asgPath)
    // repartition by the bucket key first: partitionBy from N shuffle
    // partitions otherwise writes up to N files into EVERY bucket dir
    // (64xN small files per segment — measured as the dominant refresh
    // cost at sf0.1): one file per bucket per segment. sb stays the only
    // partition dir, so bucket pruning is untouched.
    newIdx.withColumn("sb", pmod(col("sh"), lit(64L)))
      .repartition(col("sb"))
      .write.partitionBy("sb").mode("append").parquet(s"$storeDir/shingles")
    newSizes.coalesce(4).write.mode("append").parquet(s"$storeDir/sizes")
    newIdx.unpersist(false)
    newSizes.unpersist(false)
    IndexOps.recordSegment(spark, storeDir, "components", segment)
  }

  // Empty-store degradation (the IndexOps.readPostings discipline): a
  // zero-row segment writes no parquet part files, so schema inference
  // has nothing to read — fall back to typed empty frames.
  private def readShingles(spark: SparkSession, storeDir: String): DataFrame =
    if (IndexOps.hasParquet(spark, s"$storeDir/shingles"))
      spark.read.parquet(s"$storeDir/shingles")
    else {
      import spark.implicits._
      Seq.empty[(Long, Long, Long)].toDF("doc_id", "sh", "sb")
    }

  private def readSizes(spark: SparkSession, storeDir: String): DataFrame =
    if (IndexOps.hasParquet(spark, s"$storeDir/sizes"))
      spark.read.parquet(s"$storeDir/sizes")
    else {
      import spark.implicits._
      Seq.empty[(Long, Long)].toDF("doc_id", "n")
    }

  /** The stored (doc_id, component) assignment over every ingested
    * segment — what downstream consumers JOIN instead of rebuilding
    * pairs + components. An all-empty store (every refreshed segment had
    * zero rows) degrades to the typed empty frame.
    */
  def assignment(spark: SparkSession, storeDir: String): DataFrame =
    if (IndexOps.hasParquet(spark, s"$storeDir/assignment"))
      spark.read.parquet(s"$storeDir/assignment")
    else {
      import spark.implicits._
      Seq.empty[(Long, Long)].toDF("doc_id", "component")
    }

  /** Streaming ingest: each micro-batch folds into the store through
    * [[refresh]] with `segment = "batch-<id>"` — the segment ledger makes
    * replay of a COMPLETED batch a no-op (the
    * [[graft.streaming.CdcStream.applyToLake]] discipline), and the
    * assignment merge tolerates a replay of a TORN refresh (crash after
    * the assignment overwrite, before the ledger record): already-merged
    * delta ids are excluded from the re-union, so labels are not reset.
    * The torn window's shingle APPEND is not replay-idempotent — a crash
    * exactly there requires rebuilding the store (refreshes are seconds;
    * the window is the final two writes) — documented as the store's
    * recovery contract rather than hidden. After any prefix of completed
    * batches the assignment equals the from-scratch clustering of every
    * document delivered so far.
    */
  def applyStream(
      docs: DataFrame,
      storeDir: String,
      checkpointPath: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3,
      threshold: Double = 0.2): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        refresh(batch, storeDir, s"batch-$batchId", idCol, textCol,
          k, threshold)
        ()
      }
      .start()

  /** Soft-dedup weights riding the artifact: the exact
    * `1e6 DIV cluster_size` grid of the from-scratch formulation, at the
    * cost of one cluster-sized aggregate + one join over the slim
    * assignment — no shingling, no pair join, no component iteration.
    */
  def weights(spark: SparkSession, storeDir: String): DataFrame = {
    val asg = assignment(spark, storeDir)
    val sizes = asg.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    asg.join(sizes, "component")
      .select(col("doc_id"), col("component"), col("cluster_size"),
        expr("1000000 DIV cluster_size").as("weight_micro"))
  }
}
