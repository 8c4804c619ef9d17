package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Lineage.LineageOps

/** One lifecycle for the "build once, amortize over every query"
  * lake-resident indexes that previously had ad-hoc entry points: the
  * positional-postings lake ([[SearchOps.positionalPostings]] +
  * token-bucket partitioning) and the Bloom partition index
  * ([[LakeOps.bloomPartitionIndex]] + its OR-monoid merge). Both are
  * metadata the ingest pipeline must EXTEND on append — never rebuild —
  * and both get that through the same [[refreshPostings]]/[[refreshBloom]]
  * shape: idempotent per named segment, incremental by construction.
  *
  * On-disk layout under `indexDir`:
  *   - `postings/` — `(doc_id, pos, token)` rows, parquet PARTITIONED BY
  *     `tb` = xxhash64(token) mod [[PostingsBuckets]] (partition-per-raw-
  *     token would be the small-files antipattern; 64 buckets is the
  *     shape a production index lake uses). A refresh APPENDS the new
  *     segment's postings as new files inside the same bucket dirs —
  *     pure file adds, existing postings bytes are never rewritten (the
  *     [[IvfIndexOps.append]] discipline). Phrase queries prune to the
  *     probed tokens' buckets via PartitionFilters.
  *   - `bloom/` — `(part, word_idx, word)` Bloom words. Bloom bitsets
  *     are an OR-monoid, so a refresh folds the delta's layout-sized
  *     word rows into the stored index with ONE `bit_or` aggregate and
  *     rewrites only the (layout-sized, broadcastable) index frame —
  *     the corpus is read once per segment, ever.
  *   - `segments/` — the covered-segment ledger `(kind, segment)`.
  *     Refreshes are idempotent per (kind, segment): re-running an
  *     ingest job cannot double-append postings or double-OR stats, and
  *     [[staleness]] turns the ledger into the assertion every scheduled
  *     pipeline needs ("which expected segments are NOT in the index?").
  *
  * Local-filesystem paths here (the test/demo environment); on a real
  * cluster the same layout lives on HDFS/object storage — the access
  * pattern (partitioned appends, layout-sized rewrites, ledger) is the
  * part that scales, and no operation ever reads more than one segment
  * of corpus data plus layout-sized metadata.
  */
object IndexOps {

  /** Token-hash partition count for the postings lake. */
  val PostingsBuckets = 64

  /** The postings bucket of a token column (xxhash64 — Spark-stable). */
  def postingsBucket(token: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(xxhash64(token), lit(PostingsBuckets.toLong))

  private def exists(path: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(path))

  private def ledgerDir(indexDir: String, kind: String): java.nio.file.Path =
    java.nio.file.Paths.get(
      s"$indexDir/segments/.ledger", // dot-dir: invisible to the parquet reader
      ledgerName("kind", kind))

  /** The file name a ledger kind or segment is stored under: URL-encoded,
    * with a leading dot escaped as `%2E` so that `.` and `..` (and any
    * dot-name) never resolve to the ledger's own directories.
    * `URLDecoder` reverses both, so markers written before the escape
    * read back the same. An empty name has no file and is rejected.
    */
  private def ledgerName(what: String, name: String): String = {
    if (name.isEmpty) throw new IllegalArgumentException(s"index ledger $what must not be empty")
    val e = java.net.URLEncoder.encode(name, "UTF-8")
    if (e.startsWith(".")) "%2E" + e.substring(1) else e
  }

  /** Segments already folded into `kind`'s index (empty ledger = none).
    *
    * Every refresh probes this BEFORE folding, and an idempotent replay is
    * nothing but this probe — so it must not cost a Spark job (scan task +
    * footer reads just to re-learn "segment already covered").
    * [[recordSegment]] drops a zero-byte marker per (kind, segment) under
    * `segments/.ledger/<kind>/`; listing that directory is pure filesystem
    * metadata. Stores whose `kind` ledger predates the marker scheme fall
    * back to the parquet read (recordSegment backfills the markers the
    * first time it extends such a store, so the fallback pays at most
    * once per store).
    */
  def coveredSegments(spark: SparkSession, indexDir: String, kind: String): Set[String] = {
    val ledger = ledgerDir(indexDir, kind)
    if (java.nio.file.Files.isDirectory(ledger)) {
      val s = java.nio.file.Files.list(ledger)
      try {
        val it = s.iterator()
        val out = Set.newBuilder[String]
        while (it.hasNext)
          out += java.net.URLDecoder.decode(it.next().getFileName.toString, "UTF-8")
        out.result()
      } finally s.close()
    }
    else coveredSegmentsParquet(spark, indexDir, kind)
  }

  private def coveredSegmentsParquet(
      spark: SparkSession, indexDir: String, kind: String): Set[String] =
    // a crash between recordSegment's first marker and its first parquet
    // append leaves `segments/` holding only `.ledger/`
    if (!hasParquet(s"$indexDir/segments")) Set.empty
    else spark.read.parquet(s"$indexDir/segments")
      .filter(col("kind") === kind)
      .select("segment").collect().map(_.getString(0)).toSet

  private[ops] def recordSegment(
      spark: SparkSession, indexDir: String, kind: String, segment: String): Unit = {
    val ledger = ledgerDir(indexDir, kind)
    val marker = ledger.resolve(ledgerName("segment", segment))
    if (!java.nio.file.Files.isDirectory(ledger)) {
      // first marker for this kind: migrate any pre-marker parquet rows so
      // the marker dir is authoritative from here on
      val legacy = coveredSegmentsParquet(spark, indexDir, kind)
      java.nio.file.Files.createDirectories(ledger)
      legacy.foreach { sg =>
        try java.nio.file.Files.createFile(
          ledger.resolve(ledgerName("segment", sg)))
        catch { case _: java.nio.file.FileAlreadyExistsException => }
      }
    }
    // marker before the parquet append: the marker is what probes read, and
    // writing it immediately after the data writes keeps the torn window
    // (data committed, ledger not) no wider than before
    try java.nio.file.Files.createFile(marker)
    catch { case _: java.nio.file.FileAlreadyExistsException => }
    import spark.implicits._
    Seq((kind, segment)).toDF("kind", "segment")
      .coalesce(1).write.mode("append").parquet(s"$indexDir/segments")
  }

  /** Build-or-extend the postings lake with one named segment of
    * documents. First call creates the lake; every further call appends
    * the new segment's postings files into the existing bucket
    * partitions. Idempotent per segment name (a re-run is a no-op).
    */
  def refreshPostings(
      docs: DataFrame,
      indexDir: String,
      segment: String,
      idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    if (coveredSegments(spark, indexDir, "postings").contains(segment)) return
    // repartition on the bucket key before partitionBy (the
    // [[ComponentStore]] write discipline, guide §6): without it every
    // input task writes a file into every bucket dir it touches — file
    // count M*64 follows the INPUT partitioning instead of the layout
    // (and a near-single-partition input serializes the encode on one
    // task). One file per bucket per segment.
    SearchOps.positionalPostings(docs, idCol, textCol)
      .withColumn("tb", postingsBucket(col("token")))
      .repartition(col("tb"))
      .write.partitionBy("tb").mode("append").parquet(s"$indexDir/postings")
    recordSegment(spark, indexDir, "postings", segment)
  }

  /** Build-or-extend the Bloom partition index with one named segment:
    * the delta's word rows fold into the stored index through the
    * OR-monoid ([[LakeOps.mergeBloomIndexes]]) — by associativity the
    * result equals a from-scratch build over every segment, which is
    * exactly what the gated oracle checks. The pre-overwrite lineage cut
    * breaks the read-path/overwrite-path cycle (the
    * [[LakeOps]] erasure discipline). Idempotent per segment name.
    */
  def refreshBloom(
      delta: DataFrame,
      indexDir: String,
      segment: String,
      partCol: org.apache.spark.sql.Column,
      keyCol: org.apache.spark.sql.Column,
      mBits: Int = 65536,
      k: Int = 3): Unit = {
    val spark = delta.sparkSession
    if (coveredSegments(spark, indexDir, "bloom").contains(segment)) return
    val deltaIdx = LakeOps.bloomPartitionIndex(delta, partCol, keyCol, mBits, k)
    val path = s"$indexDir/bloom"
    val merged =
      if (exists(path)) LakeOps.mergeBloomIndexes(spark.read.parquet(path), deltaIdx)
      else deltaIdx
    merged.cutLineage().coalesce(1).write.mode("overwrite").parquet(path)
    recordSegment(spark, indexDir, "bloom", segment)
  }

  /** True when the dataset dir holds at least one parquet part file the
    * parquet reader would see: files and dirs under it named `.*` or `_*`
    * (the segment ledger's markers, commit metadata; `_*=*` partition
    * dirs excepted) are hidden from schema inference, so they do not
    * count. A segment of ZERO postings writes no partition dirs
    * (partitionBy on an empty frame), leaving schema inference nothing to
    * read. */
  private[ops] def hasParquet(path: String): Boolean = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) return false
    val s = java.nio.file.Files.walk(root)
    try s.anyMatch { p =>
      val rel = root.relativize(p)
      p.toString.endsWith(".parquet") && java.nio.file.Files.isRegularFile(p) &&
        (0 until rel.getNameCount).forall { i =>
          val n = rel.getName(i).toString // Spark's hidden-path rule
          !n.startsWith(".") && !(n.startsWith("_") && !n.contains("="))
        }
    }
    finally s.close()
  }

  def readPostings(spark: SparkSession, indexDir: String): DataFrame =
    if (hasParquet(s"$indexDir/postings"))
      spark.read.parquet(s"$indexDir/postings")
    else { // empty lake (all segments token-free) — degrade totally
      import spark.implicits._
      Seq.empty[(Long, Int, String, Long)].toDF("doc_id", "pos", "token", "tb")
    }

  def readBloom(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(s"$indexDir/bloom")

  /** Phrase search through the lake, opening ONLY the phrase terms'
    * buckets (the isin lands in PartitionFilters — unprobed buckets are
    * never read). Same contract as [[SearchOps.phraseSearch]].
    */
  def phraseSearch(
      spark: SparkSession, indexDir: String, phrase: Seq[String]): DataFrame = {
    import spark.implicits._
    val buckets = phrase.toDF("value")
      .select(postingsBucket(col("value")).as("tb"))
      .distinct().as[Long].collect().toSeq // phrase-bounded collect
    SearchOps.phraseSearch(
      readPostings(spark, indexDir).filter(col("tb").isin(buckets: _*)), phrase)
  }

  /** The staleness assertion every scheduled ingest needs: one row per
    * EXPECTED segment with `covered` = whether the ledger has folded it
    * into `kind`'s index. A scheduler alerts on any 0 row.
    */
  def staleness(
      spark: SparkSession, indexDir: String, kind: String,
      expected: Seq[String]): DataFrame = {
    import spark.implicits._
    val covered = coveredSegments(spark, indexDir, kind)
    expected.map(sg => (kind, sg, if (covered(sg)) 1 else 0))
      .toDF("kind", "segment", "covered")
  }
}
