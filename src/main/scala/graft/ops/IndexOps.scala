package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  *   - `segments/.ledger/<kind>/<segment>` — the covered-segment ledger:
  *     one zero-byte marker per (kind, segment), both names URL-encoded
  *     (a leading dot as `%2E`). Refreshes are idempotent per (kind,
  *     segment): re-running an ingest job cannot double-append postings
  *     or double-OR stats, and [[staleness]] turns the ledger into the
  *     assertion every scheduled pipeline needs ("which expected segments
  *     are NOT in the index?").
  *
  * Every path goes through Hadoop's `FileSystem` for its scheme, so the
  * same layout lives on the local disk, HDFS or object storage — the
  * access pattern (partitioned appends, layout-sized rewrites, marker
  * files) is the part that scales, and no operation ever reads more than
  * one segment of corpus data plus layout-sized metadata.
  */
object IndexOps {

  /** Token-hash partition count for the postings lake. */
  val PostingsBuckets = 64

  /** The postings bucket of a token column (xxhash64 — Spark-stable). */
  def postingsBucket(token: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(xxhash64(token), lit(PostingsBuckets.toLong))

  /** The Hadoop `FileSystem` holding `path` (local, HDFS or an object
    * store: whatever the path's scheme names, through the session's Hadoop
    * configuration) and the path itself. */
  private def resolve(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def ledgerDir(indexDir: String, kind: String): String =
    s"$indexDir/segments/.ledger/" + ledgerName("kind", kind)

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

  /** Segments already folded into `kind`'s index (no ledger = none).
    *
    * Every refresh probes this BEFORE folding, and an idempotent replay is
    * nothing but this probe — so it is one directory listing, never a
    * Spark job. `LocalFileSystem` hides its `.crc` side files from the
    * listing, and no encoded name starts with a dot.
    */
  def coveredSegments(spark: SparkSession, indexDir: String, kind: String): Set[String] = {
    val (fs, ledger) = resolve(spark, ledgerDir(indexDir, kind))
    if (!fs.exists(ledger)) Set.empty
    else fs.listStatus(ledger)
      .map(s => java.net.URLDecoder.decode(s.getPath.getName, "UTF-8")).toSet
  }

  /** Drop the zero-byte marker of (kind, segment); creating it creates the
    * kind's directory too. Re-recording a covered segment is a no-op. */
  private[ops] def recordSegment(
      spark: SparkSession, indexDir: String, kind: String, segment: String): Unit = {
    val (fs, marker) =
      resolve(spark, ledgerDir(indexDir, kind) + "/" + ledgerName("segment", segment))
    fs.createNewFile(marker)
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
      .withColumn("doc_id", col("doc_id").cast(LongType))
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
    val (fs, root) = resolve(spark, path)
    val merged =
      if (fs.exists(root)) LakeOps.mergeBloomIndexes(spark.read.parquet(path), deltaIdx)
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
  private[ops] def hasParquet(spark: SparkSession, path: String): Boolean = {
    val (fs, root) = resolve(spark, path)
    if (!fs.exists(root)) return false
    val rootDepth = fs.makeQualified(root).depth()
    def visible(p: Path): Boolean = // Spark's hidden-path rule, up to the root
      p.depth() <= rootDepth || {
        val n = p.getName
        !n.startsWith(".") && !(n.startsWith("_") && !n.contains("=")) && visible(p.getParent)
      }
    val files = fs.listFiles(root, true)
    var found = false
    while (!found && files.hasNext) {
      val p = files.next().getPath
      found = p.getName.endsWith(".parquet") && visible(p)
    }
    found
  }

  /** The postings lake's columns, as [[refreshPostings]] writes them and
    * partition discovery types them (`tb` is the partition column). Read
    * with it, the lake needs no schema-inference job.
    */
  private val PostingsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("pos", IntegerType),
    StructField("token", StringType), StructField("tb", IntegerType)))

  def readPostings(spark: SparkSession, indexDir: String): DataFrame =
    if (hasParquet(spark, s"$indexDir/postings"))
      spark.read.schema(PostingsSchema).parquet(s"$indexDir/postings")
    else // empty lake (all segments token-free) — degrade totally
      spark.createDataFrame(java.util.Collections.emptyList[Row](), PostingsSchema)

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
