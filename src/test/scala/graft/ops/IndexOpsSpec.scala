package graft.ops

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.SparkSpec

class IndexOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .filter(col("doc_id") < 150)

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("postings refresh appends files without rewriting the base segment") {
    val idx = tmp("idxp_")
    IndexOps.refreshPostings(docs.filter(col("doc_id") % 3 =!= 0), idx, "base")
    val baseFiles = filesWithSize(s"$idx/postings")
    IndexOps.refreshPostings(docs.filter(col("doc_id") % 3 === 0), idx, "delta1")
    val afterFiles = filesWithSize(s"$idx/postings")
    // every base parquet file survives untouched (pure file adds)
    val basePq = baseFiles.filter(_._1.toString.endsWith(".parquet"))
    assert(basePq.nonEmpty)
    assert(basePq.subsetOf(afterFiles), "append rewrote base postings files")
    assert(afterFiles.size > baseFiles.size, "append added no files")
    // merged lake == from-scratch postings over the union
    val merged = IndexOps.readPostings(spark, idx)
      .select("doc_id", "pos", "token")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val scratch = SearchOps.positionalPostings(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(merged == scratch)
  }

  private def filesWithSize(p: String): Set[(Path, Long)] = {
    val root = java.nio.file.Paths.get(p)
    if (!Files.exists(root)) Set.empty
    else {
      val s = Files.walk(root)
      try {
        val it = s.filter(Files.isRegularFile(_)).iterator()
        val b = Set.newBuilder[(Path, Long)]
        while (it.hasNext) { val f = it.next(); b += (f -> Files.size(f)) }
        b.result()
      } finally s.close()
    }
  }

  test("refresh is idempotent per segment name (ledger no-op on re-run)") {
    val idx = tmp("idxi_")
    IndexOps.refreshPostings(docs, idx, "base")
    val once = filesWithSize(s"$idx/postings")
    IndexOps.refreshPostings(docs, idx, "base")
    assert(filesWithSize(s"$idx/postings") == once, "re-run double-appended")
    assert(IndexOps.coveredSegments(spark, idx, "postings") == Set("base"))
  }

  test("coveredSegments lists the marker directory, odd names included") {
    val idx = tmp("idxledger_")
    IndexOps.refreshPostings(docs.filter(col("doc_id") % 3 =!= 0), idx, "base")
    // odd segment names survive the filename encoding
    IndexOps.recordSegment(spark, idx, "postings", "we ird/seg")
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(s"$idx/segments/.ledger/postings")))
    assert(IndexOps.coveredSegments(spark, idx, "postings") == Set("base", "we ird/seg"))
    IndexOps.refreshBloom(docs, idx, "b1", col("lang"), col("doc_id"), mBits = 4096)
    assert(IndexOps.coveredSegments(spark, idx, "bloom") == Set("b1"))
    // the ledger is the markers alone (and the local filesystem's checksums)
    assert(!IndexOps.hasParquet(spark, s"$idx/segments"))
    val markers = Set("base", "we+ird%2Fseg", "b1")
    assert(filesWithSize(s"$idx/segments").map(_._1.getFileName.toString) ==
      markers ++ markers.map(m => s".$m.crc"))
  }

  test("ledger names that are dots or dot-prefixed never collide with the ledger's directories") {
    val idx = tmp("idxdots_")
    val names = Seq(".", "..", ".hidden", "a.b")
    names.foreach(IndexOps.recordSegment(spark, idx, "postings", _))
    IndexOps.recordSegment(spark, idx, ".", "s1")
    IndexOps.recordSegment(spark, idx, "..", "s2")
    assert(IndexOps.coveredSegments(spark, idx, "postings") == names.toSet)
    assert(IndexOps.coveredSegments(spark, idx, ".") == Set("s1"))
    assert(IndexOps.coveredSegments(spark, idx, "..") == Set("s2"))
    // a marker written before the escape (".hidden" verbatim) reads the same
    val legacy = java.nio.file.Paths.get(s"$idx/segments/.ledger/postings/.old")
    java.nio.file.Files.createFile(legacy)
    assert(IndexOps.coveredSegments(spark, idx, "postings") == names.toSet + ".old")
    intercept[IllegalArgumentException](IndexOps.recordSegment(spark, idx, "postings", ""))
    intercept[IllegalArgumentException](IndexOps.recordSegment(spark, idx, "", "s3"))
    intercept[IllegalArgumentException](IndexOps.coveredSegments(spark, idx, ""))
  }

  test("coveredSegments survives a crash between the first marker and the first append") {
    // the store holds nothing but the first marker of one kind, named like
    // a parquet file: the ledger reads marker names only, and each kind
    // sees only its own markers
    val idx = tmp("idxcrash_")
    val ledger = java.nio.file.Paths.get(s"$idx/segments/.ledger/postings")
    java.nio.file.Files.createDirectories(ledger)
    java.nio.file.Files.createFile(ledger.resolve("x.parquet"))
    assert(IndexOps.coveredSegments(spark, idx, "bloom").isEmpty)
    assert(IndexOps.coveredSegments(spark, idx, "postings") == Set("x.parquet"))
    // the next record of another kind goes through as on a fresh store
    IndexOps.recordSegment(spark, idx, "bloom", "b1")
    assert(IndexOps.coveredSegments(spark, idx, "bloom") == Set("b1"))
  }

  test("bloom refresh merge equals from-scratch build (OR-monoid)") {
    val idx = tmp("idxb_")
    val part = col("lang")
    IndexOps.refreshBloom(docs.filter(col("doc_id") % 3 =!= 0), idx, "base",
      part, col("doc_id"), mBits = 4096, k = 3)
    IndexOps.refreshBloom(docs.filter(col("doc_id") % 3 === 0), idx, "delta1",
      part, col("doc_id"), mBits = 4096, k = 3)
    // idempotent re-run
    IndexOps.refreshBloom(docs.filter(col("doc_id") % 3 === 0), idx, "delta1",
      part, col("doc_id"), mBits = 4096, k = 3)
    val merged = IndexOps.readBloom(spark, idx)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val scratch = LakeOps.bloomPartitionIndex(
      docs, part, col("doc_id"), mBits = 4096, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(merged == scratch)
    assert(merged.nonEmpty)
  }

  test("staleness flags exactly the never-refreshed segments") {
    val idx = tmp("idxs_")
    IndexOps.refreshPostings(docs, idx, "base")
    val got = IndexOps.staleness(spark, idx, "postings",
      Seq("base", "delta1")).collect()
      .map(r => (r.getString(1), r.getInt(2))).toMap
    assert(got == Map("base" -> 1, "delta1" -> 0))
    // and the bloom ledger is independent of the postings ledger
    assert(IndexOps.coveredSegments(spark, idx, "bloom").isEmpty)
  }

  test("stores at a file:// URI answer exactly like stores at a plain path") {
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 =!= 0)
    def answers(dir: String) = {
      val idx = s"$dir/idx"
      IndexOps.refreshPostings(even, idx, "base")
      IndexOps.refreshPostings(odd, idx, "delta1")
      IndexOps.refreshPostings(even, idx, "base") // replay: a no-op
      IndexOps.refreshBloom(even, idx, "base", col("lang"), col("doc_id"), mBits = 4096)
      IndexOps.refreshBloom(odd, idx, "delta1", col("lang"), col("doc_id"), mBits = 4096)
      ComponentStore.refresh(even, s"$dir/cs", "base")
      ComponentStore.refresh(odd, s"$dir/cs", "delta")
      (IndexOps.phraseSearch(spark, idx, Seq("spark", "window", "join"))
        .as[(Long, Long)].collect().toSet,
       IndexOps.staleness(spark, idx, "postings", Seq("base", "delta1", "delta2"))
        .as[(String, String, Int)].collect().toSeq,
       IndexOps.readBloom(spark, idx).as[(String, Long, Long)].collect().toSet,
       ComponentStore.assignment(spark, s"$dir/cs")
        .select(col("doc_id").cast("long"), col("component").cast("long"))
        .as[(Long, Long)].collect().toSet)
    }
    val plain = answers(tmp("idxplain_"))
    assert(plain._1.nonEmpty && plain._3.nonEmpty)
    assert(plain._2.map(_._3) == Seq(1, 1, 0))
    assert(plain._4.map(_._1) == docs.select("doc_id").as[Long].collect().toSet)
    val uri = answers("file://" + tmp("idxuri_"))
    assert(uri._1 == plain._1, "phraseSearch")
    assert(uri._2 == plain._2, "staleness")
    assert(uri._3 == plain._3, "bloom index")
    assert(uri._4 == plain._4, "component assignment")
  }

  test("phraseSearch through the lake equals search over raw postings") {
    val idx = tmp("idxq_")
    IndexOps.refreshPostings(docs.filter(col("doc_id") % 3 =!= 0), idx, "base")
    IndexOps.refreshPostings(docs.filter(col("doc_id") % 3 === 0), idx, "delta1")
    val phrase = Seq("spark", "window", "join")
    val viaLake = IndexOps.phraseSearch(spark, idx, phrase)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = SearchOps.phraseSearch(
      SearchOps.positionalPostings(docs, "doc_id", "text"), phrase)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaLake.nonEmpty)
    assert(viaLake == direct)
  }

  test("phraseSearch reads the lake with its schema: no parquet schema-inference job") {
    val idx = tmp("idxjobs_")
    IndexOps.refreshPostings(docs, idx, "base")
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        e.stageInfos.foreach(st => sites.add(st.name))
    }
    org.apache.spark.ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val hits = try {
      val found = IndexOps.phraseSearch(spark, idx, Seq("spark", "window", "join")).count()
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
      found
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(hits > 0)
    assert(!sites.isEmpty, "no job seen")
    val parquetJobs = sites.toArray.map(_.toString).filter(_.startsWith("parquet at IndexOps"))
    assert(parquetJobs.isEmpty, parquetJobs.mkString(", "))
    // the partition column keeps the type partition discovery gives it
    assert(IndexOps.readPostings(spark, idx).schema ==
      spark.read.parquet(s"$idx/postings").schema)
  }
}
