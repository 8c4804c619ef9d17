package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, and SimHash. Scale design (100 TB):
  *
  *   - exact dedup is one shuffle keyed by the text (or its fingerprint);
  *   - near-dup candidate generation NEVER does an O(n^2) cross join — it
  *     builds an inverted index (explode shingles / LSH-band buckets) and
  *     self-joins on the index key, so cost is bounded by bucket sizes;
  *   - ultra-frequent shingles (stop-shingles) are droppable via
  *     `maxShingleDf` to cap join skew — the standard guard when one shingle
  *     would otherwise pair millions of documents;
  *   - verification (exact Jaccard on candidates) is a second bounded join.
  */
object DedupOps {

  /** Word k-shingles (k-grams of whitespace tokens) as an array column;
    * empty when the document has fewer than k tokens.
    */
  def wordShingles(text: Column, k: Int): Column = {
    val toks = TextOps.tokens(text)
    when(size(toks) >= k,
      transform(
        sequence(lit(1), size(toks) - (k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Exact dedup: keep the lowest-id row per identical key (default: the
    * raw text).
    *
    * Scale shape: the shuffle is keyed by a HASH of the key, never the key
    * itself — partitioning a 100 TB corpus by full document text is the
    * classic dedup scale-killer (the shuffle would carry the whole corpus
    * as its keys). `groupBy(hash).agg(min_by(row, id))` gives map-side
    * partial aggregation (each task forwards at most one candidate row per
    * key) and no per-partition sort, unlike a `row_number` window.
    *
    * With the default 64-bit `xxhash64`, two DIFFERENT texts colliding
    * would wrongly merge; expected collisions ~ n^2 / 2^65 (negligible
    * below ~1e8 docs). Set `strongKeys = true` to key by SHA-256 instead
    * (64-byte shuffle keys, collision-free for any realistic corpus) — the
    * trillion-row setting.
    */
  def exactDedup(
      df: DataFrame,
      idCol: String,
      keyCol: Column,
      strongKeys: Boolean = false): DataFrame = {
    val cols = df.columns.toSeq
    val key = if (strongKeys) sha2(keyCol.cast("string"), 256) else xxhash64(keyCol)
    df.withColumn("__dedup_key", key)
      .groupBy(col("__dedup_key"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__winner"))
      .select(cols.map(c => col(s"__winner.`$c`").as(c)): _*)
  }

  private def applyCap(idx: DataFrame, maxShingleDf: Option[Int]): DataFrame =
    maxShingleDf match {
      case None => idx
      case Some(cap) =>
        val hot = idx.groupBy(col("sh")).agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select(col("sh"))
        idx.join(hot, Seq("sh"), "left_anti")
    }

  /** (id, shingle-string) inverted index, distinct per document; optionally
    * drops shingles appearing in more than `maxShingleDf` documents (skew
    * guard). String form — for inspection/debugging; the dedup pipelines
    * use [[shingleIndexHashed]].
    */
  def shingleIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      maxShingleDf: Option[Int] = None): DataFrame =
    applyCap(
      docs.select(col(idCol).as("doc_id"),
        explode(array_distinct(wordShingles(col(textCol), k))).as("sh")),
      maxShingleDf)

  /** (id, shingle-hash) inverted index — the hot-path form. Shingle hashes
    * are built WITHOUT materializing shingle strings and WITHOUT
    * higher-order functions (both measured hot spots: interpreted
    * per-element lambda dispatch), and WITHOUT any shuffle before the
    * final distinct: `arrays_zip` of the k shifted `slice`s of the token
    * array pairs each token with its k-1 successors ROW-LOCALLY (slice and
    * arrays_zip are codegen'd native expressions), one explode emits the
    * shingle structs, and one codegen'd `xxhash64` over the k struct
    * fields hashes them (chaining per column, so token boundaries are
    * preserved — "ab","c" and "a","bc" hash differently). Join semantics
    * equal the string index modulo 2^-64 collisions.
    *
    * (An earlier form posexploded tokens and `lead()`-ed over a (doc, pos)
    * window — same hashes, but it shuffled the ENTIRE token stream by
    * doc_id first; this one's only shuffle is the distinct.)
    */
  def shingleIndexHashed(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      maxShingleDf: Option[Int] = None): DataFrame =
    shingleIndexHashedTokens(docs, idCol, TextOps.tokens(col(textCol)), k,
      maxShingleDf)

  /** [[shingleIndexHashed]] over an already-tokenized column (`toks` an
    * `array<string>`): a composite query that feeds SEVERAL consumers from
    * one corpus tokenization (guide §2.4 — share the common subtree) passes
    * the materialized token projection here instead of re-running the scan
    * + regex split per consumer. Identical hashes and pair semantics —
    * `shingleIndexHashed` itself is this with `toks = TextOps.tokens(text)`.
    */
  def shingleIndexHashedTokens(
      docs: DataFrame,
      idCol: String,
      toks: Column,
      k: Int,
      maxShingleDf: Option[Int] = None): DataFrame = {
    val hashed =
      if (k == 1)
        docs.select(col(idCol).as("doc_id"), explode(toks).as("t"))
          .select(col("doc_id"), xxhash64(col("t")).as("sh"))
          .distinct()
      else {
        val n = greatest(size(toks) - (k - 1), lit(0)) // shingle count
        val zipped = arrays_zip((0 until k).map(j => slice(toks, lit(j + 1), n)): _*)
        docs.select(col(idCol).as("doc_id"), explode(zipped).as("s"))
          .select(col("doc_id"),
            xxhash64((0 until k).map(j => col("s").getField(j.toString)): _*).as("sh"))
          .distinct()
      }
    applyCap(hashed, maxShingleDf)
  }

  /** Near-duplicate pairs by exact Jaccard with PPJoin-style PREFIX
    * FILTERING (Chaudhuri et al. ICDE'06; Xiao et al. WWW'08): instead of
    * indexing EVERY shingle (candidate volume ~ Σ df²) or capping df
    * (which trades completeness for skew safety), each doc indexes only
    * its `|d| - ceil(t·|d|) + 1` RAREST shingles under one global
    * (df, hash) order. The prefix-filtering lemma guarantees
    * completeness: any pair with J >= t shares at least one shingle that
    * lies in BOTH prefixes, so the prefix-index self-join finds every
    * qualifying pair while the index shrinks by ~t — and the hottest
    * (highest-df) shingles sort to the suffixes, so the skew guard is
    * INHERENT rather than an approximation knob. Candidates verify with
    * the exact intersection via the row-local codegen'd sorted-array
    * walk — never the per-shared-shingle group-by of the full-index
    * formulation.
    *
    * Scale shape: df is one map-side-combined aggregate; the rarity sort
    * is row-local per doc (arrays bounded by doc length); the only
    * pair-generating join keys on the 8-byte hash of PREFIX entries; the
    * verify joins carry candidate-sized rows. Differential-tested ==
    * [[ngramJaccardPairs]] (uncapped) in DedupOpsSpec.
    */
  def prefixJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val idx = shingleIndexHashed(docs, idCol, textCol, k).cache()
    val dfTab = idx.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // rarity-ordered shingle array per doc: structs sort by (df, sh)
    val docSets = idx.join(dfTab, "sh")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("ord"))
      .select(col("doc_id"),
        transform(col("ord"), x => x("sh")).as("rare"),
        size(col("ord")).cast("long").as("n"))
      .cache()
    val pi = docSets.select(col("doc_id"),
      explode(slice(col("rare"), lit(1),
        (col("n") - ceil(col("n") * threshold) + 1).cast("int"))).as("sh"))
    val cands = pi.as("a").join(pi.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val sets = docSets.select(col("doc_id"),
      sort_array(col("rare")).as("set"), col("n"))
    cands
      .join(sets.select(col("doc_id").as("id_a"), col("set").as("set_a"),
        col("n").as("n_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("set").as("set_b"),
        col("n").as("n_b")), "id_b")
      .withColumn("intersection", graft.expr.TextExprs
        .sortedIntersectCount(col("set_a"), col("set_b")))
      .withColumn("jaccard", col("intersection").cast("double") /
        (col("n_a") + col("n_b") - col("intersection")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("intersection"),
        col("n_a"), col("n_b"), col("jaccard"))
  }

  /** Near-duplicate pairs by exact Jaccard similarity over word k-shingles.
    * Inverted-index self-join for candidates (pairs sharing >= 1 shingle),
    * then `J = |A ∩ B| / (|A| + |B| - |A ∩ B|)` from exact integer counts —
    * fully deterministic, no floats until the final ratio.
    * Output: (id_a, id_b, intersection, n_a, n_b, jaccard), id_a < id_b.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      threshold: Double,
      maxShingleDf: Option[Int] = None,
      cacheIndex: Boolean = true): DataFrame =
    // join/shuffle on the 64-bit shingle hash, never the string: same pair
    // semantics (collision odds ~ |index|^2 / 2^64), no string
    // materialization, 8-byte shuffle keys.
    jaccardPairsFromIndex(
      shingleIndexHashed(docs, idCol, textCol, k, maxShingleDf),
      threshold, cacheIndex)

  /** [[ngramJaccardPairs]] over an already-tokenized column (see
    * [[shingleIndexHashedTokens]]) — same pairs, one corpus tokenization
    * shared across a composite query's consumers.
    */
  def ngramJaccardPairsTokens(
      docs: DataFrame,
      idCol: String,
      toks: Column,
      k: Int,
      threshold: Double,
      maxShingleDf: Option[Int] = None,
      cacheIndex: Boolean = true): DataFrame =
    jaccardPairsFromIndex(
      shingleIndexHashedTokens(docs, idCol, toks, k, maxShingleDf),
      threshold, cacheIndex)

  private def jaccardPairsFromIndex(
      idx0: DataFrame,
      threshold: Double,
      cacheIndex: Boolean): DataFrame = {
    // The index is consumed three
    // times (sizes + both join sides) so it is cached by default; pass
    // cacheIndex=false in long-lived sessions that manage storage memory
    // themselves (cached blocks persist until the session drops them).
    val idx = if (cacheIndex) idx0.cache() else idx0
    val sizes = idx.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = idx.as("a")
      .join(idx.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("intersection"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
      .withColumn("jaccard",
        col("intersection").cast("double") /
          (col("n_a") + col("n_b") - col("intersection")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("intersection"),
        col("n_a"), col("n_b"), col("jaccard"))
  }

  /** Subset/quote-inclusion pairs by the OVERLAP COEFFICIENT
    * `|A ∩ B| / min(|A|, |B|)` over word k-shingles: Jaccard misses a
    * short document wholly quoted inside a long one (the union term
    * drowns the intersection), while containment >= t catches exactly
    * that excerpt/expansion relationship — the dedup rule news/forum
    * corpora need alongside near-identity.
    *
    * Same inverted-index shape as [[ngramJaccardPairs]] (8-byte hash
    * join keys, exact integer intersection counts, one final IEEE
    * division), same `maxShingleDf` skew cap for web-scale stopword
    * shingles. Output: (id_a, id_b, intersection, n_a, n_b, containment),
    * id_a < id_b.
    */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      threshold: Double,
      maxShingleDf: Option[Int] = None,
      cacheIndex: Boolean = true): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val idx0 = shingleIndexHashed(docs, idCol, textCol, k, maxShingleDf)
    val idx = if (cacheIndex) idx0.cache() else idx0
    val sizes = idx.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    idx.as("a")
      .join(idx.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("intersection"))
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
      .withColumn("containment",
        col("intersection").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("intersection"),
        col("n_a"), col("n_b"), col("containment"))
  }

  /** Per-document NOVELTY: the fraction of a doc's distinct word
    * k-shingles that no earlier document (smaller id = earlier in crawl
    * order) contains. Duplication-aware curation wants this as a salvage
    * score — a doc that is 95% previously-seen shingles adds little to a
    * training mix even when no single pair crosses a near-dup threshold,
    * which is exactly the tail that pairwise Jaccard/containment misses
    * (mosaic-style aggregation from MANY earlier docs).
    *
    * Shape: the same 8-byte hashed inverted index as
    * [[ngramJaccardPairs]], reduced to `shingle -> min(doc_id)` by ONE
    * map-side-combined aggregate (index-sized, never pairs-sized — there
    * is no candidate join here at all, so no df cap is needed and none
    * is taken: a cap would undercount seen-shingles), joined back to the
    * index on the hash key, and folded per doc. All counts are exact
    * integers; the single final division is one correctly-rounded IEEE
    * op, so scores are engine-portable.
    *
    * Output: (doc_id, n_shingles, n_seen_before, novelty), docs with
    * >= 1 shingle only.
    */
  /** Repeated-substring span report — the remediation half of exact
    * substring deduplication (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better", whose suffix-array pass removes
    * every duplicated span instead of whole documents): every MAXIMAL
    * span of `k`-token windows whose window occurs at least `minCount`
    * times corpus-wide (within-doc repeats count).
    *
    * Mechanics: each document contributes one portable rolling-hash per
    * k-token window ([[TextOps.fingerprint]] of the space-joined window —
    * the same 31-polynomial the DuckDB oracle replays), window counts
    * collapse through ONE map-side-combined hash-keyed aggregate (the
    * postings discipline — never an all-pairs join), duplicated-window
    * positions join back per doc, and overlapping/abutting windows merge
    * into maximal spans with ONE doc-keyed gaps-and-islands window pass
    * (a window starting <= k tokens after its predecessor extends the
    * island). Per-window hashing is O(k) chars — the oracle-replayable
    * formulation; a production suffix-array/O(1)-rolling variant changes
    * the constant, not the shuffle shape (corpus scanned once, shuffles
    * keyed on window hash then doc id).
    *
    * Output: one row per maximal span,
    * `(doc_id, span_start, span_end, span_tokens)` — token positions,
    * end exclusive. Removing `[span_start, span_end)` from every doc is
    * the Lee et al. scrub; [[duplicateSpanStats]] is the per-doc report.
    */
  def duplicateSpans(
      docs: DataFrame,
      k: Int,
      minCount: Long = 2,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k >= 2, s"window must be >= 2 tokens, got $k")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    val toks = TextOps.tokens(lower(col(textCol)))
    // one generated rolling-hash pass per doc (O(chars)); the
    // slice-per-window HOF twin below is the executable spec
    // (differential-pinned in DedupOpsSpec) and measured ~10x slower
    val winHash =
      graft.expr.TokenWindowExprs.tokenWindowHashes(col("w"), k)
    val grams = docs
      .select(col(idCol).as("doc_id"), toks.as("w"))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"), posexplode(winHash).as(Seq("pos", "h")))
    val dup = grams.groupBy(col("h"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .select(col("h"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val hits = grams.join(dup, "h").select(col("doc_id"), col("pos"))
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= k, 0)
          .otherwise(1))
      .withColumn("island", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    hits.groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + k).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"))
  }

  /** Per-document scrub report over [[duplicateSpans]]: total tokens,
    * tokens inside duplicated spans, and the duplicated fraction on the
    * exact x10^6 integer grid (span-free docs report zeros). */
  def duplicateSpanStats(
      docs: DataFrame,
      k: Int,
      minCount: Long = 2,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spans = duplicateSpans(docs, k, minCount, idCol, textCol)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("span_tokens")).as("dup_tokens"))
    docs.select(col(idCol).as("doc_id"),
        TextOps.tokenCount(lower(col(textCol))).cast("long").as("n_tokens"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      // exact integer grid (DIV, not float /: a quotient landing exactly
      // on an integer must not float one ulp below it)
      .withColumn("dup_micro",
        when(col("n_tokens") > 0,
          expr("dup_tokens * 1000000 DIV n_tokens")).otherwise(lit(0L)))
  }

  def noveltyScores(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    val idx = shingleIndexHashed(docs, idCol, textCol, k, None).cache()
    val firstSeen = idx.groupBy(col("sh")).agg(min(col("doc_id")).as("first_id"))
    idx.join(firstSeen, "sh")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("first_id") < col("doc_id"), 1L).otherwise(0L))
          .as("n_seen_before"))
      .withColumn("novelty",
        lit(1.0) - col("n_seen_before").cast("double") /
          col("n_shingles").cast("double"))
  }

  /** Cross-corpus near-duplicate pairs: every (left, right) pair with
    * shingle-Jaccard >= threshold. Same inverted-index shape as
    * [[ngramJaccardPairs]] but joining TWO indexes — the left corpus is
    * never paired with itself, which is what makes incremental ingest
    * cheap: candidates are bounded by shared-shingle fan-out between the
    * batch and the corpus, not by the corpus squared.
    * Output: (left_id, right_id, intersection, n_l, n_r, jaccard).
    */
  def ngramJaccardAgainst(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      threshold: Double,
      maxShingleDf: Option[Int] = None,
      cacheIndex: Boolean = true): DataFrame = {
    // same trade as ngramJaccardPairs' cacheIndex: pass false in
    // long-lived sessions that manage storage memory themselves
    def maybeCache(df: DataFrame) = if (cacheIndex) df.cache() else df
    val li = maybeCache(shingleIndexHashed(left, idCol, textCol, k, maxShingleDf))
    val ri = maybeCache(shingleIndexHashed(right, idCol, textCol, k, maxShingleDf))
    val sizesL = li.groupBy(col("doc_id")).agg(count(lit(1)).as("n_l"))
    val sizesR = ri.groupBy(col("doc_id")).agg(count(lit(1)).as("n_r"))
    li.as("a").join(ri.as("b"), col("a.sh") === col("b.sh"))
      .groupBy(col("a.doc_id").as("left_id"), col("b.doc_id").as("right_id"))
      .agg(count(lit(1)).as("intersection"))
      .join(sizesL.withColumnRenamed("doc_id", "left_id"), "left_id")
      .join(sizesR.withColumnRenamed("doc_id", "right_id"), "right_id")
      .withColumn("jaccard",
        col("intersection").cast("double") /
          (col("n_l") + col("n_r") - col("intersection")))
      .filter(col("jaccard") >= threshold)
      .select(col("left_id"), col("right_id"), col("intersection"),
        col("n_l"), col("n_r"), col("jaccard"))
  }

  /** Incremental ingest dedup: the rows of `incoming` that are neither
    * exact duplicates (by `keyCol`) nor k-shingle near-duplicates (>=
    * `threshold` Jaccard) of ANY `existing` row. The daily-batch workflow
    * at 100 TB: the existing corpus is only read as 8-byte key/shingle
    * hashes (in practice a precomputed index side table), the batch is
    * anti-joined on those hashes, and nothing ever re-pairs the corpus
    * with itself.
    *
    * Note duplicates WITHIN the batch are deliberately kept — run
    * [[exactDedup]]/[[ngramJaccardPairs]] on the batch itself first if
    * intra-batch dedup is also wanted (the composed pipeline keeps each
    * concern a separate, testable pass).
    */
  def incrementalDedup(
      incoming: DataFrame,
      existing: DataFrame,
      idCol: String,
      textCol: String,
      keyCol: Column,
      k: Int,
      threshold: Double,
      maxShingleDf: Option[Int] = None,
      cacheIndex: Boolean = true): DataFrame = {
    val exKeys = existing.select(xxhash64(keyCol).as("__k")).distinct()
    // consumed twice (left shingle index + final anti join) — cache so the
    // exact-pass anti join runs once; cacheIndex=false hands storage
    // management back to the caller (long-lived daily-ingest sessions)
    val survivors0 = incoming
      .withColumn("__k", xxhash64(keyCol))
      .join(exKeys, Seq("__k"), "left_anti")
      .drop("__k")
    val exactSurvivors = if (cacheIndex) survivors0.cache() else survivors0
    val nearIds = ngramJaccardAgainst(
      exactSurvivors, existing, idCol, textCol, k, threshold, maxShingleDf,
      cacheIndex)
      .select(col("left_id").as(idCol)).distinct()
    exactSurvivors.join(nearIds, Seq(idCol), "left_anti")
  }

  /** Pluggable hash family for the MinHash -> banded LSH -> verify
    * pipeline. EVERY stage of the production pipeline is written against
    * this interface — there is one pipeline, parameterized by family,
    * not a production path plus an oracle twin:
    *   - [[XxHash64Family]]: xxhash64 shingle hashes and band keys —
    *     cheapest per shingle, best avalanche, but no ANSI-SQL
    *     counterpart, so catalog rows using it are rows-only.
    *   - [[PortableFamily]]: md5-derived 60-bit shingle hashes with
    *     affine mod-prime permutations ([[portablePerm]]) — every stage
    *     has an exact DuckDB twin, so the SAME production code path is
    *     hash-gated end to end by the driver oracle.
    */
  sealed trait MinHashFamily {
    /** Distinct shingle hashes per doc — row-local, no shuffle. */
    def shingleHashSet(text: Column, k: Int): Column
    /** Slot-`j` signature: min over the hash set under permutation j. */
    def slotMin(hs: Column, j: Int): Column
    /** Band bucket key over `slots` signature columns. */
    def bandKey(slots: Seq[Column]): Column
    /** |a ∩ b| (long) for exact-Jaccard verification. */
    def intersectCount(a: Column, b: Column): Column
  }

  case object XxHash64Family extends MinHashFamily {
    /** Sorted distinct shingle hashes ([[graft.expr.ShingleHashes]],
      * codegen'd; NULL below k tokens) — sortedness feeds the codegen'd
      * merge-walk intersection.
      */
    def shingleHashSet(text: Column, k: Int): Column =
      graft.expr.TextExprs.shingleHashes(TextOps.tokens(text), k)
    def slotMin(hs: Column, j: Int): Column =
      array_min(transform(hs, x => xxhash64(lit(j), x)))
    def bandKey(slots: Seq[Column]): Column = xxhash64(slots: _*)
    def intersectCount(a: Column, b: Column): Column =
      graft.expr.TextExprs.sortedIntersectCount(a, b)
  }

  case object PortableFamily extends MinHashFamily {
    def shingleHashSet(text: Column, k: Int): Column =
      array_distinct(transform(wordShingles(text, k),
        s => portableShingleHash(s)))
    def slotMin(hs: Column, j: Int): Column = {
      val (a, b) = portablePerm(j)
      array_min(transform(hs, x => (x * a + b) % PortableHashPrime))
    }
    /** String key (comma-joined slots): `,` cannot occur in a slot value,
      * so the key is collision-free — and expressible as `concat_ws` in
      * any SQL engine, unlike a binary hash of the slots.
      */
    def bandKey(slots: Seq[Column]): Column =
      concat_ws(",", slots.map(_.cast("string")): _*)
    def intersectCount(a: Column, b: Column): Column =
      size(array_intersect(a, b)).cast("long")
  }

  /** MinHash signature: `numHashes` columns, hash j = min over shingles
    * of the family's permuted shingle hash. For [[XxHash64Family]] this
    * is computed ROW-LOCALLY by the codegen'd single-pass
    * [[graft.expr.ShingleMinHash]] expression — zero shuffles, no
    * materialized hash set (the earlier exploded-index form shuffled the
    * shingle index twice: distinct + groupBy; min over a multiset needs
    * neither), bit-identical to `min(xxhash64(lit(j), sh))` over
    * [[shingleIndexHashed]] AND to the generic
    * `slotMin(shingleHashSet(...))` form (both asserted in DedupOpsSpec).
    * Docs with fewer than k tokens have no shingles and are absent.
    */
  def minhashSignatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      numHashes: Int,
      family: MinHashFamily = XxHash64Family): DataFrame = family match {
    case XxHash64Family =>
      val sig = graft.expr.TextExprs.shingleMinHash(
        TextOps.tokens(col(textCol)), k, numHashes)
      // eligibility via the cheap token-count predicate, NOT
      // `__sig.isNotNull`: the null check is pushed below the projection
      // with shingle_minhash INLINED, running the whole signature pass
      // twice per row (same inlining trap as the generic branch below;
      // ShingleMinHash is null exactly when tokens < k)
      docs.filter(size(TextOps.tokens(col(textCol))) >= k)
        .select(col(idCol).as("doc_id"), sig.as("__sig"))
        .select(col("doc_id") +:
          (0 until numHashes).map(i => element_at(col("__sig"), i + 1).as(s"mh_$i")): _*)
    case f =>
      // Filter on the CHEAP precondition (token count), never on the hash
      // set itself: a predicate on `__hs` is pushed below the projection
      // with the whole hash-set expression INLINED into it, so the
      // md5-per-shingle chain would run 3x per row (isNotNull + size +
      // project — measured 44 s vs 1.5 s on q_dedup_minhash at sf0.1).
      // Equivalent by the shingleHashSet contract: no shingles below k
      // tokens.
      docs
        .filter(size(TextOps.tokens(col(textCol))) >= k)
        .select(col(idCol).as("doc_id"),
          f.shingleHashSet(col(textCol), k).as("__hs"))
        .select(col("doc_id") +:
          (0 until numHashes).map(j => f.slotMin(col("__hs"), j).as(s"mh_$j")): _*)
  }

  /** (doc_id, band, bh) band-bucket rows from `mh_*` signature columns:
    * band b's bucket key is the family's [[MinHashFamily.bandKey]] over
    * its `rowsPerBand` signature slots. Row-local (one explode, no
    * shuffle); shared by the batch candidate join and the streaming
    * candidate-link operator.
    */
  def bandBuckets(
      signatures: DataFrame,
      bands: Int,
      rowsPerBand: Int,
      family: MinHashFamily = XxHash64Family): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      val slots = (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), family.bandKey(slots).as("bh"))
    }
    signatures
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bucket"))
      .select(col("doc_id"), col("bucket.band").as("band"), col("bucket.bh").as("bh"))
  }

  /** LSH candidate pairs from MinHash signatures: split the signature into
    * `bands` bands of `rowsPerBand`, bucket-join on (band, band-key).
    * A pair collides iff some band matches entirely — the classic
    * (J^rows)-per-band S-curve. Candidates only; feed to
    * [[ngramJaccardPairs]]-style verification for the final decision.
    *
    * `maxBucketSize` drops (band, key) cells larger than the cap — the
    * skew guard for boilerplate-heavy corpora where one giant
    * duplicate cluster's bucket would otherwise go quadratic in the
    * self-join (a 1M-doc cluster is 5·10^11 candidate pairs from ONE
    * bucket). Documented recall trade, same discipline as
    * [[SimilarityOps.lshNearDupPairs]]' cap and [[ngramJaccardPairs]]'
    * `maxShingleDf`: members of an over-cap cluster may still pair via
    * their other bands; clusters that hot are better handled by
    * [[exactDedup]] upstream.
    */
  def minhashLshCandidates(
      signatures: DataFrame,
      bands: Int,
      rowsPerBand: Int,
      family: MinHashFamily = XxHash64Family,
      maxBucketSize: Option[Long] = None): DataFrame = {
    val buckets0 = bandBuckets(signatures, bands, rowsPerBand, family)
    val buckets = maxBucketSize match {
      case None => buckets0
      case Some(cap) =>
        // same (band, bh) shuffle key as the join below — the count and
        // the anti-join ride one partitioning
        val hot = buckets0.groupBy(col("band"), col("bh"))
          .agg(count(lit(1)).as("__sz")).filter(col("__sz") > cap)
          .select(col("band"), col("bh"))
        buckets0.join(hot, Seq("band", "bh"), "left_anti")
    }
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** The composed SCALE PATH for near-dup pairs — what a 100 TB run
    * actually executes: MinHash+LSH candidate generation (bounded by band
    * buckets) followed by EXACT Jaccard verification on the candidates
    * only. Verification is two hash joins of the candidate list against
    * row-local sorted shingle-hash sets ([[graft.expr.ShingleHashes]]) and
    * a codegen'd merge-walk intersection — no inverted-index self-join
    * anywhere, so total cost is signatures (pure map) + banded join
    * (bucket-bounded) + candidate-sized verification.
    *
    * Same output contract as [[ngramJaccardPairs]] (which remains the
    * exact ground truth: LSH misses pairs at S-curve rates — recall vs
    * exact is asserted in DedupOpsSpec; the 200k-doc measurement is in
    * PERF.md, "Pipeline scale demonstration").
    */
  def minhashVerifiedPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      threshold: Double,
      numHashes: Int = 32,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      family: MinHashFamily = XxHash64Family,
      cacheSets: Boolean = true,
      maxBucketSize: Option[Long] = None): DataFrame = {
    require(bands * rowsPerBand <= numHashes,
      s"bands*rowsPerBand must be <= numHashes ($bands*$rowsPerBand > $numHashes)")
    // row-local: distinct shingle hashes per doc. Consumed three times
    // (signatures + both verify joins) and the shingle hash is the
    // expensive per-token work — cache by default, exactly like the
    // inverted index in [[ngramJaccardPairs]]. The eligibility filter is
    // on token count, NOT on `hs` (see [[minhashSignatures]]: an hs
    // predicate inlines the hash-set expression into the pushed filter
    // and triples the per-row hashing).
    val sets0 = docs
      .filter(size(TextOps.tokens(col(textCol))) >= k)
      .select(col(idCol).as("doc_id"),
        family.shingleHashSet(col(textCol), k).as("hs"))
    val sets = if (cacheSets) sets0.cache() else sets0
    // signatures take each family's FAST path: xxhash64 rides the
    // single-pass codegen'd ShingleMinHash straight off the tokens
    // (interpreted per-slot HOF mins over the set measured 10x slower at
    // 200k docs — minhash_verified_pairs 4.6 -> 45 s, PERF.md);
    // the portable family derives slots from the CACHED hash sets so the
    // md5 pass is paid once.
    val sigs = family match {
      case XxHash64Family =>
        minhashSignatures(docs, idCol, textCol, k, numHashes)
      case f =>
        sets.select(col("doc_id") +:
          (0 until numHashes).map(j => f.slotMin(col("hs"), j).as(s"mh_$j")): _*)
    }
    val cands = minhashLshCandidates(sigs, bands, rowsPerBand, family, maxBucketSize)
    // verification: candidate-sized joins against the row-local hash sets
    cands
      .join(sets.select(col("doc_id").as("id_a"), col("hs").as("sh_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("hs").as("sh_b")), "id_b")
      .withColumn("intersection", family.intersectCount(col("sh_a"), col("sh_b")))
      .withColumn("n_a", size(col("sh_a")).cast("long"))
      .withColumn("n_b", size(col("sh_b")).cast("long"))
      .withColumn("jaccard", col("intersection").cast("double") /
        (col("n_a") + col("n_b") - col("intersection")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("intersection"),
        col("n_a"), col("n_b"), col("jaccard"))
  }

  /** The prime modulus for the portable (ANSI-expressible) hash family:
    * large enough that min-hash collisions are negligible at corpus
    * scale, small enough that `a * h` never overflows a signed 64-bit
    * intermediate (1e9 * 1e9 < 2^63) — ANSI-mode-safe on every engine.
    */
  val PortableHashPrime: Long = 999999937L

  /** Affine permutation constants for portable MinHash slot `j`:
    * nonzero multiplier derived from Knuth's constant, both reduced mod
    * [[PortableHashPrime]]. Deterministic — the oracle inlines the same
    * numbers as SQL literals.
    */
  def portablePerm(j: Int): (Long, Long) = {
    val p = PortableHashPrime
    val a = ((j + 1).toLong * 2654435761L) % p
    (if (a == 0) 1L else a, ((j + 1).toLong * 104729L) % p)
  }

  /** Portable 60-bit shingle hash: first 15 hex chars of md5, parsed to
    * a long, reduced mod [[PortableHashPrime]]. md5 and hex-parse exist
    * verbatim in every ANSI engine — this is what makes the MinHash
    * pipeline below oracle-able, at the cost of a cryptographic hash per
    * shingle (prefer the xxhash64 paths in production).
    */
  def portableShingleHash(shingle: Column): Column =
    conv(substring(md5(shingle), 1, 15), 16, 10).cast("long") % PortableHashPrime

  /** [[minhashVerifiedPairs]] instantiated with [[PortableFamily]] —
    * retained as a named entry point; it IS the production pipeline with
    * the portable family parameter, not a separate implementation.
    */
  def portableMinhashVerifiedPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      threshold: Double,
      numHashes: Int = 16,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      cacheSets: Boolean = true): DataFrame =
    minhashVerifiedPairs(docs, idCol, textCol, k, threshold,
      numHashes, bands, rowsPerBand, PortableFamily, cacheSets)

  /** Exact-substring span dedup (the Lee et al. 2021 "Deduplicating
    * Training Data Makes Language Models Better" semantic, at k-token
    * granularity): every k-token span that occurs more than once in the
    * WHOLE corpus is cut from every document except its first occurrence
    * (first = minimal (doc_id, position)); overlapping cut spans merge into
    * one removed region. Returns one row per input document:
    * (doc_id, text_clean, n_kept, n_dropped) — text_clean is the surviving
    * tokens space-joined ("" when nothing survives).
    *
    * Scale shape (the paper's suffix-array pass re-expressed as joins):
    *   - span hashing is row-local (slice + arrays_zip + one codegen'd
    *     xxhash64 over the k tokens — no span strings materialized);
    *   - corpus-sized shuffles are keyed by the 8-byte span hash only
    *     (occurrence-count/winner groupBy + the join marking doomed
    *     occurrences — both partial-aggregated / AQE-skew-splittable),
    *     then by doc_id to collect covered positions;
    *   - per-document masking is `array_except` over integer positions —
    *     linear in document length, row-local.
    * Grouping by hash instead of the span string diverges only on xxhash64
    * collisions (~m²/2⁻⁶⁴ for m distinct spans) — the same documented
    * trade as [[exactDedup]].
    */
  def spanDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"span length must be >= 1 token, got $k")
    val withToks = docs.select(
      col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("__w"))
    val nSpans = greatest(size(col("__w")) - (k - 1), lit(0))
    val zipped = arrays_zip(
      (0 until k).map(j => slice(col("__w"), lit(j + 1), nSpans)): _*)
    val grams = withToks
      .select(col("doc_id"), posexplode(zipped).as(Seq("pos", "s")))
      .select(col("doc_id"), col("pos"),
        xxhash64((0 until k).map(j => col("s").getField(j.toString)): _*).as("h"))
    // Winner = lex-min (doc_id, pos), packed into ONE long so the
    // aggregate is a codegen'd primitive HashAggregate min — min(struct)
    // would fall back to SortAggregate and sort the entire gram stream per
    // partition. Packing needs pos < 2^20 (a >1M-token document should
    // have been chunked upstream; raise loudly rather than mis-rank) and a
    // non-negative doc_id < 2^43 (ANSI mode turns overflow into an error,
    // not a wrong winner). Only spans with >1 occurrence survive the filter, so the
    // join back touches duplicated spans only.
    val posCap = 1L << 20
    val packed = when(col("pos") >= posCap,
      raise_error(concat(lit(s"spanDedup: token position >= $posCap in doc "),
        col("doc_id").cast("string"))))
      .otherwise(col("doc_id") * posCap + col("pos"))
    val dupWinners = grams
      .select(col("h"), packed.as("pk"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("c"), min(col("pk")).as("win"))
      .filter(col("c") > 1)
      .select(col("h"), col("win"))
    val doomed = grams.join(dupWinners, "h")
      .filter(col("doc_id") * posCap + col("pos") =!= col("win"))
    // covered token positions per doc; collect_set dedups overlapping spans
    val covered = doomed
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("tpos"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("tpos")).as("__cov"))
    val emptyIdx = array().cast("array<int>")
    val idxAll = when(size(col("__w")) > 0,
      sequence(lit(0), size(col("__w")) - 1)).otherwise(emptyIdx)
    val keptIdx = array_except(idxAll, coalesce(col("__cov"), emptyIdx))
    withToks.join(covered, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        concat_ws(" ", transform(keptIdx, i => element_at(col("__w"), i + 1)))
          .as("text_clean"),
        size(keptIdx).cast("long").as("n_kept"),
        (size(col("__w")) - size(keptIdx)).cast("long").as("n_dropped"))
  }

  /** 64-bit SimHash over whitespace tokens: bit j of the output is set iff
    * `sum over tokens of (bit j of xxhash64(token) ? +1 : -1) >= 0`.
    * Computed as one explode + one aggregation (64 long sums per doc);
    * near-dup detection is then Hamming distance on the long.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashOver(docs, idCol, TextOps.tokens(col(textCol)), xxhash64(_), bits = 64)

  /** [[simhash]] over the portable 60-bit md5 token hash (see
    * [[portableShingleHash]] — here WITHOUT the mod-p reduction, since no
    * multiplication follows and the signature wants all 60 bits). Every
    * step is ANSI SQL — the oracle-able twin of the xxhash64 production
    * signature.
    */
  def portableSimhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashOver(docs, idCol, TextOps.tokens(col(textCol)),
      t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"), bits = 60)

  /** [[portableSimhash]] over an already-tokenized column (see
    * [[shingleIndexHashedTokens]]) — same signatures, one corpus
    * tokenization shared across a composite query's consumers.
    */
  def portableSimhashTokens(docs: DataFrame, idCol: String, toks: Column): DataFrame =
    simhashOver(docs, idCol, toks,
      t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"), bits = 60)

  private def simhashOver(
      docs: DataFrame,
      idCol: String,
      toks: Column,
      hashOf: Column => Column,
      bits: Int): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(toks).as("t"))
      .withColumn("h", hashOf(col("t")))
    val sums = (0 until bits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"s_$j")
    }
    val agged = tok.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
    val sig = (0 until bits).foldLeft(lit(0L)) { (acc, j) =>
      acc.bitwiseOR(
        when(col(s"s_$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
    }
    agged.select(col("doc_id"), sig.as("simhash"))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup PAIRS within `maxHamming` bits (Manku, Jain &
    * Sarma, WWW'07 — the web-scale simhash dedup): split the `bits`-wide
    * signature into `maxHamming + 1` chunks; by pigeonhole, any pair
    * within the radius matches at least one chunk EXACTLY, so candidate
    * generation is a (chunk-index, chunk-value) bucket equi-join —
    * COMPLETE (result == the all-pairs Hamming predicate, which is what
    * the oracle runs) and never an all-pairs pass. Candidates verify
    * with one row-local `bit_count(xor)`.
    *
    * Input: a signature frame `(doc_id, simhash)` ([[simhash]] /
    * [[portableSimhash]]). `bits` must divide evenly by
    * `maxHamming + 1`. Output: `(id_a, id_b, hamming)`, each
    * qualifying pair once. Scale shape: the only corpus-sized shuffle is
    * keyed by the 8-byte chunk value; a degenerate hot chunk (mass-equal
    * signatures) means mass near-duplicates — cap upstream with
    * [[exactDedup]], same guidance as [[minhashLshCandidates]]'
    * `maxBucketSize`.
    */
  def simhashNearDupPairs(
      sigs: DataFrame,
      bits: Int,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    val chunks = maxHamming + 1
    require(bits % chunks == 0,
      s"bits ($bits) must divide by maxHamming+1 ($chunks) for equal chunks")
    val width = bits / chunks
    val mask = (1L << width) - 1
    val b = sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until chunks).map(i => struct(
        lit(i).as("ci"),
        shiftright(col("simhash"), i * width).bitwiseAND(lit(mask)).as("cv"))): _*))
        .as("c"))
      .select(col("doc_id"), col("simhash"),
        col("c.ci").as("ci"), col("c.cv").as("cv"))
    b.as("x")
      .join(b.as("y"),
        col("x.ci") === col("y.ci") && col("x.cv") === col("y.cv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        hamming(col("x.simhash"), col("y.simhash")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Line-level boilerplate removal (the CCNet / RefinedWeb pass): a line
    * occurring byte-identically in more than `maxDocFreq` DISTINCT
    * documents is chrome (headers, footers, nav, cookie banners) and is
    * dropped from EVERY document; surviving lines are reassembled in
    * original order. Documents whose every line is boilerplate disappear
    * from the output (their `text_clean` would be empty).
    *
    * Scale shape: the explode is row-local; line document-frequency is ONE
    * aggregation keyed by an 8-byte `xxhash64` of the line — never the
    * line text (partitioning a 100 TB corpus by raw line strings would
    * carry the whole corpus as shuffle keys, the same scale-killer
    * [[exactDedup]] avoids) — with map-side partial `count_distinct`
    * candidates; the df table joins back by the same 8-byte key, and
    * reassembly is one doc-keyed shuffle feeding a row-local
    * `array_sort` + join. Hash collisions merge df counts of two distinct
    * lines (~n^2/2^65 — negligible; the gated oracle compares against
    * exact line-equality semantics and hash-matches).
    *
    * Returns `(doc_id, text_clean, n_lines_kept)`.
    */
  def lineDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDocFreq: Long): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    // `lines` feeds both the df aggregate and the join probe, so the
    // split+explode+hash subtree executes twice. Deliberately NOT
    // checkpointed (unlike triangleCounts' edge build): materializing
    // the exploded corpus was MEASURED slower than recomputing the
    // codegen'd split/hash (1.21 s vs 0.95 s warm at sf0.1), and at
    // 100 TB persisting a corpus-sized explode to executor storage is
    // worse than a second stateless scan.
    val lines = docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("pos", "line")))
      .withColumn("h", xxhash64(col("line")))
    val lineDf = lines.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("line_df"))
    lines.join(lineDf, "h")
      .filter(col("line_df") <= maxDocFreq)
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("line"))))
        .as("__ls"))
      .select(col("doc_id"),
        concat_ws("\n",
          transform(col("__ls"), x => x.getField("line"))).as("text_clean"),
        size(col("__ls")).cast("long").as("n_lines_kept"))
  }

  /** Winnowing fingerprints per document (Schleimer–Wilkerson–Aiken,
    * SIGMOD'03 — the MOSS local-fingerprinting algorithm; see
    * [[graft.expr.WinnowFingerprints]]). Text is normalized to the
    * formatting-free space (lowercase, `[a-z0-9]` only — whitespace and
    * punctuation vanish, so re-wrapping or re-punctuating a stolen passage
    * does not change its fingerprints), then k-gram hashed and window-min
    * selected entirely row-locally inside whole-stage codegen. The ONLY
    * shuffle in the whole family is whatever the caller does with the
    * exploded `(doc_id, fp)` rows — the selection itself is scan-shaped
    * and streams at 100 TB.
    *
    * Density: winnowing selects ~`2/(w+1)` of gram positions, so the
    * posting list is a small constant fraction of corpus characters —
    * the index-size/guarantee trade the `w + k - 1` threshold buys.
    *
    * Returns distinct `(doc_id, fp)` rows (the expression already
    * dedups per document).
    */
  def winnowFingerprints(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 4,
      w: Int = 8): DataFrame = {
    val norm = regexp_replace(lower(col(textCol)), "[^a-z0-9]", "")
    docs.select(
      col(idCol).as("doc_id"),
      explode(graft.expr.WinnowExprs.winnowFingerprints(norm, k, w))
        .as("fp"))
  }

  /** Partial-overlap pairs from winnowing fingerprints: documents sharing
    * at least `minShared` selected fingerprints, scored by the shared
    * count. The join is the standard posting-list self-join — fingerprints
    * whose document frequency exceeds `maxDf` are dropped FIRST (the
    * boilerplate/stop-fingerprint cap: candidate volume is sum df², so the
    * df tail is the entire cost at scale; the same discipline as the
    * MinHash hot-bucket cap). Input is [[winnowFingerprints]] output;
    * returns `(id_a, id_b, shared)` with `id_a < id_b`.
    */
  def winnowOverlapPairs(
      fps: DataFrame,
      minShared: Long,
      maxDf: Long): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxDf >= 2, s"maxDf must be >= 2 for any pair to survive, got $maxDf")
    val df = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val kept = fps.join(df.select(col("fp")), Seq("fp"))
    kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }
}
