package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftbridge.Bridge

import graft.blocking.BlockingKeys
import graft.pairs.SimJoin

/** Deduplication operators for training-data pipelines:
  *
  *  - exact: hash-groupBy (one shuffle, map-side partial agg), keeper
  *    min(doc_id) per duplicate group
  *  - near-dup families of the one similarity join [[SimJoin]] (batch
  *    pairs, maintained state, increments):
  *    - MinHash+LSH: shingle -> minhash -> band keys -> bucket join ->
  *      verify with true shingle Jaccard over 60-bit shingle hashes
  *    - n-gram Jaccard: exact character-shingle overlap on candidate pairs
  *    - SimHash: 60-bit fingerprints (4 disjoint 15-bit bands) + hamming
  *  - embedding-cosine near-dup: see [[graft.ann.Ann]]
  */
object Dedup {

  /** |A ∩ B| of two sorted distinct long-array columns via the native
    * merge-scan kernel (see [[SortedLongIntersectCountExpr]]).
    */
  private def sortedIntersectCount(a: Column, b: Column): Column =
    Bridge.column(SortedLongIntersectCountExpr(
      Bridge.expression(a), Bridge.expression(b)))

  /** Exact dedup by content hash. Returns (doc_id, content_hash, keeper,
    * is_dup). One shuffle on the hash; at 100 TB this is the cheapest
    * possible dedup (hash computed in the scan stage, partial-aggregated).
    * NULL text is unknown content, not identical content: such rows are
    * their own keeper and never is_dup (the window would otherwise group
    * every null hash together and mark all but one null-text doc a dup).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = df.select(col(idCol).as("doc_id"), md5(col(textCol)).as("content_hash"))
    val keeper = Window.partitionBy(col("content_hash"))
    hashed
      .withColumn("keeper",
        when(col("content_hash").isNull, col("doc_id"))
          .otherwise(min(col("doc_id")).over(keeper)))
      .withColumn("is_dup", col("doc_id") =!= col("keeper"))
      .select("doc_id", "content_hash", "keeper", "is_dup")
  }

  /** Verify-payload cap: a doc's stored shingle-hash set is at most this
    * many longs. The verify join ships one set per pair side — at
    * O(text-length) longs per row that is fine for web-page-sized docs
    * (the p99 web page is well under this) but a book-length document
    * would put megabytes on every one of its candidate pairs. Sets
    * larger than the cap are stored as their BOTTOM-K SKETCH (the K
    * smallest hashes under the mixed selection order — see [[bottomK]])
    * plus the true distinct count, and
    * such pairs verify with the standard bottom-k Jaccard estimator
    * (Broder-style: bottomK(A ∪ B) = bottomK(bottomK(A) ∪ bottomK(B)),
    * and membership of a union-sketch element in each side's sketch
    * equals membership in the side itself — so
    * |bottomK(A∪B) ∩ A' ∩ B'| / K estimates J with σ ≈ √(J(1-J)/K),
    * ±0.006 at K=8192). Pairs where BOTH sides are under the cap use
    * the exact formula, unchanged — so every oracle-checked corpus
    * (documents.parquet caps at ~600 chars) is bit-identical, and the
    * estimator only engages where the alternative is an unbounded
    * payload. No silent truncation: the stored true count makes capped
    * docs visible (state consumers can count `__n > cap`).
    */
  val DefaultMaxShingles: Int = 8192

  /** Bottom-k selection order: a well-MIXED key over the 60-bit shingle
    * identity, not the identity itself. The rolling polynomial hash that
    * forms the identity orders shingles by their leading characters, so
    * common shingles sort low — a bottom-k under IT preferentially keeps
    * the shingles both documents share and overestimates J (measured
    * +0.03 on a J=0.90 pair). xxhash64 makes the selection order
    * independent of shingle content; ties (64-bit, none in practice)
    * break on the identity, so the order is total and both sides select
    * consistently.
    */
  private def bottomK(hs: Column, k: Int): Column =
    transform(
      slice(array_sort(transform(hs,
        h => struct(xxhash64(h).as("m"), h.as("h")))), 1, k),
      s => s.getField("h"))

  /** The shingle-Jaccard families (minhash, n-gram): the payload is each
    * doc's 60-bit shingle-hash set, capped at `maxShingles` (__s, its
    * bottom-k sketch above the cap, and __n, the true distinct count).
    * The full set is staged once per row by the withColumn (a multi-use
    * alias) before the cap, the count and `keys` read it. A doc that is
    * not `pairable` has no keys and a null set: it is delivered, but can
    * never pair.
    *
    * The verify sorts each doc's set once, per payload row: the
    * intersect size is then a zero-allocation merge scan per pair
    * ([[SortedLongIntersectCountExpr]]) instead of array_intersect's
    * per-pair hash-set build, the measured CPU hotspot of every near-dup
    * verify (31 cpu-s on q72's verify stage at sf0.1). Sorting permutes
    * set content only and every consumer is order-insensitive. Pairs
    * with both sides under the cap use the exact Jaccard; a capped side
    * switches the pair to the bottom-k estimator (see
    * [[DefaultMaxShingles]]): the K mix-order-smallest of the union of
    * the two sketches IS bottomK(A ∪ B), and the estimate counts how
    * many of them sit in both sides.
    */
  private def jaccardFamily(threshold: Double, maxShingles: Int, idCol: String,
                            textCol: String, keys: Column, pairable: Column): SimJoin.Family = {
    val inter = sortedIntersectCount(col("s_a"), col("s_b")).cast("double")
    val exactJ = inter / ((size(col("s_a")) + size(col("s_b"))).cast("double") - inter)
    val u = bottomK(array_union(col("s_a"), col("s_b")), maxShingles)
    val sketchJ = size(array_intersect(array_intersect(u, col("s_a")), col("s_b")))
      .cast("double") / size(u).cast("double")
    SimJoin.Family(
      docs = df => df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
        .withColumn("__full", BlockingKeys.shingleHashes60(col("text")))
        .withColumn("__n", size(col("__full")))
        .select(col("doc_id"),
          when(pairable, when(col("__n") > maxShingles, bottomK(col("__full"), maxShingles))
            .otherwise(col("__full"))).as("__s"),
          when(pairable, col("__n")).as("__n"), when(pairable, keys).as("__k")),
      payload = Seq("__s", "__n"),
      sides = Seq("s" -> array_sort(col("__s")), "n" -> coalesce(col("__n"), size(col("__s")))),
      score = "jaccard" -> when(col("n_a") <= maxShingles && col("n_b") <= maxShingles, exactJ)
        .otherwise(sketchJ),
      keep = col("jaccard") >= threshold)
  }

  /** MinHash+LSH: docs sharing any LSH band key of the native minhash
    * kernel, verified with shingle Jaccard >= threshold over 60-bit
    * shingle hashes ([[BlockingKeys.shingleHashes60]]: long sets intersect
    * ~10x faster than string sets and the verify ships 8-byte elements
    * instead of 3-char strings; collision odds ~1e-13/pair, and the
    * oracle hashes identically). Output (doc_id_a, doc_id_b, jaccard).
    */
  def minhashFamily(threshold: Double, idCol: String = "doc_id", textCol: String = "text",
                    maxShingles: Int = DefaultMaxShingles): SimJoin.Family =
    jaccardFamily(threshold, maxShingles, idCol, textCol,
      BlockingKeys.minhashBandKeyArray(col("text")),
      col("text").isNotNull && length(col("text")) > 0)

  /** Exact n-gram Jaccard: the block keys are the doc's whole shingle-hash
    * set, so every pair sharing a shingle is a candidate (full recall for
    * any threshold > 0), verified like [[minhashFamily]]. An empty text
    * is the one-shingle set {""}: empty texts pair with each other.
    */
  def ngramFamily(threshold: Double, idCol: String = "doc_id",
                  textCol: String = "text"): SimJoin.Family =
    jaccardFamily(threshold, DefaultMaxShingles, idCol, textCol, col("__full"),
      col("text").isNotNull)

  /** SimHash: a 60-bit fingerprint per doc (two independent 30-bit
    * hash-family halves), blocked on its 4 disjoint 15-bit bands and kept
    * at hamming <= maxHamming. By pigeonhole the 4-band split GUARANTEES
    * recall for hamming <= 3 (any such pair agrees on a whole band;
    * property-tested in DedupSpec); beyond 3 it is best-effort, as is
    * anything a block cap drops. The fingerprint rides the key table.
    *
    * TOKENLESS text gets no fingerprint: every zero-token doc
    * fingerprints to 0, and they would all share every band and report
    * each other as hamming-0 "near-dups" of unknown content. The guard
    * matches the KERNEL's token notion, "contains a char outside Java
    * \s", because a whitespace-only doc passes a length() > 0 check yet
    * still fingerprints to 0. The class is written out so the DuckDB
    * mirror (RE2 \s lacks \x0B) is identical by construction.
    */
  def simhashFamily(maxHamming: Int, idCol: String = "doc_id",
                    textCol: String = "text"): SimJoin.Family =
    SimJoin.Family(
      docs = df => df.select(col(idCol).as("doc_id"),
          when(col(textCol).isNotNull && col(textCol).rlike("[^ \\t\\n\\x0B\\f\\r]"),
            BlockingKeys.simhash60(col(textCol))).as("simhash"))
        .withColumn("__k", when(col("simhash").isNotNull,
          BlockingKeys.simhashBandKeys(col("simhash")))),
      payload = Seq("simhash"),
      sides = Seq("sh" -> col("simhash")),
      score = "hamming" -> bit_count(col("sh_a").bitwiseXOR(col("sh_b"))),
      keep = col("hamming") <= maxHamming,
      rides = true)

  /** MinHash+LSH near-dup pairs ([[minhashFamily]]). The band join is the
    * scale path: candidates per doc are O(collisions), not O(n). No text
    * rides the join: equal texts have equal hash sets and score exactly
    * 1.0 arithmetically.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.7, maxBlockSize: Int = 10000,
                      maxShingles: Int = DefaultMaxShingles): DataFrame =
    SimJoin.pairs(minhashFamily(threshold, idCol, textCol, maxShingles), df, maxBlockSize)

  /** SimHash near-dup pairs ([[simhashFamily]]), (doc_id_a, doc_id_b,
    * hamming). A hot band bucket (near-identical boilerplate, the normal
    * case in web-scale dedup) is capped at maxBlockSize, or salted up to
    * saltedMaxBlockSize, instead of going quadratic in one task.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, maxBlockSize: Int = 10000,
                      saltedMaxBlockSize: Int = -1): DataFrame =
    SimJoin.pairs(simhashFamily(maxHamming, idCol, textCol), df, maxBlockSize, saltedMaxBlockSize)

  /** Exact n-gram Jaccard near-dup pairs ([[ngramFamily]]), unlike
    * [[minhashNearDups]] whose LSH bands can miss qualifying pairs. The
    * block-size cap bounds the quadratic shingle blocks (stop-shingle
    * dropping, "the", "ing", is what makes this runnable at all beyond
    * toy scale; dropped keys are the explicit trade).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double, maxBlockSize: Int = 10000): DataFrame = {
    require(threshold > 0.0,
      "ngramJaccardPairs is exact only for threshold > 0 (pairs sharing no shingle score 0)")
    SimJoin.pairs(ngramFamily(threshold, idCol, textCol), df, maxBlockSize)
  }
}
