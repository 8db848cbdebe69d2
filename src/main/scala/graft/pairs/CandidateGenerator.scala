package graft.pairs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** B3: candidate generation — the self-equi-join of the (block_key,
  * doc_id) table with itself. The Spark analog of the reference's
  * "entities sharing >=1 blocking key, DISTINCT" candidate fetch
  * (graph/CypherExecutor.java:377-394).
  *
  * Scale notes (SURVEY.md §4): blocking keys are Zipfian — the 2-char
  * `bg:` keys are huge at scale. Mitigations applied here:
  *  - hard cap on block size: keys whose group exceeds `maxBlockSize` are
  *    dropped BEFORE the join (quadratic blowup prevention); dropped keys
  *    are surfaced in [[CandidateStats]] — no silent truncation.
  *  - the join itself is a shuffle-on-block_key equi-join; AQE skew-join
  *    splitting handles residual skew within the cap.
  *  - dedup to distinct unordered pairs (doc_id_a < doc_id_b) mirrors the
  *    reference's RETURN DISTINCT (graph/CypherExecutor.java:386).
  *
  * The reference's full-scan fallback when blocking yields no candidates
  * (api/EntityResolutionService.java:512-524, B4) is deliberately NOT
  * reproduced here: it is O(n^2) at table scale; the north rule measures
  * F1 "at shared blocking key", where the fallback never fires. A BOUNDED
  * variant (zero-candidate docs x capped sample) exists as
  * [[graft.pipeline.PipelineConfig.orphanFallback]].
  */
object CandidateGenerator {

  final case class CandidateStats(
      totalKeys: Long,
      distinctKeys: Long,
      oversizedKeys: Long,
      droppedKeyRows: Long,
      /** Blocks in (maxBlockSize, saltedMaxBlockSize]: KEPT via salted
        * pair generation, not dropped — reported separately so the
        * recall-affecting drop metric stays truthful when salting is on.
        */
      saltedKeys: Long = 0L,
      saltedKeyRows: Long = 0L)

  /** Block keys whose row count is within `maxBlockSize` — the shared
    * quadratic-blowup guard (semi-joining a key table against this frame
    * drops oversized blocks BEFORE any pair generation). One definition
    * so the cap semantics — per-side row counts, whole-block drop —
    * cannot drift between the batch and incremental near-dup paths.
    */
  def underCapBlocks(keys: DataFrame, maxBlockSize: Int): DataFrame =
    keys.groupBy("block_key").agg(count(lit(1)).as("__n"))
      .where(col("__n") <= maxBlockSize).select("block_key")

  /** The candidate pairs of a batch against itself and a corpus, in one
    * pass: distinct (doc_id_a, doc_id_b, __old), where doc_id_a is a batch
    * doc and doc_id_b either a batch doc with doc_id_a < doc_id_b
    * (`__old` false) or a corpus doc (`__old` true); a doc never pairs
    * with itself. Both key tables are (block_key, doc_id).
    *
    * Only the corpus blocks the batch shares are read (a semi-join on
    * the batch's block keys). The cap is per side, as in the incremental
    * operators: a block pairs its batch rows while it has at most
    * `maxBlockSize` of them, and its corpus rows while it has at most
    * `maxBlockSize` of those. The cap counts whole blocks, so scoping the
    * corpus to the touched blocks leaves every count exact.
    */
  def incrementPairs(batchKeys: DataFrame, corpusKeys: DataFrame,
                     maxBlockSize: Int): DataFrame = {
    val keys = batchKeys.select(col("block_key"), col("doc_id"), lit(false).as("__old"))
      .unionByName(corpusKeys.join(batchKeys.select("block_key"), Seq("block_key"), "left_semi")
        .select(col("block_key"), col("doc_id"), lit(true).as("__old")))
    val underCap = keys.groupBy("block_key", "__old").agg(count(lit(1)).as("__n"))
      .where(col("__n") <= maxBlockSize).select("block_key", "__old")
    batchKeys.select(col("block_key"), col("doc_id").as("doc_id_a"))
      .join(keys.join(underCap, Seq("block_key", "__old"))
        .select(col("block_key"), col("doc_id").as("doc_id_b"), col("__old")), Seq("block_key"))
      .where(col("doc_id_a") < col("doc_id_b") ||
        (col("__old") && col("doc_id_a") =!= col("doc_id_b")))
      .select("doc_id_a", "doc_id_b", "__old")
      .distinct()
  }

  /** When a caller KNOWS the key table is broadcast-sized (it usually
    * does — the pipeline counts the materialized key table right before
    * pair generation), an explicit hint beats leaving the choice to
    * size estimates: the static planner cannot estimate through the
    * union/aggregate shapes here, plans a sort-merge join, and AQE only
    * converts it to broadcast AFTER materializing the exchange — so the
    * whole key table is exchanged and the work thrown away (measured:
    * two ~30 cpu-s abandoned exchange stages per pipeline run at sf0.1).
    * Guide §3.1: "estimates are often badly wrong … use an explicit
    * broadcast hint when you know a side is small". 2M key rows is
    * ~100-150 MB as a hashed relation at typical key widths — well under
    * the 8 GB / 512M-row broadcast cap; callers above the bound pass
    * false and keep the exchange-based plan AQE can still optimize.
    */
  val BroadcastKeysMaxRows: Long = 2000000L

  /** Distinct candidate pairs (doc_id_a < doc_id_b) from a (block_key,
    * doc_id) table.
    *
    * Skew policy, in order:
    *  - blocks with n <= maxBlockSize: plain self-equi-join;
    *  - blocks with maxBlockSize < n <= saltedMaxBlockSize: SALTED pair
    *    generation — each doc gets salt = pmod(hash(doc_id), s); the left
    *    side is replicated once per target salt bucket and the join key
    *    becomes (block_key, salt-bucket), so one hot key's n^2/2 pairs are
    *    spread over s tasks instead of landing in one. The pair SET is
    *    identical to the unsalted join (salting distributes work, it
    *    cannot reduce it — a hot key's pairs exist either way);
    *  - blocks with n > saltedMaxBlockSize: dropped (quadratic blowup
    *    guard), surfaced via [[stats]] — no silent truncation.
    *
    * Defaults keep salting off (saltedMaxBlockSize = maxBlockSize); raise
    * it where hot keys must be kept rather than dropped.
    */
  def candidatePairs(keys: DataFrame, maxBlockSize: Int = 1000,
                     saltedMaxBlockSize: Int = -1, saltBuckets: Int = 16,
                     hintBroadcast: Boolean = false): DataFrame =
    rawPairs(keys, maxBlockSize, saltedMaxBlockSize, saltBuckets, hintBroadcast).distinct()

  /** [[candidatePairs]] with the pair PACKED into one long:
    * pk = doc_id_a << 31 | doc_id_b. Caller contract: doc_id is an
    * integral column with non-negative values < 2^31 (the pipeline's
    * dense surrogates). Everything the distinct touches halves —
    * exchange rows are one fixed-width long instead of two, the
    * aggregate hash table keys/compares a single word, and a downstream
    * sort on pk is a one-key radix sort whose order equals (a, b) order.
    * The pair SET is identical to [[candidatePairs]]' (pack is a
    * bijection on a < b pairs in range).
    */
  def candidatePairsPacked(keys: DataFrame, maxBlockSize: Int = 1000,
                           saltedMaxBlockSize: Int = -1, saltBuckets: Int = 16,
                           hintBroadcast: Boolean = false): DataFrame =
    rawPairs(keys, maxBlockSize, saltedMaxBlockSize, saltBuckets, hintBroadcast)
      // explicit long casts: shiftleft on an IntegerType id would return
      // int and silently overflow for any id >= 1 — the pipeline always
      // passes longs, but the API contract ("integral column < 2^31")
      // invites int callers
      .select(shiftleft(col("doc_id_a").cast("long"), 31)
        .bitwiseOR(col("doc_id_b").cast("long")).as("pk"))
      .distinct()

  /** The pre-distinct candidate stream (one row per pair PER shared
    * under-cap block); see [[candidatePairs]] for the skew policy.
    */
  private def rawPairs(keys: DataFrame, maxBlockSize: Int,
                       saltedMaxBlockSize: Int, saltBuckets: Int,
                       hintBroadcast: Boolean = false): DataFrame = {
    // validated at the API boundary: saltBuckets = 0 would otherwise fail
    // minutes later inside the join job (pmod by zero under ANSI mode)
    require(saltBuckets >= 1, s"saltBuckets must be >= 1, got $saltBuckets")
    // see BroadcastKeysMaxRows: the hint is opt-in by callers that have
    // measured the key table; it never changes the pair set, only the
    // join strategy
    def bc(df: DataFrame): DataFrame = if (hintBroadcast) broadcast(df) else df
    val saltedMax = if (saltedMaxBlockSize < maxBlockSize) maxBlockSize else saltedMaxBlockSize
    val sized = keys.groupBy("block_key").agg(count(lit(1)).as("block_n"))

    // The block-size cap is applied to ONE side of the self-join only:
    // the pair join is an equi-join on block_key, so a pair survives iff
    // its block is in the under-cap set on the filtered side — filtering
    // the other side too is redundant (identical pair set) and costs a
    // second evaluation of the cap semi-join plus an extra hash join on
    // the streamed side (measured 2.5x the whole raw-pair stage on the
    // sf0.1 pipeline: the unfiltered self-join runs 0.25 s where the
    // both-sides-capped shape ran 1.2 s). Oversized-block rows on the
    // unfiltered side probe the build relation and find no match — the
    // quadratic-blowup guard is intact because no oversized block ever
    // enters the build side.
    val small = keys.join(
      bc(sized.where(col("block_n") <= maxBlockSize).select("block_key")),
      Seq("block_key"))
    val l = keys.select(col("block_key"), col("doc_id").as("doc_id_a"))
    val r = small.select(col("block_key"), col("doc_id").as("doc_id_b"))
    val smallPairs = l.join(bc(r), Seq("block_key"))
      .where(col("doc_id_a") < col("doc_id_b"))
      .select("doc_id_a", "doc_id_b")

    val pairs =
      if (saltedMax == maxBlockSize) smallPairs
      else {
        val hot = keys.join(
          bc(sized.where(col("block_n") > maxBlockSize && col("block_n") <= saltedMax)
            .select("block_key")),
          Seq("block_key"))
        val s = saltBuckets
        // left replicated per target bucket; right keyed by its own salt
        val hl = hot
          .withColumn("__sb", explode(sequence(lit(0), lit(s - 1))))
          .select(col("block_key"), col("__sb"), col("doc_id").as("doc_id_a"))
        val hr = hot
          .withColumn("__sb", pmod(xxhash64(col("doc_id")), lit(s.toLong)).cast("int"))
          .select(col("block_key"), col("__sb"), col("doc_id").as("doc_id_b"))
        val hotPairs = hl.join(hr, Seq("block_key", "__sb"))
          .where(col("doc_id_a") < col("doc_id_b"))
          .select("doc_id_a", "doc_id_b")
        smallPairs.union(hotPairs)
      }
    pairs
  }

  /** Block-size metrics for lineage/monitoring (dropped keys are a
    * recall-affecting decision and must be visible). Pass the SAME
    * saltedMaxBlockSize as [[candidatePairs]]: blocks the salted path
    * keeps are counted as salted, not dropped — otherwise the drop
    * metric reports recall loss that did not happen.
    */
  def stats(keys: DataFrame, maxBlockSize: Int = 1000,
            saltedMaxBlockSize: Int = -1): CandidateStats = {
    val saltedMax = if (saltedMaxBlockSize < maxBlockSize) maxBlockSize else saltedMaxBlockSize
    val sized = keys.groupBy("block_key").agg(count(lit(1)).as("block_n")).cache()
    try {
      val agg = sized.agg(
        count(lit(1)).as("distinct_keys"),
        sum("block_n").as("total_rows"),
        sum(when(col("block_n") > saltedMax, 1L).otherwise(0L)).as("oversized"),
        sum(when(col("block_n") > saltedMax, col("block_n")).otherwise(0L)).as("dropped_rows"),
        sum(when(col("block_n") > maxBlockSize && col("block_n") <= saltedMax, 1L)
          .otherwise(0L)).as("salted"),
        sum(when(col("block_n") > maxBlockSize && col("block_n") <= saltedMax, col("block_n"))
          .otherwise(0L)).as("salted_rows")
      ).collect()(0)
      CandidateStats(
        totalKeys = agg.getAs[Long]("total_rows"),
        distinctKeys = agg.getAs[Long]("distinct_keys"),
        oversizedKeys = agg.getAs[Long]("oversized"),
        droppedKeyRows = Option(agg.getAs[Long]("dropped_rows")).getOrElse(0L),
        saltedKeys = agg.getAs[Long]("salted"),
        saltedKeyRows = Option(agg.getAs[Long]("salted_rows")).getOrElse(0L))
    } finally sized.unpersist()
  }
}
