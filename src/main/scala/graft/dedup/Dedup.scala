package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftbridge.Bridge

import graft.blocking.BlockingKeys

/** Deduplication operators for training-data pipelines, each built on the
  * same blocking/scoring machinery as the entity-resolution spine:
  *
  *  - exact: hash-groupBy (one shuffle, map-side partial agg)
  *  - MinHash+LSH: shingle -> minhash -> band keys -> bucket self-join ->
  *    verify with true shingle Jaccard over 60-bit shingle hashes
  *  - SimHash: 60-bit fingerprints (4 disjoint 15-bit bands) + hamming
  *  - n-gram Jaccard: exact character-shingle overlap on candidate pairs
  *  - embedding-cosine near-dup: see [[graft.ann.Ann]]
  *
  * All keep the "keeper" deterministic: min(doc_id) per duplicate group.
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
    * docs visible ([[NearDupState]] consumers can count `__n > cap`).
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

  /** Shingle-set columns for a text column: (__s capped set, __n true
    * distinct count). The full set is staged once per row via the
    * surrounding withColumn (multi-use alias) before cap/count.
    */
  private def shingleSetCols(df: DataFrame, textCol: Column,
                             maxShingles: Int): DataFrame =
    df.withColumn("__full", BlockingKeys.shingleHashes60(textCol))
      .withColumn("__n", size(col("__full")))
      .withColumn("__s",
        when(col("__n") > maxShingles, bottomK(col("__full"), maxShingles))
          .otherwise(col("__full")))
      .drop("__full")

  /** Shared near-dup verify: stage each doc's 60-bit shingle-hash set
    * ONCE (eager materialization — the set is consumed by both join
    * sides, and without the barrier the whole per-character shingling
    * subtree re-evaluates per side), join it onto the candidate pairs,
    * keep pairs with hash-set Jaccard >= threshold.
    */
  private def verifyShingleJaccard(pairs: DataFrame, base: DataFrame,
                                   threshold: Double,
                                   maxShingles: Int = DefaultMaxShingles): DataFrame =
    verifyFromSets(pairs,
      shingleSetCols(base, col("text"), maxShingles)
        .select("doc_id", "__s", "__n")
        .localCheckpoint(true),
      threshold, maxShingles)

  /** Verify candidate pairs against PRE-COMPUTED shingle-hash sets
    * (doc_id, __s[, __n]) — the form the incremental path uses, where
    * the corpus sets are a persisted table, not re-derived from text.
    * A missing/null __n (state written before the cap existed — such
    * sets are always full) defaults to the set size. Pairs with both
    * sides under `maxShingles` use the exact Jaccard; a capped side
    * switches the pair to the bottom-k estimator (see
    * [[DefaultMaxShingles]]).
    */
  private def verifyFromSets(pairs: DataFrame, sets: DataFrame,
                             threshold: Double,
                             maxShingles: Int = DefaultMaxShingles): DataFrame = {
    // Pin the verify join's parallelism: the candidate-pair table is a
    // few BYTES per row but each row costs an O(|set|) intersect, so AQE's
    // byte-based partition coalescing collapses the verify to one task
    // (measured: the whole q18 verify single-threaded). An explicit
    // numPartitions survives AQE (user-specified counts are not
    // coalesced), and hash-partitioning on the join key means that when
    // the sets are too big to broadcast the exchange doubles as the
    // verify join's own left exchange — no extra shuffle at scale. When
    // the pairs are the smaller side the planner broadcasts them instead
    // and streams the sets (no shuffle of the sets at all); the pin then
    // costs one shuffle of the small pair table.
    val parts = pairs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val pairsPinned = pairs.repartition(parts, col("doc_id_a"))
    val withN =
      if (sets.columns.contains("__n")) sets
      else sets.withColumn("__n", size(col("__s")))
    // sort each doc's set ONCE, below the join (per sets row, not per
    // pair row): the intersect size is then a zero-allocation merge scan
    // per pair ([[IntersectKernel]]) instead of array_intersect's
    // per-pair hash-set build — the measured CPU hotspot of every
    // near-dup verify (31 cpu-s on q72's verify stage at sf0.1).
    // Sorting permutes set CONTENT only; every consumer below
    // (intersect count, sizes, bottom-k re-mix) is order-insensitive,
    // so results are bit-identical.
    val a = withN.select(col("doc_id").as("doc_id_a"), array_sort(col("__s")).as("s_a"),
      coalesce(col("__n"), size(col("__s"))).as("n_a"))
    val b = withN.select(col("doc_id").as("doc_id_b"), array_sort(col("__s")).as("s_b"),
      coalesce(col("__n"), size(col("__s"))).as("n_b"))
    val inter = sortedIntersectCount(col("s_a"), col("s_b")).cast("double")
    val exactJ =
      inter / ((size(col("s_a")) + size(col("s_b"))).cast("double") - inter)
    // bottom-k estimate: the K mix-order-smallest of the union of the two
    // sketches IS bottomK(A ∪ B); count how many of them sit in both sides
    val u = bottomK(array_union(col("s_a"), col("s_b")), maxShingles)
    val sketchJ =
      size(array_intersect(array_intersect(u, col("s_a")), col("s_b")))
        .cast("double") / size(u).cast("double")
    // EvalOnce fence: without it Catalyst substitutes the jaccard alias
    // into the filter and pushes it into the verify join as a residual
    // predicate — the whole CASE (kernel intersect, and the bottom-k
    // union sketch on the capped branch) then runs once per joined row
    // in the join AND once more in the projection for survivors
    // (measured: two ~12 cpu-s stages on q72's verify for one logical
    // pass). The fence keeps one evaluation; same rows, same values.
    pairsPinned.join(a, Seq("doc_id_a")).join(b, Seq("doc_id_b"))
      .withColumn("jaccard", graft.util.EvalOnce(
        when(col("n_a") <= maxShingles && col("n_b") <= maxShingles, exactJ)
          .otherwise(sketchJ)))
      .where(col("jaccard") >= threshold)
      .select("doc_id_a", "doc_id_b", "jaccard")
  }

  /** MinHash+LSH near-dup candidates: docs sharing any LSH band key,
    * verified with shingle Jaccard >= threshold over 60-bit shingle
    * hashes ([[BlockingKeys.shingleHashes60]] — long sets intersect ~10x
    * faster than string sets and the verify join ships 8-byte elements
    * instead of 3-char UTF8 strings; collision odds ~1e-13/pair, and the
    * oracle hashes identically). Returns (doc_id_a, doc_id_b, jaccard).
    * The band join is the scale path: candidates per doc are
    * O(collisions), not O(n). No text columns ride the join: equal texts
    * have equal hash sets and score exactly 1.0 arithmetically.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.7, maxBlockSize: Int = 10000,
                      maxShingles: Int = DefaultMaxShingles): DataFrame = {
    val base = df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // materialize the band-key table once: it feeds the block-size count
    // AND both sides of the candidate self-join — left lazy, the whole
    // shingle+minhash keygen over the text re-evaluates up to three
    // times per run (seen in the executed q72 plan: three FileScan →
    // minhash_band_keys subtrees). Same materialization profile as the
    // operator's existing shingle-set checkpoint in the verify step
    // (both are O(corpus) intermediates of an eager batch operator).
    val keys = BlockingKeys.minhashKeyTable(base, "doc_id", col("text"))
      .localCheckpoint(true)
    val pairs = graft.pairs.CandidateGenerator.candidatePairs(keys, maxBlockSize)
    verifyShingleJaccard(pairs, base, threshold, maxShingles)
  }

  /** Persisted corpus state for incremental near-dup: the LSH band-key
    * table and the 60-bit shingle-hash sets — everything an increment
    * needs, so the corpus TEXT is read exactly once (at ingest), never
    * again. Both frames are meant to be written out (keys bucketed by
    * `block_key` for an exchange-free increment join per
    * [[graft.pairs.BucketedKeys]], shingle sets bucketed by `doc_id`)
    * and read back per batch. Docs whose text yields no band key (null /
    * empty) can never pair and are not carried.
    */
  final case class NearDupState(keys: DataFrame, shingles: DataFrame)

  /** Derive [[NearDupState]] from raw docs (one pass over the text: the
    * native minhash kernel for keys, the staged shingle-hash array for
    * the verify sets).
    */
  def minhashState(df: DataFrame, idCol: String, textCol: String,
                   maxShingles: Int = DefaultMaxShingles): NearDupState =
    stateOf(minhashDocs(df, idCol, textCol, maxShingles))

  /** One row per DELIVERED doc with everything the increment needs from
    * it: (doc_id, __k band keys, __s, __n). A doc whose text is null or
    * empty carries no band key and a null set: it is delivered, but can
    * never pair. Materialize it once and split it with [[stateOf]].
    */
  def minhashDocs(df: DataFrame, idCol: String, textCol: String,
                  maxShingles: Int = DefaultMaxShingles): DataFrame = {
    val ok = col("text").isNotNull && length(col("text")) > 0
    shingleSetCols(df.select(col(idCol).as("doc_id"), col(textCol).as("text")),
      col("text"), maxShingles)
      .select(col("doc_id"),
        when(ok, BlockingKeys.minhashBandKeyArray(col("text")))
          .otherwise(array().cast("array<string>")).as("__k"),
        when(ok, col("__s")).as("__s"), when(ok, col("__n")).as("__n"))
  }

  /** The [[NearDupState]] of a [[minhashDocs]] table. */
  def stateOf(docs: DataFrame): NearDupState =
    NearDupState(
      BlockingKeys.explodeKeys(docs, "doc_id", col("__k")),
      docs.where(col("__s").isNotNull).select("doc_id", "__s", "__n"))

  /** Result of one dedup increment: the near-dup pairs TOUCHING the new
    * batch (both orientations normalized to doc_id_a < doc_id_b, like the
    * batch operator), and the batch's own state — append `state.keys` /
    * `state.shingles` to the corpus tables to absorb the batch.
    */
  final case class NearDupIncrement(pairs: DataFrame, state: NearDupState)

  /** Incremental MinHash near-dup — dedup a NEW batch against a corpus
    * whose state ([[minhashState]]) is already persisted, without
    * touching the corpus text: the increment's work is
    * |new-keys| ⋈ |corpus-keys| (exchange-free on the big side when the
    * corpus key table is bucketed by block_key) plus a self-join over the
    * batch's own keys. This is what makes near-dup a MAINTAINED property
    * of a 100 TB corpus rather than a one-shot job: a daily crawl batch
    * costs O(batch) + one co-located join, not O(corpus).
    *
    * Exactness: band keys are per-doc deterministic, so {pairs sharing a
    * band key, at least one side new} partitions into new–new (the
    * batch self-join) and new–old (the increment join); the verify
    * Jaccard is the same arithmetic over the same persisted sets. The
    * increment therefore equals the full-batch [[minhashNearDups]] over
    * corpus ∪ batch restricted to pairs touching the batch — exactly,
    * whenever no block cap trips (property-tested, and hash-checked by
    * q70's full-recompute oracle). Caps are per-increment like
    * [[graft.pipeline.IncrementalResolve]]: the batch self-join caps on
    * batch-side block counts, the increment join drops corpus blocks
    * whose CORPUS row count exceeds the cap — the same production recall
    * trade, evaluated on each side's own volume.
    *
    * Precondition: batch doc ids are DISJOINT from corpus ids (the
    * ingest contract — an id carried by both would fan out the verify
    * join through two shingle-set rows). Re-ingesting a changed doc is
    * a retract-then-insert: drop its rows from the state tables first.
    */
  def minhashNearDupsIncrement(newDocs: DataFrame, idCol: String, textCol: String,
                               corpus: NearDupState, threshold: Double = 0.7,
                               maxBlockSize: Int = 10000): NearDupIncrement = {
    // the batch state feeds both joins and the returned append set —
    // materialize it once (batches are small by definition; the corpus
    // side stays lazy/persisted)
    incrementFromState(stateOf(Bridge.checkpoint(minhashDocs(newDocs, idCol, textCol))),
      corpus, threshold, maxBlockSize)
  }

  /** The increment over an ALREADY-MATERIALIZED batch state — for
    * callers that manage the batch tables' storage themselves (the
    * streaming job materializes one batch table per micro-batch and
    * splits it into the state's key and set tables). The batch frames
    * are consumed 2–3 times; pass them materialized.
    *
    * Corpus reads are scoped to the batch: the corpus keys are
    * semi-joined on the batch's band keys before the cap counts them
    * (the cap counts per block key, so the scoped count is exact), and
    * only the candidate pairs' corpus ids read their shingle sets. The
    * candidate pairs and the sets they need are barriers of measured
    * size ([[Bridge.checkpoint]]), so each lookup broadcasts the side
    * that is small in bytes, and a bulk load's sets (up to 64 KB a doc)
    * are not broadcast once they pass the threshold.
    */
  def incrementFromState(batch: NearDupState, corpus: NearDupState,
                         threshold: Double, maxBlockSize: Int): NearDupIncrement = {
    // new–new ∪ new–old candidates in one pass over the corpus blocks
    // the batch shares, oriented doc_id_a < doc_id_b like the batch
    // operator. A barrier: the verify reads the pairs, and the set lookup
    // broadcasts their ids into its scan of the corpus sets;
    // O(candidates) rows.
    val pairs = Bridge.checkpoint(graft.pairs.CandidateGenerator
      .incrementPairs(batch.keys, corpus.keys, maxBlockSize)
      .select(least(col("doc_id_a"), col("doc_id_b")).as("doc_id_a"),
        greatest(col("doc_id_a"), col("doc_id_b")).as("doc_id_b")))
    val ids = pairs.select(col("doc_id_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_id_b").as("doc_id")))
    // allowMissingColumns: a corpus persisted before the shingle cap has
    // no __n column (all its sets are full); the null fills coalesce to
    // size(__s) inside verifyFromSets. A barrier: the verify joins the
    // sets on both pair sides; O(candidate docs) rows.
    val sets = Bridge.checkpoint(corpus.shingles.join(ids, Seq("doc_id"), "left_semi")
      .unionByName(batch.shingles, allowMissingColumns = true))
    NearDupIncrement(verifyFromSets(pairs, sets, threshold), batch)
  }

  /** SimHash near-dups: 60-bit fingerprint per doc (two independent
    * 30-bit hash-family halves), candidates from the 4 disjoint 15-bit
    * bands, verify hamming distance <= maxHamming. By pigeonhole the
    * 4-band split GUARANTEES recall for hamming <= 3 (any such pair
    * agrees on a whole band — property-tested in DedupSpec); maxHamming
    * beyond 3 is best-effort, as is anything a block cap drops.
    *
    * The band joins route through [[graft.pairs.CandidateGenerator]] so a
    * hot band bucket (near-identical boilerplate — the normal case in
    * web-scale dedup) is size-capped/salted instead of going quadratic in
    * one task. Dropped oversized buckets are a recall trade the cap makes
    * explicit (raise maxBlockSize / saltedMaxBlockSize to keep them).
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, maxBlockSize: Int = 10000,
                      saltedMaxBlockSize: Int = -1): DataFrame = {
    // materialize the fingerprints once (native one-pass kernel): they
    // are consumed by the key table and both sides of the verify join.
    // TOKENLESS text is excluded BEFORE keying: every zero-token doc
    // fingerprints to 0, so without the filter they would all share
    // every band key and report each other as hamming-0 "near-dups" of
    // unknown content. The guard must match the KERNEL's token notion —
    // "contains a char outside Java \s" — because a whitespace-only doc
    // passes a length()>0 check yet still fingerprints to 0 (the exact
    // collapse the filter exists to prevent). The class is written out
    // explicitly so the DuckDB mirror (RE2 \s lacks \x0B) is identical
    // by construction.
    val base = df
      .where(col(textCol).isNotNull &&
        col(textCol).rlike("[^ \\t\\n\\x0B\\f\\r]"))
      .select(col(idCol).as("doc_id"),
        BlockingKeys.simhash60(col(textCol)).as("simhash"))
      .localCheckpoint(true)
    val keys = base.select(
      explode(BlockingKeys.simhashBandKeys(col("simhash"))).as("block_key"),
      col("doc_id"), col("simhash"))
    if (saltedMaxBlockSize <= maxBlockSize) {
      // Fused path: the fingerprint rides the key table, so the hamming
      // filter runs INSIDE the band join's generated code and only the
      // survivors reach the distinct. The generic path (distinct over the
      // full pair multiset, then two joins to re-attach fingerprints)
      // pays two extra shuffles plus a distinct over every within-bucket
      // pair; output is identical (filter-then-distinct ==
      // distinct-then-filter). Cap semantics unchanged: per-band-key row
      // count <= maxBlockSize. The dominant cost at scale is the
      // within-bucket pair stream itself, which the 4x15-bit banding
      // keeps selective (hot buckets = genuinely identical fingerprints).
      fusedHammingPairs(keys, maxHamming, maxBlockSize)
    } else {
      // Salted path for hot buckets beyond the cap: route through the
      // generic capped/salted generator, then re-attach fingerprints.
      val pairs = graft.pairs.CandidateGenerator
        .candidatePairs(keys.select("block_key", "doc_id"), maxBlockSize, saltedMaxBlockSize)
      val a = base.select(col("doc_id").as("doc_id_a"), col("simhash").as("sh_a"))
      val b = base.select(col("doc_id").as("doc_id_b"), col("simhash").as("sh_b"))
      pairs.join(a, Seq("doc_id_a")).join(b, Seq("doc_id_b"))
        .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
        .where(col("hamming") <= maxHamming)
        .select("doc_id_a", "doc_id_b", "hamming")
    }
  }

  /** The fused self-band-join over a (block_key, doc_id, simhash) key
    * table (see [[simhashNearDups]] for why fused beats
    * generic-then-reattach).
    */
  private def fusedHammingPairs(keys: DataFrame, maxHamming: Int,
                                maxBlockSize: Int): DataFrame = {
    val ok = graft.pairs.CandidateGenerator.underCapBlocks(keys, maxBlockSize)
    // cap applied to ONE side only (same argument as CandidateGenerator.
    // rawPairs): the equi-join on block_key means a pair survives iff its
    // block is under-cap on the filtered side; filtering both sides costs
    // a second cap semi-join evaluation for an identical pair set
    val l = keys
      .select(col("block_key"), col("doc_id").as("doc_id_a"), col("simhash").as("sh_a"))
    val r = keys.join(ok, Seq("block_key"))
      .select(col("block_key"), col("doc_id").as("doc_id_b"), col("simhash").as("sh_b"))
    l.join(r, Seq("block_key"))
      .where(col("doc_id_a") < col("doc_id_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .where(col("hamming") <= maxHamming)
      .select("doc_id_a", "doc_id_b", "hamming")
      .distinct()
  }

  /** Persisted corpus state for incremental SimHash near-dup: the
    * (block_key, doc_id, simhash) band-key table — fingerprints RIDE the
    * key table exactly like the batch fused path, so the increment join
    * runs its hamming filter inside the join codegen too. Persist
    * bucketed by block_key for an exchange-free increment join. Lazy;
    * callers materialize. Same tokenless-doc exclusion as the batch
    * operator (zero-token docs fingerprint to 0 and would all collide).
    */
  def simhashState(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashKeys(simhashDocs(df, idCol, textCol))

  /** One row per DELIVERED doc: (doc_id, simhash), the fingerprint null
    * for tokenless text (such a doc is delivered but never keyed).
    * Materialize it once and key it with [[simhashKeys]].
    */
  def simhashDocs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      when(col(textCol).isNotNull && col(textCol).rlike("[^ \\t\\n\\x0B\\f\\r]"),
        BlockingKeys.simhash60(col(textCol))).as("simhash"))

  /** The (block_key, doc_id, simhash) state of a [[simhashDocs]] table. */
  def simhashKeys(docs: DataFrame): DataFrame =
    docs.where(col("simhash").isNotNull)
      .select(
        explode(BlockingKeys.simhashBandKeys(col("simhash"))).as("block_key"),
        col("doc_id"), col("simhash"))

  /** Result of one SimHash increment: pairs touching the batch
    * (doc_id_a < doc_id_b like the batch operator) and the batch's key
    * table to append to the corpus state.
    */
  final case class SimhashIncrement(pairs: DataFrame, keys: DataFrame)

  /** Incremental SimHash near-dup — the [[minhashNearDupsIncrement]]
    * pattern for the fingerprint family: batch-vs-batch via the fused
    * band self-join, batch-vs-corpus via one key join against the
    * persisted state (hamming filtered inside the join). Equals the
    * full-batch [[simhashNearDups]] over corpus ∪ batch restricted to
    * pairs touching the batch — exactly, whenever no cap trips (caps are
    * per-increment, each side's own block counts; same contract as the
    * MinHash increment). The hamming ≤ 3 pigeonhole recall guarantee is
    * unchanged: band keys are a pure function of the fingerprint, so any
    * qualifying cross pair still agrees on a whole band. Same
    * disjoint-ids ingest precondition as [[minhashNearDupsIncrement]].
    */
  def simhashNearDupsIncrement(newDocs: DataFrame, idCol: String, textCol: String,
                               corpusKeys: DataFrame, maxHamming: Int = 3,
                               maxBlockSize: Int = 10000): SimhashIncrement =
    incrementFromSimhashKeys(
      simhashState(newDocs, idCol, textCol).localCheckpoint(true),
      corpusKeys, maxHamming, maxBlockSize)

  /** The increment over an already-materialized batch key table (the
    * storage-lifecycle split, as [[incrementFromState]]).
    */
  def incrementFromSimhashKeys(batchKeys: DataFrame, corpusKeys: DataFrame,
                               maxHamming: Int, maxBlockSize: Int): SimhashIncrement = {
    val newNew = fusedHammingPairs(batchKeys, maxHamming, maxBlockSize)
    // scoped to the batch's blocks before the (per-block, so exact) cap
    val touched = corpusKeys.join(batchKeys.select("block_key"), Seq("block_key"), "left_semi")
    val okOld = graft.pairs.CandidateGenerator.underCapBlocks(touched, maxBlockSize)
    val newOld = batchKeys
      .select(col("block_key"), col("doc_id").as("__nid"), col("simhash").as("__nsh"))
      .join(touched.join(okOld, Seq("block_key"))
        .select(col("block_key"), col("doc_id").as("__oid"), col("simhash").as("__osh")),
        Seq("block_key"))
      .where(col("__nid") =!= col("__oid"))
      .withColumn("hamming", bit_count(col("__nsh").bitwiseXOR(col("__osh"))))
      .where(col("hamming") <= maxHamming)
      .select(least(col("__nid"), col("__oid")).as("doc_id_a"),
        greatest(col("__nid"), col("__oid")).as("doc_id_b"), col("hamming"))
      .distinct()
    SimhashIncrement(newNew.unionByName(newOld), batchKeys)
  }

  /** Exact n-gram Jaccard near-dups: candidates come from EXACT shingle
    * keys (every pair sharing at least one character shingle), verified
    * with true shingle Jaccard — full recall for any threshold > 0,
    * unlike [[minhashNearDups]] whose LSH bands can miss qualifying
    * pairs. The block-size cap bounds the quadratic shingle blocks
    * (stop-shingle dropping — "the", "ing" — is what makes this runnable
    * at all beyond toy scale; dropped keys are the explicit trade).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double, maxBlockSize: Int = 10000): DataFrame = {
    require(threshold > 0.0,
      "ngramJaccardPairs is exact only for threshold > 0 (pairs sharing no shingle score 0)")
    val base = df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // block AND verify on the 60-bit shingle hashes: every pair sharing a
    // shingle shares its hash key (full recall preserved), and both the
    // key shuffle and the verify intersect move 8-byte longs
    val keys = base
      .select(col("doc_id"), explode(BlockingKeys.shingleHashes60(col("text"))).as("block_key"))
      .select("block_key", "doc_id")
    val pairs = graft.pairs.CandidateGenerator.candidatePairs(keys, maxBlockSize)
    verifyShingleJaccard(pairs, base, threshold)
  }
}
