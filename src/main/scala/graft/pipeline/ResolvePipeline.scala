package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.blocking.BlockingKeys
import graft.checkpoint.StageStore
import graft.cluster.ConnectedComponents
import graft.decide.{Decisions, Thresholds}
import graft.functions.Er
import graft.pairs.CandidateGenerator
import graft.sim.SimilarityWeights
import graft.util.Confs

/** End-to-end batch record linkage: the whole-table closure of the
  * reference's per-record resolve() lifecycle (SURVEY.md §3.1): for every
  * doc at once — derive name from spans -> validate -> normalize ->
  * blocking keys -> candidate self-join -> composite scoring -> threshold
  * decisions -> AUTO_MERGE edges -> connected components -> cluster ids.
  *
  * Exact/synonym matches need no dedicated stage: equal normalized names
  * share all blocking keys and the composite scorer short-circuits them to
  * 1.0 (CompositeSimilarityScorer.java:34-36), so they always auto-merge.
  *
  * The span-sequence invariant holds by construction: `spans` is carried
  * as an opaque column and re-attached to the output by doc_id; no stage
  * transforms it.
  */
final case class PipelineConfig(
    weights: SimilarityWeights = SimilarityWeights.default,
    thresholds: Thresholds = Thresholds(),
    entityType: Option[String] = Some(graft.norm.Normalizer.COMPANY),
    maxBlockSize: Int = 1000,
    saltedMaxBlockSize: Int = -1,
    /** L1 fast path (SURVEY §4): group identical normalized names first
      * and run blocking/scoring/clustering on one representative per
      * group. Provably output-equivalent: identical names share every
      * blocking key and short-circuit to score 1.0, so a group always
      * auto-merges; at corpus scale exact duplicates are the bulk of the
      * data and never enter the quadratic pair space.
      *
      * Shape: reps come from a partial-aggregating groupBy (min doc_id
      * per (normalized, type, tenant) group) and the member->rep map from
      * a join back to them, in both checkpointed and direct runs. A
      * dominant exact-duplicate name contributes one partial row per map
      * task to the groupBy and an AQE-splittable hot key to the join, so
      * no group is ever one task's whole buffer (the window shape this
      * replaced put a 6M-copy hot name into one 8.3 s task; this shape
      * ran that case 2.4x faster). Its limit is the other end: each
      * consumer of the member->rep map pays a join where a cached window
      * pass held the map as a column, and the probe put the break-even
      * near 10^6-row groups. On a 4.8k-doc Zipfian corpus (largest group
      * 570 docs, 4-vCPU host) checkpointed runs measured unchanged, and
      * a window variant on the same stage barriers measured no faster in
      * a short A/B.
      */
    exactPregroup: Boolean = true,
    /** M9 canMerge, type half (merge/MergeEngine.java:310-322): name of a
      * column on the input docs carrying the entity type; docs of
      * different types share blocking keys and get scored, but never
      * merge (edges are filtered on type equality before CC, and exact
      * pregrouping groups by (normalized, type)). NULL type values
      * coalesce to a reserved "null" type that merges only with
      * itself — matching the pregroup's NULLs-group-together semantics
      * (the edge guard's non-null-safe equality would otherwise silently
      * drop every NULL-typed edge).
      */
    typeColumn: Option[String] = None,
    /** Multi-tenancy scoping (tenant/TenantAwareEntityRepository.java:50-70,
      * tenant/TenantContext.java): name of a column on the input docs
      * carrying the tenant id. Isolation is enforced at the BLOCKING
      * layer — every block key is prefixed with the tenant, so docs of
      * different tenants never share a key, never pair, never score and
      * never merge (stronger and cheaper than scoring-then-filtering:
      * zero cross-tenant work). Exact pregrouping also groups per
      * tenant, so identical names in different tenants stay distinct
      * entities. NULL tenant values are coalesced to a reserved
      * "null" tenant: such docs match ONLY each other (a null
      * would otherwise null out the prefixed key and silently drop the
      * doc from every block — singleton with no warning).
      */
    tenantColumn: Option[String] = None,
    /** B4, bounded (api/EntityResolutionService.java:512-524): when true,
      * docs that blocking produced ZERO candidates for are additionally
      * compared against a deterministic sample of at most
      * `orphanFallbackCap` representatives (per type when typed). The
      * reference's unbounded full scan is O(n^2) and deliberately not
      * reproduced; the cap makes the recall trade explicit.
      */
    orphanFallback: Boolean = false,
    orphanFallbackCap: Int = 1000,
    /** M9 canMerge, status half: name of a column on the input docs;
      * docs whose value != "ACTIVE" do not participate in matching at
      * all (the reference resolves only ACTIVE entities) and pass
      * through as singleton clusters.
      */
    statusColumn: Option[String] = None,
    checkpointRoot: Option[String] = None,
    numShufflePartitions: Option[Int] = None)

final case class PipelineResult(
    clusters: DataFrame,        // doc_id, cluster_id, spans
    /** The narrow (doc_id, cluster_id) assignment table — `clusters`
      * before the span re-attachment join. Checksums and metrics that
      * only need cluster identity should read THIS: a scan of `clusters`
      * deserializes every span payload (checkpoint/snapshot scans cannot
      * column-prune), which is pure allocation pressure when the spans
      * are not consumed.
      */
    assignments: DataFrame,     // doc_id, cluster_id
    pairScores: DataFrame,      // doc_id_a/b, lev/jw/jaccard/score, decision
    /** L6 provenance: the merge edges that fed CC, with score and reason
      * (MERGED_INTO edge properties, graph/CypherExecutor.java:343-351) —
      * the input to [[graft.audit.Audit.mergeHistory]] once the caller
      * stamps its batch sequence.
      */
    mergeEdges: DataFrame,      // src, dst, confidence, reason
    rejects: DataFrame,         // doc_id, reject_reason
    metrics: DataFrame,         // decision -> n
    /** Block-size/dropped-key metrics, computed ON DEMAND (one extra
      * aggregation pass over the materialized key table). Dropped
      * oversized blocks are a recall-affecting decision — production
      * jobs should invoke and log this; it is a thunk so pipelines that
      * don't consume it (benchmarks, tests) don't pay the pass.
      */
    candidateStats: () => CandidateGenerator.CandidateStats,
    /** The stage caches this run holds (runs without a store; see
      * [[release]]).
      */
    private[pipeline] val cached: Seq[DataFrame] = Nil) {

  /** Drop the stage caches this run holds. Without a store every stage
    * is a cached frame that nothing else unpersists, so a long-lived
    * session would pin one block set per run. Call it once the outputs
    * have been written or collected; a frame of this result read after
    * it recomputes from its plan.
    */
  def release(): Unit = cached.foreach(_.unpersist(false))
}

object ResolvePipeline {

  /** Rep counts at or above this limit use the two-column candidate-pair
    * path: packing a pair into one long (pk = a << 31 | b) needs every
    * surrogate id < 2^31. Scoped (not a config field) so tests can force
    * the two-column path on small corpora.
    */
  private[pipeline] val packLimit = new scala.util.DynamicVariable[Long](1L << 31)

  /** Run over a docs table (doc_id string, spans array<struct<...>>).
    *
    * @param overrideEdges D7: human review approvals as extra merge edges
    *   (src, dst), unioned with the AUTO_MERGE edges before clustering —
    *   the batch analog of ReviewService.approve triggering a merge
    *   (review/ReviewService.java:94-140).
    */
  def run(spark: SparkSession, docs: DataFrame,
          cfg: PipelineConfig = PipelineConfig(),
          overrideEdges: Option[DataFrame] = None): PipelineResult = {
    Er.register(spark)
    // AQE for skew-join splitting on the hot-key blocking joins — but NOT
    // partition coalescing: the engine's stages are CPU-bound per row
    // (similarity kernels), and byte-based coalescing collapses them to a
    // handful of tasks (observed 2-task 8s stages on a 32-core box).
    // The runtime broadcast threshold is raised to 256m: the scoring
    // stage joins the pair table against the names dim twice, and when
    // the measured dim fits AQE turns those sort-merge joins into
    // broadcast-hash joins, so the name strings never ride a pair-scale
    // shuffle. At corpus scale the measured dim exceeds the bound and the
    // shuffle join stands.
    // The conf mutations are SCOPED to this call ([[Confs.withConfs]]):
    // every materialization this function performs — keys,
    // pairs, pairScores, CC — runs under the pipeline policy, while the
    // lazy outputs (cluster expansion, metrics) evaluate under the
    // caller's own session policy. Without the restore, one pipeline run
    // permanently disabled AQE partition coalescing for every later query
    // in the session (measured: the whole bench sweep ran its small
    // shuffles at the full session partition count).
    val pipelineConfs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "256m") ++
      cfg.numShufflePartitions.map(n => "spark.sql.shuffle.partitions" -> n.toString)
    Confs.withConfs(spark, pipelineConfs) {
    val store = cfg.checkpointRoot.map(new StageStore(_, spark))
    // Stage fingerprints are DEPENDENCY-SCOPED and chained: each stage's
    // fingerprint = its upstream stage's fingerprint + only the config
    // that stage actually consumes. Re-running with, say, new similarity
    // weights resumes the (expensive) normalize/key/pair snapshots and
    // recomputes only scoring onward — at 100 TB, threshold/weight tuning
    // iterations cost one scoring pass, not the whole pipeline. The root
    // of the chain is the input identity (count + an order-independent
    // hash sum over id AND content), so a different input table — same
    // ids, changed spans included — can never be silently resumed from a
    // stale snapshot.
    def contentFp(df: DataFrame, cols: Seq[String]): String = {
      // per-column NULL sentinel: xxhash64 SKIPS a null argument (the
      // running hash is unchanged), so a value MOVING between two
      // fingerprinted columns of a row — e.g. (status="ACTIVE",
      // type=NULL) -> (status=NULL, type="ACTIVE") — would hash
      // identically and silently resume every stale snapshot. The
      // sentinel keeps nulls positional.
      val row = df.agg(
        count(lit(1)),
        coalesce(sum(xxhash64(cols.map(c =>
            coalesce(col(c).cast("string"), lit("\u0000null"))): _*)
          .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))).collect()(0)
      s"${row.get(0)}:${row.get(1)}"
    }
    // the input identity must cover EVERY input column any stage reads:
    // doc_id + spans content, plus the configured status/type/tenant
    // VALUES — a doc whose status flips (same id, same spans) must
    // invalidate the snapshots it baked into
    val inputFp = store.map { _ =>
      val extraCols = (cfg.statusColumn.toSeq ++ cfg.typeColumn ++ cfg.tenantColumn)
        .filter(docs.columns.contains)
      val proj = docs.select(col("doc_id") +: to_json(col("spans")).as("__j") +:
        extraCols.map(c => col(c).cast("string").as(s"__$c")): _*)
      contentFp(proj, proj.columns.toSeq)
    }.getOrElse("")
    def fp(parts: String*): String =
      store.map(_.fingerprint(parts: _*)).getOrElse("")
    // "names-v1": the normalized stage holds the narrow name projection
    // (doc_id, normalized, scope columns), so it also depends on the
    // type/tenant columns; the token invalidates the older full-width
    // snapshots
    val fpNormalized = fp(inputFp, cfg.entityType.toString, cfg.statusColumn.toString,
      cfg.typeColumn.toString, cfg.tenantColumn.toString, "names-v1")
    val fpGroups = fp(fpNormalized, cfg.exactPregroup.toString)
    // "dids-v1": the blocking-key and candidate-pair snapshots are keyed
    // by integer surrogates (see the surrogate_ids stage)
    val fpKeys = fp(fpGroups, "dids-v1")
    val fpPairs = fp(fpKeys, cfg.maxBlockSize.toString, cfg.saltedMaxBlockSize.toString)
    val fpScores = fp(fpPairs, cfg.weights.toString, cfg.thresholds.toString,
      cfg.orphanFallback.toString, cfg.orphanFallbackCap.toString)
    // D7 override edges are DATA, not config — content-fingerprint them
    // (a changed approval set must invalidate the clusters snapshot)
    val overrideFp = store.map { _ =>
      overrideEdges.map(o => contentFp(o.select("src", "dst"), Seq("src", "dst")))
        .getOrElse("none")
    }.getOrElse("")
    val fpClusters = fp(fpScores, overrideFp)

    // The run's only fork on the store. A stage is a MATERIALIZATION
    // BARRIER in both modes: with a store, the committed snapshot read
    // back; without one, a columnar cache. A barrier keeps Catalyst from
    // pushing a downstream filter back into the stage's plan (e.g. the
    // composite score re-evaluated as a join-residual predicate on the
    // pre-distinct key stream, observed 17x) and stops a multi-consumer
    // stage from being recomputed per consumer. The cache holds
    // compressed column batches (dictionary/RLE), not one heap object per
    // row: measured on the scaling corpus, the row-object localCheckpoint
    // store anti-scales with executor threads (2.4 s at 1 thread -> 29.5 s
    // at 4 for the same data), while the columnar build is flat and its
    // consumer scans are column-pruned; an evicted batch recomputes the
    // deterministic plan instead of failing the job. `snapshot` leaves
    // the cache to be built by the stage's first consumer; `stage` builds
    // it now and returns the row count (the manifest's, with a store).
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def snapshot(name: String, stageFp: String)(compute: => DataFrame): DataFrame =
      store.fold { val df = compute.persist(); cached += df; df }(
        _.materialize(name, stageFp)(compute))
    def stage(name: String, stageFp: String)(compute: => DataFrame): (DataFrame, Long) = {
      val df = snapshot(name, stageFp)(compute)
      (df, store.flatMap(_.committedRows(name)).getOrElse(df.count()))
    }

    // ---- name derivation + validation (N8): bad rows -> rejects, not errors
    val named = docs
      .withColumn("name", Er.docName(col("spans")))
      .withColumn("reject_reason", Er.rejectReason(col("name")))
    val rejects = named.where(col("reject_reason").isNotNull)
      .select("doc_id", "reject_reason")
    val valid = named.where(col("reject_reason").isNull).drop("reject_reason")

    // ---- M9 status half: only ACTIVE docs participate in matching; the
    // rest pass through as singleton clusters at the end. NULL-safe on
    // purpose: `=== "ACTIVE"` AND `=!= "ACTIVE"` are both null-FALSE, so
    // a doc with a NULL status would land in NEITHER side and vanish
    // from every output — a NULL status is treated as not-active
    // (singleton pass-through), consistent with the NULL type/tenant
    // sentinel policy below.
    val statusCol = cfg.statusColumn.filter(docs.columns.contains)
    val (matchable, inactiveIds) = statusCol match {
      case Some(sc) => (
        valid.where(coalesce(col(sc) === "ACTIVE", lit(false))),
        Some(valid.where(coalesce(col(sc) =!= "ACTIVE", lit(true))).select("doc_id")))
      case None => (valid, None)
    }
    // M9 type half: thread the type column through pregrouping and the
    // edge filter (aliased __type so it never collides with input names)
    val typeCol = cfg.typeColumn.filter(docs.columns.contains)
    val tenantCol = cfg.tenantColumn.filter(docs.columns.contains)
    val tenantCarry = tenantCol.map(_ => "__tenant").toSeq
    // NULL type/tenant values coalesce to a reserved id: NULL-typed docs
    // merge only with each other (consistent between the pregroup, which
    // groups NULLs together, and the edge guard, whose non-null-safe
    // equality would otherwise silently drop every NULL-typed edge; see
    // the tenantColumn scaladoc for the tenant half)
    val nameCols = Seq(col("doc_id"), col("normalized")) ++
      typeCol.map(tc =>
        coalesce(col(tc).cast("string"), lit("\u0002null")).as("__type")) ++
      tenantCol.map(tc =>
        coalesce(col(tc).cast("string"), lit("\u0002null")).as("__tenant"))

    // ---- normalization (N1-N4), kept as the small name projection — the
    // batch analog of the reference's entity-dim cache (I7); the
    // pregroup's groupBy and its member->rep join both scan it
    val allNames = snapshot("normalized", fpNormalized) {
      matchable.withColumn("normalized",
        graft.norm.Normalizer.normalizeColumn(col("name"), cfg.entityType))
        .select(nameCols: _*)
    }

    // ---- L1 exact-match fast path: one representative (min doc_id) per
    // identical normalized name (per type and tenant when scoped —
    // same-name docs of different types must not collapse); members
    // re-attach to their rep's cluster at the end. Output-equivalent and
    // skew-safe (see PipelineConfig.exactPregroup).
    val groupCols = Seq("normalized") ++ typeCol.map(_ => "__type") ++ tenantCarry
    val (names, repMap) =
      if (cfg.exactPregroup) {
        val reps = snapshot("exact_groups", fpGroups) {
          allNames.groupBy(groupCols.map(col): _*).agg(min("doc_id").as("doc_id"))
            .select("doc_id", groupCols: _*)
        }
        // member -> rep: join the members back to the reps on the group
        // key. Null-SAFE equality on every group column — the groupBy
        // groups NULL keys together, and a non-null-safe join would
        // silently drop every NULL-keyed member from the map.
        val repSide = reps.select(
          groupCols.map(c => col(c).as(s"__g_$c")) :+ col("doc_id").as("rep"): _*)
        val m = allNames
          .join(repSide, groupCols.map(c => col(c) <=> col(s"__g_$c")).reduce(_ && _))
          .select(col("doc_id"), col("rep"))
        (reps, Some(m))
      } else (allNames, None)

    // ---- integer surrogate join ids. The candidate distinct and the two
    // scoring-dim probes are the pipeline's memory-system hot spots: on
    // string doc_ids every one of the ~n_pairs HashAggregate /
    // HashedRelation operations hashes and memcmps two var-length strings
    // inside tables hundreds of MB big — at high parallelism that random
    // traffic is what saturates shared memory bandwidth. A long surrogate
    // (`__did`) makes each pair row a fixed-width 16 bytes (vs ~40+ for
    // two string ids), shrinks the distinct's aggregate table ~2.5x, and
    // lets Spark build long-keyed hash relations for the name dims. Ids
    // never reach an OUTPUT — scoring re-canonicalizes to string doc_ids
    // (least/greatest is safe: all three kernels are symmetric).
    //
    // Surrogates are minted DENSE (0..n-1) in doc_id order over the name
    // dim FROZEN range-sorted: partition sizes of that frozen layout are
    // read with one tiny grouped count, prefix-summed on the driver, and
    // dense id = partition offset + monotonically_increasing_id's lower
    // 33 bits (the partition-local counter). Dense doc_id-ordered ids buy
    // three properties:
    //  - ORDER ISOMORPHISM: __did < __did' iff doc_id < doc_id' (binary
    //    string order), so a min/least over surrogates corresponds to the
    //    same min over string ids — downstream consumers may canonicalize
    //    in either space;
    //  - PROBE LOCALITY: candidate pairs are dominated by same-block
    //    neighbors, and blocks are clusters of near-identical names whose
    //    doc_ids the generators/ingest lay out near each other. With ids
    //    dense in that order, the scoring stage's random probes into the
    //    broadcast name relations touch a sliding window instead of the
    //    whole table — the measured source of per-core CPU inflation at
    //    high parallelism was exactly those whole-table random reads
    //    (profiled: scoring-stage CPU 297 s -> 376 thread-s from 1 to 4
    //    threads on identical work while the kernels alone scale at 0.95).
    //    Density also lets the long-keyed broadcast relations use their
    //    dense-array fast path (probe = array index, not open hashing).
    //  - PAIR PACKING: with n < 2^31 both ids of a pair fit one long
    //    (pk = a << 31 | b), halving what the candidate distinct hashes,
    //    exchanges and sorts — see CandidateGenerator.candidatePairsPacked.
    //    Corpora beyond 2^31 entities fall back to the two-column path.
    // The (doc_id, __did) mapping is itself a stage: task retries during
    // the snapshot write or cache build re-scan the checkpointed source,
    // so the ids are deterministic, and a resumed run READS the committed
    // ids rather than re-minting (scan-split or core-count changes between
    // runs can never re-key a persisted pair snapshot).
    def mintDids(src: DataFrame): DataFrame = {
      val counts = src.groupBy(spark_partition_id().as("__p"))
        .agg(count(lit(1)).as("__n")).collect()
        .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      // dense offset per partition id, looked up O(1) via an array
      // literal — the previous nested when/otherwise chain was
      // O(#partitions) deep, evaluated per row, and codegen-bloat
      // territory at production partition counts (ADVICE r05). Missing
      // partition ids (empty partitions are absent from the grouped
      // count) hold offset 0; they contribute no rows, so the value is
      // never read.
      val offArr = Array.fill(counts.map(_._1).maxOption.getOrElse(-1) + 1)(0L)
      counts.map(_._1).zip(counts.map(_._2).scanLeft(0L)(_ + _))
        .foreach { case (p, off) => offArr(p) = off }
      val offsetExpr =
        if (counts.isEmpty) lit(0L)
        else element_at(typedlit(offArr.toSeq), spark_partition_id() + 1)
      src.withColumn("__did", offsetExpr +
        monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)))
    }
    val (namesKeyed, nReps) = stage("surrogate_ids", fp(fpGroups, "surrogate-ids-v1")) {
      mintDids(names.orderBy("doc_id").localCheckpoint(true))
    }
    val packed = nReps < packLimit.value
    val idMask = lit((1L << 31) - 1)
    def pack(pairs: DataFrame): DataFrame =
      pairs.select(shiftleft(col("doc_id_a"), 31).bitwiseOR(col("doc_id_b")).as("pk"))
    def unpack(pairs: DataFrame): DataFrame =
      pairs.select(shiftright(col("pk"), 31).as("doc_id_a"),
        col("pk").bitwiseAND(idMask).as("doc_id_b"))
    // the key builders and CandidateGenerator are id-type-agnostic: feed
    // them the surrogate in the doc_id slot
    val keySource = namesKeyed.select(col("__did").as("doc_id") +:
      names.columns.filter(_ != "doc_id").toSeq.map(col): _*)

    // ---- blocking keys (B1 + B5 + B6): one unified (block_key, doc_id)
    // table as a union of per-strategy key tables (each strategy stays a
    // linear expression tree; the union is what gets bucketed by
    // block_key at cluster scale)
    val keyTables = Seq(
      BlockingKeys.explodeKeys(keySource, "doc_id",
        BlockingKeys.defaultKeys(col("normalized")), tenantCarry),
      keySource
        .select(BlockingKeys.sortedNeighborhoodKey(col("normalized")).as("block_key") +:
          col("doc_id") +: tenantCarry.map(col): _*)
        .where(col("block_key").isNotNull),
      BlockingKeys.minhashKeyTable(keySource, "doc_id", col("normalized"), tenantCarry)
    ).map { kt =>
      // tenant isolation: the tenant id becomes part of the block key
      // ( separator cannot occur in either side), so the candidate
      // join, the block-size cap and the salting all operate per tenant
      tenantCol match {
        case Some(_) => kt.select(
          concat(col("__tenant"), lit("\u0001"), col("block_key")).as("block_key"),
          col("doc_id"))
        case None => kt
      }
    }
    // The key table is consumed 4x (stats + both sides of the self-join +
    // block sizing): the stage barrier materializes it once, which also
    // avoids re-running the minhash shingle hashing per consumer.
    // The 3-strategy union triples the upstream partition count (each
    // strategy contributes its input's partitions), which is an artifact
    // of the union, not a sizing decision — every later consumer of the
    // key table then pays ~3x the per-task overhead (scan task setup,
    // shuffle-file creation, broadcast access) for the same bytes.
    // Coalesce (narrow, no shuffle) back to the session's shuffle
    // parallelism: scale-adaptive by construction — the sweep's local
    // session, the 4-partition scaling legs and a cluster-sized session
    // each get their own target (measured at sf0.1: the packed candidate
    // distinct drops ~40% when its source goes from 96 to 32 partitions).
    val keyParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val (keys, keysRows) = stage("blocking_keys", fpKeys)(
      keyTables.reduce(_ union _).coalesce(keyParts))
    // Measured-size broadcast decision for the candidate self-join (guide
    // §3.1): the stage barrier KNOWS the key table's row count, so the
    // driver knows whether the build side is broadcast-sized — an explicit
    // hint avoids the static planner's estimate-blind sort-merge plan
    // whose exchanges AQE materializes and then abandons when it converts
    // to broadcast. Above the row bound (true corpus scale) no hint is
    // passed and the exchange-based plan stands.
    val hintBroadcastPairs = keysRows <= CandidateGenerator.BroadcastKeysMaxRows

    // ---- candidate pairs (B3) with block-size cap + AQE skew handling
    val candStats = () =>
      CandidateGenerator.stats(keys, cfg.maxBlockSize, cfg.saltedMaxBlockSize)
    // Materialized ONCE by the stage barrier. Without it the whole
    // key-self-join + distinct subtree is evaluated up to THREE times per
    // run: AQE plans the scoring stage's two name joins independently,
    // and whichever side it decides to broadcast re-derives the pair
    // table from scratch for its broadcast build (measured on the sf0.1
    // pipeline: three ~30 cpu-s stages scanning the keys cache — two
    // feeding BroadcastExchanges, one the stream — for one logical
    // distinct). The table is one fixed-width column (pk long / two ids),
    // so the memory cost is minimal at any scale.
    // The packed flag is part of the pair snapshot's identity: packed
    // snapshots hold one pk long, unpacked two id columns — a resume
    // whose packedness changed (corpus crossed 2^31 reps) must recompute.
    val (blockedPairs, _) = stage("candidate_pairs", fp(fpPairs, s"packed=$packed")) {
      if (packed)
        CandidateGenerator.candidatePairsPacked(keys, cfg.maxBlockSize,
          cfg.saltedMaxBlockSize, hintBroadcast = hintBroadcastPairs)
      else
        CandidateGenerator.candidatePairs(keys, cfg.maxBlockSize,
          cfg.saltedMaxBlockSize, hintBroadcast = hintBroadcastPairs)
    }

    // ---- B4, bounded (api/EntityResolutionService.java:512-524): the
    // reference full-scans ALL active entities when blocking yields no
    // candidates — O(n^2) at table scale. The bounded analog: only docs
    // with ZERO candidates are compared, each against a deterministic
    // sample of at most orphanFallbackCap reps PER SCOPE — scope = the
    // (type, tenant) columns when configured, so the fallback respects
    // both the M9 type guard and tenant isolation (a cross-tenant
    // fallback pair would leak data across tenants). Extra work is
    // |orphans| x cap, never quadratic; the cap is an explicit recall
    // trade; off by default.
    val scopeCols = typeCol.map(_ => "__type").toSeq ++ tenantCarry
    val pairs =
      if (!cfg.orphanFallback) blockedPairs
      else {
        // surrogate space throughout, in the blocked pairs' encoding;
        // sampling ORDER stays on the string doc_id — the deterministic-
        // sample contract must not depend on how surrogates were minted
        val blockedIds = if (packed) unpack(blockedPairs) else blockedPairs
        val paired = blockedIds.select(col("doc_id_a").as("doc_id"))
          .union(blockedIds.select(col("doc_id_b").as("doc_id"))).distinct()
        val orphans = namesKeyed
          .select(col("__did").as("doc_id") +: scopeCols.map(col): _*)
          .join(paired, Seq("doc_id"), "left_anti")
        val fb0 =
          if (scopeCols.isEmpty) {
            // TakeOrderedAndProject: distributed partial top-k, cap rows
            val sample = namesKeyed
              .select(col("__did").as("doc_id_b"), col("doc_id").as("__ord"))
              .orderBy(col("__ord")).limit(cfg.orphanFallbackCap)
              .select("doc_id_b")
            orphans.select(col("doc_id")).crossJoin(broadcast(sample))
          } else {
            // per-scope top-cap by doc_id; `names` is the post-pregroup
            // rep table (already deduped), so the per-scope sort is small.
            // NO broadcast hint here: the sample is cap x |scopes| rows,
            // and with many (type, tenant) scopes an unconditional
            // broadcast could exceed the broadcast limit — AQE broadcasts
            // it when it measures small and falls back to a shuffle join
            // otherwise, which is exactly the bound we want.
            val byScope = org.apache.spark.sql.expressions.Window
              .partitionBy(scopeCols.map(col): _*).orderBy(col("doc_id"))
            val sample = namesKeyed.withColumn("__rn", row_number().over(byScope))
              .where(col("__rn") <= cfg.orphanFallbackCap)
              .select(col("__did").as("doc_id_b") +:
                scopeCols.map(c => col(c).as(c + "_b")): _*)
            orphans.select(col("doc_id") +: scopeCols.map(col): _*)
              .join(sample,
                scopeCols.map(c => col(c) === col(c + "_b")).reduce(_ && _))
          }
        val fb = fb0
          .where(col("doc_id") =!= col("doc_id_b"))
          .select(least(col("doc_id"), col("doc_id_b")).as("doc_id_a"),
            greatest(col("doc_id"), col("doc_id_b")).as("doc_id_b"))
        blockedPairs.union((if (packed) pack(fb) else fb).distinct())
      }

    // ---- pairwise scoring (S1-S5) with full breakdown (D3: one row per
    // comparison, the batch MatchDecisionRecord). The composite is derived
    // from the breakdown ALIASES (the reference's computeWithBreakdown
    // shape) — multi-use non-cheap aliases stop CollapseProject from
    // inlining, so each kernel runs once per pair.
    // dims keyed by the surrogate; they also CARRY the string doc_id so
    // the output projection needs no extra join to map surrogates back
    val a = namesKeyed.select(col("__did").as("doc_id_a"),
      col("doc_id").as("__sa"), col("normalized").as("name_a"))
    val b = namesKeyed.select(col("__did").as("doc_id_b"),
      col("doc_id").as("__sb"), col("normalized").as("name_b"))
    val w = cfg.weights
    // Scoring runs in the reduce stage of the second name join: with AQE
    // partition coalescing disabled (set in run()) and
    // spark.sql.shuffle.partitions pinned, that stage already has the
    // wanted parallelism. An explicit repartition here would pin it too —
    // but at the price of a full extra shuffle of the WIDEST table in the
    // pipeline (pairs + both names), measured at whole-seconds per run;
    // the join output is hash-distributed on doc_id_b, which is as even
    // as the removed (doc_id_a, doc_id_b) hash for distinct pairs.
    // (A shuffle_hash hint on the name sides was measured and reverted:
    // 179 s vs 170 s for the SMJ plan at local[16] — the stage is
    // kernel-dominated, and SMJ's sorts are not the bottleneck.)
    // Sorted pair scan: within each partition the pair stream is scanned
    // in (doc_id_a, doc_id_b) order, so the broadcast name-relation
    // probes walk a localized window of the dim (ids are locality-dense,
    // see namesKeyed) instead of random-accessing the whole table on
    // every row — at 4+ threads those whole-table random reads thrash the
    // shared last-level cache and were the measured per-core inflation.
    // In packed mode this is a ONE-key radix sort on pk (whose order
    // equals (a, b) order) with the ids unpacked by two bit ops in the
    // same projection; no extra exchange either way.
    val pairsScanned =
      if (packed) unpack(pairs.sortWithinPartitions("pk"))
      else pairs.sortWithinPartitions("doc_id_a", "doc_id_b")
    val scoredPlan = pairsScanned
      .join(a, Seq("doc_id_a"))
      .join(b, Seq("doc_id_b"))
      .withColumn("lev_score", Er.levSim(col("name_a"), col("name_b")))
      .withColumn("jw_score", Er.jaroWinkler(col("name_a"), col("name_b")))
      .withColumn("jaccard_score", Er.tokenJaccard(col("name_a"), col("name_b")))
      .withColumn("score",
        when(col("name_a").isNull || col("name_b").isNull, lit(0.0))
          .when(col("name_a") === col("name_b"), lit(1.0))
          .otherwise(lit(w.levenshteinWeight) * col("lev_score")
            + lit(w.jaroWinklerWeight) * col("jw_score")
            + lit(w.jaccardWeight) * col("jaccard_score")))
      .withColumn("decision", Decisions.decide(col("score"), cfg.thresholds))
      // re-canonicalize on the STRING ids: candidate pairs were ordered in
      // surrogate space; safe because every score is symmetric in
      // (name_a, name_b)
      .select(least(col("__sa"), col("__sb")).as("doc_id_a"),
        greatest(col("__sa"), col("__sb")).as("doc_id_b"),
        col("lev_score"), col("jw_score"), col("jaccard_score"),
        col("score"), col("decision"))
    // The scored-pairs table is the pipeline's WIDEST materialization; it
    // compresses exceptionally well columnar (`decision` is 3-valued RLE,
    // ids dictionary-encode), and the count() the callers do reads batch
    // row counts without touching data.
    val (pairScores, _) = stage("pair_scores", fpScores)(scoredPlan)

    // ---- edges (M7/M9 + D7 overrides) -> connected components -> clusters
    // M9 type guard: cross-type pairs are scored (D3 keeps the record)
    // but never become merge edges (merge/MergeEngine.java:310-322)
    val autoEdgesRaw = pairScores.where(col("decision") === "AUTO_MERGE")
      .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
    val autoEdges = typeCol match {
      case Some(_) =>
        val t = names.select(col("doc_id"), col("__type"))
        autoEdgesRaw
          .join(t.select(col("doc_id").as("src"), col("__type").as("__ta")), Seq("src"))
          .join(t.select(col("doc_id").as("dst"), col("__type").as("__tb")), Seq("dst"))
          .where(col("__ta") === col("__tb"))
          .select("src", "dst")
      case None => autoEdgesRaw
    }
    // D7: override edges name RAW doc ids. Two hazards: (1) with
    // exactPregroup the CC vertex set contains only exact-group
    // representatives — remap each endpoint through repMap first, or an
    // edge naming a non-rep doc would be silently ignored AND its raw id
    // could leak in as a bogus min-label; (2) in EITHER mode an endpoint
    // outside the matchable universe (rejected, inactive, unknown id)
    // must not reach CC — an out-of-universe id smaller than the
    // component's docs becomes the cluster_id and can collide with that
    // doc's own singleton cluster, merging an inactive doc in violation
    // of the M9 status guard. validOverride is the applied set; it is
    // also what mergeEdges records below (provenance must assert only
    // merges the clusters output actually made).
    val validOverride = overrideEdges.map { o =>
      val ids = allNames.select("doc_id")
      o.select(col("src"), col("dst"))
        .join(ids.select(col("doc_id").as("src")), Seq("src"), "left_semi")
        .join(ids.select(col("doc_id").as("dst")), Seq("dst"), "left_semi")
    }
    val edges = validOverride match {
      case Some(o) =>
        val remapped = repMap match {
          case Some(m) =>
            val srcRep = m.select(col("doc_id").as("src"), col("rep").as("__sr"))
            val dstRep = m.select(col("doc_id").as("dst"), col("rep").as("__dr"))
            o.join(srcRep, Seq("src")).join(dstRep, Seq("dst"))
              .select(col("__sr").as("src"), col("__dr").as("dst"))
          case None => o
        }
        autoEdges.union(remapped)
      case None => autoEdges
    }
    val vertices = names.select("doc_id")
    val repAssignments = snapshot("clusters", fpClusters) {
      ConnectedComponents.run(spark, edges, vertices)
    }

    // expand representative clusters back to every member; non-ACTIVE
    // docs re-enter as their own singleton clusters (M9 status half)
    val expanded = repMap match {
      case Some(m) =>
        m.join(repAssignments.select(col("doc_id").as("rep"), col("cluster_id")), Seq("rep"))
          .select("doc_id", "cluster_id")
      case None => repAssignments
    }
    val assignments = inactiveIds match {
      case Some(ids) =>
        expanded.union(ids.select(col("doc_id"), col("doc_id").as("cluster_id")))
      case None => expanded
    }

    // ---- re-attach spans untouched (per-row invariant)
    val clusters = assignments.join(docs.select("doc_id", "spans"), Seq("doc_id"))
      .select("doc_id", "cluster_id", "spans")

    // D8 counters; exact-group collapses are reported as EXACT_MERGE
    // (the reference counts exact-match resolves separately from fuzzy
    // auto-merges, api/BatchContext.java:268-278). The EXACT_MERGE row is
    // a lazy aggregation inside the metrics plan — an eager driver-side
    // count() here cost a full job per pipeline run whether or not the
    // caller ever read the metrics.
    val exactMergesDF = repMap
      .map(m => m.where(col("doc_id") =!= col("rep"))
        .agg(count(lit(1)).as("n"))
        .select(lit("EXACT_MERGE").as("decision"), col("n")))
      .getOrElse(spark.createDataFrame(Seq(("EXACT_MERGE", 0L))).toDF("decision", "n"))
    val metrics = Decisions.decisionCounts(pairScores).union(exactMergesDF)
    // L6 provenance edges: type-guarded AUTO_MERGE edges re-attached to
    // their scores (the reference stores confidence/reason on every
    // MERGED_INTO edge) plus the review overrides
    val scoredEdges = autoEdges
      .join(pairScores.select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"),
        col("score").as("confidence")), Seq("src", "dst"))
      .withColumn("reason", lit("AUTO_MERGE"))
    // only the VALIDATED override set: an edge the universe guard dropped
    // was never applied to the clusters output and must not appear in the
    // audit surface as a confidence-1.0 merge that did not happen
    val mergeEdges = validOverride match {
      case Some(o) => scoredEdges.unionByName(
        o.withColumn("confidence", lit(1.0))
          .withColumn("reason", lit("REVIEW_APPROVED")))
      case None => scoredEdges
    }
    PipelineResult(clusters, assignments, pairScores, mergeEdges, rejects, metrics, candStats,
      cached.toSeq)
    }
  }
}
