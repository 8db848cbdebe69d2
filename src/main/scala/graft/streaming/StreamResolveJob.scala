package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.blocking.BlockingKeys
import graft.checkpoint.VersionedState
import graft.functions.Er
import graft.norm.Normalizer
import graft.pipeline.IncrementalResolve
import graft.sim.SimilarityWeights
import graft.util.Args

/** Production streaming entry: maintain an entity clustering over an
  * UNBOUNDED arriving span-doc table. Each micro-batch runs the
  * contracted-graph increment ([[IncrementalResolve.resolveNamesWithDelta]]
  * — the body proven hash-exact vs full recompute by q65) against
  * durable state. Per-batch COMPUTE is O(increment) — the state's
  * exploded blocking-key table is persisted and read back (the state
  * names are never re-keyed), so the batch pays |new keys| ⋈ |state
  * keys| plus CC over one vertex per TOUCHED cluster. Per-batch state
  * WRITE I/O is O(increment) — the merge-on-read delta layout below;
  * the READ side still scans the corpus-sized tables (the increment
  * join and the merge-on-read reconstruction below are each one pass
  * over them), as any layout's must.
  *
  * {{{
  * spark-submit --class graft.streaming.StreamResolveJob graft.jar \
  *   --input s3://bucket/incoming --state s3://bucket/er-state \
  *   --checkpoint s3://bucket/er-ckpt [--trigger "30 seconds"]
  * }}}
  *
  * State layout ([[VersionedState]] delta contract): each batch commits
  * `d=<batchId>/` holding its own `names`/`keys`/`rejects` (append-only
  * tables — readers union them) plus `clusters` holding ONLY the
  * CHANGED assignments: the batch's new docs and every member of a
  * cluster the increment relabeled (merged clusters take the global-min
  * label, so only the non-surviving side's members change). The current
  * assignment table is reconstructed merge-on-read: union the live
  * units, latest writer wins per doc_id ([[currentClusters]] — one
  * groupBy over the corpus-sized union, the read-side cost the
  * O(increment) writes trade for) — exactly the read path of a
  * merge-on-read table format (Iceberg/Delta position-upsert), built on
  * plain parquet + commit markers. `--compact-every K` folds the view
  * into a `base=` snapshot (amortized O(corpus/K) write per batch),
  * bounding the unit count and the per-doc row multiplicity the merge
  * collapses. Compaction GC keeps the previous base + its uncovered
  * deltas for one cycle (a concurrent reader's listed view stays
  * readable — [[VersionedState.commitBase]]).
  *
  * A state root written by the pre-delta engine version (`v=<batchId>`
  * full snapshots) migrates on first contact: the latest snapshot is
  * copied once into `base=<version>` (deriving `keys` from the names
  * when the snapshot predates persisted keys) and the v= dirs are
  * removed; until a batch performs that migration, the readers fall
  * back to the legacy snapshot, so committed state is never reported
  * empty. Metadata cost per batch is O(1) listings: the committed view
  * is captured once ([[VersionedState.stateView]]) and threaded
  * through the replay check, reads and compaction decision.
  *
  * The globally-unique-doc_id ingest contract is ENFORCED per batch
  * (`--on-duplicate fail|drop|allow`, one broadcast semi-join against
  * the corpus names — a re-delivered id would write two same-recency
  * assignment rows and make the merge-on-read view nondeterministic;
  * `drop` is first-write-wins). Rejected docs (invalid name /
  * normalizes to nothing — the batch pipeline's N8 gate) land in each
  * delta's `rejects` table with their batch id, so
  * ingested-vs-clustered doc counts always reconcile.
  *
  * Durability/idempotence/lineage are [[VersionedState]]'s contract:
  * `_COMMITTED`-marked units, replayed batchIds skipped (exactly-once
  * state on at-least-once foreachBatch), and the fail-fast
  * checkpoint/state lineage guard.
  */
object StreamResolveJob {

  private val Usage =
    """graft.streaming.StreamResolveJob
      |  --input DIR               landing dir of span-doc parquet files
      |  --state DIR               durable state root (append-delta layout)
      |  --checkpoint DIR          Structured Streaming checkpoint
      |  [--trigger "30 seconds"|availableNow]   default availableNow
      |  [--weights L,JW,JAC]      default 0.33,0.34,0.33
      |  [--threshold T]           merge threshold, default 0.92
      |  [--max-block-size N]      default 1000
      |  [--on-duplicate fail|drop|allow]  re-delivered doc_id policy, default fail
      |  [--compact-every N]       fold deltas into a base every N batches,
      |                            default 64 (0 = never)
      |  [--max-files-per-trigger N]
      |""".stripMargin

  private[streaming] def parseArgs(args: Array[String]): Map[String, String] = {
    val opts = Args.parse(args,
      known = Set("input", "state", "checkpoint", "trigger", "weights",
        "threshold", "max-block-size", "on-duplicate", "compact-every",
        "max-files-per-trigger"),
      required = Set("input", "state", "checkpoint"),
      usage = Usage)
    opts.get("on-duplicate").foreach(d =>
      require(Set("fail", "drop", "allow")(d),
        s"--on-duplicate must be fail, drop or allow, got $d\n$Usage"))
    opts
  }

  import VersionedState.fsOf

  private def stateKeys(names: DataFrame): DataFrame =
    BlockingKeys.explodeKeys(names, "doc_id",
      BlockingKeys.defaultKeys(col("normalized")))

  /** The merge-on-read reconstruction over the given units: union their
    * `clusters` tables, keep each doc's row from the HIGHEST unit id (a
    * delta only carries changed rows, so the latest row for a doc is
    * its current assignment).
    */
  private def mergeClusters(spark: SparkSession,
                            units: Seq[(Long, String)]): DataFrame = {
    val all = units.map { case (id, dir) =>
      spark.read.parquet(s"$dir/clusters")
        .select(col("doc_id"), col("cluster_id"), lit(id).as("__b"))
    }.reduce(_.unionByName(_))
    // argmax on (__b, cluster_id), not __b alone: under --on-duplicate
    // allow two rows can share the same unit id, and an argmax on a tied
    // key is whichever row the aggregate saw last — nondeterministic
    // across runs/partitionings. The struct tiebreak makes the merged
    // view a pure function of the state (max cluster_id among the
    // latest-unit rows), stable even when the uniqueness contract is
    // waived.
    all.groupBy("doc_id")
      .agg(max_by(col("cluster_id"), struct(col("__b"), col("cluster_id")))
        .as("cluster_id"))
  }

  /** A table from the latest legacy `v=` snapshot — the reader fallback
    * for a state root the delta layout has not touched yet. None when
    * there is no legacy state or the snapshot lacks the table.
    */
  private def legacyTable(spark: SparkSession, stateRoot: String,
                          table: String): Option[DataFrame] = {
    val legacy = VersionedState.latestVersion(spark, stateRoot)
    if (legacy < 0) return None
    val p = s"$stateRoot/v=$legacy/$table"
    if (fsOf(spark, stateRoot).exists(new Path(p)))
      Some(spark.read.parquet(p))
    else None
  }

  /** The current (doc_id, cluster_id) assignment table: merge-on-read
    * over the delta layout, falling back to the latest legacy snapshot
    * for a not-yet-migrated root. None when nothing is committed.
    */
  def currentClusters(spark: SparkSession, stateRoot: String): Option[DataFrame] = {
    val view = VersionedState.stateView(spark, stateRoot)
    if (view.isEmpty) legacyTable(spark, stateRoot, "clusters")
    else Some(mergeClusters(spark, view.units(stateRoot)))
  }

  /** An append-only state table (names / keys / rejects) unioned across
    * the committed view, with the same legacy-snapshot fallback; None
    * when nothing is committed (or the legacy snapshot lacks the table).
    */
  def stateTable(spark: SparkSession, stateRoot: String,
                 table: String): Option[DataFrame] = {
    val view = VersionedState.stateView(spark, stateRoot)
    if (view.isEmpty) legacyTable(spark, stateRoot, table)
    else VersionedState.readTableFrom(spark, view.units(stateRoot), table)
  }

  /** One-time layout migration: a legacy `v=<id>` full snapshot becomes
    * `base=<id>` (keys derived from names when the snapshot predates
    * persisted keys; rejects empty when absent), then the v= dirs are
    * deleted. A crash after the base commit leaves only harmless v=
    * leftovers, swept on the next batch that sees them.
    */
  private def migrateLegacy(spark: SparkSession, stateRoot: String,
                            legacy: Long): Unit = {
    val in = s"$stateRoot/v=$legacy"
    val out = s"$stateRoot/base=$legacy"
    val names = spark.read.parquet(s"$in/names")
    spark.read.parquet(s"$in/clusters")
      .write.mode(SaveMode.Overwrite).parquet(s"$out/clusters")
    names.write.mode(SaveMode.Overwrite).parquet(s"$out/names")
    val fs = fsOf(spark, stateRoot)
    val keys =
      if (fs.exists(new Path(s"$in/keys"))) spark.read.parquet(s"$in/keys")
      else stateKeys(names)
    keys.write.mode(SaveMode.Overwrite).parquet(s"$out/keys")
    val rejects =
      if (fs.exists(new Path(s"$in/rejects"))) spark.read.parquet(s"$in/rejects")
      else names.limit(0).select(col("doc_id"), lit("").as("name"),
        lit("").as("reject_reason"), lit(0L).as("batch_id"))
    rejects.write.mode(SaveMode.Overwrite).parquet(s"$out/rejects")
    VersionedState.commitBase(spark, stateRoot, legacy)
    sweepLegacy(spark, stateRoot)
  }

  /** Delete v= leftovers (post-migration, or a migration that crashed
    * between base commit and cleanup). Callers invoke this only when a
    * v= dir was actually observed — no steady-state listing cost.
    */
  private def sweepLegacy(spark: SparkSession, stateRoot: String): Unit = {
    val fs = fsOf(spark, stateRoot)
    val rootPath = new Path(stateRoot)
    if (!fs.exists(rootPath)) return
    fs.listStatus(rootPath).map(_.getPath)
      .filter(_.getName.startsWith("v="))
      .foreach(p => fs.delete(p, true))
  }

  /** One micro-batch: derive + normalize names from the arriving span
    * docs, run the contracted-graph increment against the committed
    * state (whose persisted key table is read back, not re-derived),
    * commit the batch's delta — changed assignments + the batch's own
    * names/keys/rejects, O(increment) write I/O. Idempotent on `batchId`.
    */
  def attachBatch(spark: SparkSession, stateRoot: String,
                  batch: DataFrame, batchId: Long,
                  weights: SimilarityWeights = SimilarityWeights.default,
                  threshold: Double = 0.92,
                  maxBlockSize: Int = 1000,
                  onDuplicate: String = "fail",
                  compactEvery: Int = 64): Unit = {
    var view = VersionedState.stateView(spark, stateRoot)
    val legacy = VersionedState.latestVersion(spark, stateRoot)
    if (math.max(view.highWater, legacy) >= batchId)
      return // replayed batch — state already has it
    Er.register(spark)
    if (legacy >= 0) {
      if (view.isEmpty) {
        migrateLegacy(spark, stateRoot, legacy)
        view = VersionedState.stateView(spark, stateRoot)
      } else sweepLegacy(spark, stateRoot) // crashed-migration leftovers
    }
    val units = view.units(stateRoot)

    // persist (not localCheckpoint): the batch tables are read several
    // times within this micro-batch and must release their storage at
    // the end — a long-running stream would otherwise accumulate one
    // pinned block set per batch
    // same validity gate as the batch pipeline (N8, ResolvePipeline's
    // rejects split): an invalid name (blank/too_long/control_chars) or
    // one that normalizes to nothing never enters the clustering —
    // without the rejectReason conjunct the stream would happily cluster
    // a doc the batch entry rejects
    val named = batch
      .withColumn("name", Er.docName(col("spans")))
      .withColumn("reject_reason",
        coalesce(Er.rejectReason(col("name")),
          when(Normalizer.normalizeColumn(col("name")) === "",
            lit("EMPTY_NORMALIZED"))))
    val rawNames = named
      .where(col("reject_reason").isNull)
      .select(col("doc_id"),
        Normalizer.normalizeColumn(col("name")).as("normalized"))
    val corpusNames = VersionedState.readTableFrom(spark, units, "names")
    // the unique-id contract is checked over EVERY ingested doc (valid
    // or not) — an id delivered twice in one batch is a duplicate even
    // when one copy is invalid. The corpus side is names ∪ rejects ids:
    // an id ingested but REJECTED in an earlier batch (invalid name,
    // DUPLICATE_ID) is absent from names, and checking names alone would
    // let its cross-batch re-delivery through — the same doc_id would
    // then sit in both cumulative rejects and clusters, breaking the
    // ingested == clustered + rejected reconciliation. Every accepted id
    // lands in exactly one of the two tables, so the union IS the full
    // ingested-id set.
    val corpusGuardIds = (
      corpusNames.map(_.select("doc_id")) ++
        VersionedState.readTableFrom(spark, units, "rejects")
          .map(_.select("doc_id"))
      ).reduceOption(_.unionByName(_))
    val dup = IngestContract.duplicateIdGuard(named.select(col("doc_id")),
      corpusGuardIds, onDuplicate, batchId, "stream-resolve")
    val newNames = dup
      .map(d => rawNames.join(d, Seq("doc_id"), "left_anti"))
      .getOrElse(rawNames).persist()
    // EVERY dropped doc is RECORDED, like the batch pipeline's rejects
    // table, instead of vanishing from the maintained state with no
    // trace: per-batch reconciliation (ingested == clustered + rejected)
    // must hold, so docs excluded by the duplicate-id guard land in
    // rejects too (reason DUPLICATE_ID, one deterministic row per id,
    // superseding any validity reject for the same id). Consumed once
    // (written below); no persist needed.
    val validityRejects = named
      .where(col("reject_reason").isNotNull)
      .select(col("doc_id"), col("name"), col("reject_reason"),
        lit(batchId).as("batch_id"))
    val newRejects = dup match {
      case None => validityRejects
      case Some(d) =>
        validityRejects.join(d, Seq("doc_id"), "left_anti")
          .unionByName(named.join(d, Seq("doc_id"), "left_semi")
            .groupBy("doc_id").agg(min(col("name")).as("name"))
            .select(col("doc_id"), col("name"),
              lit("DUPLICATE_ID").as("reject_reason"),
              lit(batchId).as("batch_id")))
    }
    val newKeys = stateKeys(newNames).persist()
    // the reconstructed assignment view is consumed 3x inside the
    // increment (contracted edges, cluster reps, changed-rows join) —
    // merge once, persist for the batch
    val existingOpt =
      if (units.isEmpty) None
      else Some(mergeClusters(spark, units).persist())
    try {
      val (existing, existingNames, existingKeys) = existingOpt match {
        case None =>
          (batch.select(col("doc_id"), col("doc_id").as("cluster_id")).limit(0),
            newNames.limit(0), None)
        case Some(cl) =>
          (cl, corpusNames.get,
            Some(VersionedState.readTableFrom(spark, units, "keys").get))
      }

      val inc = IncrementalResolve.resolveNamesWithDelta(spark, existing,
        existingNames, newNames, existingKeys = existingKeys,
        newKeysOpt = Some(newKeys), weights = weights, threshold = threshold,
        maxBlockSize = maxBlockSize)

      val out = s"$stateRoot/d=$batchId"
      // changed rows ONLY: the batch's new docs + members of relabeled
      // clusters — merge-on-read recovers the full table
      inc.changed.write.mode(SaveMode.Overwrite).parquet(s"$out/clusters")
      newNames.write.mode(SaveMode.Overwrite).parquet(s"$out/names")
      newKeys.write.mode(SaveMode.Overwrite).parquet(s"$out/keys")
      newRejects.write.mode(SaveMode.Overwrite).parquet(s"$out/rejects")
      VersionedState.commitDelta(spark, stateRoot, batchId)
      maybeCompact(spark, stateRoot, view, batchId, existingOpt, compactEvery)
    } finally {
      existingOpt.foreach(_.unpersist(false))
      newKeys.unpersist(false)
      newNames.unpersist(false)
    }
  }

  /** Fold the committed view into `base=<upto>` when the live delta
    * count (the pre-batch view's plus this batch's) reaches the
    * threshold: the merged assignment view plus the unioned append-only
    * tables, one O(corpus) rewrite every `compactEvery` batches. This
    * bounds both the unit count the merge-on-read union touches and the
    * per-doc row multiplicity the argmax collapses. The clusters view is
    * NOT re-merged from parquet: the batch already holds the pre-batch
    * merge (persisted `preMerged`) and just wrote its changed rows —
    * latest-wins over those two is the identical table for one cheap
    * anti-join instead of a corpus-wide re-read + re-aggregation.
    */
  private def maybeCompact(spark: SparkSession, stateRoot: String,
                           preView: VersionedState.StateView, upto: Long,
                           preMerged: Option[DataFrame],
                           compactEvery: Int): Unit = {
    if (compactEvery <= 0) return
    if (preView.liveDeltaIds.size + 1 < compactEvery) return
    val units = preView.units(stateRoot) :+ (upto -> s"$stateRoot/d=$upto")
    val out = s"$stateRoot/base=$upto"
    // read the just-committed delta back (batch-sized, durable) rather
    // than re-evaluating the increment's changed-rows plan
    val deltaClusters = spark.read.parquet(s"$stateRoot/d=$upto/clusters")
    val baseClusters = preMerged match {
      case None => deltaClusters
      case Some(ex) =>
        ex.join(deltaClusters.select("doc_id"), Seq("doc_id"), "left_anti")
          .unionByName(deltaClusters)
    }
    baseClusters.write.mode(SaveMode.Overwrite).parquet(s"$out/clusters")
    Seq("names", "keys", "rejects").foreach { t =>
      VersionedState.readTableFrom(spark, units, t).get
        .write.mode(SaveMode.Overwrite).parquet(s"$out/$t")
    }
    VersionedState.commitBase(spark, stateRoot, upto)
  }

  /** Wire the file-source stream; returns the started query. */
  def start(spark: SparkSession, opts: Map[String, String]): StreamingQuery = {
    val input = opts("input")
    val stateRoot = opts("state")
    val ckpt = opts("checkpoint")
    VersionedState.lineageGuard(spark, ckpt, stateRoot)
    val weights = opts.get("weights").map { s =>
      val (l, j, t) = Args.triple(s, "--weights"); SimilarityWeights(l, j, t)
    }.getOrElse(SimilarityWeights.default)
    val threshold = opts.get("threshold").map(_.toDouble).getOrElse(0.92)
    val maxBlockSize = opts.get("max-block-size").map(_.toInt).getOrElse(1000)
    val onDuplicate = opts.getOrElse("on-duplicate", "fail")
    val compactEvery = opts.get("compact-every").map(_.toInt).getOrElse(64)
    // file sources need a schema before the stream starts: read it from
    // the existing files (the landing dir must hold at least one file)
    val schema = spark.read.parquet(input).schema
    val reader = spark.readStream.schema(schema)
    opts.get("max-files-per-trigger").foreach(n =>
      reader.option("maxFilesPerTrigger", n))
    val stream = reader.parquet(input)
    val writer = stream.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        attachBatch(spark, stateRoot, batch, batchId, weights, threshold,
          maxBlockSize, onDuplicate, compactEvery)
      }
    opts.get("trigger") match {
      case None | Some("availableNow") => writer.trigger(Trigger.AvailableNow()).start()
      case Some(interval) => writer.trigger(Trigger.ProcessingTime(interval)).start()
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val spark = SparkSession.builder().appName("graft-stream-resolve").getOrCreate()
    val q = start(spark, opts)
    q.awaitTermination()
  }
}
