package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.checkpoint.VersionedState
import graft.functions.Er
import graft.norm.Normalizer
import graft.pairs.SimJoin
import graft.pipeline.IncrementalResolve
import graft.sim.SimilarityWeights
import graft.util.Args

/** Production streaming entry: maintain an entity clustering over an
  * UNBOUNDED arriving span-doc table. Each micro-batch runs the
  * contracted-graph increment ([[IncrementalResolve.resolveNames]]
  * — the body proven hash-exact vs full recompute by q65) against
  * durable state. Per-batch work follows the increment, not the corpus:
  * the batch side (ids, names, rejects and the name family's block keys,
  * [[IncrementalResolve.nameFamily]]) is materialized once and every
  * later step reads it, its `SimJoin.State` built with `SimJoin.state`
  * as [[StreamDedupJob]] builds its own; the state's persisted key table is
  * semi-joined on the batch's block keys before the cap count, names are
  * read only for the old ids of candidate pairs, the merge-on-read labels
  * are built only for the docs the increment touches, and CC runs over
  * one vertex per TOUCHED cluster. Per-batch state WRITE I/O is
  * O(increment) — the merge-on-read delta layout below. What still scans
  * corpus-sized tables per batch is column-pruned and map-side: the
  * duplicate-id guard's id columns, and the key/name/cluster scans whose
  * semi-joins keep only the touched rows. Compacting batches also fold
  * the whole view, once every `compactEvery` batches.
  *
  * {{{
  * spark-submit --class graft.streaming.StreamResolveJob graft.jar \
  *   --input s3://bucket/incoming --state s3://bucket/er-state \
  *   --checkpoint s3://bucket/er-ckpt [--trigger "30 seconds"]
  * }}}
  *
  * State layout ([[VersionedState]] delta contract): each batch commits
  * `d=<batchId>/` holding its own `names`/`keys`/`rejects` (append-only
  * tables — readers union them; `names` is the name family's payload,
  * `keys` its key table) plus `clusters` holding ONLY the
  * CHANGED assignments: the batch's new docs and every member of a
  * cluster the increment relabeled (merged clusters take the global-min
  * label, so only the non-surviving side's members change). The current
  * assignment table is reconstructed merge-on-read: union the live
  * units, latest writer wins per doc_id ([[currentClusters]]; the
  * increment applies the same rule to the touched docs only, see
  * [[IncrementalResolve.Existing]]) — exactly the read path of a
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
  * (`--on-duplicate fail|drop|allow`, one semi-join of the corpus ids
  * against the batch's — a re-delivered id would write two same-recency
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

  /** The merge-on-read clustering over the given units: their
    * `clusters` rows tagged with the unit id. A delta only carries
    * changed rows, so a doc's row from the HIGHEST unit id is its current
    * assignment; under --on-duplicate allow two rows can share a unit id,
    * and the (unit, cluster_id) argmax keeps the view a pure function of
    * the state (see [[IncrementalResolve.Existing]]).
    */
  private def clusterState(spark: SparkSession, units: Seq[(Long, String)],
                           schema: Option[StructType] = None): IncrementalResolve.Existing = {
    // without a schema, the newest unit's footer gives it: no
    // schema-inference job per unit
    val s = schema.orElse(VersionedState.footerSchema(spark, s"${units.last._2}/clusters"))
    IncrementalResolve.Existing.merged(units.map { case (id, dir) =>
      VersionedState.reader(spark, s).parquet(s"$dir/clusters")
        .select(col("doc_id"), col("cluster_id"), lit(id).as("__v"))
    }.reduce(_.unionByName(_)))
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
    else Some(clusterState(spark, view.units(stateRoot)).current)
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
    val names = spark.read.parquet(s"$in/names")
    val fs = fsOf(spark, stateRoot)
    val keys =
      if (fs.exists(new Path(s"$in/keys"))) spark.read.parquet(s"$in/keys")
      else IncrementalResolve.namesState(names).keys
    val rejects =
      if (fs.exists(new Path(s"$in/rejects"))) spark.read.parquet(s"$in/rejects")
      else names.limit(0).select(col("doc_id"), lit("").as("name"),
        lit("").as("reject_reason"), lit(0L).as("batch_id"))
    VersionedState.writeUnit(s"$stateRoot/base=$legacy", Seq(
      "clusters" -> spark.read.parquet(s"$in/clusters"), "names" -> names,
      "keys" -> keys, "rejects" -> rejects))
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
    * A batch that reads few bytes runs interpreted ([[BatchCodegen]]).
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
    val fam = IncrementalResolve.nameFamily(weights, threshold)

    // The batch side: one row per delivered doc with its name, reject
    // reason and the family's normalized name and block keys.
    // Same validity gate as the batch pipeline (N8, ResolvePipeline's
    // rejects split): an invalid name (blank/too_long/control_chars) or
    // one that normalizes to nothing never enters the clustering —
    // without the EMPTY_NORMALIZED reason the stream would happily
    // cluster a doc the batch entry rejects.
    val sideIn = fam.docs(batch
      .select(col("doc_id"), Er.docName(col("spans")).as("name"))
      .withColumn("reject_reason", Er.rejectReason(col("name")))
      .withColumn("normalized", when(col("reject_reason").isNull,
        Normalizer.normalizeColumn(col("name"))))
      .withColumn("reject_reason", coalesce(col("reject_reason"),
        when(col("normalized") === "", lit("EMPTY_NORMALIZED")))))
    val rejectCols = Seq(col("doc_id"), col("name"), col("reject_reason"),
      lit(batchId).as("batch_id"))
    // the state tables hold what this batch writes: reading them with
    // its schemas runs no schema-inference job per table
    val schemas = {
      val st = SimJoin.state(fam, sideIn)
      Map(
        "names" -> st.payload.schema,
        "keys" -> st.keys.schema,
        "rejects" -> sideIn.select(rejectCols: _*).schema,
        "clusters" -> sideIn.select(col("doc_id"), col("doc_id").as("cluster_id")).schema)
    }
    def read(t: String) = VersionedState.readTableFrom(spark, units, t, Some(schemas(t)))
    // Every state read of the batch, built once before it runs: their
    // listings size the batch for BatchCodegen.
    // The unique-id contract is checked over EVERY ingested doc (valid
    // or not) — an id delivered twice in one batch is a duplicate even
    // when one copy is invalid. The corpus side is names ∪ rejects ids:
    // an id ingested but REJECTED in an earlier batch (invalid name,
    // DUPLICATE_ID) is absent from names, and checking names alone would
    // let its cross-batch re-delivery through — the same doc_id would
    // then sit in both cumulative rejects and clusters, breaking the
    // ingested == clustered + rejected reconciliation. Every accepted id
    // lands in exactly one of the two tables, so the union IS the full
    // ingested-id set — read as ONE scan of both tables' id column.
    val corpusGuardIds =
      if (units.isEmpty) None
      else Some(VersionedState.reader(spark, Some(sideIn.select("doc_id").schema)).parquet(
        units.flatMap { case (_, d) => Seq(s"$d/names", s"$d/rejects") }: _*))
    // a state's names are the family's payload, its keys the family's
    // key table
    val committed = read("names").map(names =>
      (clusterState(spark, units, Some(schemas("clusters"))),
        SimJoin.State(read("keys").get, names)))
    BatchCodegen.scoped(spark, batch, corpusGuardIds.toSeq ++
        committed.toSeq.flatMap { case (existing, corpus) => Seq(existing.rows, corpus.keys) }) {
      // The batch side, materialized ONCE: every later step (the guard,
      // the increment's scoping joins, the delta writes) reads this
      // table, and its size is exact ([[Bridge.checkpoint]]), so the
      // planner broadcasts it when it is small and sort-merges a bulk
      // load.
      val side = Bridge.checkpoint(sideIn)
      val ids = side.select("doc_id")
      val dup = IngestContract.duplicateIdGuard(ids, corpusGuardIds, onDuplicate,
        batchId, "stream-resolve")
      val st = SimJoin.state(fam, dup
        .map(d => side.join(d, Seq("doc_id"), "left_anti"))
        .getOrElse(side)
        .where(col("reject_reason").isNull))
      // EVERY dropped doc is RECORDED, like the batch pipeline's rejects
      // table, instead of vanishing from the maintained state with no
      // trace: per-batch reconciliation (ingested == clustered + rejected)
      // must hold, so docs excluded by the duplicate-id guard land in
      // rejects too (reason DUPLICATE_ID, one deterministic row per id,
      // superseding any validity reject for the same id).
      val validityRejects = side.where(col("reject_reason").isNotNull)
        .select(rejectCols: _*)
      val newRejects = dup match {
        case None => validityRejects
        case Some(d) =>
          validityRejects.join(d, Seq("doc_id"), "left_anti")
            .unionByName(side.join(d, Seq("doc_id"), "left_semi")
              .groupBy("doc_id").agg(min(col("name")).as("name"))
              .select(col("doc_id"), col("name"),
                lit("DUPLICATE_ID").as("reject_reason"),
                lit(batchId).as("batch_id")))
      }
      val (existing, corpus) = committed.getOrElse((
        IncrementalResolve.Existing(
          ids.select(col("doc_id"), col("doc_id").as("cluster_id")).limit(0)),
        SimJoin.State(st.keys.limit(0), st.payload.limit(0))))
      val inc = IncrementalResolve.resolveNames(spark, existing, corpus, st,
        weights = weights, threshold = threshold, maxBlockSize = maxBlockSize)
      // clusters holds the changed rows ONLY: the batch's new docs +
      // members of relabeled clusters — merge-on-read recovers the full
      // table
      VersionedState.writeUnit(s"$stateRoot/d=$batchId", Seq(
        "clusters" -> inc.changed, "names" -> st.payload, "keys" -> st.keys,
        "rejects" -> newRejects))
      VersionedState.commitDelta(spark, stateRoot, batchId)
      maybeCompact(spark, stateRoot, view, batchId, compactEvery, schemas)
    }
  }

  /** Fold the committed view into `base=<upto>` when the live delta
    * count (the pre-batch view's plus this batch's) reaches the
    * threshold: the merged assignment view plus the unioned append-only
    * tables, one O(corpus) rewrite every `compactEvery` batches. This
    * bounds both the unit count the merge-on-read union touches and the
    * per-doc row multiplicity the argmax collapses. It is the only step
    * that builds the whole merged view.
    */
  private def maybeCompact(spark: SparkSession, stateRoot: String,
                           preView: VersionedState.StateView, upto: Long,
                           compactEvery: Int, schemas: Map[String, StructType]): Unit = {
    if (compactEvery <= 0) return
    if (preView.liveDeltaIds.size + 1 < compactEvery) return
    val units = preView.units(stateRoot) :+ (upto -> s"$stateRoot/d=$upto")
    VersionedState.writeUnit(s"$stateRoot/base=$upto",
      ("clusters" -> clusterState(spark, units, Some(schemas("clusters"))).current) +:
        Seq("names", "keys", "rejects").map(t =>
          t -> VersionedState.readTableFrom(spark, units, t, Some(schemas(t))).get))
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
