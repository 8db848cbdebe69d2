package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.checkpoint.VersionedState
import graft.dedup.Dedup
import graft.pairs.SimJoin
import graft.util.Args

/** Production streaming entry for near-dup dedup: maintain the near-dup
  * pair set of an UNBOUNDED arriving document table. Each micro-batch
  * runs the similarity join's increment ([[SimJoin.increment]], proven
  * exact vs a full-batch recompute by q70/q71 and DedupIncrementSpec)
  * against durable append-delta state, so a crawl batch pays O(batch)
  * WRITE I/O (its own delta) plus work that follows its candidates: the
  * batch side (ids, band keys, verify payload) is materialized once, the
  * persisted corpus key table is semi-joined on the batch's band keys
  * before the cap count, and only the candidate pairs' corpus ids read
  * their payload. The corpus TEXT is read once, on the batch that ingested it,
  * never again; per batch, the id ledger and the key table are scanned
  * column-pruned, with the batch side broadcast into the scan.
  *
  * {{{
  * spark-submit --class graft.streaming.StreamDedupJob graft.jar \
  *   --input s3://bucket/crawl --state s3://bucket/dedup-state \
  *   --checkpoint s3://bucket/dedup-ckpt [--threshold 0.7]
  * }}}
  *
  * State layout ([[VersionedState]] delta contract): each batch commits
  * `d=<batchId>/{keys,shingles,pairs}` holding ONLY that batch's band
  * keys, 60-bit shingle-hash sets, and the increment's new pairs. The
  * corpus view is the union of the latest base + committed deltas above
  * it; `--compact-every K` folds them into a new `base=` every K deltas
  * (amortized O(corpus/K) write cost per batch, and it bounds the
  * small-file count the read side unions). A v=-snapshot layout here
  * would rewrite the ENTIRE corpus state every trigger — per-batch cost
  * growing linearly with corpus size; append-delta is what makes the
  * documented O(batch) claim true of the I/O, not just the join.
  * By the chained-increments property (DedupIncrementSpec), the union of
  * all delta `pairs` tables ([[pairsSoFar]]) always equals the
  * full-batch [[Dedup.minhashNearDups]] over everything ingested so far.
  *
  * `--algo` picks the hash family, once ([[Dedup.minhashFamily]] or
  * [[Dedup.simhashFamily]]); the increment is the same operator for
  * both. A simhash state is just the key table with the fingerprint
  * riding on it (no shingle sets — cheaper per doc, hamming-bound
  * instead of Jaccard-threshold semantics). A state root is bound to its
  * algo; resuming with the other one fails fast instead of corrupting
  * the maintained pair set.
  *
  * Durability/idempotence/lineage are [[VersionedState]]'s contract:
  * `_COMMITTED`-marked units, replayed batchIds skipped (exactly-once
  * state on at-least-once foreachBatch), crash-safe compaction GC, and
  * the fail-fast checkpoint/state lineage guard.
  *
  * Ingest contract (per [[SimJoin.increment]]): doc ids
  * are globally unique — a duplicated id would fan the verify join
  * through two shingle rows and silently corrupt the maintained pair
  * set. `--on-duplicate` ENFORCES it per batch ([[IngestContract]], one
  * action: a batch-sized groupBy for ids repeated WITHIN the batch, plus
  * one semi-join of the corpus id ledger against the batch ids — same
  * order of work as the increment join itself): `fail` (default) aborts the batch, `drop`
  * keeps the FIRST ingested version (corpus re-deliveries skipped;
  * within-batch repeats excluded entirely; counts logged), `allow`
  * skips the check for inputs with an upstream uniqueness guarantee.
  * Docs with null/empty text carry no band key and no shingle set —
  * they can never pair and are not added to the state (same semantics
  * as the batch operator).
  */
object StreamDedupJob {

  private val Usage =
    """graft.streaming.StreamDedupJob
      |  --input DIR               landing dir of document parquet files
      |  --state DIR               durable state root (append-delta layout)
      |  --checkpoint DIR          Structured Streaming checkpoint
      |  [--algo minhash|simhash]  default minhash
      |  [--id-col NAME]           default doc_id
      |  [--text-col NAME]         default text
      |  [--threshold T]           minhash verify Jaccard threshold, default 0.7
      |  [--max-hamming N]         simhash hamming bound, default 3
      |  [--max-block-size N]      default 10000
      |  [--on-duplicate fail|drop|allow]  re-delivered doc_id policy, default fail
      |  [--compact-every N]       fold deltas into a base every N batches,
      |                            default 64 (0 = never)
      |  [--trigger "30 seconds"|availableNow]   default availableNow
      |  [--max-files-per-trigger N]
      |""".stripMargin

  private[streaming] def parseArgs(args: Array[String]): Map[String, String] = {
    val opts = Args.parse(args,
      known = Set("input", "state", "checkpoint", "algo", "id-col", "text-col",
        "threshold", "max-hamming", "max-block-size", "on-duplicate",
        "compact-every", "trigger", "max-files-per-trigger"),
      required = Set("input", "state", "checkpoint"),
      usage = Usage)
    opts.get("algo").foreach(a => require(a == "minhash" || a == "simhash",
      s"--algo must be minhash or simhash, got $a\n$Usage"))
    opts.get("on-duplicate").foreach(d =>
      require(Set("fail", "drop", "allow")(d),
        s"--on-duplicate must be fail, drop or allow, got $d\n$Usage"))
    opts
  }

  /** One state table unioned across the committed view (latest base +
    * deltas above it), or None when nothing is committed yet.
    */
  def readStateTable(spark: SparkSession, stateRoot: String,
                     table: String): Option[DataFrame] =
    VersionedState.readTableFrom(spark,
      VersionedState.stateView(spark, stateRoot).units(stateRoot), table)

  /** The maintained near-dup pair set over everything ingested so far —
    * equals the full-batch recompute (chained-increments property).
    */
  def pairsSoFar(spark: SparkSession, stateRoot: String): Option[DataFrame] =
    readStateTable(spark, stateRoot, "pairs")

  /** A state root written by one algo must not be resumed with the
    * other (the key/pair schemas differ; a silent mix would corrupt the
    * maintained pair set). Minhash units carry a `shingles` table,
    * simhash ones don't — that structural difference IS the marker.
    */
  private def algoGuard(spark: SparkSession, stateRoot: String,
                        units: Seq[(Long, String)], algo: String): Unit = {
    units.lastOption.foreach { case (_, dir) =>
      val hasShingles = VersionedState.fsOf(spark, stateRoot)
        .exists(new org.apache.hadoop.fs.Path(s"$dir/shingles"))
      val stateAlgo = if (hasShingles) "minhash" else "simhash"
      if (stateAlgo != algo)
        throw new IllegalStateException(
          s"state root $stateRoot was written by --algo $stateAlgo; refusing to " +
            s"resume it with --algo $algo — start a new state root")
    }
  }

  /** Every id ever DELIVERED to this state (one row per delivered doc)
    * — the duplicate-id guard's corpus side. Unlike the key
    * table, it covers docs whose text yields no band key (null/empty):
    * the uniqueness contract is on the ingest, not on what survives
    * keying. Units written before the ids ledger existed fall back to
    * their keys' doc_ids — the keyless-doc gap in those units is not
    * recoverable (it was never recorded) and closes at their next
    * compaction.
    */
  private def corpusIngestedIds(spark: SparkSession, stateRoot: String,
                                units: Seq[(Long, String)],
                                schemas: Map[String, StructType]): Option[DataFrame] = {
    if (units.isEmpty) return None
    val fs = VersionedState.fsOf(spark, stateRoot)
    val (withIds, legacy) = units.partition { case (_, d) =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$d/ids"))
    }
    val parts = VersionedState.readTableFrom(spark, withIds, "ids", schemas.get("ids")).toSeq ++
      VersionedState.readTableFrom(spark, legacy, "keys", schemas.get("keys"))
        .map(_.select("doc_id").distinct())
    parts.reduceOption(_.unionByName(_))
  }

  /** The shared per-batch commit skeleton: replay skip, algo guard,
    * duplicate-id enforcement ([[IngestContract]]), increment, delta
    * write (batch-sized tables ONLY), commit marker, compaction. The
    * per-algo difference is data: the hash family, whose payload either
    * rides the key table or is a delta's `shingles` table. The committed
    * view is listed ONCE ([[VersionedState.stateView]]) and threaded
    * through — O(1) metadata requests per trigger. A batch that reads few
    * bytes runs interpreted ([[BatchCodegen]]).
    */
  def attachBatch(spark: SparkSession, stateRoot: String,
                  batch: DataFrame, batchId: Long,
                  idCol: String = "doc_id", textCol: String = "text",
                  threshold: Double = 0.7, maxBlockSize: Int = 10000,
                  algo: String = "minhash", maxHamming: Int = 3,
                  onDuplicate: String = "fail", compactEvery: Int = 64): Unit = {
    val view = VersionedState.stateView(spark, stateRoot)
    if (view.highWater >= batchId)
      return // replayed batch — state already has it
    val units = view.units(stateRoot)
    algoGuard(spark, stateRoot, units, algo)
    val fam = family(algo, idCol, textCol, threshold, maxHamming)
    // the batch side: one row per delivered doc with its block keys and
    // verify payload
    val docsIn = fam.docs(batch)
    // the state tables hold what this batch writes: reading them with
    // its schemas runs no schema-inference job per table
    val schemas = (content(fam, SimJoin.state(fam, docsIn)) :+ ("ids" -> docsIn.select("doc_id")))
      .map { case (t, df) => t -> df.schema }.toMap
    def readT(t: String) = VersionedState.readTableFrom(spark, units, t, schemas.get(t))
    // Every state read of the batch, built once before it runs: their
    // listings size the batch for BatchCodegen. The guard's corpus side
    // is the persisted ingested-ids table (below) — checking the KEY
    // table alone would let a cross-batch re-delivery of a keyless doc
    // through undetected.
    val corpusIds = corpusIngestedIds(spark, stateRoot, units, schemas)
    val corpusKeys = readT("keys")
    val corpusShingles = if (fam.rides) None else readT("shingles")
    BatchCodegen.scoped(spark, batch, corpusIds.toSeq ++ corpusKeys ++ corpusShingles) {
      // The batch side, materialized ONCE: the guard, the increment's
      // scoping joins and the delta writes all read it, and its size is
      // exact ([[Bridge.checkpoint]]), so the planner broadcasts it when
      // it is small.
      val docs = Bridge.checkpoint(docsIn)
      // the delta's id ledger records every id the batch DELIVERED —
      // including ids the guard excludes below (within-batch repeats have
      // no "first" copy and enter no content state, but a LATER
      // re-delivery of such an id must still be flagged, matching the
      // resolve job's DUPLICATE_ID rejects semantics)
      val deliveredIds = docs.select("doc_id")
      // the guard checks EVERY ingested id (one row per doc — the key
      // table has many rows per doc and would miscount intra-batch
      // repeats), including null-text docs that never get a band key:
      // the uniqueness contract is on the ingest, not on what survives
      // keying. Dropped ids are logged, not stored as rejects — unlike
      // the resolve job there is no rejects table here; the dedup state
      // carries content state plus this minimal id ledger.
      val drop = IngestContract.duplicateIdGuard(deliveredIds, corpusIds, onDuplicate,
        batchId, "stream-dedup")
      val st = SimJoin.state(fam, drop.fold(docs)(d => docs.join(d, Seq("doc_id"), "left_anti")))
      val keys = corpusKeys.getOrElse(st.keys.limit(0))
      val corpus =
        if (fam.rides) SimJoin.fromKeys(fam, keys)
        else SimJoin.State(keys, corpusShingles.getOrElse(st.payload.limit(0)))
      val pairs = SimJoin.increment(fam, st, corpus, maxBlockSize).pairs
      VersionedState.writeUnit(s"$stateRoot/d=$batchId",
        content(fam, st) :+ ("ids" -> deliveredIds) :+ ("pairs" -> pairs))
      VersionedState.commitDelta(spark, stateRoot, batchId)
      maybeCompact(spark, stateRoot, view, batchId,
        schemas + ("pairs" -> pairs.schema), compactEvery)
    }
  }

  /** `--algo` as a hash family: the one place the job reads it. */
  private def family(algo: String, idCol: String, textCol: String,
                     threshold: Double, maxHamming: Int): SimJoin.Family = algo match {
    case "simhash" => Dedup.simhashFamily(maxHamming, idCol, textCol)
    case _ => Dedup.minhashFamily(threshold, idCol, textCol)
  }

  /** A delta's content tables: the block keys, plus the shingle sets
    * unless the payload rides the keys (a simhash state is its key
    * table alone).
    */
  private def content(fam: SimJoin.Family, st: SimJoin.State): Seq[(String, DataFrame)] =
    ("keys" -> st.keys) +: (if (fam.rides) Nil else Seq("shingles" -> st.payload))

  /** Fold the committed view into `base=<upto>` when the live delta
    * count (the pre-batch view's plus this batch's) reaches the
    * threshold: one O(corpus) rewrite every `compactEvery` batches
    * (amortized O(corpus/K) per batch), which also caps how many files
    * [[readStateTable]] unions. Crash-safe: the base is invisible until
    * its marker lands, covered deltas are ignored by readers the moment
    * it does, and GC keeps the previous base + its uncovered deltas one
    * extra cycle for concurrent readers ([[VersionedState.commitBase]]).
    */
  private def maybeCompact(spark: SparkSession, stateRoot: String,
                           preView: VersionedState.StateView, upto: Long,
                           schemas: Map[String, StructType], compactEvery: Int): Unit = {
    if (compactEvery <= 0) return
    if (preView.liveDeltaIds.size + 1 < compactEvery) return
    val units = preView.units(stateRoot) :+ (upto -> s"$stateRoot/d=$upto")
    VersionedState.writeUnit(s"$stateRoot/base=$upto", schemas.keys.toSeq.map { t =>
      // the ids ledger needs the legacy-unit fallback (pre-ids units
      // lack the table); compacting through it is what CLOSES the
      // legacy keys-only gap for all future batches
      t -> (
        if (t == "ids") corpusIngestedIds(spark, stateRoot, units, schemas).get
        else VersionedState.readTableFrom(spark, units, t, schemas.get(t)).get)
    })
    VersionedState.commitBase(spark, stateRoot, upto)
  }

  /** Wire the file-source stream; returns the started query. */
  def start(spark: SparkSession, opts: Map[String, String]): StreamingQuery = {
    val input = opts("input")
    val stateRoot = opts("state")
    val ckpt = opts("checkpoint")
    VersionedState.lineageGuard(spark, ckpt, stateRoot)
    val idCol = opts.getOrElse("id-col", "doc_id")
    val textCol = opts.getOrElse("text-col", "text")
    val threshold = opts.get("threshold").map(_.toDouble).getOrElse(0.7)
    val maxBlockSize = opts.get("max-block-size").map(_.toInt).getOrElse(10000)
    val algo = opts.getOrElse("algo", "minhash")
    val maxHamming = opts.get("max-hamming").map(_.toInt).getOrElse(3)
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
        attachBatch(spark, stateRoot, batch, batchId, idCol, textCol,
          threshold, maxBlockSize, algo, maxHamming, onDuplicate, compactEvery)
      }
    opts.get("trigger") match {
      case None | Some("availableNow") => writer.trigger(Trigger.AvailableNow()).start()
      case Some(interval) => writer.trigger(Trigger.ProcessingTime(interval)).start()
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val spark = SparkSession.builder().appName("graft-stream-dedup").getOrCreate()
    val q = start(spark, opts)
    q.awaitTermination()
  }
}
