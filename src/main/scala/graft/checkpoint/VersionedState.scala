package graft.checkpoint

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, DataFrameReader, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.types.{DataType, StructType}

/** The one commit rule for durable state, batch and streaming alike: a
  * unit of state becomes visible by creating its marker LAST, through
  * Hadoop `FileSystem` ([[commitMarker]] — a single create, no
  * rename-overwrite semantics to depend on, so it holds on object stores
  * whose rename is copy+delete; a crash mid-write leaves an uncommitted
  * unit that the retry overwrites). [[StageStore]]'s marker is a stage's
  * `MANIFEST.json`; the streaming units' marker is an empty
  * `_COMMITTED`. Structured Streaming replays a failed batch with the
  * SAME batchId, so skipping any batch at-or-below the state's
  * high-water mark gives exactly-once state on at-least-once
  * foreachBatch.
  *
  * Streaming layouts:
  *  - `d=<batchId>` APPEND DELTAS + `base=<upto>` compactions (the
  *    current layout, both jobs): a batch writes only its own rows;
  *    readers see the latest base plus deltas above it ([[StateView]]);
  *    compaction folds them into a new base with a one-cycle GC grace
  *    window ([[commitBase]]).
  *  - `v=<batchId>` FULL SNAPSHOTS (legacy, read only: [[latestVersion]])
  *    — the streaming resolve job migrates such roots on contact.
  */
private[graft] object VersionedState {

  private val Marker = "_COMMITTED"

  def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The commit point: create `marker` (with `payload`) after everything
    * it commits is written. Readers treat a unit without its marker as
    * absent, so the data written before it needs no atomic rename.
    */
  def commitMarker(fs: FileSystem, marker: Path,
                   payload: Array[Byte] = Array.emptyByteArray): Unit = {
    val out = fs.create(marker, true)
    try out.write(payload) finally out.close()
  }

  /** (prefix, id) of every committed unit dir `<prefix><id>` under
    * `root` with one of the given prefixes, ids ascending — one listing
    * plus a marker check per matching dir. Partial writes are invisible.
    */
  private def committedUnits(fs: FileSystem, root: String,
                             prefixes: String*): Seq[(String, Long)] = {
    val rootPath = new Path(root)
    if (!fs.exists(rootPath)) return Nil
    fs.listStatus(rootPath).toSeq.map(_.getPath).flatMap { p =>
      prefixes.find(p.getName.startsWith)
        .filter(_ => fs.exists(new Path(p, Marker)))
        .map(prefix => prefix -> p.getName.drop(prefix.length).toLong)
    }.sortBy(_._2)
  }

  /** The latest committed legacy `v=` snapshot, or -1 if none. */
  def latestVersion(spark: SparkSession, root: String): Long =
    committedUnits(fsOf(spark, root), root, "v=").lastOption.fold(-1L)(_._2)

  // ------------------------------------------------------------------
  // Append-delta layout (root/d=<batchId> + root/base=<uptoId>) — for
  // state that GROWS by batch (the dedup corpus): each micro-batch
  // writes only ITS OWN rows as a delta, so per-trigger write I/O is
  // O(batch), not O(corpus) (the legacy v= snapshot layout rewrote the
  // full state per version). Readers see: latest committed base (a
  // compaction of every delta <= its id) plus all committed deltas
  // ABOVE it. That filter is also the crash-safety rule — a base commit
  // followed by a crash before delta GC leaves covered deltas on disk,
  // and readers ignore them by construction.
  // ------------------------------------------------------------------

  /** The delta layout's committed state, captured in ONE root listing —
    * a micro-batch computes this once and threads it through its reads,
    * replay check and compaction decision instead of re-listing the
    * root (object stores charge per LIST/HEAD; a dozen listings per
    * trigger is pure metadata overhead).
    */
  final case class StateView(baseId: Long, deltaIds: Seq[Long]) {
    /** Highest batchId the state contains — the replay skip boundary. */
    def highWater: Long = math.max(baseId, deltaIds.lastOption.getOrElse(-1L))
    def isEmpty: Boolean = baseId < 0 && deltaIds.isEmpty
    /** Deltas the current base does not cover. */
    def liveDeltaIds: Seq[Long] = deltaIds.filter(_ > baseId)
    /** (unitId, dir) of the committed view, oldest first. */
    def units(root: String): Seq[(Long, String)] = {
      val baseUnit = if (baseId < 0) Nil else Seq(baseId -> s"$root/base=$baseId")
      baseUnit ++ liveDeltaIds.map(id => id -> s"$root/d=$id")
    }
  }

  /** One listing of the delta-layout state (see [[StateView]]). */
  def stateView(spark: SparkSession, root: String): StateView = {
    val units = committedUnits(fsOf(spark, root), root, "base=", "d=")
    StateView(units.collect { case ("base=", id) => id }.lastOption.getOrElse(-1L),
      units.collect { case ("d=", id) => id })
  }

  /** One state table unioned across the given unit dirs (from
    * [[StateView.units]]); None when there are none. The reader for
    * APPEND-ONLY tables (keys, names, rejects, pairs); for tables where
    * later units OVERRIDE earlier rows, merge with the units' ids (e.g.
    * StreamResolveJob.currentClusters). Without a schema it reads with
    * the newest unit's ([[footerSchema]]), so building the frame runs no
    * Spark job; older units read the columns they lack as null.
    */
  def readTableFrom(spark: SparkSession, units: Seq[(Long, String)],
                    table: String, schema: Option[StructType] = None): Option[DataFrame] = {
    val dirs = units.map { case (_, d) => s"$d/$table" }
    if (dirs.isEmpty) None
    else Some(reader(spark, schema.orElse(footerSchema(spark, dirs.last))).parquet(dirs: _*))
  }

  /** The bytes the planner sizes these reads at (the `sizeInBytes` of
    * their optimized plans). A table read reports the lengths of the
    * files its listing found, so sizing runs no Spark job and lists
    * nothing again; a plan without statistics reports Spark's default
    * size (`spark.sql.defaultSizeInBytes`, effectively unbounded).
    */
  def plannedBytes(reads: Seq[DataFrame]): BigInt =
    reads.map(_.queryExecution.optimizedPlan.stats.sizeInBytes).sum

  /** The schema Spark stored in the footer of one of the table's part
    * files under `dir`, read on the driver (no schema-inference job);
    * None when there is no part file or its footer holds no Spark schema.
    */
  def footerSchema(spark: SparkSession, dir: String): Option[StructType] = {
    val fs = fsOf(spark, dir)
    val path = new Path(dir)
    if (!fs.exists(path)) return None
    fs.listStatus(path).find(_.getPath.getName.startsWith("part-")).flatMap { st =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromStatus(st, spark.sparkContext.hadoopConfiguration))
      try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get(ParquetReadSupport.SPARK_METADATA_KEY))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
      finally reader.close()
    }
  }

  /** A parquet reader. Given the table's schema (a caller that is about
    * to write the same table knows it), the read runs no schema-inference
    * job; columns a file lacks read as null.
    */
  def reader(spark: SparkSession, schema: Option[StructType]): DataFrameReader =
    schema.fold(spark.read)(s =>
      spark.read.schema(StructType(s.fields.map(_.copy(nullable = true)))))

  /** Write a unit's tables (name -> frame) under `dir`, one after the
    * other on the caller's thread; the caller commits the unit's marker
    * only after this returns.
    */
  def writeUnit(dir: String, tables: Seq[(String, DataFrame)]): Unit =
    tables.foreach { case (t, df) => df.write.mode(SaveMode.Overwrite).parquet(s"$dir/$t") }

  /** Commit delta `id` (marker only — deltas are the corpus; nothing is
    * pruned here, compaction GCs them).
    */
  def commitDelta(spark: SparkSession, root: String, id: Long): Unit =
    commitMarker(fsOf(spark, root), new Path(s"$root/d=$id/$Marker"))

  /** Commit a base covering every delta <= `upto`, then GC with a
    * one-cycle GRACE WINDOW for concurrent readers: the PREVIOUS base
    * and the deltas between it and `upto` survive this commit — a reader
    * that listed the units just before the marker landed can still
    * finish its scan — and are deleted by the NEXT base commit. What
    * goes now: bases older than the previous one, and every d= dir
    * at-or-below the previous base's upto (covered twice over, plus
    * uncommitted leftovers from failed attempts down there). Readers
    * never see a torn view either way: a base is invisible until its
    * marker lands, and [[StateView]]'s `delta > latest base` rule
    * already excludes covered deltas the moment it does — GC is cleanup,
    * not correctness.
    */
  def commitBase(spark: SparkSession, root: String, upto: Long): Unit = {
    val fs = fsOf(spark, root)
    commitMarker(fs, new Path(s"$root/base=$upto/$Marker"))
    val bases = committedUnits(fs, root, "base=").map(_._2)
    val keepBases = bases.takeRight(2).map(id => s"base=$id").toSet
    // previous base's upto: deltas at-or-below it lost their grace
    // window when THIS base committed
    val graceFloor = bases.takeRight(2) match {
      case Seq(prev, _) => prev
      case _ => -1L
    }
    fs.listStatus(new Path(root)).map(_.getPath)
      .filter { p =>
        val n = p.getName
        (n.startsWith("base=") && !keepBases(n)) ||
          (n.startsWith("d=") && n.drop(2).toLong <= graceFloor)
      }
      .foreach(p => fs.delete(p, true))
  }

  /** The state root and the streaming checkpoint form ONE lineage:
    * batchIds only mean anything relative to the checkpoint that issued
    * them. Fail fast on EITHER divergence: a fresh checkpoint over
    * committed state (restarted batchIds would be skip-dropped up to the
    * old high-water mark — silent data loss), and a progressed
    * checkpoint over an empty state root (the source would skip every
    * recorded file and the rebuilt state would silently miss them all).
    */
  def lineageGuard(spark: SparkSession, ckpt: String, stateRoot: String): Unit = {
    val ckptOffsets = new Path(s"$ckpt/offsets")
    val ckptFresh = !fsOf(spark, ckpt).exists(ckptOffsets)
    // covers both layouts: legacy v= snapshots and d=/base= deltas
    val stateEmpty =
      committedUnits(fsOf(spark, stateRoot), stateRoot, "v=", "base=", "d=").isEmpty
    if (ckptFresh && !stateEmpty)
      throw new IllegalStateException(
        s"state root $stateRoot has committed versions but checkpoint $ckpt is fresh; " +
          "state and checkpoint form one lineage — restore the original checkpoint " +
          "or start a new state root")
    if (!ckptFresh && stateEmpty)
      throw new IllegalStateException(
        s"checkpoint $ckpt has recorded progress but state root $stateRoot has no " +
          "committed versions; resuming would skip every previously ingested file — " +
          "restore the state root or start a fresh checkpoint AND state together")
  }
}
