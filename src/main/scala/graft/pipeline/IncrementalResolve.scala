package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.blocking.BlockingKeys
import graft.cluster.ConnectedComponents
import graft.decide.Thresholds
import graft.functions.Er
import graft.pairs.CandidateGenerator
import graft.sim.SimilarityWeights

/** Incremental resolution — the batch analog of the reference's PRIMARY
  * entry point, per-record `resolver.resolve(name, type)` against the
  * existing graph (api/EntityResolutionService.java:502-615, SURVEY §3.1):
  * a batch of NEW docs is blocked against the EXISTING entity table plus
  * itself, scored, and attached to the existing clustering — without
  * re-clustering the world.
  *
  * Exactness (why this equals a full recompute): the full merge graph is
  * old-edges ∪ new-edges, and old-edges already collapsed into components
  * labelled by their min member. Contracting each old component to its
  * label and running CC over (new-new edges) ∪ (new-doc, old-label) edges
  * yields the same components as CC over the full graph, and the same
  * labels — a merged component's min over {old labels, new ids} equals
  * its min over all members, because each old label IS its component's
  * min. So incremental attach is not an approximation; q65's oracle
  * hash-checks it against a from-scratch recursive-CTE recompute.
  *
  * Scale shape: every corpus-side read is scoped to what the batch
  * touches. The corpus key table is semi-joined on the batch's block keys
  * before the block-size cap counts it (the cap counts per block key, so
  * the scoped count is exact), names are joined only for the old ids of
  * candidate pairs, the existing labels are read only for the docs the
  * edges reach and the clusters they relabel ([[Existing]]), and CC runs
  * over the new ids plus the touched labels only. A day's increment
  * touches a vanishing fraction of a 100 TB corpus: the work is
  * proportional to its candidates, as in the reference's per-record
  * resolve — this is the operator that makes the engine a system rather
  * than a one-shot job. Caveat: block-size caps apply per increment (the
  * full-recompute cap sees bigger blocks); identical results whenever no
  * cap trips, the production recall trade otherwise.
  */
object IncrementalResolve {

  /** One increment's two views: `assignments` is the full (doc_id,
    * cluster_id) table (existing ∪ new), `changed` is ONLY the rows that
    * differ from `existing` — the new docs plus every member of a
    * relabeled (merged) cluster. `changed` is what a merge-on-read state
    * store writes per batch: O(increment + touched docs), not O(corpus).
    */
  final case class AttachResult(assignments: DataFrame, changed: DataFrame)

  /** The existing clustering as the increment reads it. `current` is the
    * (doc_id, cluster_id) table, one row per doc, labels = min member.
    * `rows` holds the stored (doc_id, cluster_id, __v) rows behind it: a
    * plain table is its own rows (one per doc), a merge-on-read state
    * holds one row per doc per unit that wrote it, and a doc's label is
    * its row with the highest (__v, cluster_id) — the cluster_id tiebreak
    * keeps the pick a pure function of the rows when two share a `__v`.
    *
    * The increment reads `rows` only through semi-joins on the ids or
    * labels it touches, taken BELOW the argmax ([[of]]), so its read side
    * is the touched docs, not the corpus. `current` is consumed only by
    * the lazy `assignments` view.
    */
  final case class Existing(current: DataFrame, rows: DataFrame) {

    /** Current (doc_id, cluster_id) of the docs in `ids` (a doc_id column). */
    def of(ids: DataFrame): DataFrame =
      Existing.latest(rows.join(ids.select("doc_id"), Seq("doc_id"), "left_semi"))

    /** `df` plus `__label`: for a row whose `__old` is true, the current
      * label of its `idCol` doc (null when the doc has none). Reads `df`
      * twice; pass it materialized.
      */
    def labelOld(df: DataFrame, idCol: String): DataFrame =
      df.join(of(df.where(col("__old")).select(col(idCol).as("doc_id")))
        .select(col("doc_id").as(idCol), col("cluster_id").as("__label")), Seq(idCol), "left")
  }

  object Existing {

    /** A plain (doc_id, cluster_id) assignment table. */
    def apply(assignments: DataFrame): Existing = {
      val a = assignments.select("doc_id", "cluster_id")
      Existing(a, a.withColumn("__v", lit(0L)))
    }

    /** Stored rows from several writers (a unit id `__v` per row), as in a
      * merge-on-read state store.
      */
    def merged(rows: DataFrame): Existing = Existing(latest(rows), rows)

    /** Each doc's row with the highest (__v, cluster_id). */
    private def latest(rows: DataFrame): DataFrame =
      rows.groupBy("doc_id")
        .agg(max_by(col("cluster_id"), struct(col("__v"), col("cluster_id")))
          .as("cluster_id"))
  }

  /** Attach new docs to an existing clustering, given the increment's
    * merge edges.
    *
    * @param existing    (doc_id, cluster_id) current assignments, labels =
    *                    min member (the pipeline's invariant)
    * @param newIds      (doc_id) the increment's doc ids
    * @param newNewEdges (src, dst) merge edges within the increment
    * @param newOldEdges (src, dst) merge edges from a new doc (src) to an
    *                    existing doc (dst)
    * @return assignments for existing ∪ new docs (labels of untouched
    *         clusters are unchanged, merged clusters take the global min)
    *         and the changed rows
    */
  def attach(spark: SparkSession, existing: DataFrame, newIds: DataFrame,
             newNewEdges: DataFrame, newOldEdges: DataFrame): AttachResult = {
    val ex = Existing(existing)
    val edges = Bridge.checkpoint(newNewEdges.select(col("src"), col("dst"), lit(false).as("__old"))
      .unionByName(newOldEdges.select(col("src"), col("dst"), lit(true).as("__old"))))
    attachEdges(spark, ex, newIds, ex.labelOld(edges, "dst"))
  }

  /** The attach core over one edge table (src, dst, __old, __label): src
    * is a new doc, dst a new doc (`__old` false) or an existing one
    * (`__old` true) whose current label is `__label`
    * ([[Existing.labelOld]]).
    *
    * Its barriers are [[Bridge.checkpoint]]s: each is O(increment +
    * touched clusters) rows, its exact size lets the planner broadcast it
    * into the scans of the stored rows, and its blocks are released by
    * the context cleaner once the increment's frames go out of scope
    * (safe for per-micro-batch streaming callers).
    */
  private def attachEdges(spark: SparkSession, existing: Existing, newIds: DataFrame,
                          edges: DataFrame): AttachResult = {
    // contract: an edge into an old doc goes to that doc's label.
    // Materialized: CC and the vertex set read it several times, and a
    // lazy plan would re-run the whole scoring subtree per consumer.
    val contracted = Bridge.checkpoint(edges
      .where(!col("__old") || col("__label").isNotNull)
      .select(col("src"), when(col("__old"), col("__label")).otherwise(col("dst")).as("dst")))
    // CC over the touched vertices only: the new ids plus the old labels
    // the edges reach. An untouched cluster would be an isolated vertex
    // that keeps its label, so leaving it out changes no label.
    val vertices = newIds.select("doc_id")
      .unionByName(contracted.select(col("dst").as("doc_id"))).distinct()
    // the component labels, O(increment + touched clusters) rows: they
    // feed the new rows, the relabel map and through it both views, and
    // CC.run returns a LAZY labels plan
    val cc = Bridge.checkpoint(ConnectedComponents.run(spark, contracted, vertices))
    // new docs take their component label directly
    val newAssignRows = cc.join(newIds.select("doc_id"), Seq("doc_id"), "left_semi")
      .select("doc_id", "cluster_id")
    // the relabel map: old labels whose component took a new (smaller)
    // label. cc rows for NEW docs can land here too (a new doc whose
    // label isn't itself), but no existing row joins them — ids are
    // globally unique, so a new doc id is never an existing cluster label
    val relabeled = cc.where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("cluster_id"), col("cluster_id").as("__new"))
    // The changed old docs are those whose CURRENT label was relabeled. A
    // stored row with such a label only nominates its doc: a doc whose
    // latest row carries another label (a stale row from before an
    // earlier relabel) keeps it. The nominees are a barrier so that the
    // label lookup broadcasts them into the scan of the stored rows.
    val nominated = Bridge.checkpoint(existing.rows
      .join(relabeled.select("cluster_id"), Seq("cluster_id"), "left_semi")
      .select("doc_id"))
    val changedOld = existing.of(nominated).join(relabeled, Seq("cluster_id"))
      .select(col("doc_id"), col("__new").as("cluster_id"))
    // existing docs remap through the relabel map (identity when their
    // cluster was untouched)
    val oldRemap = existing.current.join(relabeled, Seq("cluster_id"), "left")
      .select(col("doc_id"), coalesce(col("__new"), col("cluster_id")).as("cluster_id"))
    AttachResult(
      oldRemap.unionByName(newAssignRows),
      changedOld.unionByName(newAssignRows))
  }

  /** Whole increment from normalized names: block the new batch against
    * the existing names and itself (default-key strategy), score, keep
    * edges >= threshold, attach. `existingKeys` accepts the persisted B2
    * key table (ideally bucketed by block_key — then the increment's key
    * join leaves the big side exchange-free); pass None to derive keys
    * from `existingNames` on the fly. `existing` is a plain assignment
    * table (`Existing(df)`) or a merge-on-read state
    * ([[Existing.merged]]).
    *
    * This is the micro-batch body for a streaming `foreachBatch`
    * increment loop (see StreamingResolveSpec and StreamResolveJob):
    * stream resolves, the clustering stays exact vs a full batch
    * recompute.
    */
  def resolveNames(spark: SparkSession,
                   existing: Existing,
                   existingNames: DataFrame,  // doc_id, normalized
                   newNames: DataFrame,       // doc_id, normalized
                   existingKeys: Option[DataFrame] = None,
                   newKeysOpt: Option[DataFrame] = None,
                   weights: SimilarityWeights = SimilarityWeights.default,
                   threshold: Double = Thresholds().autoMerge,
                   maxBlockSize: Int = 1000): AttachResult = {
    Er.register(spark)
    val oldKeys = existingKeys.getOrElse(
      BlockingKeys.explodeKeys(existingNames, "doc_id",
        BlockingKeys.defaultKeys(col("normalized"))))
    // a caller that already derived (and materialized) the increment's
    // keys passes them in — e.g. StreamResolveJob, which also writes them
    // to the state version; deriving twice per micro-batch is wasted work.
    // Caller-provided keys are used as-is (caching is the caller's call).
    val newKeys = newKeysOpt.getOrElse(Bridge.checkpoint(
      BlockingKeys.explodeKeys(newNames, "doc_id", BlockingKeys.defaultKeys(col("normalized")))))
    // new–new ∪ new–old candidates in one pass over the corpus blocks the
    // batch shares. A barrier: the scoring, the old-name lookup and the
    // old-label lookup all read it, and the lookups broadcast it into
    // their scans of the corpus tables; O(candidates) rows.
    val pairs = Bridge.checkpoint(CandidateGenerator.incrementPairs(newKeys, oldKeys, maxBlockSize))
    // one scoring pass; side a is always a new doc, side b reads the
    // names of the candidates' old docs only
    val a = newNames.select(col("doc_id").as("doc_id_a"), col("normalized").as("name_a"))
    val b = newNames.select("doc_id", "normalized")
      .unionByName(existingNames.select("doc_id", "normalized")
        .join(pairs.where(col("__old")).select(col("doc_id_b").as("doc_id")),
          Seq("doc_id"), "left_semi"))
      .select(col("doc_id").as("doc_id_b"), col("normalized").as("name_b"))
    // EvalOnce fence: the threshold filter would otherwise be pushed
    // into the name joins as a residual predicate with the composite
    // kernels alias-substituted into it — scored once per joined row
    // in the join, then AGAIN in the projection (the
    // SimJoin verify pathology). One evaluation, same edges.
    val edges = existing.labelOld(pairs, "doc_id_b")
      .join(a, Seq("doc_id_a")).join(b, Seq("doc_id_b"))
      .withColumn("score", graft.util.EvalOnce(
        Er.compositeScore(col("name_a"), col("name_b"), weights)))
      .where(col("score") >= threshold)
      .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"), col("__old"),
        col("__label"))
    attachEdges(spark, existing, newNames.select("doc_id"), edges)
  }
}
