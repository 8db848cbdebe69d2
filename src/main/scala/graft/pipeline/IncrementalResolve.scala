package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.blocking.BlockingKeys
import graft.cluster.ConnectedComponents
import graft.decide.Thresholds
import graft.functions.Er
import graft.pairs.SimJoin
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
  * The blocking and scoring are the similarity join's ([[SimJoin]]): the
  * name family ([[nameFamily]]) keys each normalized name with the
  * reference's default strategy and keeps pairs whose composite score
  * reaches the threshold; [[resolveNames]] is its increment followed by
  * [[attach]].
  *
  * Scale shape: every corpus-side read is scoped to what the batch
  * touches. The corpus key table is semi-joined on the batch's block keys
  * before the block-size cap counts it (the cap counts per block key, so
  * the scoped count is exact), names are looked up only for the ids of
  * candidate pairs, the existing labels are read only for the docs the
  * kept edges reach and the clusters they relabel ([[Existing]]), and CC
  * runs over the new ids plus the touched labels only. A day's increment
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
    * @param existing the current clustering, labels = min member (the
    *                 pipeline's invariant): a plain assignment table
    *                 (`Existing(df)`) or a merge-on-read state
    *                 ([[Existing.merged]])
    * @param newIds   (doc_id) the increment's doc ids
    * @param edges    (src, dst) undirected merge edges. An endpoint that
    *                 is not in `newIds` is an existing doc: it is
    *                 contracted to its current label (an edge to a doc
    *                 with no label is dropped)
    * @return assignments for existing ∪ new docs (labels of untouched
    *         clusters are unchanged, merged clusters take the global min)
    *         and the changed rows
    *
    * Its barriers are [[Bridge.checkpoint]]s: each is O(increment +
    * touched clusters) rows, its exact size lets the planner broadcast it
    * into the scans of the stored rows, and its blocks are released by
    * the context cleaner once the increment's frames go out of scope
    * (safe for per-micro-batch streaming callers).
    */
  def attach(spark: SparkSession, existing: Existing, newIds: DataFrame,
             edges: DataFrame): AttachResult = {
    // Materialized: the contraction map and the contracted graph both
    // read the edges, and a lazy plan would re-run the scoring per reader
    val e = Bridge.checkpoint(edges.select("src", "dst"))
    val ids = newIds.select("doc_id")
    // the contraction map: a new doc stays itself, an existing endpoint
    // goes to its current label. Its targets are CC's vertices: the new
    // ids plus the old labels the edges reach. An untouched cluster would
    // be an isolated vertex that keeps its label, so leaving it out
    // changes no label.
    val olds = e.select(col("src").as("doc_id")).unionByName(e.select(col("dst").as("doc_id")))
      .join(ids, Seq("doc_id"), "left_anti")
    val to = Bridge.checkpoint(ids.select(col("doc_id"), col("doc_id").as("__to"))
      .unionByName(existing.of(olds).select(col("doc_id"), col("cluster_id").as("__to"))))
    def end(c: String) = to.select(col("doc_id").as(c), col("__to").as("__" + c))
    val contracted = e.join(end("src"), Seq("src")).join(end("dst"), Seq("dst"))
      .select(col("__src").as("src"), col("__dst").as("dst"))
    // the component labels, O(increment + touched clusters) rows: they
    // feed the new rows, the relabel map and through it both views, and
    // CC.run returns a LAZY labels plan
    val cc = Bridge.checkpoint(ConnectedComponents.run(spark, contracted,
      to.select(col("__to").as("doc_id")).distinct()))
    // new docs take their component label directly
    val newAssignRows = cc.join(ids, Seq("doc_id"), "left_semi")
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

  /** The name family of the similarity join ([[SimJoin]]): the
    * reference's default blocking keys over `normalized` (the payload),
    * scored with the composite ([[Er.compositeScore]]) in canonical
    * (min id, max id) order, kept at `score >= threshold`. Its keygen
    * keeps the input's other columns, so a caller can materialize one
    * table that carries both the family's docs and its own.
    */
  def nameFamily(weights: SimilarityWeights = SimilarityWeights.default,
                 threshold: Double = Thresholds().autoMerge): SimJoin.Family =
    SimJoin.Family(
      docs = _.withColumn("__k", BlockingKeys.defaultKeys(col("normalized"))),
      payload = Seq("normalized"),
      sides = Seq("name" -> col("normalized")),
      score = "score" -> Er.compositeScore(col("name_a"), col("name_b"), weights),
      keep = col("score") >= threshold)

  /** The name family's state of a (doc_id, normalized) names table: its
    * block keys and its names. Lazy.
    */
  def namesState(names: DataFrame): SimJoin.State = {
    val f = nameFamily()
    SimJoin.state(f, f.docs(names.select("doc_id", "normalized")))
  }

  /** Whole increment: the similarity join's increment of the name family
    * ([[SimJoin.increment]]: the batch blocked against the corpus and
    * itself, scored, kept at the threshold), then [[attach]]. `existing`
    * is a plain assignment table (`Existing(df)`) or a merge-on-read
    * state ([[Existing.merged]]); `corpus` and `batch` are name-family
    * states ([[namesState]], or a persisted key table with its names).
    *
    * This is the micro-batch body for a streaming `foreachBatch`
    * increment loop (see StreamingResolveSpec and StreamResolveJob):
    * stream resolves, the clustering stays exact vs a full batch
    * recompute.
    */
  def resolveNames(spark: SparkSession,
                   existing: Existing,
                   corpus: SimJoin.State,
                   batch: SimJoin.State,
                   weights: SimilarityWeights = SimilarityWeights.default,
                   threshold: Double = Thresholds().autoMerge,
                   maxBlockSize: Int = 1000): AttachResult = {
    val inc = SimJoin.increment(nameFamily(weights, threshold), batch, corpus, maxBlockSize)
    attach(spark, existing, batch.payload.select("doc_id"),
      inc.pairs.select(col("doc_id_a").as("src"), col("doc_id_b").as("dst")))
  }
}
