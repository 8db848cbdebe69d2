package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The globally-unique-doc_id ingest contract, shared by the streaming
  * jobs: a duplicated id would corrupt maintained state (two shingle
  * rows fanning out the dedup verify join; two same-recency assignment
  * rows making the resolve merge-on-read nondeterministic), so it is
  * ENFORCED per batch rather than assumed — both across batches (an id
  * already in the corpus) and WITHIN the batch (the same id delivered
  * twice in one trigger, which a corpus check alone can never see:
  * under the default availableNow trigger the whole backlog is one
  * batch).
  */
private[streaming] object IngestContract {

  /** Detect duplicated ids with ONE action: the corpus id rows that
    * carry a batch id (a semi-join) are appended to the batch ids, and an
    * id is a duplicate iff it then occurs more than once — repeated
    * within the batch, or already in the corpus. One batch-sized groupBy
    * covers both cases. The caller passes its MATERIALIZED batch, so
    * the planner knows its exact size: a small batch is broadcast (the
    * corpus side is then scanned once, map-side, no shuffle; same order
    * of work as the jobs' increment joins), and a bulk load — under the
    * default availableNow trigger the whole backlog arrives as ONE batch —
    * gets the sort-merge join it needs instead of a corpus-sized hash
    * relation shipped into every task.
    *
    * `batchIds` must be ONE ROW PER INGESTED DOC (the raw batch ids,
    * not an exploded key table). Returns the ids to EXCLUDE from the
    * batch: Some(dupIds) in `drop` mode — first-write-wins for corpus
    * re-deliveries; ids repeated WITHIN the batch are excluded entirely
    * (no copy is "first" inside one unordered batch), count logged —
    * None when clean or mode == `allow`; throws in `fail` mode (the
    * default policy). An unknown mode throws rather than silently
    * dropping data.
    */
  def duplicateIdGuard(batchIds: DataFrame, corpusIds: Option[DataFrame],
                       mode: String, batchId: Long,
                       job: String): Option[DataFrame] = {
    require(Set("fail", "drop", "allow")(mode),
      s"on-duplicate mode must be fail, drop or allow, got $mode")
    if (mode == "allow") return None
    val ids = batchIds.select("doc_id")
    val occurrences = corpusIds.fold(ids)(c =>
      ids.unionByName(c.select("doc_id").join(ids, Seq("doc_id"), "left_semi")))
    val dupIds = occurrences.groupBy("doc_id").agg(count(lit(1)).as("__n"))
      .where(col("__n") > 1).select("doc_id")
    val n = dupIds.count()
    if (n == 0) None
    else if (mode == "fail")
      throw new IllegalStateException(
        s"batch $batchId re-delivers $n doc_id(s) already in the corpus state " +
          "or repeated within the batch; ids must be globally unique " +
          "(--on-duplicate drop keeps the first ingested version, " +
          "--on-duplicate allow skips this check)")
    else { // drop
      System.err.println(
        s"[$job] batch $batchId: dropping $n duplicated doc_id(s) " +
          "(first-write-wins across batches; within-batch repeats excluded)")
      Some(dupIds)
    }
  }
}
