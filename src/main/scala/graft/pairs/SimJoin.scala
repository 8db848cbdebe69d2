package graft.pairs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.blocking.BlockingKeys

/** The LSH similarity join as one operator parameterized by the hash
  * family, the shape SparkER (EDBT 2019) and C2Net (ICDE 2019) give it:
  * block keys → capped bucket join → score → keep. A family is plain data
  * ([[Family]]): the minhash, n-gram and simhash families are built in
  * [[graft.dedup.Dedup]], sign-LSH cosine in [[graft.ann.Ann]], and the
  * name family of the resolve increment (default blocking keys, composite
  * score) in [[graft.pipeline.IncrementalResolve.nameFamily]]. Modes:
  *  - full ([[pairs]]): the qualifying pairs of one table;
  *  - state ([[state]]): a family's per-doc table split into its block
  *    keys and its verify payload, the form a maintained corpus persists;
  *  - increment ([[increment]]): the pairs a new batch adds to a corpus
  *    state.
  *
  * Pairs are distinct and canonical (id a < id b). Every block of more
  * than `maxBlockSize` rows is dropped whole (the quadratic-blowup
  * guard); an increment applies the cap per side, to the batch's and the
  * corpus's rows of a block, so it equals the full recompute over
  * corpus ∪ batch restricted to pairs touching the batch whenever no cap
  * trips (property-tested per family in DedupIncrementSpec, hash-checked
  * by q70/q71/q73). Increments require batch ids disjoint from corpus
  * ids: a re-ingested id would fan the verify out through two payload
  * rows. Re-ingesting a changed doc is a retract-then-insert.
  */
object SimJoin {

  /** A hash family.
    *
    * @param docs    keygen: the input frame → one row per delivered doc,
    *                (doc_id, payload columns, `__k` its block keys); a doc
    *                that can never pair has no keys
    * @param payload the per-doc columns the verify reads, as stored
    * @param sides   the verify's per-doc inputs, computed from the payload
    *                once per doc (not per pair) and joined onto both pair
    *                sides as `<name>_a` / `<name>_b`
    * @param score   the score column: its output name and its expression
    *                over the sides
    * @param keep    which scored pairs are kept, over the score column
    * @param ids     output names of the pair's id columns
    * @param rides   the payload rides the key table: the full mode then
    *                scores inside one fused bucket self-join, and the
    *                state persists the key table alone
    */
  final case class Family(docs: DataFrame => DataFrame, payload: Seq[String],
                          sides: Seq[(String, Column)], score: (String, Column),
                          keep: Column, ids: (String, String) = ("doc_id_a", "doc_id_b"),
                          rides: Boolean = false)

  /** A family's state: the block keys (block_key, doc_id, plus the payload
    * when it rides them) and the payload (doc_id, payload), one row per
    * doc that can pair.
    */
  final case class State(keys: DataFrame, payload: DataFrame)

  /** One increment: the pairs touching the batch, and the batch's state
    * (append its tables to the corpus's to absorb the batch).
    */
  final case class Increment(pairs: DataFrame, state: State)

  /** Split a [[Family.docs]] table into the family's [[State]] (lazy;
    * pass the table materialized when the state is read more than once).
    */
  def state(f: Family, docs: DataFrame): State = {
    // a doc without a payload has no keys either: it can never pair
    val pairable = docs.where(col(f.payload.head).isNotNull)
    State(BlockingKeys.explodeKeys(pairable, "doc_id", col("__k"), if (f.rides) f.payload else Nil),
      pairable.select(("doc_id" +: f.payload).map(col): _*))
  }

  /** The state of a family whose payload rides its keys, from the
    * persisted key table alone.
    */
  def fromKeys(f: Family, keys: DataFrame): State =
    State(keys, keys.select(("doc_id" +: f.payload).map(col): _*).distinct())

  /** Full mode: every pair sharing an under-cap block whose score is
    * kept. The docs table is materialized once; it feeds the key table
    * and both verify sides. A riding payload with salting off is scored
    * inside one fused capped self-join, so only survivors reach the
    * distinct. Otherwise the pairs come from
    * [[CandidateGenerator.candidatePairs]] (which salts blocks in
    * (maxBlockSize, saltedMaxBlockSize]) and the payload is looked up.
    */
  def pairs(f: Family, df: DataFrame, maxBlockSize: Int,
            saltedMaxBlockSize: Int = -1): DataFrame = {
    // only pairable docs take part, so their payload is typed non-null
    // (a score over it is then non-null where its kernel allows:
    // simhash's hamming)
    val docs = f.docs(df).where(col(f.payload.head).isNotNull)
    val st = state(f, Bridge.checkpoint(docs.select(docs.columns.map(c =>
      if (f.payload.contains(c)) Bridge.knownNotNull(col(c)).as(c) else col(c)): _*)))
    if (f.rides && saltedMaxBlockSize <= maxBlockSize) {
      // the cap is applied to one side only, as in CandidateGenerator:
      // a pair survives iff its block is under the cap on that side
      val ok = CandidateGenerator.underCapBlocks(st.keys, maxBlockSize)
      scored(f, sides(f, st.keys, "_a", "block_key")
        .join(sides(f, st.keys.join(ok, Seq("block_key")), "_b", "block_key"), Seq("block_key"))
        .where(col("doc_id_a") < col("doc_id_b"))).distinct()
    } else
      verify(f, CandidateGenerator.candidatePairs(st.keys.select("block_key", "doc_id"),
        maxBlockSize, saltedMaxBlockSize), st.payload, pin = true)
  }

  /** Increment mode: the pairs a batch adds to a corpus. The corpus is
    * read only where the batch reaches it: its keys in the blocks the
    * batch shares ([[CandidateGenerator.incrementPairs]]), its payload for
    * the candidate ids. The pairs and that payload are barriers of
    * measured size ([[Bridge.checkpoint]]), so each lookup broadcasts the
    * side that is small in bytes and a bulk load's payload is not
    * broadcast once it passes the threshold.
    */
  def increment(f: Family, batch: State, corpus: State, maxBlockSize: Int): Increment = {
    val pairs = Bridge.checkpoint(candidates(batch, corpus, maxBlockSize))
    val ids = pairs.select(col("doc_id_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_id_b").as("doc_id")))
    // allowMissingColumns: a minhash corpus persisted before the shingle
    // cap has no __n column; its sets are full and score as such
    val payload = Bridge.checkpoint(
      corpus.payload.unionByName(batch.payload, allowMissingColumns = true)
        .join(ids, Seq("doc_id"), "left_semi").select(("doc_id" +: f.payload).map(col): _*))
    Increment(verify(f, pairs, payload, pin = !Bridge.broadcastSized(pairs)), batch)
  }

  /** The increment's candidate pairs, canonical (doc_id_a < doc_id_b). */
  private[graft] def candidates(batch: State, corpus: State, maxBlockSize: Int): DataFrame =
    CandidateGenerator.incrementPairs(batch.keys.select("block_key", "doc_id"),
        corpus.keys.select("block_key", "doc_id"), maxBlockSize)
      .select(least(col("doc_id_a"), col("doc_id_b")).as("doc_id_a"),
        greatest(col("doc_id_a"), col("doc_id_b")).as("doc_id_b"))

  /** Join the payload onto both sides of (doc_id_a, doc_id_b) pairs and
    * keep the pairs that score.
    *
    * `pin` hash-partitions the pairs to `spark.sql.shuffle.partitions`
    * first. A pair row is a few bytes but its score can cost O(payload),
    * so when the pairs are shuffled into the join AQE's byte-based
    * coalescing would collapse the scoring to one task (measured: q18's
    * whole verify single-threaded); a user-specified partition count
    * survives AQE, and the exchange doubles as the join's own. Pairs the
    * planner broadcasts need no pin: it would be a wasted shuffle.
    */
  private def verify(f: Family, pairs: DataFrame, payload: DataFrame, pin: Boolean): DataFrame = {
    val parts = pairs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    scored(f, (if (pin) pairs.repartition(parts, col("doc_id_a")) else pairs)
      .join(sides(f, payload, "_a"), Seq("doc_id_a"))
      .join(sides(f, payload, "_b"), Seq("doc_id_b")))
  }

  /** One pair side: doc_id and the family's sides, suffixed. */
  private def sides(f: Family, t: DataFrame, suffix: String, carry: String*): DataFrame =
    t.select(carry.map(col) ++ (col("doc_id").as("doc_id" + suffix) +:
      f.sides.map { case (n, c) => c.as(n + suffix) }): _*)

  /** Score the joined pairs and keep the family's survivors. The score is
    * fenced ([[graft.util.EvalOnce]]): unfenced, Catalyst substitutes it
    * into the keep filter and pushes that into the join as a residual
    * predicate, so the score runs once per joined row in the join and
    * again in the projection for survivors (measured: two ~12 cpu-s
    * stages on q72's verify for one logical pass).
    */
  private def scored(f: Family, joined: DataFrame): DataFrame = {
    val (name, score) = f.score
    joined.withColumn(name, graft.util.EvalOnce(score)).where(f.keep)
      .select(col("doc_id_a").as(f.ids._1), col("doc_id_b").as(f.ids._2), col(name))
  }
}
