package graft.cluster

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** L5/L7/M7: DataFrame-native connected components via alternating
  * large-star / small-star (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC'14) — the batch closure of the reference's
  * unbounded `MERGED_INTO*` transitive canonical resolution
  * (graph/CypherExecutor.java:329-338; recursive ledger walk
  * audit/MergeLedger.java:124-136).
  *
  * Implementation notes for scale:
  *  - per-node minima are computed with groupBy(min) + an equi-join back
  *    (partial aggregation, no collect_set — giant stars never
  *    materialize an adjacency list in one task);
  *  - every iteration `localCheckpoint`s to truncate lineage (iterative
  *    plans otherwise grow exponentially);
  *  - convergence is detected by a direct min-rooted star-forest test
  *    (see [[isStarForest]]) — deterministic, and it spares the extra
  *    full operator iteration a repeat-signature check needs;
  *  - converges in O(log n) rounds; cluster id = min member
  *    (deterministic KEEP_TARGET-style canonical pick,
  *    merge/MergeStrategy.java).
  */
object ConnectedComponents {

  /** Convergence = the edge set IS a min-rooted star forest, checked
    * directly: (a) every edge points larger -> smaller (dst < src), so
    * each star's root is its minimum; (b) no node is both a source and a
    * destination (no two-hop chains); (c) every source appears exactly
    * once (a node points at one root). Such a set is a fixed point of
    * smallStar(largeStar(_)) — Kiveris et al. §3: the algorithm's fixed
    * points are exactly the min-rooted star forests — and each star's
    * root is its component minimum (a smaller member would be a leaf
    * below a larger root, violating (a)).
    *
    * DETERMINISTIC and one iteration cheaper than the previous
    * signature-repetition check, which had to run the full 8-shuffle
    * operator chain once more on an already-converged set just to
    * observe it unchanged (and was probabilistic — hash-sum equality).
    * At any scale the saved iteration is a full O(E) pass; the check
    * itself is three short-circuiting violation scans (limit 1) unioned
    * into one job over the (small, checkpointed) current edge set.
    */
  private def isStarForest(e: DataFrame): Boolean = {
    val misoriented = e.where(col("dst") >= col("src")).select(lit(1).as("v"))
    // (b) and (c) fold into ONE partial-aggregating groupBy over edge
    // endpoints: a node violates iff it appears as a source more than
    // once (multi-root) or as both a source and a destination (two-hop
    // chain). The previous formulation paid a distinct + a semi-join + a
    // separate groupBy — three exchanges per convergence check vs one,
    // and the check runs every iteration. (`e` is a distinct edge set —
    // the loop's localCheckpointed smallStar output — so row counts ARE
    // edge counts.)
    val roles = e.select(col("src").as("node"), lit(1L).as("s"), lit(0L).as("d"))
      .union(e.select(col("dst").as("node"), lit(0L).as("s"), lit(1L).as("d")))
      .groupBy("node").agg(sum("s").as("ns"), sum("d").as("nd"))
    val badNodes = roles
      .where(col("ns") > 1 || (col("ns") > 0 && col("nd") > 0))
      .select(lit(1).as("v"))
    misoriented.union(badNodes).limit(1).isEmpty
  }

  /** Large-star: connect every neighbor v > u to the min of u's
    * neighborhood (including u).
    *
    * LOOP-INTERNAL CONTRACT (both call sites are smallStar outputs): the
    * input is a DISTINCT set of strictly larger->smaller edges. Under
    * that invariant `e ∪ swap(e)` is tuple-distinct by construction, so
    * the exchange a distinct would cost here dedups nothing; and the
    * OUTPUT is allowed to be a multiset — its only consumer is
    * smallStar, whose first distinct partial-aggregates map-side, so
    * duplicate rows are absorbed before they reach a shuffle. Removing
    * both distincts cuts two full-width exchanges per iteration at any
    * scale.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val und = e.select("src", "dst")
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
    val mins = und.groupBy("src")
      .agg(min("dst").as("mn"))
      .select(col("src"), least(col("src"), col("mn")).as("m"))
    und.join(mins, Seq("src"))
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .where(col("src") =!= col("dst"))
  }

  /** Small-star: orient edges large -> small, connect all smaller
    * neighbors (and the center) to the minimum.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val directed = e.select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    val mins = directed.groupBy("src").agg(min("dst").as("m"))
    val fromNeighbors = directed.join(mins, Seq("src"))
      .where(col("dst") =!= col("m"))
      .select(col("dst").as("src"), col("m").as("dst"))
    val fromCenter = mins.select(col("src"), col("m").as("dst"))
    fromNeighbors.union(fromCenter)
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** Run CC over an edge list. Returns (doc_id, cluster_id) covering every
    * vertex in `vertices` (vertices with no edges own their cluster).
    * Id columns keep their input type (any orderable type); cluster_id =
    * the type's natural minimum over the component.
    *
    * @param edges    DataFrame with columns (src, dst)
    * @param vertices DataFrame with a single `doc_id` column (the universe)
    */
  def run(spark: SparkSession, edges: DataFrame, vertices: DataFrame,
          maxIterations: Int = 50): DataFrame = {
    var iter = 0
    // Contraction pre-pass: merge graphs from pairwise scoring are
    // clique-heavy (every within-cluster pair that scored above the
    // threshold is its own edge), and one smallStar pass contracts a
    // k-clique's k(k-1)/2 edges to a (k-1)-star at roughly HALF the cost
    // of a full alternation step — largeStar must union both edge
    // directions (2E rows) before its group-min, smallStar only
    // re-orients (E rows). Both operators preserve connected components
    // (Kiveris et al. §3), so the loop's fixed point is unchanged; on
    // clique-dominated inputs the pre-pass alone often converges and the
    // expensive first largeStar never runs over the raw quadratic set.
    // The RAW edge set flows straight into the pre-pass: smallStar's
    // first exchange canonicalizes (greatest/least) and distincts anyway,
    // so a separate entry distinct + checkpoint + emptiness probe would
    // add a full-width shuffle and two driver actions over the WIDEST
    // edge set of the whole loop for nothing — an empty input simply
    // yields an empty pre-pass result, which the star-forest test reports
    // as converged (vacuously a star forest).
    //
    // The whole CC computation — pre-pass included — is SHUFFLE-bound
    // over edge tables, never kernel-bound, so the pipeline's global
    // "coalescing off" rationale (similarity kernels collapse to too few
    // tasks) does not apply anywhere in this loop, while its cost does:
    // ~8 shuffles per step each at the full session partition count over
    // small-to-shrinking tables is pure task-scheduling overhead. AQE
    // partition coalescing is the right policy at every scale (billions
    // of edges stay wide — coalescing is a no-op there; the contracted
    // tail collapses). Scoped with try/finally; the returned labels plan
    // is lazy and evaluates under the caller's conf.
    // AQE stays ON through the loop: it was A/B-measured essential here
    // (static planning re-runs every iteration's shuffles at the full
    // session partition count — q72's CC measured 2-3x slower with AQE
    // disabled in-loop, the opposite of the planning-latency hypothesis).
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevCoalesce = spark.conf.getOption(coalesceKey)
    spark.conf.set(coalesceKey, "true")
    var e: DataFrame = null
    var converged = false
    try {
    e = smallStar(
        edges.select(col("src"), col("dst")).where(col("src") =!= col("dst")))
      .localCheckpoint(true)
    converged = isStarForest(e)
    while (!converged && iter < maxIterations) {
      e = smallStar(largeStar(e)).localCheckpoint(true)
      converged = isStarForest(e)
      iter += 1
    }
    } finally {
      prevCoalesce match {
        case Some(v) => spark.conf.set(coalesceKey, v)
        case None => spark.conf.unset(coalesceKey)
      }
    }
    if (!converged && !e.isEmpty)
      throw new IllegalStateException(s"connected components did not converge in $maxIterations iterations")

    // After convergence edges form stars node -> component-min. Labels:
    // every src maps to its dst; every dst (root) maps to itself.
    val labels = e.select(col("src").as("node"), col("dst").as("label"))
      .union(e.select(col("dst").as("node"), col("dst").as("label")))
      .groupBy("node").agg(min("label").as("cluster_id"))

    vertices.select(col("doc_id"))
      .join(labels, col("doc_id") === col("node"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }
}
