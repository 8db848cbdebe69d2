package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.pairs.SimJoin

/** Similarity search over an embedding column (array<float>):
  * brute-force cosine top-k as the exactness baseline, an LSH-bucketed
  * variant as the scale path (bucket join instead of full cross join), an
  * IVF index, and cosine near-dup as the sign-LSH family of the one
  * similarity join ([[SimJoin]]: batch pairs, maintained state,
  * increments). Cosine is one native kernel pass per pair.
  */
object Ann {

  /** Cosine similarity between two array<float|double> columns, computed
    * in double precision with a deterministic left-fold accumulation
    * order. Zero-norm vectors -> 0.0. Native one-pass kernel
    * ([[CosineKernel]]); property-tested bit-identical to [[cosineHof]].
    */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(CosineSimExpr(Bridge.expression(a), Bridge.expression(b)))
  }

  /** The higher-order-function formulation of [[cosine]] — the executable
    * spec the native kernel is property-tested against and the template
    * the DuckDB oracle mirrors ([[graft.oracle.OracleSql.cosine]]). The
    * HOF plan allocates 3 x dim objects per row; the kernel reads both
    * arrays once.
    */
  def cosineHof(a: Column, b: Column): Column = {
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    val na = sqrt(dot(ad, ad))
    val nb = sqrt(dot(bd, bd))
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dot(ad, bd) / (na * nb))
  }

  /** Brute-force cosine top-k: every query joined against every item.
    * Exact, O(|q|*|n|) — the correctness baseline and the small-dim path
    * (broadcast the query side when it fits).
    */
  def bruteForceTopK(items: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val it = items.select(col(idCol).as("item_id"), col(embCol).as("item_emb"))
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("query_emb"))
    // broadcast the QUERY side (per the scaladoc): the corpus is the big
    // side — streaming it keeps the nested-loop join parallel over item
    // partitions and the broadcast bounded by |queries|, not |corpus|
    val scored = it.join(broadcast(q), col("query_id") =!= col("item_id"))
      .withColumn("cosine", cosine(col("query_emb"), col("item_emb")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("item_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "item_id", "cosine", "rank")
  }

  /** Sign-LSH bucket key: the sign pattern of the first `bits` dimensions
    * (axis-aligned hyperplanes — deterministic, no PRNG, reproducible in
    * SQL). Vectors in the same orthant-prefix share the bucket.
    */
  def signBucket(emb: Column, bits: Int = 8): Column = {
    val signs = transform(slice(emb.cast("array<double>"), 1, bits),
      x => when(x >= 0, lit("1")).otherwise(lit("0")))
    array_join(signs, "")
  }

  /** LSH-bucketed ANN: join within sign buckets only. Misses cross-bucket
    * neighbors (that is the approximation); at scale this replaces the
    * broadcast cross join with a bucket-partitioned equi-join. An IVF
    * refinement (k-means coarse quantizer) would slot in the same shape:
    * assign -> join within cell.
    */
  def lshTopK(items: DataFrame, queries: DataFrame, k: Int, bits: Int = 8,
              idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val it = items.select(col(idCol).as("item_id"), col(embCol).as("item_emb"))
      .withColumn("bucket", signBucket(col("item_emb"), bits))
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("query_emb"))
      .withColumn("bucket", signBucket(col("query_emb"), bits))
    val scored = q.join(it, Seq("bucket"))
      .where(col("query_id") =!= col("item_id"))
      .withColumn("cosine", cosine(col("query_emb"), col("item_emb")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("item_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "item_id", "cosine", "rank")
  }

  // ------------------------------------------------------------- IVF

  /** Squared L2 distance to a literal centroid (codegen'd HOF chain). */
  private def l2sqTo(emb: Column, centroid: Seq[Double]): Column =
    aggregate(
      zip_with(emb.cast("array<double>"), typedlit(centroid),
        (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, v) => acc + v)

  /** Cell id = argmin over the centroid distances (expression-only — the
    * centroid model is a tiny driver-held array, broadcast as literals).
    */
  private def cellOf(emb: Column, centroids: Seq[Seq[Double]]): Column = {
    val dists = array(centroids.map(c => l2sqTo(emb, c)): _*)
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** Train an IVF coarse quantizer: k-means with deterministic seeding
    * (the k lowest-id vectors) and a fixed number of Lloyd iterations.
    * The model (k x dim doubles) is the only thing collected to the
    * driver — the standard shape for ANN indexes: tiny model, huge index.
    *
    * NOTE: centroid means average floating-point values whose partial-agg
    * order varies run to run, so borderline cell assignments are not
    * bit-deterministic — IVF is verified by recall-vs-brute-force tests,
    * not the value-exact oracle (same policy as Jaro-Winkler).
    */
  def ivfTrain(items: DataFrame, k: Int, iters: Int = 2,
               idCol: String = "vec_id", embCol: String = "embedding"): Seq[Seq[Double]] = {
    val it = items.select(col(idCol).as("vid"),
      col(embCol).cast("array<double>").as("emb"))
    var centroids: Seq[Seq[Double]] = it.orderBy("vid").limit(k)
      .select("emb").collect().map(_.getSeq[Double](0).toSeq).toSeq
    for (_ <- 0 until iters) {
      val assigned = it.withColumn("cell", cellOf(col("emb"), centroids))
      // per-cell mean: posexplode -> groupBy (cell, pos) avg — partial
      // aggregation, never an array-of-all-members in one task
      val means = assigned
        .select(col("cell"), posexplode(col("emb")).as(Seq("pos", "v")))
        .groupBy("cell", "pos").agg(avg("v").as("m"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      val byCell = means.groupBy(_._1)
      centroids = centroids.indices.map { c =>
        byCell.get(c) match {
          case Some(rows) => rows.sortBy(_._2).map(_._3).toSeq
          case None => centroids(c) // empty cell keeps its centroid
        }
      }
    }
    centroids
  }

  /** IVF top-k: assign items to their nearest cell once (the index);
    * assign each query to its `nProbe` nearest cells; search only within
    * those cells (equi-join on cell) and rank by cosine. The same
    * assign -> join-within-cell shape as [[lshTopK]], with a trained
    * quantizer instead of axis-aligned hyperplanes — higher recall per
    * probed fraction on clustered data.
    */
  def ivfTopK(items: DataFrame, queries: DataFrame, centroids: Seq[Seq[Double]],
              k: Int, nProbe: Int = 2,
              idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val it = items.select(col(idCol).as("item_id"), col(embCol).as("item_emb"))
      .withColumn("cell", cellOf(col("item_emb"), centroids))
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("query_emb"))
      .withColumn("cell", explode(probeCells(centroids, nProbe)))
    rankWithinCells(q, it, k)
  }

  /** Query's nProbe nearest cells (over `query_emb`). */
  private def probeCells(centroids: Seq[Seq[Double]], nProbe: Int): Column = {
    val qDists = array(centroids.map(c => l2sqTo(col("query_emb"), c)): _*)
    slice(
      transform(array_sort(
        zip_with(qDists, sequence(lit(0), lit(centroids.size - 1)),
          (d, i) => struct(d.as("d"), i.as("i")))),
        s => s.getField("i")),
      1, nProbe)
  }

  private def rankWithinCells(q: DataFrame, it: DataFrame, k: Int): DataFrame = {
    val scored = q.join(it, Seq("cell"))
      .where(col("query_id") =!= col("item_id"))
      .withColumn("cosine", cosine(col("query_emb"), col("item_emb")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("item_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "item_id", "cosine", "rank")
  }

  /** Persist a trained IVF index: the tiny centroid table plus the items
    * written PARTITIONED BY cell. This is the index lifecycle at corpus
    * scale — assign every item to its cell ONCE, then serve any number of
    * query batches from the persisted layout; [[ivfTopKFromIndex]] reads
    * only the probed cell directories. Embeddings are stored unchanged
    * (no cast), so indexed results are bit-identical to [[ivfTopK]] over
    * the same inputs.
    */
  def ivfWriteIndex(items: DataFrame, centroids: Seq[Seq[Double]], path: String,
                    idCol: String = "vec_id", embCol: String = "embedding"): Unit = {
    val spark = items.sparkSession
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    items.select(col(idCol).as("item_id"), col(embCol).as("item_emb"))
      .withColumn("cell", cellOf(col("item_emb"), centroids))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/items")
  }

  def ivfReadCentroids(spark: SparkSession, path: String): Seq[Seq[Double]] =
    spark.read.parquet(s"$path/centroids").orderBy("cell")
      .collect().map(_.getAs[scala.collection.Seq[Double]]("centroid").toSeq).toSeq

  /** Append new vectors to a persisted index WITHOUT retraining: assign
    * each to its nearest FROZEN centroid and append only the batch's
    * rows into the partitioned layout — O(batch) write I/O, serving
    * unchanged. This is the production index lifecycle at corpus scale:
    * the quantizer is trained once (retraining relabels cells and forces
    * a full index rewrite; do that as a rare offline rebuild when drift
    * degrades recall), ingest is a per-batch assign + append. Results
    * after an append are identical to [[ivfTopK]] over the union with
    * the same centroids (same assignment expression, same ranking).
    *
    * Caveats: ids must be globally unique (a re-appended id appears
    * twice in results — enforce upstream or via the streaming jobs'
    * ingest guard), and the parquet append is not atomic (a crashed
    * append can leave partial files; wrap calls in the caller's
    * commit/replay protocol where exactly-once matters, as
    * [[graft.checkpoint.VersionedState]] does for the streaming jobs).
    */
  def ivfAppend(newItems: DataFrame, path: String,
                idCol: String = "vec_id", embCol: String = "embedding"): Unit = {
    val centroids = ivfReadCentroids(newItems.sparkSession, path)
    newItems.select(col(idCol).as("item_id"), col(embCol).as("item_emb"))
      .withColumn("cell", cellOf(col("item_emb"), centroids))
      .write.mode("append").partitionBy("cell").parquet(s"$path/items")
  }

  /** Top-k against a persisted index, reading ONLY the probed cell
    * directories. The distinct probed-cell set is collected from the
    * query side first — it is bounded by the centroid count (a
    * driver-held model already), so the collect is O(model), and the
    * resulting static `cell IN (...)` filter prunes the partitioned scan
    * DETERMINISTICALLY (plan-gated in AnnIvfSpec). Dynamic partition
    * pruning was measured not to engage here: Spark's PartitionPruning
    * rule does not see through the Generate(explode) that produces the
    * probe side's join key, and a cost-model feature is the wrong tool
    * when the exact partition set is cheaply knowable up front.
    */
  def ivfTopKFromIndex(spark: SparkSession, path: String, queries: DataFrame,
                       k: Int, nProbe: Int = 2,
                       idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val centroids = ivfReadCentroids(spark, path)
    // no cache/checkpoint: the probe expression is evaluated twice (cell
    // collect + the join) but is O(|queries| x model) — cheap — and a
    // pinned block per serve call would accumulate across a session. No
    // broadcast hint either: a large query batch must be allowed to
    // shuffle-join (AQE broadcasts it when it measures small).
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("query_emb"))
      .withColumn("cell", explode(probeCells(centroids, nProbe)))
    val probed = q.select("cell").distinct().collect().map(_.getInt(0)).sorted
    val it = spark.read.parquet(s"$path/items")
      .where(col("cell").isin(probed.map(Integer.valueOf): _*))
    rankWithinCells(q, it, k)
  }

  /** Sign-LSH bucket key over dimensions [offset+1, offset+bits] — the
    * multi-band generalization of [[signBucket]] (band b hashes a
    * different dimension slice, so each band is an independent chance to
    * collide).
    */
  def signBucketAt(emb: Column, bits: Int, offset: Int): Column = {
    val signs = transform(slice(emb.cast("array<double>"), offset + 1, bits),
      x => when(x >= 0, lit("1")).otherwise(lit("0")))
    array_join(signs, "")
  }

  /** The sign-LSH cosine family: band b keys a vector by the signs of
    * its dimensions [b*bits+1, (b+1)*bits] ("b:<signs>"), pairs are kept
    * at cosine >= threshold, output (id_a, id_b, cosine). A band whose
    * offset reaches the embedding's length would slice an EMPTY sign
    * prefix, one corpus-wide block (all-pairs below the cap, silently
    * dropped above it); such bands carry no information and are skipped
    * per row (short embeddings simply get fewer band keys). With one band
    * a vector has at most one key, and the embedding rides the key table.
    * `bits`/`bands` must match between a state's ingest and every later
    * increment.
    */
  def cosineFamily(threshold: Double, bits: Int = 4, bands: Int = 1,
                   idCol: String = "vec_id", embCol: String = "embedding"): SimJoin.Family =
    SimJoin.Family(
      docs = df => df.select(col(idCol).as("doc_id"), col(embCol).as("emb"))
        .withColumn("__k", filter(array((0 until bands).map(b =>
          when(size(col("emb")) > b * bits,
            concat(lit(s"$b:"), signBucketAt(col("emb"), bits, b * bits)))): _*), _.isNotNull)),
      payload = Seq("emb"),
      sides = Seq("emb" -> col("emb")),
      score = "cosine" -> cosine(col("emb_a"), col("emb_b")),
      keep = col("cosine") >= threshold,
      ids = ("id_a", "id_b"),
      rides = bands == 1)

  /** Embedding-cosine near-duplicate pairs (threshold variant) of
    * [[cosineFamily]], canonicalized id_a < id_b.
    *
    * Scale levers (the defaults reproduce the 1-band/4-bit exactness
    * fixture; at corpus scale raise BOTH):
    *  - `bits`: 4 bits = 16 buckets => ~n^2/16 in-bucket pairs — fine at
    *    10^4 vectors, quadratic death at 10^9. Scale bits with log2(n)
    *    (e.g. 16 bits at 10^9 rows) so bucket sizes stay bounded.
    *  - `bands`: independent dimension slices; more bands = higher recall
    *    at the same per-bucket cost (pairs are deduped across bands).
    *  - `maxBlockSize`/`saltedMaxBlockSize`: hot buckets (embedding-space
    *    boilerplate clusters) are salted then capped via
    *    [[graft.pairs.CandidateGenerator]] instead of going quadratic in
    *    one task.
    */
  def cosineNearDups(items: DataFrame, threshold: Double, bits: Int = 4,
                     idCol: String = "vec_id", embCol: String = "embedding",
                     bands: Int = 1, maxBlockSize: Int = 1000000,
                     saltedMaxBlockSize: Int = -1): DataFrame =
    SimJoin.pairs(cosineFamily(threshold, bits, bands, idCol, embCol), items,
      maxBlockSize, saltedMaxBlockSize)
}
