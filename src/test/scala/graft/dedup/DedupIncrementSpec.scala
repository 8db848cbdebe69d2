package graft.dedup

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._

import graft.SparkTestSession

/** Incremental near-dup dedup: the increment must equal the full-batch
  * recompute restricted to pairs touching the batch, and chained
  * increments over appended state must reconstruct the full-batch answer
  * over everything — the "maintained corpus" property that makes near-dup
  * viable at 100 TB (per-batch cost, corpus text never re-read).
  */
class DedupIncrementSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // Three base sentences, token-perturbed so near-dups cross every
  // old/new boundary: ids 0-29 corpus, 30-39 batch1, 40-49 batch2.
  private def mkDocs(ids: Range): Seq[(Long, String)] = ids.map { i =>
    val base = (i % 3) match {
      case 0 => "the quick brown fox jumps over the lazy dog near the river bank today"
      case 1 => "entity resolution at web scale needs blocking scoring and clustering stages"
      case _ => "training data pipelines deduplicate documents with minhash band signatures"
    }
    val toks = base.split(" ")
    val perturbed = toks.updated(i % toks.length, s"tok$i").mkString(" ")
    (i.toLong, perturbed)
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.select(col("doc_id_a"), col("doc_id_b"), round(col("jaccard"), 9).as("j"))
      .as[(Long, Long, Double)].collect().toSet

  test("increment == full recompute restricted to pairs touching the batch") {
    val all = mkDocs(0 until 40).toDF("doc_id", "text")
    val corpus = all.where(col("doc_id") < 30)
    val batch = all.where(col("doc_id") >= 30)

    val full = pairSet(Dedup.minhashNearDups(all, "doc_id", "text", threshold = 0.4))
    val fullTouchingBatch = full.filter { case (a, b, _) => a >= 30 || b >= 30 }
    assert(fullTouchingBatch.nonEmpty, "fixture must produce cross-boundary near-dups")

    val inc = Dedup.minhashNearDupsIncrement(batch, "doc_id", "text",
      Dedup.minhashState(corpus, "doc_id", "text"), threshold = 0.4)
    assert(pairSet(inc.pairs) == fullTouchingBatch)
  }

  test("block cap under scoping: the scoped increment == full recompute over the unscoped corpus") {
    // the batch touches one corpus block over the cap (five copies of a
    // text) and one under it (two copies of another); identical texts
    // share every band key
    val a = "the quick brown fox jumps over the lazy dog near the river bank today"
    val b = "entity resolution at web scale needs blocking scoring and clustering stages"
    val cap = 4
    val corpus = ((0 until 5).map(i => (i.toLong, a)) ++ Seq((10L, b), (11L, b),
      (20L, "training data pipelines deduplicate documents with minhash band signatures")))
      .toDF("doc_id", "text")
    val batch = Seq((100L, a), (101L, b)).toDF("doc_id", "text")

    val full = pairSet(Dedup.minhashNearDups(corpus.unionByName(batch), "doc_id", "text",
      threshold = 0.4, maxBlockSize = cap))
      .filter { case (x, y, _) => x >= 100 || y >= 100 }
    val inc = Dedup.minhashNearDupsIncrement(batch, "doc_id", "text",
      Dedup.minhashState(corpus, "doc_id", "text"), threshold = 0.4, maxBlockSize = cap)
    assert(pairSet(inc.pairs) == full)
    // the over-cap block pairs nothing, the under-cap one does
    assert(full.map { case (x, y, _) => (x, y) } == Set((10L, 101L), (11L, 101L)))
  }

  test("shingle sets past the broadcast threshold are not broadcast into the verify join") {
    // ~6k-char near-dup texts: ~6k shingles, ~48 KB of set per doc, so
    // the 16 docs' sets are ~0.8 MB against a 256 KB threshold. Costed
    // by column default sizes (an array as one element) they would read
    // as under 1 KB and be broadcast.
    val rnd = new scala.util.Random(7)
    val words = Array.fill(1000)(rnd.alphanumeric.take(5).mkString)
    val docs = (0 until 16).map { i =>
      (i.toLong, words.updated(i * 7, s"w$i").mkString(" "))
    }.toDF("doc_id", "text")
    val corpus = docs.where(col("doc_id") < 8)
    val batch = docs.where(col("doc_id") >= 8)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, 256L * 1024)
    try {
      val inc = Dedup.minhashNearDupsIncrement(batch, "doc_id", "text",
        Dedup.minhashState(corpus, "doc_id", "text"), threshold = 0.4)
      val got = pairSet(inc.pairs)
      val full = pairSet(Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.4))
        .filter { case (a, b, _) => a >= 8 || b >= 8 }
      assert(got == full && got.size == 8 * 7 / 2 + 8 * 8)
      val setCols = Set("__s", "s_a", "s_b")
      val broadcastSets = AdaptivePlans.collect(inc.pairs.queryExecution.executedPlan) {
        case b: BroadcastExchangeExec if b.output.exists(a => setCols(a.name)) => b
      }
      assert(broadcastSets.isEmpty,
        s"shingle sets broadcast:\n${inc.pairs.queryExecution.executedPlan}")
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("chained increments over appended state reconstruct the full answer") {
    val all = mkDocs(0 until 50).toDF("doc_id", "text")
    val c0 = all.where(col("doc_id") < 30)
    val b1 = all.where(col("doc_id") >= 30 && col("doc_id") < 40)
    val b2 = all.where(col("doc_id") >= 40)

    val base = pairSet(Dedup.minhashNearDups(c0, "doc_id", "text", threshold = 0.4))
    val s0 = Dedup.minhashState(c0, "doc_id", "text")
    val inc1 = Dedup.minhashNearDupsIncrement(b1, "doc_id", "text", s0, threshold = 0.4)
    // absorb batch1: append its state, then batch2 must pair against BOTH
    val s1 = Dedup.NearDupState(
      s0.keys.unionByName(inc1.state.keys),
      s0.shingles.unionByName(inc1.state.shingles))
    val inc2 = Dedup.minhashNearDupsIncrement(b2, "doc_id", "text", s1, threshold = 0.4)

    val full = pairSet(Dedup.minhashNearDups(all, "doc_id", "text", threshold = 0.4))
    assert(base ++ pairSet(inc1.pairs) ++ pairSet(inc2.pairs) == full)
    // the chained path must include batch1-batch2 pairs (proves the
    // append actually feeds later increments)
    assert(pairSet(inc2.pairs).exists { case (a, b, _) => a >= 30 && a < 40 && b >= 40 })
  }

  test("simhash increment == full recompute restricted to pairs touching the batch") {
    val all = mkDocs(0 until 40).toDF("doc_id", "text")
    val corpus = all.where(col("doc_id") < 30)
    val batch = all.where(col("doc_id") >= 30)

    def hamSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      df.select(col("doc_id_a"), col("doc_id_b"), col("hamming").cast("int"))
        .as[(Long, Long, Int)].collect().toSet

    val full = hamSet(Dedup.simhashNearDups(all, "doc_id", "text", maxHamming = 12))
    val fullTouchingBatch = full.filter { case (a, b, _) => a >= 30 || b >= 30 }
    assert(fullTouchingBatch.nonEmpty, "fixture must produce cross-boundary simhash pairs")

    val inc = Dedup.simhashNearDupsIncrement(batch, "doc_id", "text",
      Dedup.simhashState(corpus, "doc_id", "text"), maxHamming = 12)
    assert(hamSet(inc.pairs) == fullTouchingBatch)
    assert(hamSet(inc.pairs).exists { case (a, b, _) => a < 30 && b >= 30 },
      "must include batch-vs-corpus pairs")
  }

  test("bucketed corpus state: same pairs, corpus side exchange-free") {
    val all = mkDocs(0 until 40).toDF("doc_id", "text")
    val corpus = all.where(col("doc_id") < 30)
    val batch = all.where(col("doc_id") >= 30)
    val s0 = Dedup.minhashState(corpus, "doc_id", "text")
    graft.pairs.BucketedKeys.write(s0.keys, "ndk_spec", buckets = 4)
    try {
      val bucketedState = Dedup.NearDupState(
        graft.pairs.BucketedKeys.read(spark, "ndk_spec"), s0.shingles)
      val plain = pairSet(Dedup.minhashNearDupsIncrement(
        batch, "doc_id", "text", s0, threshold = 0.4).pairs)
      val bucketed = pairSet(Dedup.minhashNearDupsIncrement(
        batch, "doc_id", "text", bucketedState, threshold = 0.4).pairs)
      assert(bucketed == plain && bucketed.nonEmpty)
      // the block-cap aggregation over the bucketed corpus keys — the
      // shape the operator builds internally — needs no exchange: the
      // bucket layout IS the grouping partitioning
      val aggPlan = bucketedState.keys.groupBy("block_key")
        .agg(count(lit(1))).queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange hashpartitioning(block_key"),
        s"bucketed block-cap agg still shuffles:\n$aggPlan")
    } finally spark.sql("DROP TABLE IF EXISTS ndk_spec")
  }
}

/** Plan traversal that descends into adaptive query stages. */
private object AdaptivePlans extends AdaptiveSparkPlanHelper
