package graft.dedup

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BitwiseCount, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, REPARTITION_BY_NUM,
  ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.SparkTestSession
import graft.ann.{Ann, CosineSimExpr}
import graft.pairs.SimJoin
import graft.pipeline.IncrementalResolve
import graft.sim.SimKernelExpression

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

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("doc_id_a"), col("doc_id_b"), round(col("jaccard"), 9).as("j"))
      .as[(Long, Long, Double)].collect().toSet

  private def hamSet(df: DataFrame): Set[(Long, Long, Int)] =
    df.select(col("doc_id_a"), col("doc_id_b"), col("hamming").cast("int"))
      .as[(Long, Long, Int)].collect().toSet

  /** Any family's pairs: (id a, id b, score rounded). */
  private def scoreSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col(df.columns(0)), col(df.columns(1)), round(col(df.columns(2)).cast("double"), 9))
      .as[(Long, Long, Double)].collect().toSet

  private def stateOf(f: SimJoin.Family, df: DataFrame): SimJoin.State =
    SimJoin.state(f, f.docs(df))

  /** The increment of `batch` against `corpus`, the batch side
    * materialized once as the streaming job does.
    */
  private def increment(f: SimJoin.Family, batch: DataFrame, corpus: SimJoin.State,
                        maxBlockSize: Int = 10000): SimJoin.Increment =
    SimJoin.increment(f, SimJoin.state(f, Bridge.checkpoint(f.docs(batch))), corpus, maxBlockSize)

  private val minhash = Dedup.minhashFamily(threshold = 0.4)

  test("increment == full recompute restricted to pairs touching the batch") {
    val all = mkDocs(0 until 40).toDF("doc_id", "text")
    val corpus = all.where(col("doc_id") < 30)
    val batch = all.where(col("doc_id") >= 30)

    val full = pairSet(Dedup.minhashNearDups(all, "doc_id", "text", threshold = 0.4))
    val fullTouchingBatch = full.filter { case (a, b, _) => a >= 30 || b >= 30 }
    assert(fullTouchingBatch.nonEmpty, "fixture must produce cross-boundary near-dups")

    val inc = increment(minhash, batch, stateOf(minhash, corpus))
    assert(pairSet(inc.pairs) == fullTouchingBatch)
  }

  test("block cap under scoping: the scoped increment == full recompute over the unscoped corpus") {
    // per family, the batch touches one corpus block of five identical
    // docs and one of two identical others (identical docs share every
    // block key). With cap 4 the first block trips the cap and pairs
    // nothing; with the default cap no block trips.
    val (a, b) = ("the quick brown fox jumps over the lazy dog near the river bank today",
      "entity resolution at web scale needs blocking scoring and clustering stages")
    val texts = (0 until 5).map(i => (i.toLong, a)) ++ Seq((10L, b), (11L, b),
      (20L, "training data pipelines deduplicate documents with minhash band signatures"))
    val (va, vb) = (Array(1f, 1f, 1f, 1f, 1f, 0f, 0f, 0f), Array(1f, -1f, 1f, -1f, 0f, 1f, 0f, 1f))
    val vecs = (0 until 5).map(i => (i.toLong, va)) ++ Seq((10L, vb), (11L, vb),
      (20L, Array(-1f, 1f, -1f, 1f, 1f, 1f, 0f, 0f)))
    val textCorpus = texts.toDF("doc_id", "text")
    val textBatch = Seq((100L, a), (101L, b)).toDF("doc_id", "text")
    val vecCorpus = vecs.toDF("doc_id", "emb")
    val vecBatch = Seq((100L, va), (101L, vb)).toDF("doc_id", "emb")
    val cases: Seq[(String, SimJoin.Family, DataFrame, DataFrame, Int => DataFrame)] = Seq(
      ("minhash", minhash, textCorpus, textBatch, cap =>
        Dedup.minhashNearDups(textCorpus.unionByName(textBatch), "doc_id", "text",
          threshold = 0.4, maxBlockSize = cap)),
      ("simhash", Dedup.simhashFamily(maxHamming = 3), textCorpus, textBatch, cap =>
        Dedup.simhashNearDups(textCorpus.unionByName(textBatch), "doc_id", "text",
          maxBlockSize = cap)),
      ("cosine", Ann.cosineFamily(0.8, idCol = "doc_id", embCol = "emb"), vecCorpus, vecBatch,
        cap => Ann.cosineNearDups(vecCorpus.unionByName(vecBatch), 0.8, idCol = "doc_id",
          embCol = "emb", maxBlockSize = cap)))
    for ((name, fam, corpus, batch, fullAt) <- cases; cap <- Seq(4, 10000)) {
      val full = scoreSet(fullAt(cap)).filter { case (x, y, _) => x >= 100 || y >= 100 }
      val inc = scoreSet(increment(fam, batch, stateOf(fam, corpus), cap).pairs)
      assert(inc == full, s"$name at cap $cap")
      val touched = Set((10L, 101L), (11L, 101L)) ++
        (if (cap == 4) Nil else (0L until 5L).map(i => (i, 100L)))
      assert(full.map { case (x, y, _) => (x, y) } == touched, s"$name at cap $cap")
    }
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
      val inc = increment(minhash, batch, stateOf(minhash, corpus))
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
    val s0 = stateOf(minhash, c0)
    val inc1 = increment(minhash, b1, s0)
    // absorb batch1: append its state, then batch2 must pair against BOTH
    val s1 = SimJoin.State(
      s0.keys.unionByName(inc1.state.keys),
      s0.payload.unionByName(inc1.state.payload))
    val inc2 = increment(minhash, b2, s1)

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

    val full = hamSet(Dedup.simhashNearDups(all, "doc_id", "text", maxHamming = 12))
    val fullTouchingBatch = full.filter { case (a, b, _) => a >= 30 || b >= 30 }
    assert(fullTouchingBatch.nonEmpty, "fixture must produce cross-boundary simhash pairs")

    val simhash = Dedup.simhashFamily(maxHamming = 12)
    val inc = increment(simhash, batch, stateOf(simhash, corpus))
    assert(hamSet(inc.pairs) == fullTouchingBatch)
    assert(hamSet(inc.pairs).exists { case (a, b, _) => a < 30 && b >= 30 },
      "must include batch-vs-corpus pairs")
  }

  test("chained simhash increments over appended key state reconstruct the full answer") {
    val all = mkDocs(0 until 50).toDF("doc_id", "text")
    val c0 = all.where(col("doc_id") < 30)
    val b1 = all.where(col("doc_id") >= 30 && col("doc_id") < 40)
    val b2 = all.where(col("doc_id") >= 40)
    val simhash = Dedup.simhashFamily(maxHamming = 12)

    val base = hamSet(Dedup.simhashNearDups(c0, "doc_id", "text", maxHamming = 12))
    val s0 = stateOf(simhash, c0)
    val inc1 = increment(simhash, b1, s0)
    // a simhash state persists its key table alone: absorb batch1 there
    // and read the fingerprints back off the keys
    val s1 = SimJoin.fromKeys(simhash, s0.keys.unionByName(inc1.state.keys))
    val inc2 = increment(simhash, b2, s1)

    val full = hamSet(Dedup.simhashNearDups(all, "doc_id", "text", maxHamming = 12))
    assert(base ++ hamSet(inc1.pairs) ++ hamSet(inc2.pairs) == full)
    assert(hamSet(inc2.pairs).exists { case (a, b, _) => a >= 30 && a < 40 && b >= 40 },
      "batch1's appended keys must feed batch2's increment")
  }

  test("bucketed corpus state: same pairs, corpus side exchange-free") {
    val all = mkDocs(0 until 40).toDF("doc_id", "text")
    val corpus = all.where(col("doc_id") < 30)
    val batch = all.where(col("doc_id") >= 30)
    val s0 = stateOf(minhash, corpus)
    graft.pairs.BucketedKeys.write(s0.keys, "ndk_spec", buckets = 4)
    try {
      val bucketedState = SimJoin.State(
        graft.pairs.BucketedKeys.read(spark, "ndk_spec"), s0.payload)
      val plain = pairSet(increment(minhash, batch, s0).pairs)
      val bucketed = pairSet(increment(minhash, batch, bucketedState).pairs)
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

  test("verify pin: a broadcast-sized pair table is not repartitioned; shuffled pairs are") {
    val all = mkDocs(0 until 40).toDF("doc_id", "text")
    val corpus = stateOf(minhash, all.where(col("doc_id") < 30))
    val batch = all.where(col("doc_id") >= 30)
    def pins(pairs: DataFrame) = {
      pairs.collect()
      AdaptivePlans.collect(pairs.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
      }
    }
    val small = increment(minhash, batch, corpus).pairs
    assert(pins(small).isEmpty,
      s"small-batch verify pins its pairs:\n${small.queryExecution.executedPlan}")
    // with broadcasts off the pairs are shuffled into the verify join,
    // and the pin keeps AQE from coalescing the scoring to one task
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, -1L)
    try {
      val shuffled = increment(minhash, batch, corpus).pairs
      assert(pins(shuffled).nonEmpty,
        s"shuffled pairs lost their pin:\n${shuffled.queryExecution.executedPlan}")
      assert(pairSet(shuffled) == pairSet(small))
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("every family's score is computed once, never as a join-residual predicate") {
    val all = mkDocs(0 until 40).toDF("doc_id", "text")
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array(1f, (i % 3).toFloat - 1f, 1f, 1f, 0.1f * i))).toDF("doc_id", "emb")
    val names = all.select(col("doc_id"),
      substring_index(col("text"), " ", 3).as("normalized"))
    def scoreKernel(e: Expression): Boolean = e.exists {
      case _: SortedLongIntersectCountExpr | _: BitwiseCount | _: CosineSimExpr |
           _: SimKernelExpression => true
      case _ => false
    }
    val cases = Seq(
      ("minhash", minhash, all),
      ("simhash", Dedup.simhashFamily(maxHamming = 12), all),
      ("cosine", Ann.cosineFamily(0.8, idCol = "doc_id", embCol = "emb"), vecs),
      ("cosine, two bands", Ann.cosineFamily(0.8, bands = 2, idCol = "doc_id", embCol = "emb"),
        vecs),
      ("name", IncrementalResolve.nameFamily(threshold = 0.5), names))
    for ((name, fam, df) <- cases) {
      val plans = Seq(
        "full" -> SimJoin.pairs(fam, df, 10000),
        "increment" -> increment(fam, df.where(col("doc_id") >= 30),
          stateOf(fam, df.where(col("doc_id") < 30))).pairs)
      for ((mode, pairs) <- plans) {
        val plan = pairs.queryExecution.optimizedPlan
        assert(plan.collect { case j: Join if j.condition.exists(scoreKernel) => j }.isEmpty,
          s"$name $mode: score kernel in a join condition:\n$plan")
        assert(plan.exists(_.expressions.exists(scoreKernel)),
          s"$name $mode: score kernel missing from the plan")
      }
    }
  }
}

/** Plan traversal that descends into adaptive query stages. */
private object AdaptivePlans extends AdaptiveSparkPlanHelper
