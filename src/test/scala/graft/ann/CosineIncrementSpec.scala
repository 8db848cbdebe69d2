package graft.ann

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.SparkTestSession
import graft.pairs.SimJoin

/** Incremental embedding-cosine near-dup: the increment must equal the
  * full-batch recompute restricted to pairs touching the batch, and
  * chained increments over appended state must reconstruct the full
  * answer — the maintained-corpus property q70/q71 prove for the text
  * families, here for the embedding family (corpus vectors hashed once
  * at ingest, never re-bucketed).
  */
class CosineIncrementSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // Three well-separated direction groups; dims >= 4 perturbed per id so
  // in-group cosines stay high while the first-4-dim sign bucket (the
  // LSH key) is stable per group. Ids 0-29 corpus, 30-39 batch1,
  // 40-49 batch2 — near-dups cross every boundary because groups are
  // assigned round-robin.
  private def mkVecs(ids: Range): Seq[(Long, Array[Float])] = ids.map { i =>
    val base = (i % 3) match {
      case 0 => Array(1f, 1f, 1f, 1f, 1f, 0f, 0f, 0f)
      case 1 => Array(1f, -1f, 1f, -1f, 0f, 1f, 0f, 1f)
      case _ => Array(-1f, 1f, -1f, 1f, 1f, 1f, 0f, 0f)
    }
    val v = base.clone()
    v(4 + i % 4) += 0.05f * (i % 7)
    (i.toLong, v)
  }

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("id_a"), col("id_b"), round(col("cosine"), 9).as("c"))
      .as[(Long, Long, Double)].collect().toSet

  private def stateOf(f: SimJoin.Family, df: DataFrame): SimJoin.State =
    SimJoin.state(f, f.docs(df))

  /** The increment of `batch` (materialized once) against `corpus`. */
  private def increment(f: SimJoin.Family, batch: DataFrame,
                        corpus: SimJoin.State): SimJoin.Increment =
    SimJoin.increment(f, SimJoin.state(f, Bridge.checkpoint(f.docs(batch))), corpus, 1000000)

  private val cosine = Ann.cosineFamily(threshold = 0.8, bits = 4)

  test("cosine increment == full recompute restricted to pairs touching the batch") {
    val all = mkVecs(0 until 40).toDF("vec_id", "embedding")
    val corpus = all.where(col("vec_id") < 30)
    val batch = all.where(col("vec_id") >= 30)

    val full = pairSet(Ann.cosineNearDups(all, threshold = 0.8, bits = 4))
    val fullTouchingBatch = full.filter { case (a, b, _) => a >= 30 || b >= 30 }
    assert(fullTouchingBatch.nonEmpty, "fixture must produce cross-boundary near-dups")

    val inc = increment(cosine, batch, stateOf(cosine, corpus))
    assert(pairSet(inc.pairs) == fullTouchingBatch)
    assert(pairSet(inc.pairs).exists { case (a, b, _) => a < 30 && b >= 30 },
      "must include batch-vs-corpus pairs")
  }

  test("chained cosine increments over appended state reconstruct the full answer") {
    val all = mkVecs(0 until 50).toDF("vec_id", "embedding")
    val c0 = all.where(col("vec_id") < 30)
    val b1 = all.where(col("vec_id") >= 30 && col("vec_id") < 40)
    val b2 = all.where(col("vec_id") >= 40)

    val base = pairSet(Ann.cosineNearDups(c0, threshold = 0.8, bits = 4))
    val s0 = stateOf(cosine, c0)
    val inc1 = increment(cosine, b1, s0)
    // absorb batch1: append its state, then batch2 must pair against BOTH
    val s1 = SimJoin.State(
      s0.keys.unionByName(inc1.state.keys),
      s0.payload.unionByName(inc1.state.payload))
    val inc2 = increment(cosine, b2, s1)

    val full = pairSet(Ann.cosineNearDups(all, threshold = 0.8, bits = 4))
    assert(base ++ pairSet(inc1.pairs) ++ pairSet(inc2.pairs) == full)
    assert(pairSet(inc2.pairs).exists { case (a, b, _) => a >= 30 && a < 40 && b >= 40 },
      "batch1's appended state must feed batch2's increment")
  }

  test("multi-band state: a pair colliding only in a later band is still found") {
    // two vectors sharing signs on dims 5-8 but NOT on dims 1-4: invisible
    // to band 0, caught by band 1 — increments must honor every band
    val a = Array(1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f)
    val b = Array(-1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f) // differs in dim 1 sign
    val corpus = Seq((0L, a)).toDF("vec_id", "embedding")
    val batch = Seq((1L, b)).toDF("vec_id", "embedding")
    val thr = 0.5 // cos(a,b) = 6/8 = 0.75
    val oneBand = Ann.cosineFamily(thr, bits = 4, bands = 1)
    val one = increment(oneBand, batch, stateOf(oneBand, corpus))
    assert(pairSet(one.pairs).isEmpty, "band 0 alone must miss the sign-flipped pair")
    val twoBands = Ann.cosineFamily(thr, bits = 4, bands = 2)
    val two = increment(twoBands, batch, stateOf(twoBands, corpus))
    assert(pairSet(two.pairs).map(p => (p._1, p._2)) == Set((0L, 1L)))
  }

  test("the increment aggregates corpus keys only behind the semi-join on the batch's blocks") {
    // the block-cap count and the pair distinct must see only the corpus
    // blocks the batch shares, never the whole corpus key table
    val all = mkVecs(0 until 40).toDF("vec_id", "embedding")
    val corpus = stateOf(cosine, Bridge.checkpoint(all.where(col("vec_id") < 30)))
    val batch = SimJoin.state(cosine,
      Bridge.checkpoint(cosine.docs(all.where(col("vec_id") >= 30))))
    val corpusRdds = corpus.keys.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd }
    val plan = SimJoin.candidates(batch, corpus, 1000000).queryExecution.optimizedPlan
    val readsCorpus = plan.collect {
      case a: Aggregate if a.exists {
        case r: LogicalRDD => corpusRdds.contains(r.rdd)
        case _ => false
      } => a
    }
    assert(readsCorpus.nonEmpty, s"no aggregate over the corpus keys:\n$plan")
    readsCorpus.foreach { a =>
      assert(a.exists { case j: Join => j.joinType == LeftSemi; case _ => false },
        s"corpus keys aggregated without the semi-join on the batch's blocks:\n$a")
    }
  }
}
