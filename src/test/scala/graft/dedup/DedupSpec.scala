package graft.dedup

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.blocking.BlockingKeys

class DedupSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "entirely different content about spark engines"),
    (4L, "entirely different content about spark engines"), // exact dup of 3
    (5L, "zzz qqq xxx"),
  ).toDF("doc_id", "text")

  test("ngramJaccardPairs: full recall — matches brute-force shingle Jaccard") {
    val found = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    // brute force over all pairs
    val sh = docs.withColumn("s", BlockingKeys.shingles(col("text")))
    val l = sh.select(col("doc_id").as("a"), col("text").as("ta"), col("s").as("sa"))
    val r = sh.select(col("doc_id").as("b"), col("text").as("tb"), col("s").as("sb"))
    val inter = size(array_intersect(col("sa"), col("sb"))).cast("double")
    val brute = l.join(r, col("a") < col("b"))
      .withColumn("j", when(col("ta") === col("tb"), lit(1.0))
        .otherwise(inter / ((size(col("sa")) + size(col("sb"))).cast("double") - inter)))
      .where(col("j") >= 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(found == brute)
    assert(found.contains((1L, 2L)) && found.contains((3L, 4L)))
  }

  test("simhash banding: every hamming<=3 pair is found (pigeonhole guarantee)") {
    // 60 docs = token-level perturbations of two base sentences; the
    // 4x15-bit disjoint banding must surface EVERY pair whose 60-bit
    // fingerprints differ in <= SimHashBands-1 = 3 bits (no cap in play)
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val base1 = Seq.tabulate(12)(i => words(i % words.length))
    val base2 = words.reverse
    val texts = (0 until 30).map { i =>
      base1.updated(i % 12, words((i * 5 + 1) % 12)).mkString(" ")
    } ++ (0 until 30).map { i =>
      base2.updated((i * 7) % 12, words((i * 3 + 2) % 12)).mkString(" ")
    }
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val toks = filter(split(lower(col("text")), "\\s+"), x => length(x) > 0)
    val fps = df
      .withColumn("th1", BlockingKeys.tokenHashes(toks))
      .withColumn("th2", BlockingKeys.tokenHashes2(toks))
      .select(col("doc_id"), BlockingKeys.simhash60FromHashes(col("th1"), col("th2")))
      .as[(Long, Long)].collect().toMap
    val expected = (for {
      a <- fps.keys; b <- fps.keys if a < b
      if java.lang.Long.bitCount(fps(a) ^ fps(b)) <= 3
    } yield (a, b)).toSet
    assert(expected.nonEmpty, "fixture must contain hamming<=3 pairs")
    val found = Dedup.simhashNearDups(df, "doc_id", "text",
      maxHamming = 3, maxBlockSize = 100000)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    assert(expected.subsetOf(found),
      s"missing guaranteed pairs: ${expected.diff(found)}")
    assert(found == expected, "found pairs beyond hamming 3")
  }

  test("simhashNearDups: exact dups at hamming 0; block cap drops hot bands") {
    val found = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3)
      .select("doc_id_a", "doc_id_b", "hamming").as[(Long, Long, Int)].collect()
    val exact = found.filter(t => t._1 == 3L && t._2 == 4L)
    assert(exact.length == 1 && exact(0)._3 == 0)
    // with an absurdly small cap every band bucket >1 is dropped
    val capped = Dedup.simhashNearDups(docs, "doc_id", "text",
      maxHamming = 30, maxBlockSize = 1)
    assert(capped.count() == 0)
  }

  test("null/empty text: unknown content never reports as duplicate") {
    val withNulls = Seq(
      (1L, "same content"), (2L, "same content"),
      (3L, null.asInstanceOf[String]), (4L, null.asInstanceOf[String]),
      (5L, ""), (6L, "   ")).toDF("doc_id", "text")
    // exact: the two null-text docs are each their own keeper (md5(null)
    // is null and the window would otherwise group them as one dup set)
    val ex = Dedup.exact(withNulls, "doc_id", "text")
      .select("doc_id", "is_dup").as[(Long, Boolean)].collect().toMap
    assert(ex(2L), "real exact dup still detected")
    assert(!ex(3L) && !ex(4L), "null-text docs must not dedup against each other")
    // simhash: null/empty docs fingerprint to 0 and are excluded before
    // keying — with 3/4/5 gone, doc 6 (whitespace, also fingerprint 0)
    // has no zero-fingerprint partner left, so NO pair involves 3..6
    val sim = Dedup.simhashNearDups(withNulls, "doc_id", "text", maxHamming = 8)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    assert(sim.contains((1L, 2L)))
    assert(!sim.exists(p => p._1 >= 3L || p._2 >= 3L), s"contentless pairs: $sim")
  }

  test("simhash: TWO whitespace-only docs do not pair (tokenless, not just empty)") {
    // both pass a length()>0 check yet tokenize to nothing -> both
    // fingerprint to 0; the contentless guard must use the kernel's
    // token notion (a char outside Java \s), or these report each other
    // as hamming-0 near-dups of unknown content
    val df = Seq((1L, "  "), (2L, "\t"), (3L, "  "),
      (4L, "real text here"), (5L, "real text here")).toDF("doc_id", "text")
    val sim = Dedup.simhashNearDups(df, "doc_id", "text", maxHamming = 8)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    assert(sim == Set((4L, 5L)), s"got $sim")
  }

  test("verify-payload cap: huge docs verify via the bottom-k sketch, within its error bound") {
    // two ~30k-char docs sharing ~80% of their text: uncapped shingle
    // sets would put ~30k longs on each side of every candidate pair.
    // With the cap, state carries at most maxShingles longs per doc and
    // the pair verifies with the bottom-k estimator — whose answer must
    // sit within a few sigma (sqrt(J(1-J)/K)) of the exact Jaccard.
    val rng = new scala.util.Random(7)
    def words(n: Int) =
      Seq.fill(n)((0 until 6).map(_ => ('a' + rng.nextInt(26)).toChar).mkString)
    val shared = words(4000).mkString(" ")
    val docA = shared + " " + words(500).mkString(" ")
    val docB = shared + " " + words(500).mkString(" ")
    val big = Seq((1L, docA), (2L, docB),
      (3L, "tiny unrelated doc"), (4L, "tiny unrelated doc")).toDF("doc_id", "text")

    // exact J from effectively-uncapped sets
    val exact = Dedup.minhashNearDups(big, "doc_id", "text", threshold = 0.5,
      maxShingles = 1 << 20)
      .where(col("doc_id_a") === 1L && col("doc_id_b") === 2L)
      .select("jaccard").as[Double].collect().head

    val k = 2048
    val capped = Dedup.minhashNearDups(big, "doc_id", "text", threshold = 0.5,
      maxShingles = k)
    // state payload really is capped, and the true count stays visible
    val fam = Dedup.minhashFamily(threshold = 0.5, maxShingles = k)
    val sketchSizes = graft.pairs.SimJoin.state(fam, fam.docs(big))
      .payload.select(size(col("__s")).as("sz"), col("__n"))
      .where(col("__n") > k).as[(Int, Int)].collect()
    assert(sketchSizes.nonEmpty && sketchSizes.forall(_._1 == k),
      s"capped docs must store exactly k hashes; got ${sketchSizes.toSeq}")
    val est = capped.where(col("doc_id_a") === 1L && col("doc_id_b") === 2L)
      .select("jaccard").as[Double].collect().head
    val sigma = math.sqrt(exact * (1 - exact) / k)
    assert(math.abs(est - exact) <= 5 * sigma,
      s"bottom-k estimate $est vs exact $exact (5 sigma = ${5 * sigma})")
    // small docs keep the exact path: their pair scores 1.0 exactly
    val smallPair = capped
      .where(col("doc_id_a") === 3L && col("doc_id_b") === 4L)
      .select("jaccard").as[Double].collect()
    assert(smallPair.sameElements(Array(1.0)))
  }

  test("sorted-merge intersect kernel == array_intersect on random long sets") {
    // property parity for the verify hot path's native kernel
    // (SortedLongIntersectCountExpr): |A ∩ B| via the sorted merge scan
    // must equal size(array_intersect) for any pair of SETS, including
    // empty and disjoint ones — and the derived exact Jaccard must be
    // bit-identical to the formulation it replaced.
    val rnd = new scala.util.Random(42)
    val rows = (1 to 200).map { i =>
      val n = rnd.nextInt(50)
      val m = rnd.nextInt(50)
      // overlapping universes so intersections are non-trivial
      val a = Seq.fill(n)(rnd.nextInt(60).toLong).distinct
      val b = Seq.fill(m)(rnd.nextInt(60).toLong).distinct
      (i.toLong, a, b)
    }
    val df = rows.toDF("id", "a", "b")
      .select(col("id"), array_sort(col("a")).as("sa"), array_sort(col("b")).as("sb"))
    import org.apache.spark.sql.graftbridge.Bridge
    val kernel = Bridge.column(SortedLongIntersectCountExpr(
      Bridge.expression(col("sa")), Bridge.expression(col("sb"))))
    val mismatch = df
      .withColumn("k", kernel)
      .withColumn("ref", size(array_intersect(col("sa"), col("sb"))))
      .where(col("k") =!= col("ref"))
      .count()
    assert(mismatch == 0L)
    // null propagation parity: either side null -> null, like
    // size(array_intersect) (size with legacy=false yields null on null)
    val nulls = Seq((1L, Some(Seq(1L, 2L)), Option.empty[Seq[Long]]),
      (2L, Option.empty[Seq[Long]], Some(Seq(1L))),
      (3L, Option.empty[Seq[Long]], Option.empty[Seq[Long]]))
      .toDF("id", "sa", "sb")
    val kNulls = nulls.select(Bridge.column(SortedLongIntersectCountExpr(
      Bridge.expression(col("sa")), Bridge.expression(col("sb")))).as("k"))
      .where(col("k").isNotNull).count()
    assert(kNulls == 0L)
  }

  test("near-dup verify plan: jaccard is NOT a join-residual predicate") {
    // the EvalOnce fence must keep the expensive jaccard CASE out of the
    // verify join's condition (where it would be evaluated once per
    // joined row and AGAIN in the projection) — a plan regression here
    // silently doubles the verify stage's CPU at any scale
    val plan = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
      .queryExecution.optimizedPlan
    val joinsWithScore = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.exists(_.exists {
            case e: SortedLongIntersectCountExpr => true
            case _ => false
          }) => j
    }
    assert(joinsWithScore.isEmpty,
      "jaccard kernel leaked into a join condition — EvalOnce fence broken")
  }
}
