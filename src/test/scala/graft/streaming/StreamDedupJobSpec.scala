package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.checkpoint.VersionedState
import graft.dedup.Dedup
import graft.gen.DocGen

/** The streaming dedup entry: durable append-delta near-dup state,
  * replayed-batch idempotence, per-batch O(batch) write amplification,
  * compaction, the duplicate-id ingest guard, and the maintained-corpus
  * property — the union of delta pair tables equals the full-batch
  * recompute over everything ingested.
  */
class StreamDedupJobSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  private def mkDocs(ids: Range): DataFrame = ids.map { i =>
    val base = (i % 3) match {
      case 0 => "the quick brown fox jumps over the lazy dog near the river bank today"
      case 1 => "entity resolution at web scale needs blocking scoring and clustering stages"
      case _ => "training data pipelines deduplicate documents with minhash band signatures"
    }
    val toks = base.split(" ")
    (i.toLong, toks.updated(i % toks.length, s"tok$i").mkString(" "))
  }.toDF("doc_id", "text")

  private def statePairs(stateRoot: String): Set[(Long, Long)] =
    StreamDedupJob.pairsSoFar(spark, stateRoot).get
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet

  test("two streamed batches: cumulative pairs == full-batch recompute over the union") {
    val in = tmp("sdj-in"); val state = tmp("sdj-state"); val ckpt = tmp("sdj-ckpt")
    mkDocs(0 until 25).coalesce(1).write.mode("append").parquet(in)
    mkDocs(25 until 40).coalesce(1).write.mode("append").parquet(in)

    val q = StreamDedupJob.start(spark, Map(
      "input" -> in, "state" -> state, "checkpoint" -> ckpt,
      "threshold" -> "0.4", "max-files-per-trigger" -> "1"))
    q.awaitTermination()

    // maxFilesPerTrigger=1 must actually split the corpus into multiple
    // batches, or the incremental path never executed
    val deltas = VersionedState.stateView(spark, state).deltaIds
    assert(deltas.size >= 2, s"expected >=2 committed deltas, got $deltas")

    val full = Dedup.minhashNearDups(mkDocs(0 until 40), "doc_id", "text",
      threshold = 0.4)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    val streamed = statePairs(state)
    assert(streamed == full && streamed.nonEmpty)
    // cross-batch pairs must be present (proves the increment join
    // against the persisted corpus state did the work)
    assert(streamed.exists { case (a, b) => a < 25 && b >= 25 })

    // write amplification: each delta holds ONLY its batch's state rows
    // — the second delta's key table must not contain batch-0 docs
    val d1 = spark.read.parquet(s"$state/d=${deltas.last}/keys")
      .select("doc_id").as[Long].collect().toSet
    assert(d1.nonEmpty && d1.forall(_ >= 25),
      s"delta ${deltas.last} must carry only its own batch's keys, got ids ${d1.take(5)}")
  }

  test("replayed batchId is a no-op; state survives byte-identical") {
    val state = tmp("sdj-replay")
    StreamDedupJob.attachBatch(spark, state, mkDocs(0 until 10), batchId = 0L,
      threshold = 0.4)
    StreamDedupJob.attachBatch(spark, state, mkDocs(10 until 20), batchId = 1L,
      threshold = 0.4)
    val before = statePairs(state)
    // replay batch 1 with DIFFERENT content — must be skipped entirely
    StreamDedupJob.attachBatch(spark, state, mkDocs(30 until 35), batchId = 1L,
      threshold = 0.4)
    assert(statePairs(state) == before)
    assert(VersionedState.stateView(spark, state).highWater == 1L)
  }

  test("compaction folds deltas into a base; covered deltas GC'd after one grace cycle") {
    val state = tmp("sdj-compact")
    StreamDedupJob.attachBatch(spark, state, mkDocs(0 until 10), batchId = 0L,
      threshold = 0.4, compactEvery = 0)
    StreamDedupJob.attachBatch(spark, state, mkDocs(10 until 20), batchId = 1L,
      threshold = 0.4, compactEvery = 0)
    val before = statePairs(state)
    // third batch trips compactEvery=3: base=2 covers d=0,1,2 — which
    // survive THIS commit (grace window for concurrent readers) but are
    // already invisible to new listings
    StreamDedupJob.attachBatch(spark, state, mkDocs(20 until 30), batchId = 2L,
      threshold = 0.4, compactEvery = 3)
    assert(VersionedState.stateView(spark, state).baseId == 2L)
    assert(VersionedState.stateView(spark, state).liveDeltaIds.isEmpty,
      "covered deltas must not be in the live view")
    assert(VersionedState.stateView(spark, state).deltaIds == Seq(0L, 1L, 2L),
      "covered deltas get one grace cycle before GC")
    assert(statePairs(state).size > before.size, "batch 2's pairs must be present")
    // the compacted state must keep working as the corpus for the next
    // increment, full-recompute-exact as ever
    StreamDedupJob.attachBatch(spark, state, mkDocs(30 until 40), batchId = 3L,
      threshold = 0.4, compactEvery = 0)
    val full = Dedup.minhashNearDups(mkDocs(0 until 40), "doc_id", "text",
      threshold = 0.4)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    assert(statePairs(state) == full)
    // a SECOND compaction (base=4) ends the grace window: deltas at or
    // below the previous base (d=0,1,2) are deleted; d=3,4 get theirs
    StreamDedupJob.attachBatch(spark, state, mkDocs(40 until 50), batchId = 4L,
      threshold = 0.4, compactEvery = 2)
    assert(VersionedState.stateView(spark, state).baseId == 4L)
    assert(VersionedState.stateView(spark, state).deltaIds == Seq(3L, 4L),
      "previous cycle's covered deltas must be GC'd by the next base commit")
    val full50 = Dedup.minhashNearDups(mkDocs(0 until 50), "doc_id", "text",
      threshold = 0.4)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    assert(statePairs(state) == full50)
  }

  test("a committed delta the base covers is invisible to readers (grace retention)") {
    val state = tmp("sdj-crashwin")
    StreamDedupJob.attachBatch(spark, state, mkDocs(0 until 10), batchId = 0L,
      threshold = 0.4, compactEvery = 1) // compacts immediately: base=0
    // the covered d=0 survives the commit (grace window) — prove readers
    // never consult it by REPLACING its content with garbage
    assert(VersionedState.stateView(spark, state).deltaIds == Seq(0L))
    val view = statePairs(state)
    val garbage = mkDocs(100 until 105)
    val minhash = Dedup.minhashFamily(threshold = 0.4)
    graft.pairs.SimJoin.state(minhash, minhash.docs(garbage)).keys
      .write.mode("overwrite").parquet(s"$state/d=0/keys")
    spark.emptyDataset[(Long, Long, Double)]
      .toDF("doc_id_a", "doc_id_b", "jaccard")
      .write.mode("overwrite").parquet(s"$state/d=0/pairs")
    assert(statePairs(state) == view,
      "a delta at-or-below the latest base must be invisible")
    assert(StreamDedupJob.readStateTable(spark, state, "keys").get
      .where($"doc_id" >= 100).count() == 0)
  }

  test("duplicate doc_id: fail aborts the batch; drop keeps the first version") {
    val state = tmp("sdj-dup")
    StreamDedupJob.attachBatch(spark, state, mkDocs(0 until 10), batchId = 0L,
      threshold = 0.4)
    // batch 1 re-delivers ids 5-9 -> default policy aborts
    val e = intercept[IllegalStateException] {
      StreamDedupJob.attachBatch(spark, state, mkDocs(5 until 15), batchId = 1L,
        threshold = 0.4)
    }
    assert(e.getMessage.contains("re-delivers 5 doc_id"))
    assert(VersionedState.stateView(spark, state).highWater == 0L,
      "failed batch must not commit")
    // drop mode: first-write-wins — only the genuinely new ids 10-14 enter
    StreamDedupJob.attachBatch(spark, state, mkDocs(5 until 15), batchId = 1L,
      threshold = 0.4, onDuplicate = "drop")
    val ids = StreamDedupJob.readStateTable(spark, state, "keys").get
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(ids == (0L until 15L).toSet)
    // state must equal a clean ingest of 0..15 (no doubled shingle rows)
    val full = Dedup.minhashNearDups(mkDocs(0 until 15), "doc_id", "text",
      threshold = 0.4)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    assert(statePairs(state) == full)
  }

  test("a KEYLESS (null/empty-text) doc id is still guarded across batches") {
    // a null-text doc enters no key/shingle state — the guard's corpus
    // side is the persisted ids ledger, not the key table, so its
    // cross-batch re-delivery is flagged rather than slipping through
    val state = tmp("sdj-keyless")
    val b0 = mkDocs(0 until 5)
      .unionByName(Seq((100L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    StreamDedupJob.attachBatch(spark, state, b0, batchId = 0L, threshold = 0.4)
    assert(!StreamDedupJob.readStateTable(spark, state, "keys").get
      .select("doc_id").as[Long].collect().contains(100L),
      "keyless doc must not enter content state")
    assert(spark.read.parquet(s"$state/d=0/ids")
      .as[Long].collect().toSet == (0L until 5L).toSet + 100L,
      "the ids ledger must record every delivered id, keyed or not")
    val e = intercept[IllegalStateException] {
      StreamDedupJob.attachBatch(spark, state,
        mkDocs(200 until 203)
          .unionByName(Seq((100L, "now it has text")).toDF("doc_id", "text")),
        batchId = 1L, threshold = 0.4)
    }
    assert(e.getMessage.contains("re-delivers 1 doc_id"))
    // drop mode: first-write-wins — the re-delivered content never lands
    StreamDedupJob.attachBatch(spark, state,
      mkDocs(200 until 203)
        .unionByName(Seq((100L, "now it has text")).toDF("doc_id", "text")),
      batchId = 1L, threshold = 0.4, onDuplicate = "drop")
    assert(!StreamDedupJob.readStateTable(spark, state, "keys").get
      .select("doc_id").as[Long].collect().contains(100L))
  }

  test("pre-ids-ledger state units fall back to their keys table; compaction closes the gap") {
    val state = tmp("sdj-noids")
    StreamDedupJob.attachBatch(spark, state, mkDocs(0 until 10), batchId = 0L,
      threshold = 0.4, compactEvery = 0)
    // simulate a unit written by the pre-ledger engine
    VersionedState.fsOf(spark, state)
      .delete(new org.apache.hadoop.fs.Path(s"$state/d=0/ids"), true)
    // keyed ids are still guarded via the keys fallback
    val e = intercept[IllegalStateException] {
      StreamDedupJob.attachBatch(spark, state, mkDocs(5 until 8), batchId = 1L,
        threshold = 0.4)
    }
    assert(e.getMessage.contains("re-delivers 3 doc_id"))
    // a compaction folds the fallback into a real ids table
    StreamDedupJob.attachBatch(spark, state, mkDocs(10 until 15), batchId = 1L,
      threshold = 0.4, compactEvery = 2)
    assert(VersionedState.stateView(spark, state).baseId == 1L)
    assert(spark.read.parquet(s"$state/base=1/ids")
      .as[Long].collect().toSet == (0L until 15L).toSet)
  }

  test("streamed replay after a kill between delta write and checkpoint commit is exactly-once") {
    val in = tmp("sdj-kill-in"); val state = tmp("sdj-kill-state")
    val ckpt = tmp("sdj-kill-ckpt")
    mkDocs(0 until 25).coalesce(1).write.mode("append").parquet(in)
    mkDocs(25 until 40).coalesce(1).write.mode("append").parquet(in)
    val q = StreamDedupJob.start(spark, Map(
      "input" -> in, "state" -> state, "checkpoint" -> ckpt,
      "threshold" -> "0.4", "max-files-per-trigger" -> "1"))
    q.awaitTermination()
    val deltas = VersionedState.stateView(spark, state).deltaIds
    assert(deltas.size >= 2)
    val clean = statePairs(state)
    // rewind to the kill point: the last delta's marker and its
    // Structured Streaming commit record both gone (the kill landed
    // inside foreachBatch, before either was finalized)
    val last = deltas.last
    val fs = VersionedState.fsOf(spark, state)
    fs.delete(new org.apache.hadoop.fs.Path(s"$state/d=$last/_COMMITTED"), false)
    fs.delete(new org.apache.hadoop.fs.Path(s"$ckpt/commits/$last"), false)
    assert(statePairs(state).size < clean.size,
      "uncommitted delta must be invisible after the simulated kill")
    val q2 = StreamDedupJob.start(spark, Map(
      "input" -> in, "state" -> state, "checkpoint" -> ckpt,
      "threshold" -> "0.4", "max-files-per-trigger" -> "1"))
    q2.awaitTermination()
    assert(statePairs(state) == clean,
      "replayed batch must rebuild the identical pair state")
    // the maintained invariant holds through the crash-replay
    val full = Dedup.minhashNearDups(mkDocs(0 until 40), "doc_id", "text",
      threshold = 0.4)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    assert(statePairs(state) == full)
  }

  test("simhash mode: streamed batches == full-batch simhash recompute; algo mismatch refuses") {
    val in = tmp("sdj-sh-in"); val state = tmp("sdj-sh-state"); val ckpt = tmp("sdj-sh-ckpt")
    mkDocs(0 until 25).coalesce(1).write.mode("append").parquet(in)
    mkDocs(25 until 40).coalesce(1).write.mode("append").parquet(in)

    val q = StreamDedupJob.start(spark, Map(
      "input" -> in, "state" -> state, "checkpoint" -> ckpt,
      "algo" -> "simhash", "max-hamming" -> "12", "max-files-per-trigger" -> "1"))
    q.awaitTermination()

    val full = Dedup.simhashNearDups(mkDocs(0 until 40), "doc_id", "text",
      maxHamming = 12)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    val streamed = statePairs(state)
    assert(streamed == full && streamed.nonEmpty)
    assert(streamed.exists { case (a, b) => a < 25 && b >= 25 },
      "cross-batch simhash pairs must be present")

    // a simhash state root must refuse a minhash resume
    val e = intercept[IllegalStateException] {
      StreamDedupJob.attachBatch(spark, state, mkDocs(40 until 45), batchId = 99L,
        algo = "minhash")
    }
    assert(e.getMessage.contains("--algo simhash"))
  }

  test("per-batch job budget: a small batch attached to a committed base") {
    val state = tmp("sdj-budget")
    StreamDedupJob.attachBatch(spark, state, mkDocs(0 until 60), batchId = 0L,
      threshold = 0.4)
    StreamDedupJob.attachBatch(spark, state, mkDocs(60 until 65), batchId = 1L,
      threshold = 0.4)
    val jobs = graft.SparkJobs.count(spark)(
      StreamDedupJob.attachBatch(spark, state, mkDocs(65 until 70), batchId = 2L,
        threshold = 0.4))
    // 19 here; the corpus-wide increment it replaced ran 27
    assert(jobs <= 23, s"one micro-batch ran $jobs Spark jobs")
  }

  test("per-batch job budget (simhash mode): a small batch attached to a committed base") {
    val state = tmp("sdj-budget-sh")
    StreamDedupJob.attachBatch(spark, state, mkDocs(0 until 60), batchId = 0L,
      algo = "simhash")
    StreamDedupJob.attachBatch(spark, state, mkDocs(60 until 65), batchId = 1L,
      algo = "simhash")
    val jobs = graft.SparkJobs.count(spark)(
      StreamDedupJob.attachBatch(spark, state, mkDocs(65 until 70), batchId = 2L,
        algo = "simhash"))
    // 18 here: the minhash batch's shape, with the fingerprint read off
    // the scoped corpus keys instead of a shingle table
    assert(jobs <= 22, s"one micro-batch ran $jobs Spark jobs")
  }

  test("compile budget: a small batch after a warm-up batch compiles at most 20 classes") {
    val state = tmp("sdj-compiles")
    // a resolve batch between two dedup batches, as in a deployment that
    // runs both jobs: the dedup batch's compiled classes alone fit Spark's
    // 100-entry class cache, the two jobs' together do not
    val resolveState = tmp("sdj-compiles-resolve")
    def resolveBatch(k: Long): Unit = StreamResolveJob.attachBatch(spark, resolveState,
      DocGen.corpusDF(spark, entities = 4, docsPerEntity = 2, seed = 90L + k, partitions = 2)
        .select(concat(lit(s"r$k-"), col("doc_id")).as("doc_id"), col("spans")), batchId = k)
    StreamDedupJob.attachBatch(spark, state, mkDocs(0 until 60), batchId = 0L,
      threshold = 0.4)
    resolveBatch(0L)
    StreamDedupJob.attachBatch(spark, state, mkDocs(60 until 65), batchId = 1L,
      threshold = 0.4)
    resolveBatch(1L)
    val compiled = graft.SparkJobs.compiles(
      StreamDedupJob.attachBatch(spark, state, mkDocs(65 until 70), batchId = 2L,
        threshold = 0.4))
    assert(compiled <= 20, s"one micro-batch compiled $compiled classes")
  }

  for (algo <- Seq("minhash", "simhash"))
    test(s"interpreted and compiled batches write identical state ($algo)") {
      def run(interpreted: Boolean): String = {
        val state = tmp(s"sdj-codegen-$algo")
        BatchCodegen.forceInterpreted.withValue(Some(interpreted)) {
          Seq(0 until 20, 20 until 30, 30 until 40).zipWithIndex.foreach { case (ids, k) =>
            StreamDedupJob.attachBatch(spark, state, mkDocs(ids), batchId = k.toLong,
              threshold = 0.4, algo = algo, maxHamming = 12, compactEvery = 3)
          }
        }
        state
      }
      val (interpreted, compiled) = (run(true), run(false))
      assert(VersionedState.stateView(spark, interpreted).baseId == 2L, "batch 2 compacts")
      val dump = StreamTestKit.stateDump(spark, interpreted)
      val tables = Seq("keys", "ids", "pairs") ++ (if (algo == "minhash") Seq("shingles") else Nil)
      assert(dump.keySet == Set("d=0", "d=1", "d=2", "base=2").flatMap(u => tables.map(t => s"$u/$t")))
      assert(dump("d=2/pairs").nonEmpty, "batch 2 pairs with the corpus")
      assert(dump == StreamTestKit.stateDump(spark, compiled))
      assert(statePairs(interpreted) == statePairs(compiled))
    }

  test("lineage guard: fresh checkpoint over committed state refuses") {
    val in = tmp("sdj-lg-in"); val state = tmp("sdj-lg-state")
    mkDocs(0 until 5).coalesce(1).write.mode("append").parquet(in)
    StreamDedupJob.attachBatch(spark, state, mkDocs(0 until 5), batchId = 0L)
    val freshCkpt = tmp("sdj-lg-ckpt")
    val e = intercept[IllegalStateException] {
      StreamDedupJob.start(spark, Map(
        "input" -> in, "state" -> state, "checkpoint" -> freshCkpt))
    }
    assert(e.getMessage.contains("one lineage"))
  }
}
