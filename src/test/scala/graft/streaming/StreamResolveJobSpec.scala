package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.checkpoint.VersionedState
import graft.functions.Er
import graft.gen.DocGen
import graft.norm.Normalizer
import graft.pipeline.IncrementalResolve

/** Schema-bearing span fixture for hand-built docs (file scope so the
  * encoder needs no outer reference).
  */
case class SrjSpan(kind: String, text: String, media_ref: String, offset: Int)
case class SrjDoc(doc_id: String, spans: Seq[SrjSpan])

/** The streaming production entry: durable append-delta state with
  * merge-on-read cluster reconstruction, replayed-batch idempotence,
  * O(changed) delta contents, compaction, legacy-snapshot migration, and
  * multi-batch equivalence with a single-shot increment over the corpus.
  */
class StreamResolveJobSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  /** DocGen ids are seed-independent ("doc-%09d") — prefix per batch so
    * two batches never collide on doc_id.
    */
  private def corpus(n: Int, seed: Long): DataFrame =
    DocGen.corpusDF(spark, entities = n, docsPerEntity = 2, seed = seed,
      partitions = 2)
      .select(concat(lit(s"s$seed-"), col("doc_id")).as("doc_id"), col("spans"))

  private def nameDoc(id: String, name: String): SrjDoc =
    SrjDoc(id, Seq(SrjSpan("text", name, null, 0)))

  private def docsDF(docs: SrjDoc*): DataFrame = {
    import spark.implicits._
    docs.toDF()
  }

  private def stateClusters(stateRoot: String): Array[(String, String)] =
    StreamResolveJob.currentClusters(spark, stateRoot).get
      .collect().map(r => (r.getString(0), r.getString(1))).sorted

  test("two streamed batches == one-shot increment over the union (exact state)") {
    val in = tmp("sjob-in")
    val state = tmp("sjob-state")
    val ckpt = tmp("sjob-ckpt")
    val b1 = corpus(40, seed = 1L)
    val b2 = corpus(40, seed = 2L)
    b1.coalesce(1).write.mode("append").parquet(in)
    b2.coalesce(1).write.mode("append").parquet(in)

    val q = StreamResolveJob.start(spark, Map(
      "input" -> in, "state" -> state, "checkpoint" -> ckpt,
      "max-files-per-trigger" -> "1"))
    q.awaitTermination()

    // maxFilesPerTrigger=1 must actually split the corpus into multiple
    // batches, or the incremental path this test exists to cover never
    // executed
    val deltas = VersionedState.stateView(spark, state).deltaIds
    assert(deltas.size == 2, s"expected 2 committed deltas, got $deltas")

    // expected: the SAME increment body applied to the whole corpus in one
    // shot (empty existing state) — multi-batch maintenance must land on
    // the identical clustering
    Er.register(spark)
    val all = b1.unionByName(b2)
    val names = all
      .withColumn("name", Er.docName(col("spans")))
      .where(Er.rejectReason(col("name")).isNull)
      .withColumn("normalized", Normalizer.normalizeColumn(col("name")))
      .where(col("normalized") =!= "").select("doc_id", "normalized")
    val empty = all.select(col("doc_id"), col("doc_id").as("cluster_id")).limit(0)
    val expected = IncrementalResolve.resolveNames(spark,
      IncrementalResolve.Existing(empty), IncrementalResolve.namesState(names.limit(0)),
      IncrementalResolve.namesState(names))
      .assignments.collect().map(r => (r.getString(0), r.getString(1))).sorted

    assert(stateClusters(state).sameElements(expected))

    // symmetric lineage guard: this checkpoint has recorded progress, so
    // pairing it with an empty state root must refuse (the source would
    // skip every recorded file)
    assertThrows[IllegalStateException](StreamResolveJob.start(spark, Map(
      "input" -> in, "state" -> tmp("sjob-state-lost"), "checkpoint" -> ckpt)))
  }

  test("delta holds ONLY changed rows: new docs + members of relabeled clusters") {
    val state = tmp("sjob-mor")
    // batch 0: two "acme corporation" docs cluster under min id b0-a;
    // b0-u is an untouched singleton
    StreamResolveJob.attachBatch(spark, state, docsDF(
      nameDoc("b0-a", "acme corporation"),
      nameDoc("b0-b", "acme corporation"),
      nameDoc("b0-u", "zebra xylophone consultants")), batchId = 0L)
    // batch 1: a0-z matches acme and its id sorts BELOW b0-a, so the old
    // cluster is relabeled to a0-z — its members must ride the delta
    StreamResolveJob.attachBatch(spark, state, docsDF(
      nameDoc("a0-z", "acme corporation")), batchId = 1L)

    val d1 = spark.read.parquet(s"$state/d=1/clusters")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(d1 == Set(("a0-z", "a0-z"), ("b0-a", "a0-z"), ("b0-b", "a0-z")),
      s"delta must carry the new doc + the relabeled members, nothing else; got $d1")

    val now = stateClusters(state).toSet
    assert(now == Set(("a0-z", "a0-z"), ("b0-a", "a0-z"), ("b0-b", "a0-z"),
      ("b0-u", "b0-u")))

    // batch 2 trips compactEvery=3: the merged view folds into base=2 and
    // reads identically afterwards (covered deltas linger one grace
    // cycle but are out of the live view)
    StreamResolveJob.attachBatch(spark, state, docsDF(
      nameDoc("c0-n", "northwind traders")), batchId = 2L, compactEvery = 3)
    assert(VersionedState.stateView(spark, state).baseId == 2L)
    assert(VersionedState.stateView(spark, state).liveDeltaIds.isEmpty)
    assert(stateClusters(state).toSet == now + (("c0-n", "c0-n")))
  }

  test("duplicate doc_id: fail aborts; drop keeps the first ingested version") {
    val state = tmp("sjob-dup")
    StreamResolveJob.attachBatch(spark, state, docsDF(
      nameDoc("d0-a", "acme corporation"),
      nameDoc("d0-b", "globex industries")), batchId = 0L)
    // batch 1 re-delivers d0-b with a DIFFERENT name — two same-recency
    // assignment rows would make the merge-on-read view nondeterministic,
    // so the default policy aborts
    val e = intercept[IllegalStateException] {
      StreamResolveJob.attachBatch(spark, state, docsDF(
        nameDoc("d0-b", "initech llc"),
        nameDoc("d1-c", "initech llc")), batchId = 1L)
    }
    assert(e.getMessage.contains("re-delivers 1 doc_id"))
    assert(VersionedState.stateView(spark, state).highWater == 0L,
      "failed batch must not commit")
    // drop mode: first-write-wins — d0-b keeps its original assignment,
    // and the dropped duplicate is RECORDED in the delta's rejects table
    // (ingested == clustered + rejected must reconcile per batch)
    StreamResolveJob.attachBatch(spark, state, docsDF(
      nameDoc("d0-b", "initech llc"),
      nameDoc("d1-c", "initech llc")), batchId = 1L, onDuplicate = "drop")
    val now = stateClusters(state).toSet
    assert(now == Set(("d0-a", "d0-a"), ("d0-b", "d0-b"), ("d1-c", "d1-c")),
      s"re-delivered doc must keep its first assignment; got $now")
    val dupRejects = spark.read.parquet(s"$state/d=1/rejects")
      .collect().map(r => (r.getAs[String]("doc_id"), r.getAs[String]("reject_reason")))
    assert(dupRejects.toSet == Set(("d0-b", "DUPLICATE_ID")),
      s"dropped duplicate must land in rejects; got ${dupRejects.toSet}")
  }

  test("intra-batch duplicate ids are caught even against an empty corpus") {
    // availableNow with no file cap puts the whole backlog in ONE batch —
    // a corpus-only check would see nothing; the guard must still catch it
    val state = tmp("sjob-intradup")
    val e = intercept[IllegalStateException] {
      StreamResolveJob.attachBatch(spark, state, docsDF(
        nameDoc("x-1", "acme corporation"),
        nameDoc("x-1", "globex industries"),
        nameDoc("x-2", "initech llc")), batchId = 0L)
    }
    assert(e.getMessage.contains("re-delivers 1 doc_id"))
    // drop mode: no copy of an intra-batch repeat is "first" — the id is
    // excluded entirely and recorded
    StreamResolveJob.attachBatch(spark, state, docsDF(
      nameDoc("x-1", "acme corporation"),
      nameDoc("x-1", "globex industries"),
      nameDoc("x-2", "initech llc")), batchId = 0L, onDuplicate = "drop")
    assert(stateClusters(state).toSet == Set(("x-2", "x-2")))
    val rejects = StreamResolveJob.stateTable(spark, state, "rejects").get
      .collect().map(r => (r.getAs[String]("doc_id"), r.getAs[String]("reject_reason")))
    assert(rejects.toSet == Set(("x-1", "DUPLICATE_ID")))
    // an unknown mode must throw, never silently drop
    assertThrows[IllegalArgumentException] {
      StreamResolveJob.attachBatch(spark, state, docsDF(
        nameDoc("x-3", "acme corporation")), batchId = 1L, onDuplicate = "ignore")
    }
  }

  test("legacy v= snapshot state (even without keys) migrates to base= on first contact") {
    val state = tmp("sjob-legacy")
    // hand-build a legacy full-snapshot version: clusters + names only
    // (pre-keys, pre-rejects engine), committed the legacy way
    Er.register(spark)
    val legacyDocs = corpus(15, seed = 31L)
    val names = legacyDocs
      .withColumn("name", Er.docName(col("spans")))
      .where(Er.rejectReason(col("name")).isNull)
      .withColumn("normalized", Normalizer.normalizeColumn(col("name")))
      .where(col("normalized") =!= "").select("doc_id", "normalized")
    val empty = legacyDocs.select(col("doc_id"), col("doc_id").as("cluster_id")).limit(0)
    IncrementalResolve.resolveNames(spark,
      IncrementalResolve.Existing(empty), IncrementalResolve.namesState(names.limit(0)),
      IncrementalResolve.namesState(names))
      .assignments.write.parquet(s"$state/v=0/clusters")
    names.write.parquet(s"$state/v=0/names")
    VersionedState.fsOf(spark, state)
      .create(new org.apache.hadoop.fs.Path(s"$state/v=0/_COMMITTED"), true).close()
    val legacyCount = spark.read.parquet(s"$state/v=0/clusters").count()

    // the readers must see the legacy snapshot BEFORE any batch migrates
    // it — committed state is never reported empty
    assert(StreamResolveJob.currentClusters(spark, state).get.count() == legacyCount)
    assert(StreamResolveJob.stateTable(spark, state, "names").get.count() > 0)
    assert(StreamResolveJob.stateTable(spark, state, "keys").isEmpty,
      "a pre-keys legacy snapshot has no keys table to offer")

    StreamResolveJob.attachBatch(spark, state, corpus(15, seed = 32L), batchId = 1L)
    // migrated: base=0 carries the snapshot (keys derived from names),
    // the v= dir is swept, and the increment landed as d=1
    assert(VersionedState.stateView(spark, state).baseId == 0L)
    assert(new java.io.File(state, "base=0/keys").exists())
    assert(!new java.io.File(state, "v=0").exists())
    assert(VersionedState.stateView(spark, state).deltaIds == Seq(1L))
    assert(stateClusters(state).length > legacyCount)
  }

  test("replayed batchId is a no-op; state survives byte-identical") {
    val state = tmp("sjob-state2")
    val b1 = corpus(20, seed = 7L)
    StreamResolveJob.attachBatch(spark, state, b1, batchId = 0L)
    val after1 = stateClusters(state)
    // foreachBatch replays with the same id after a failure — must skip
    StreamResolveJob.attachBatch(spark, state, corpus(20, seed = 99L), batchId = 0L)
    assert(stateClusters(state).sameElements(after1))
    // a NEW batch advances state
    StreamResolveJob.attachBatch(spark, state, corpus(20, seed = 8L), batchId = 1L)
    assert(stateClusters(state).length > after1.length)
  }

  test("strict args + lineage guard: typo'd options fail fast; fresh checkpoint over non-empty state refuses") {
    assertThrows[IllegalArgumentException](StreamResolveJob.parseArgs(
      Array("--input", "a", "--state", "b"))) // missing --checkpoint
    assertThrows[IllegalArgumentException](StreamResolveJob.parseArgs(
      Array("--input", "a", "--state", "b", "--checkpoint", "c",
        "--max-file-per-trigger", "1"))) // typo'd option must not silently default
    // a reset checkpoint restarts batchIds at 0; pairing it with existing
    // state would silently skip-drop every batch up to the old high-water
    // mark — the job must refuse instead
    val state = tmp("sjob-state4")
    StreamResolveJob.attachBatch(spark, state, corpus(10, seed = 21L), batchId = 0L)
    val in = tmp("sjob-in4")
    corpus(5, seed = 22L).coalesce(1).write.mode("append").parquet(in)
    assertThrows[IllegalStateException](StreamResolveJob.start(spark, Map(
      "input" -> in, "state" -> state, "checkpoint" -> tmp("sjob-ckpt4"))))
  }

  test("docs that normalize to nothing land in the state's rejects table, not nowhere") {
    val state = tmp("sjob-state5")
    val good = corpus(10, seed = 31L)
    // a doc with no text spans: docName = "" -> normalized "" -> it can
    // never enter the clustering; it must be RECORDED, not vanish
    val nameless = good.limit(1)
      .select(lit("s31-nameless").as("doc_id"),
        filter(col("spans"), s => s.getField("kind") =!= "text").as("spans"))
    StreamResolveJob.attachBatch(spark, state, good.unionByName(nameless), batchId = 0L)
    val rejects = StreamResolveJob.stateTable(spark, state, "rejects").get.collect()
    assert(rejects.map(_.getAs[String]("doc_id")).toSet == Set("s31-nameless"))
    assert(rejects(0).getAs[String]("reject_reason") == "blank")
    assert(!stateClusters(state).exists(_._1 == "s31-nameless"))
    // rejects accumulate across deltas (each delta carries its own)
    StreamResolveJob.attachBatch(spark, state, corpus(5, seed = 32L), batchId = 1L)
    assert(StreamResolveJob.stateTable(spark, state, "rejects").get.count() == 1)
  }

  test("an id REJECTED in an earlier batch is still a duplicate on re-delivery") {
    // rejected ids are absent from the names table — the guard must
    // check names ∪ rejects or a re-delivered rejected id would land in
    // clusters AND (cumulatively) rejects, breaking reconciliation
    val state = tmp("sjob-rejdup")
    val good = corpus(5, seed = 41L)
    val nameless = good.limit(1)
      .select(lit("s41-ghost").as("doc_id"),
        filter(col("spans"), s => s.getField("kind") =!= "text").as("spans"))
    StreamResolveJob.attachBatch(spark, state, good.unionByName(nameless), batchId = 0L)
    assert(StreamResolveJob.stateTable(spark, state, "rejects").get
      .select("doc_id").collect().map(_.getString(0)).toSet == Set("s41-ghost"))
    // batch 1 re-delivers the rejected id, now with a VALID name
    val e = intercept[IllegalStateException] {
      StreamResolveJob.attachBatch(spark, state,
        docsDF(nameDoc("s41-ghost", "acme corporation")), batchId = 1L)
    }
    assert(e.getMessage.contains("re-delivers 1 doc_id"))
    // drop mode: the re-delivery is excluded and recorded; the id never
    // reaches clusters
    StreamResolveJob.attachBatch(spark, state,
      docsDF(nameDoc("s41-ghost", "acme corporation")), batchId = 1L,
      onDuplicate = "drop")
    assert(!stateClusters(state).exists(_._1 == "s41-ghost"))
    val rej = StreamResolveJob.stateTable(spark, state, "rejects").get
      .collect().map(r => (r.getAs[String]("doc_id"),
        r.getAs[String]("reject_reason"), r.getAs[Long]("batch_id"))).toSet
    assert(rej == Set(("s41-ghost", "blank", 0L), ("s41-ghost", "DUPLICATE_ID", 1L)))
  }

  test("--on-duplicate allow with a same-id collision: merged view is deterministic") {
    // uniqueness waived: the same doc_id can end up with two
    // same-recency assignment rows. The merge's argmax key is
    // (unit, cluster_id), so the winner is a pure function of the state
    // — NOT whichever row the aggregate saw last. Exercise the tie
    // directly: a hand-written delta carrying duplicate rows for x-1.
    val state = tmp("sjob-allowtie")
    import spark.implicits._
    Seq(("x-1", "a-0"), ("x-1", "x-1"), ("a-0", "a-0"))
      .toDF("doc_id", "cluster_id").repartition(3)
      .write.parquet(s"$state/d=0/clusters")
    Seq(("x-1", "acme corporation"), ("a-0", "zeta corp"))
      .toDF("doc_id", "normalized").write.parquet(s"$state/d=0/names")
    VersionedState.commitDelta(spark, state, 0L)
    val views = (1 to 4).map(_ => StreamResolveJob
      .currentClusters(spark, state).get
      .where(col("doc_id") === "x-1").collect().map(_.getString(1)).toSeq)
    assert(views.forall(_.length == 1), s"one merged row per doc_id; got $views")
    assert(views.distinct.size == 1, s"merged view must be stable; got $views")
    assert(views.head.head == "x-1",
      "tiebreak = max cluster_id among the latest unit's rows")
    // end-to-end: an allow-mode intra-batch collision still yields ONE
    // stable assignment row per doc_id
    val state2 = tmp("sjob-allowtie2")
    StreamResolveJob.attachBatch(spark, state2, docsDF(
      nameDoc("x-1", "acme corporation"),
      nameDoc("x-1", "zeta corp"),
      nameDoc("a-0", "zeta corp")), batchId = 0L, onDuplicate = "allow")
    val e2e = (1 to 3).map(_ => StreamResolveJob
      .currentClusters(spark, state2).get
      .where(col("doc_id") === "x-1").collect().map(_.getString(1)).toSeq)
    assert(e2e.forall(_.length == 1) && e2e.distinct.size == 1,
      s"allow-mode merged view must be stable; got $e2e")
  }

  test("streamed replay after a kill between delta write and checkpoint commit is exactly-once") {
    // foreachBatch-level crash: the delta parquet was written but the
    // kill landed before the _COMMITTED marker AND before Structured
    // Streaming recorded the batch in <ckpt>/commits. On restart the
    // engine replays the SAME batchId from its offsets log; attachBatch
    // must recompute, overwrite the torn delta and commit — final state
    // identical to an uninterrupted run.
    val in = tmp("sjob-kill-in"); val state = tmp("sjob-kill-state")
    val ckpt = tmp("sjob-kill-ckpt")
    corpus(20, seed = 51L).coalesce(1).write.mode("append").parquet(in)
    corpus(20, seed = 52L).coalesce(1).write.mode("append").parquet(in)
    val q = StreamResolveJob.start(spark, Map(
      "input" -> in, "state" -> state, "checkpoint" -> ckpt,
      "max-files-per-trigger" -> "1"))
    q.awaitTermination()
    val deltas = VersionedState.stateView(spark, state).deltaIds
    assert(deltas.size >= 2)
    val clean = stateClusters(state)
    // rewind to the kill point: last batch's marker and its SS commit gone
    val last = deltas.last
    val fs = VersionedState.fsOf(spark, state)
    fs.delete(new org.apache.hadoop.fs.Path(s"$state/d=$last/_COMMITTED"), false)
    fs.delete(new org.apache.hadoop.fs.Path(s"$ckpt/commits/$last"), false)
    assert(stateClusters(state).length < clean.length,
      "uncommitted delta must be invisible after the simulated kill")
    val q2 = StreamResolveJob.start(spark, Map(
      "input" -> in, "state" -> state, "checkpoint" -> ckpt,
      "max-files-per-trigger" -> "1"))
    q2.awaitTermination()
    assert(stateClusters(state).sameElements(clean),
      "replayed batch must rebuild the identical state")
  }

  test("merge-on-read scoping: a relabel reads only current members, never a stale row") {
    val state = tmp("sjob-stale")
    val b0 = docsDF(
      nameDoc("m-b", "acme corporation"), nameDoc("m-c", "acme corporation"),
      nameDoc("z-1", "zebra logistics"), nameDoc("q-1", "quantum widgets"))
    // batch 1 relabels the acme cluster m-b -> m-a: m-b and m-c now hold
    // rows with different labels in two units (the d=0 row is stale)
    val b1 = docsDF(nameDoc("m-a", "acme corporation"))
    // batch 2 bridges into that cluster (a-0 relabels it again) and into
    // the zebra one
    val b2 = docsDF(nameDoc("a-0", "acme corporation"), nameDoc("z-0", "zebra logistics"))
    Seq(b0, b1, b2).zipWithIndex.foreach { case (b, k) =>
      StreamResolveJob.attachBatch(spark, state, b, batchId = k.toLong)
    }
    def unit(k: Int) = spark.read.parquet(s"$state/d=$k/clusters")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(unit(0).contains("m-b" -> "m-b") && unit(1).contains("m-b" -> "m-a"),
      "the scenario needs a doc with rows under two labels")
    // changed = exactly the current members of the relabeled clusters
    // plus the new docs; the stale d=0 rows nominate nothing
    assert(unit(2) == Set("a-0" -> "a-0", "m-a" -> "a-0", "m-b" -> "a-0", "m-c" -> "a-0",
      "z-0" -> "z-0", "z-1" -> "z-0"))

    // the state equals the one-shot increment over all three batches
    Er.register(spark)
    val all = b0.unionByName(b1).unionByName(b2)
    val names = all.select(col("doc_id"),
      Normalizer.normalizeColumn(Er.docName(col("spans"))).as("normalized"))
    val empty = all.select(col("doc_id"), col("doc_id").as("cluster_id")).limit(0)
    val expected = IncrementalResolve.resolveNames(spark,
      IncrementalResolve.Existing(empty), IncrementalResolve.namesState(names.limit(0)),
      IncrementalResolve.namesState(names))
      .assignments.collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(stateClusters(state).sameElements(expected))
  }

  test("per-batch job budget: a small batch attached to a committed base") {
    val state = tmp("sjob-budget")
    StreamResolveJob.attachBatch(spark, state, corpus(100, seed = 61L), batchId = 0L)
    StreamResolveJob.attachBatch(spark, state, corpus(4, seed = 62L), batchId = 1L)
    val jobs = graft.SparkJobs.count(spark)(
      StreamResolveJob.attachBatch(spark, state, corpus(4, seed = 63L), batchId = 2L))
    // 40 here, interpreted or compiled; the corpus-wide increment the
    // scoped one replaced ran 74
    assert(jobs <= 40, s"one micro-batch ran $jobs Spark jobs")
  }

  test("compile budget: a small batch after a warm-up batch compiles at most 20 classes") {
    val state = tmp("sjob-compiles")
    StreamResolveJob.attachBatch(spark, state, corpus(100, seed = 81L), batchId = 0L)
    StreamResolveJob.attachBatch(spark, state, corpus(4, seed = 82L), batchId = 1L)
    val compiled = graft.SparkJobs.compiles(
      StreamResolveJob.attachBatch(spark, state, corpus(4, seed = 83L), batchId = 2L))
    // compiled plans used about 210 distinct classes per batch, more than
    // Spark's 100-entry class cache holds, so every batch compiled them all
    assert(compiled <= 20, s"one micro-batch compiled $compiled classes")
  }

  /** Three batches of one DocGen corpus (so later batches merge into and
    * relabel earlier clusters), the second with a nameless doc (a
    * reject), the third compacting.
    */
  private def codegenRun(interpreted: Boolean): String = {
    val state = tmp("sjob-codegen")
    val all = corpus(40, seed = 71L)
    def part(k: Int) = all.where(pmod(hash(col("doc_id")), lit(3)) === k)
    val nameless = all.limit(1).select(lit("s71-nameless").as("doc_id"),
      filter(col("spans"), s => s.getField("kind") =!= "text").as("spans"))
    BatchCodegen.forceInterpreted.withValue(Some(interpreted)) {
      Seq(part(0), part(1).unionByName(nameless), part(2)).zipWithIndex.foreach { case (b, k) =>
        StreamResolveJob.attachBatch(spark, state, b, batchId = k.toLong, compactEvery = 3)
      }
    }
    state
  }

  test("interpreted and compiled batches write identical state") {
    val (interpreted, compiled) = (codegenRun(true), codegenRun(false))
    assert(VersionedState.stateView(spark, interpreted).baseId == 2L, "batch 2 compacts")
    val dump = StreamTestKit.stateDump(spark, interpreted)
    assert(dump.keySet == Set("d=0", "d=1", "d=2", "base=2").flatMap(u =>
      Seq("clusters", "names", "keys", "rejects").map(t => s"$u/$t")))
    assert(dump("d=2/clusters").size > dump("d=2/names").size,
      "batch 2 must relabel clusters of earlier batches")
    assert(dump == StreamTestKit.stateDump(spark, compiled))
    assert(stateClusters(interpreted).sameElements(stateClusters(compiled)))
  }

  test("a batch the planner cannot size keeps code generation") {
    val state = tmp("sjob-unsized")
    StreamResolveJob.attachBatch(spark, state, corpus(20, seed = 91L), batchId = 0L)
    val small = corpus(4, seed = 92L)
    // a frame over an RDD has no size statistics: Spark sizes it at its
    // default size, far above the crossover
    val unsized = spark.createDataFrame(corpus(4, seed = 93L).rdd, small.schema)
    val (smallWholeStage, actions) = StreamTestKit.codegenActions(spark)(
      StreamResolveJob.attachBatch(spark, state, small, batchId = 1L))
    assert(actions > 0 && smallWholeStage == 0, "a small batch runs interpreted")
    var compiledClasses = 0L
    val (wholeStage, _) = StreamTestKit.codegenActions(spark) {
      compiledClasses = graft.SparkJobs.compiles(
        StreamResolveJob.attachBatch(spark, state, unsized, batchId = 2L))
    }
    assert(wholeStage > 0 && compiledClasses > 0,
      s"the unsized batch ran $wholeStage whole-stage plans and compiled $compiledClasses classes")
  }

  test("crash mid-write: an uncommitted delta dir is invisible and the replay overwrites it") {
    val state = tmp("sjob-state3")
    val b1 = corpus(20, seed = 11L)
    StreamResolveJob.attachBatch(spark, state, b1, batchId = 0L)
    // simulate a batch-1 crash AFTER partial parquet writes but BEFORE the
    // _COMMITTED marker: junk data in d=1, no marker
    val partial = new java.io.File(state, "d=1/clusters")
    partial.mkdirs()
    Files.write(partial.toPath.resolve("part-garbage.parquet"), Array[Byte](1, 2, 3))
    val before = stateClusters(state) // must still read d=0 only
    // the streaming engine replays batch 1; the overwrite must supersede
    // the partial dir and commit
    val b2 = corpus(20, seed = 12L)
    StreamResolveJob.attachBatch(spark, state, b2, batchId = 1L)
    val after = stateClusters(state)
    assert(after.length > before.length)
    assert(new java.io.File(state, "d=1/_COMMITTED").exists())
  }
}
