package graft.checkpoint

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

import graft.SparkTestSession
import graft.gen.DocGen
import graft.pipeline.{PipelineConfig, ResolvePipeline}

/** Checkpoint/resume semantics (FIXTURES.md §6): committed stages are
  * skipped on rerun; a killed run resumes mid-pipeline and produces
  * byte-identical output.
  */
class StageStoreSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("committed stage with same fingerprint is not recomputed") {
    import spark.implicits._
    val store = new StageStore(tmpDir("graft-store"), spark)
    var computes = 0
    def compute = { computes += 1; Seq((1, "a"), (2, "b")).toDF("id", "v") }
    val fp = store.fingerprint("stage-params", "v1")
    val first = store.materialize("s1", fp)(compute).collect().sortBy(_.getInt(0))
    val second = store.materialize("s1", fp)(compute).collect().sortBy(_.getInt(0))
    assert(computes == 1, "second materialize must be a resume, not a recompute")
    assert(first.map(_.toString).toSeq == second.map(_.toString).toSeq)
  }

  test("fingerprint change invalidates the snapshot") {
    import spark.implicits._
    val store = new StageStore(tmpDir("graft-store"), spark)
    var computes = 0
    def compute = { computes += 1; Seq(1).toDF("id") }
    store.materialize("s1", store.fingerprint("v1"))(compute)
    store.materialize("s1", store.fingerprint("v2"))(compute)
    assert(computes == 2)
  }

  test("manifest records rows and per-partition lineage") {
    import spark.implicits._
    val root = tmpDir("graft-store")
    val store = new StageStore(root, spark)
    store.materialize("s1", "fp00")(Seq(1, 2, 3).toDF("id"))
    val manifest = new String(Files.readAllBytes(Paths.get(root, "s1", "MANIFEST.json")))
    assert(manifest.contains("\"rows\":3"))
    assert(manifest.contains("\"partitions\":["))
    assert(store.committedFingerprint("s1").contains("fp00"))
  }

  test("manifest fields are read by name: partitions before the top-level rows") {
    import spark.implicits._
    val root = tmpDir("graft-store")
    val store = new StageStore(root, spark)
    var computes = 0
    def compute = { computes += 1; Seq(1, 2, 3).toDF("id") }
    store.materialize("s1", "fp00")(compute)
    // same fields, another order: a per-partition "rows" now comes first
    val mp = Paths.get(root, "s1", "MANIFEST.json")
    val mapper = new ObjectMapper()
    val written = mapper.readTree(mp.toFile).asInstanceOf[ObjectNode]
    val reordered = mapper.createObjectNode()
    reordered.set[ObjectNode]("partitions", written.get("partitions"))
    written.properties().forEach(e => if (e.getKey != "partitions") reordered.set[ObjectNode](e.getKey, e.getValue))
    assert(reordered.fieldNames().next() == "partitions")
    Files.write(mp, mapper.writeValueAsBytes(reordered))
    assert(store.committedRows("s1").contains(3L), "must report the top-level total")
    assert(store.committedFingerprint("s1").contains("fp00"))
    store.materialize("s1", "fp00")(compute)
    assert(computes == 1, "a reordered manifest is still a commit")
  }

  test("manifest lineage comes from the written part files' footers; read-back schema is exact") {
    val root = tmpDir("graft-store")
    val store = new StageStore(root, spark)
    val tagged = new MetadataBuilder().putString("comment", "tagged").build()
    // three write partitions; the middle one is filtered to nothing
    val df = spark.range(0, 6, 1, 3).where(col("id") < 2 || col("id") >= 4)
      .select(col("id"), col("id").cast("string").as("v", tagged),
        array(col("id")).as("ids"), struct(col("id").as("inner")).as("s"))
    assert(df.rdd.getNumPartitions == 3)
    val out = store.materialize("s1", "fp00")(df)
    val dataDir = Paths.get(root, "s1", "data")
    val manifest = new ObjectMapper().readTree(Paths.get(root, "s1", "MANIFEST.json").toFile)
    val parts = manifest.get("partitions").elements().asScala
      .map(p => p.get("pid").asInt -> p.get("rows").asLong).toSeq
    val files = Files.list(dataDir)
    val filePids = try files.iterator().asScala.map(_.getFileName.toString)
      .collect { case n if n.startsWith("part-") => n.split("-")(1).toInt }.toSeq.distinct.sorted
    finally files.close()
    assert(parts.map(_._1) == filePids, "one lineage entry per written part file's pid")
    assert(!filePids.contains(1), "the empty write partition left no part file")
    val total = manifest.get("rows").asLong
    assert(parts.map(_._2).sum == total)
    assert(total == df.count() && total == 4L)
    assert(store.committedRows("s1").contains(4L))
    val inferred = spark.read.parquet(dataDir.toString).schema
    assert(out.schema == inferred, "commit read-back schema, nullability and metadata included")
    val resumed = store.materialize("s1", "fp00")(fail("a committed stage must not recompute"))
    assert(resumed.schema == inferred, "resume read-back schema")
    assert(resumed.schema("v").metadata == tagged)
    assert(resumed.orderBy("id").collect().map(_.toString).toSeq ==
      df.orderBy("id").collect().map(_.toString).toSeq)
  }

  test("commit job budget: a miss runs only the write's jobs, a hit none until consumed") {
    val sc = spark.sparkContext
    val jobs = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobs.synchronized(jobs(g) += 1))
    }
    def jobsOf(label: String)(body: => Unit): Int = {
      val group = s"graft-budget-$label-${java.util.UUID.randomUUID}"
      sc.setJobGroup(group, label)
      try body finally sc.clearJobGroup()
      ListenerBus.drain(sc)
      jobs.synchronized(jobs(group))
    }
    // a shuffle, so the write runs more than one job under AQE
    def frame = spark.range(0, 2000, 1, 4)
      .select(col("id"), (col("id") % 7).cast("string").as("v"))
      .repartition(3, col("v"))
    val root = tmpDir("graft-budget")
    val store = new StageStore(root, spark)
    sc.addSparkListener(listener)
    try {
      // warm-up: one commit and one plain write before anything is counted
      store.materialize("warm", "fp00")(frame).count()
      frame.write.mode("overwrite").parquet(Paths.get(root, "plain-warm").toString)

      val plain = jobsOf("plain")(frame.write.mode("overwrite")
        .parquet(Paths.get(root, "plain").toString))
      val miss = jobsOf("miss")(store.materialize("s1", "fp00")(frame))
      assert(plain > 0, "the job listener saw the plain write")
      assert(miss == plain, s"a commit runs $miss jobs, a plain write $plain")

      var hit: DataFrame = null
      val hitJobs = jobsOf("hit") { hit = store.materialize("s1", "fp00")(frame) }
      assert(hitJobs == 0, s"a resume ran $hitJobs jobs before its frame was consumed")
      assert(jobsOf("consume")(assert(hit.count() == 2000L)) > 0)
    } finally sc.removeSparkListener(listener)
  }

  // ---- chaos tier: injected mid-stage faults (the batch analog of the
  // reference's chaos/ChaosTest.java connection-failure injection). The
  // invariant under every fault: an uncommitted stage is recomputed, a
  // committed stage is trusted, and the final output is byte-identical
  // to an uninterrupted run.

  test("chaos: kill between snapshot move and manifest commit -> recompute") {
    import spark.implicits._
    val root = tmpDir("graft-chaos")
    val store = new StageStore(root, spark)
    var computes = 0
    def compute = { computes += 1; Seq((1, "a"), (2, "b")).toDF("id", "v") }
    val fp = store.fingerprint("v1")
    val clean = store.materialize("s1", fp)(compute).collect().map(_.toString).sorted
    // simulate the crash window: data dir swapped into place, manifest
    // (the commit point) never written
    Files.delete(Paths.get(root, "s1", "MANIFEST.json"))
    val after = store.materialize("s1", fp)(compute).collect().map(_.toString).sorted
    assert(computes == 2, "data-without-manifest must NOT count as committed")
    assert(after.toSeq == clean.toSeq)
    assert(store.committedFingerprint("s1").contains(fp), "recommit must complete")
  }

  test("chaos: manifest whose data dir was removed -> recompute, not a failed read") {
    import spark.implicits._
    val root = tmpDir("graft-chaos")
    val store = new StageStore(root, spark)
    var computes = 0
    def compute = { computes += 1; Seq((1, "a"), (2, "b")).toDF("id", "v") }
    val fp = store.fingerprint("v1")
    val clean = store.materialize("s1", fp)(compute).collect().map(_.toString).sorted
    // external cleanup removed the snapshot but left its commit record
    val dd = Paths.get(root, "s1", "data")
    Files.walk(dd).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    assert(store.committedFingerprint("s1").isEmpty, "a manifest without data is no commit")
    val after = store.materialize("s1", fp)(compute).collect().map(_.toString).sorted
    assert(computes == 2, "a missing data dir must force a recompute")
    assert(after.toSeq == clean.toSeq)
    assert(store.committedFingerprint("s1").contains(fp), "recommit must complete")
  }

  test("chaos: manifest without a schema (older format) is uncommitted -> recompute once") {
    import spark.implicits._
    val root = tmpDir("graft-chaos")
    val store = new StageStore(root, spark)
    var computes = 0
    def compute = { computes += 1; Seq((1, "a"), (2, "b")).toDF("id", "v") }
    val fp = store.fingerprint("v1")
    val clean = store.materialize("s1", fp)(compute).collect().map(_.toString).sorted
    val mp = Paths.get(root, "s1", "MANIFEST.json")
    val mapper = new ObjectMapper()
    val old = mapper.readTree(mp.toFile).asInstanceOf[ObjectNode]
    old.remove("schema")
    Files.write(mp, mapper.writeValueAsBytes(old))
    assert(store.committedFingerprint("s1").isEmpty)
    val after = store.materialize("s1", fp)(compute).collect().map(_.toString).sorted
    assert(computes == 2, "a manifest without a schema must force a recompute")
    assert(after.toSeq == clean.toSeq)
    store.materialize("s1", fp)(compute)
    assert(computes == 2, "the recommitted manifest carries its schema: later runs resume")
  }

  test("chaos: stale tmp dir from a killed writer is cleaned and overwritten") {
    import spark.implicits._
    val root = tmpDir("graft-chaos")
    val store = new StageStore(root, spark)
    val fp = store.fingerprint("v1")
    // a previous run died mid-write leaving a garbage .tmp-<fp> dir
    val tmp = Paths.get(root, "s1", s".tmp-$fp")
    Files.createDirectories(tmp)
    Files.write(tmp.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    // ...and an OLDER crashed run with a different config left ITS tmp too
    val staleOther = Paths.get(root, "s1", ".tmp-deadbeefdeadbeef")
    Files.createDirectories(staleOther)
    Files.write(staleOther.resolve("part-00000.parquet"), Array[Byte](9, 9))
    val out = store.materialize("s1", fp)(Seq((7, "x")).toDF("id", "v"))
      .collect().map(_.toString).toSeq
    assert(out == Seq("[7,x]"))
    assert(store.committedFingerprint("s1").contains(fp))
    // every stale tmp snapshot is gone, whatever fingerprint left it —
    // orphaned near-full copies must not accumulate on the volume
    assert(!Files.exists(staleOther))
    assert(!Files.exists(tmp))
  }

  test("chaos: compute failure leaves store uncommitted; retry succeeds") {
    import spark.implicits._
    val root = tmpDir("graft-chaos")
    val store = new StageStore(root, spark)
    val fp = store.fingerprint("v1")
    // first attempt dies mid-stage (the analog of a fatal task failure)
    intercept[RuntimeException] {
      store.materialize("s1", fp) {
        throw new RuntimeException("injected stage failure")
      }
    }
    assert(store.committedFingerprint("s1").isEmpty,
      "failed stage must not commit")
    val out = store.materialize("s1", fp)(Seq((1, "a")).toDF("id", "v"))
      .collect().map(_.toString).toSeq
    assert(out == Seq("[1,a]"))
  }

  test("chaos: truncated manifest is treated as uncommitted") {
    import spark.implicits._
    val root = tmpDir("graft-chaos")
    val store = new StageStore(root, spark)
    var computes = 0
    def compute = { computes += 1; Seq(1).toDF("id") }
    val fp = store.fingerprint("v1")
    store.materialize("s1", fp)(compute)
    // corrupt the commit record: cut it off before the fingerprint field
    val mp = Paths.get(root, "s1", "MANIFEST.json")
    val text = new String(Files.readAllBytes(mp))
    Files.write(mp, text.take(text.indexOf("fingerprint") - 2).getBytes)
    store.materialize("s1", fp)(compute)
    assert(computes == 2, "corrupt manifest must force a recompute")
    assert(store.committedFingerprint("s1").contains(fp))
  }

  test("chaos: mid-pipeline manifest loss -> stage recomputed, output byte-identical") {
    val docs = DocGen.corpusDF(spark, entities = 10, docsPerEntity = 3)
      .select("doc_id", "spans")
    val root = tmpDir("graft-chaos-pipe")
    val cfg = PipelineConfig(checkpointRoot = Some(root))
    val full = ResolvePipeline.run(spark, docs, cfg)
      .clusters.select("doc_id", "cluster_id").collect().map(_.toString).sorted
    // the crash window hit candidate_pairs: snapshot present, commit lost
    Files.delete(Paths.get(root, "candidate_pairs", "MANIFEST.json"))
    val resumed = ResolvePipeline.run(spark, docs, cfg)
      .clusters.select("doc_id", "cluster_id").collect().map(_.toString).sorted
    assert(resumed.toSeq == full.toSeq)
    assert(Files.exists(Paths.get(root, "candidate_pairs", "MANIFEST.json")),
      "interrupted stage must recommit on resume")
  }

  test("stage-scoped fingerprints: weight change resumes blocking, recomputes scoring") {
    val docs = DocGen.corpusDF(spark, entities = 10, docsPerEntity = 3)
      .select("doc_id", "spans")
    val root = tmpDir("graft-scoped")
    val cfgA = PipelineConfig(checkpointRoot = Some(root))
    ResolvePipeline.run(spark, docs, cfgA).clusters.count()
    def mtime(stage: String) =
      Files.getLastModifiedTime(Paths.get(root, stage, "MANIFEST.json"))
    val keysBefore = mtime("blocking_keys")
    val pairsBefore = mtime("candidate_pairs")
    val scoresBefore = mtime("pair_scores")

    val cfgB = cfgA.copy(weights = graft.sim.SimilarityWeights.oracleSafe)
    val outB = ResolvePipeline.run(spark, docs, cfgB)
      .clusters.select("doc_id", "cluster_id").collect().map(_.toString).sorted
    assert(mtime("blocking_keys") == keysBefore,
      "blocking keys do not depend on weights and must be resumed")
    assert(mtime("candidate_pairs") == pairsBefore,
      "candidate pairs do not depend on weights and must be resumed")
    assert(mtime("pair_scores") != scoresBefore,
      "scoring depends on weights and must be recomputed")

    val fresh = ResolvePipeline.run(spark, docs,
      cfgB.copy(checkpointRoot = Some(tmpDir("graft-scoped-fresh"))))
      .clusters.select("doc_id", "cluster_id").collect().map(_.toString).sorted
    assert(outB.toSeq == fresh.toSeq,
      "partially-resumed run must equal a from-scratch run with the new weights")
  }

  test("changed status VALUES invalidate snapshots (input fp covers config columns)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = DocGen.corpusDF(spark, entities = 10, docsPerEntity = 3)
      .select("doc_id", "spans")
    def withStatus(mergedId: Option[String]) = base.withColumn("status",
      mergedId.map(id => org.apache.spark.sql.functions.when(col("doc_id") === id, "MERGED")
        .otherwise("ACTIVE")).getOrElse(lit("ACTIVE")))
    val flipId = base.select("doc_id").orderBy("doc_id").limit(1)
      .collect()(0).getString(0)
    val root = tmpDir("graft-statusfp")
    val cfg = PipelineConfig(checkpointRoot = Some(root), statusColumn = Some("status"))
    ResolvePipeline.run(spark, withStatus(None), cfg).clusters.count()
    // same ids, same spans — ONLY a status value flips
    val flipped = ResolvePipeline.run(spark, withStatus(Some(flipId)), cfg)
      .clusters.select("doc_id", "cluster_id").collect().map(_.toString).sorted
    val fresh = ResolvePipeline.run(spark, withStatus(Some(flipId)),
      cfg.copy(checkpointRoot = Some(tmpDir("graft-statusfp-fresh"))))
      .clusters.select("doc_id", "cluster_id").collect().map(_.toString).sorted
    assert(flipped.toSeq == fresh.toSeq,
      "a status-value flip must invalidate snapshots, not resume the doc into its old cluster")
    assert(flipped.count(_.contains(s"[$flipId,$flipId]")) == 1,
      "the flipped doc must come out as its own singleton")
  }

  test("override edges are content-fingerprinted: changed approvals invalidate clusters") {
    import spark.implicits._
    val docs = DocGen.corpusDF(spark, entities = 10, docsPerEntity = 3)
      .select("doc_id", "spans")
    // docsPerEntity = 3: positions 0/3/6 belong to three DIFFERENT
    // entities, so the two override edges bridge different cluster pairs
    val ids = docs.select("doc_id").orderBy("doc_id")
      .limit(7).collect().map(_.getString(0)).zipWithIndex
      .collect { case (id, i) if i % 3 == 0 => id }
    val root = tmpDir("graft-override")
    val cfg = PipelineConfig(checkpointRoot = Some(root))
    def runWith(e: (String, String)) =
      ResolvePipeline.run(spark, docs, cfg,
        overrideEdges = Some(Seq(e).toDF("src", "dst")))
        .clusters.select("doc_id", "cluster_id").collect().map(_.toString).sorted
    val out1 = runWith((ids(0), ids(1)))
    val out2 = runWith((ids(0), ids(2)))
    val fresh2 = ResolvePipeline.run(spark, docs,
      cfg.copy(checkpointRoot = Some(tmpDir("graft-override-fresh"))),
      overrideEdges = Some(Seq((ids(0), ids(2))).toDF("src", "dst")))
      .clusters.select("doc_id", "cluster_id").collect().map(_.toString).sorted
    assert(out2.toSeq == fresh2.toSeq,
      "a changed approval set must invalidate the clusters snapshot, not resume it")
    assert(out1.toSeq != out2.toSeq || ids.length < 3,
      "fixture should produce different clusterings for different overrides")
  }

  test("killed run resumes mid-pipeline with byte-identical output") {
    val docs = DocGen.corpusDF(spark, entities = 10, docsPerEntity = 3)
      .select("doc_id", "spans")
    val root = tmpDir("graft-resume")
    val cfg = PipelineConfig(checkpointRoot = Some(root))

    val full = ResolvePipeline.run(spark, docs, cfg)
      .clusters.select("doc_id", "cluster_id").collect()
      .map(_.toString).sorted

    // simulate a kill AFTER pair_scores committed but BEFORE clusters:
    // delete the clusters stage only, rerun — earlier stages must be
    // resumed from their snapshots, and the output must be identical
    def rmr(p: java.nio.file.Path): Unit =
      if (Files.exists(p))
        Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    rmr(Paths.get(root, "clusters"))

    val scoresManifestBefore =
      Files.getLastModifiedTime(Paths.get(root, "pair_scores", "MANIFEST.json"))
    val resumed = ResolvePipeline.run(spark, docs, cfg)
      .clusters.select("doc_id", "cluster_id").collect()
      .map(_.toString).sorted
    val scoresManifestAfter =
      Files.getLastModifiedTime(Paths.get(root, "pair_scores", "MANIFEST.json"))

    assert(resumed.toSeq == full.toSeq, "resumed output differs from uninterrupted run")
    assert(scoresManifestBefore == scoresManifestAfter,
      "pair_scores was recomputed despite a committed snapshot")
  }
}
