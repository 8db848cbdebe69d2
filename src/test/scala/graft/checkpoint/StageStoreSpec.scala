package graft.checkpoint

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileUtil, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

import graft.SparkTestSession
import graft.gen.DocGen
import graft.pipeline.{PipelineConfig, ResolvePipeline}

/** A local file system under its own scheme whose rename is copy+delete,
  * like an object store's: nothing about it is atomic. It counts every
  * rename, and separately those whose source lies outside a `_temporary`
  * dir (Spark's own task-output commit renames inside one).
  */
class CopyRenameFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${CopyRenameFileSystem.Scheme}:///")
  override def getScheme: String = CopyRenameFileSystem.Scheme
  override def rename(src: Path, dst: Path): Boolean = {
    CopyRenameFileSystem.renames.incrementAndGet()
    if (!src.toUri.getPath.split('/').contains("_temporary"))
      CopyRenameFileSystem.outsideTemporary.incrementAndGet()
    FileUtil.copy(this, src, this, dst, true, getConf)
  }
}

object CopyRenameFileSystem {
  val Scheme = "copyrename"
  val renames = new AtomicInteger()
  val outsideTemporary = new AtomicInteger()
}

/** Checkpoint/resume semantics (FIXTURES.md §6): committed stages are
  * skipped on rerun; a killed run resumes mid-pipeline and produces
  * byte-identical output.
  */
class StageStoreSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.sparkContext.hadoopConfiguration.set(s"fs.${CopyRenameFileSystem.Scheme}.impl",
      classOf[CopyRenameFileSystem].getName)
    s
  }

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  // stage files are edited through Hadoop FileSystem, as the store reads
  // them: on `file:` a java.nio edit would leave a stale checksum
  // sidecar, and the store would then fail the read instead of parsing
  // the edited manifest
  private def fsOf(root: String) = VersionedState.fsOf(spark, root)
  private def stageFile(root: String, stage: String, file: String): Path =
    new Path(new Path(root, stage), file)
  private val mapper = new ObjectMapper()
  private def readManifest(root: String, stage: String): ObjectNode = {
    val in = fsOf(root).open(stageFile(root, stage, "MANIFEST.json"))
    try mapper.readTree(in).asInstanceOf[ObjectNode] finally in.close()
  }
  private def writeManifest(root: String, stage: String, bytes: Array[Byte]): Unit =
    VersionedState.commitMarker(fsOf(root), stageFile(root, stage, "MANIFEST.json"), bytes)

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
    val written = readManifest(root, "s1")
    val reordered = mapper.createObjectNode()
    reordered.set[ObjectNode]("partitions", written.get("partitions"))
    written.properties().forEach(e => if (e.getKey != "partitions") reordered.set[ObjectNode](e.getKey, e.getValue))
    assert(reordered.fieldNames().next() == "partitions")
    writeManifest(root, "s1", mapper.writeValueAsBytes(reordered))
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
    val manifest = mapper.readTree(Paths.get(root, "s1", "MANIFEST.json").toFile)
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
    def jobsOf(body: => Unit): Int = graft.SparkJobs.count(spark)(body)
    // a shuffle, so the write runs more than one job under AQE
    def frame = spark.range(0, 2000, 1, 4)
      .select(col("id"), (col("id") % 7).cast("string").as("v"))
      .repartition(3, col("v"))
    val root = tmpDir("graft-budget")
    val store = new StageStore(root, spark)
    // warm-up: one commit and one plain write before anything is counted
    store.materialize("warm", "fp00")(frame).count()
    frame.write.mode("overwrite").parquet(Paths.get(root, "plain-warm").toString)

    val plain = jobsOf(frame.write.mode("overwrite")
      .parquet(Paths.get(root, "plain").toString))
    val miss = jobsOf(store.materialize("s1", "fp00")(frame))
    assert(plain > 0, "the job listener saw the plain write")
    assert(miss == plain, s"a commit runs $miss jobs, a plain write $plain")

    var hit: DataFrame = null
    val hitJobs = jobsOf { hit = store.materialize("s1", "fp00")(frame) }
    assert(hitJobs == 0, s"a resume ran $hitJobs jobs before its frame was consumed")
    assert(jobsOf(assert(hit.count() == 2000L)) > 0)
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

  // ---- resume + chaos tier: injected mid-stage faults (the batch analog
  // of the reference's chaos/ChaosTest.java connection-failure
  // injection). The invariant under every fault: an uncommitted stage is
  // recomputed, a committed stage is trusted, and the final output is
  // byte-identical to an uninterrupted run. Each case runs on `file:`
  // and, prefixed "copy-rename fs: ", on [[CopyRenameFileSystem]], where
  // it must also commit without a single rename of its own.

  resumeAndChaosCases(copyRename = false)
  resumeAndChaosCases(copyRename = true)

  private def resumeAndChaosCases(copyRename: Boolean): Unit = {
    def newRoot(prefix: String): String =
      if (copyRename) s"${CopyRenameFileSystem.Scheme}://${tmpDir(prefix)}" else tmpDir(prefix)
    def fsTest(name: String)(body: => Unit): Unit =
      test((if (copyRename) "copy-rename fs: " else "") + name) {
        CopyRenameFileSystem.renames.set(0)
        CopyRenameFileSystem.outsideTemporary.set(0)
        body
        if (copyRename) {
          assert(CopyRenameFileSystem.renames.get > 0, "the writes ran on the copy-rename store")
          assert(CopyRenameFileSystem.outsideTemporary.get == 0,
            "the commit protocol must not depend on rename")
        }
      }

    fsTest("committed stage with same fingerprint is not recomputed") {
      import spark.implicits._
      val store = new StageStore(newRoot("graft-store"), spark)
      var computes = 0
      def compute = { computes += 1; Seq((1, "a"), (2, "b")).toDF("id", "v") }
      val fp = store.fingerprint("stage-params", "v1")
      val first = store.materialize("s1", fp)(compute).collect().sortBy(_.getInt(0))
      val second = store.materialize("s1", fp)(compute).collect().sortBy(_.getInt(0))
      assert(computes == 1, "second materialize must be a resume, not a recompute")
      assert(first.map(_.toString).toSeq == second.map(_.toString).toSeq)
    }

    fsTest("chaos: kill between data write and manifest commit -> recompute") {
      import spark.implicits._
      val root = newRoot("graft-chaos")
      val store = new StageStore(root, spark)
      var computes = 0
      def compute = { computes += 1; Seq((1, "a"), (2, "b")).toDF("id", "v") }
      val fp = store.fingerprint("v1")
      val clean = store.materialize("s1", fp)(compute).collect().map(_.toString).sorted
      // simulate the crash window: data written, manifest (the commit
      // point) never created
      fsOf(root).delete(stageFile(root, "s1", "MANIFEST.json"), false)
      val after = store.materialize("s1", fp)(compute).collect().map(_.toString).sorted
      assert(computes == 2, "data-without-manifest must NOT count as committed")
      assert(after.toSeq == clean.toSeq)
      assert(store.committedFingerprint("s1").contains(fp), "recommit must complete")
    }

    fsTest("chaos: manifest whose data dir was removed -> recompute, not a failed read") {
      import spark.implicits._
      val root = newRoot("graft-chaos")
      val store = new StageStore(root, spark)
      var computes = 0
      def compute = { computes += 1; Seq((1, "a"), (2, "b")).toDF("id", "v") }
      val fp = store.fingerprint("v1")
      val clean = store.materialize("s1", fp)(compute).collect().map(_.toString).sorted
      // external cleanup removed the snapshot but left its commit record
      fsOf(root).delete(stageFile(root, "s1", "data"), true)
      assert(store.committedFingerprint("s1").isEmpty, "a manifest without data is no commit")
      val after = store.materialize("s1", fp)(compute).collect().map(_.toString).sorted
      assert(computes == 2, "a missing data dir must force a recompute")
      assert(after.toSeq == clean.toSeq)
      assert(store.committedFingerprint("s1").contains(fp), "recommit must complete")
    }

    fsTest("chaos: manifest without a schema (older format) is uncommitted -> recompute once") {
      import spark.implicits._
      val root = newRoot("graft-chaos")
      val store = new StageStore(root, spark)
      var computes = 0
      def compute = { computes += 1; Seq((1, "a"), (2, "b")).toDF("id", "v") }
      val fp = store.fingerprint("v1")
      val clean = store.materialize("s1", fp)(compute).collect().map(_.toString).sorted
      val old = readManifest(root, "s1")
      old.remove("schema")
      writeManifest(root, "s1", mapper.writeValueAsBytes(old))
      assert(store.committedFingerprint("s1").isEmpty)
      val after = store.materialize("s1", fp)(compute).collect().map(_.toString).sorted
      assert(computes == 2, "a manifest without a schema must force a recompute")
      assert(after.toSeq == clean.toSeq)
      store.materialize("s1", fp)(compute)
      assert(computes == 2, "the recommitted manifest carries its schema: later runs resume")
    }

    fsTest("chaos: a killed writer's partial data dir is overwritten") {
      import spark.implicits._
      val root = newRoot("graft-chaos")
      val store = new StageStore(root, spark)
      val fp = store.fingerprint("v1")
      // a previous run died mid-write: a garbage part file and a task's
      // leftover output in the data dir, and no manifest
      val fs = fsOf(root)
      val garbage = stageFile(root, "s1", "data/part-00000-garbage.parquet")
      val leftover = stageFile(root, "s1", "data/_temporary/0/part-00001-garbage.parquet")
      Seq(garbage, leftover).foreach { p =>
        val out = fs.create(p)
        try out.write(Array[Byte](1, 2, 3)) finally out.close()
      }
      val out = store.materialize("s1", fp)(Seq((7, "x")).toDF("id", "v"))
        .collect().map(_.toString).toSeq
      assert(out == Seq("[7,x]"))
      assert(store.committedFingerprint("s1").contains(fp))
      // nothing the killed writer left survives the recompute — partial
      // copies must not accumulate on the volume
      assert(!fs.exists(garbage))
      assert(!fs.exists(leftover))
    }

    fsTest("chaos: compute failure leaves store uncommitted; retry succeeds") {
      import spark.implicits._
      val root = newRoot("graft-chaos")
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

    fsTest("chaos: truncated manifest is treated as uncommitted") {
      import spark.implicits._
      val root = newRoot("graft-chaos")
      val store = new StageStore(root, spark)
      var computes = 0
      def compute = { computes += 1; Seq(1).toDF("id") }
      val fp = store.fingerprint("v1")
      store.materialize("s1", fp)(compute)
      // corrupt the commit record: cut it off before the fingerprint field
      val text = mapper.writeValueAsString(readManifest(root, "s1"))
      writeManifest(root, "s1", text.take(text.indexOf("fingerprint") - 2).getBytes)
      store.materialize("s1", fp)(compute)
      assert(computes == 2, "corrupt manifest must force a recompute")
      assert(store.committedFingerprint("s1").contains(fp))
    }

    fsTest("chaos: mid-pipeline manifest loss -> stage recomputed, output byte-identical") {
      val docs = DocGen.corpusDF(spark, entities = 10, docsPerEntity = 3)
        .select("doc_id", "spans")
      val root = newRoot("graft-chaos-pipe")
      val cfg = PipelineConfig(checkpointRoot = Some(root))
      val full = ResolvePipeline.run(spark, docs, cfg)
        .clusters.select("doc_id", "cluster_id").collect().map(_.toString).sorted
      // the crash window hit candidate_pairs: snapshot present, commit lost
      val manifest = stageFile(root, "candidate_pairs", "MANIFEST.json")
      fsOf(root).delete(manifest, false)
      val resumed = ResolvePipeline.run(spark, docs, cfg)
        .clusters.select("doc_id", "cluster_id").collect().map(_.toString).sorted
      assert(resumed.toSeq == full.toSeq)
      assert(fsOf(root).exists(manifest), "interrupted stage must recommit on resume")
    }

    fsTest("killed run resumes mid-pipeline with byte-identical output") {
      val docs = DocGen.corpusDF(spark, entities = 10, docsPerEntity = 3)
        .select("doc_id", "spans")
      val root = newRoot("graft-resume")
      val cfg = PipelineConfig(checkpointRoot = Some(root))

      val full = ResolvePipeline.run(spark, docs, cfg)
        .clusters.select("doc_id", "cluster_id").collect()
        .map(_.toString).sorted

      // simulate a kill AFTER pair_scores committed but BEFORE clusters:
      // delete the clusters stage only, rerun — earlier stages must be
      // resumed from their snapshots, and the output must be identical
      val fs = fsOf(root)
      fs.delete(new Path(root, "clusters"), true)
      def scoresManifestTime =
        fs.getFileStatus(stageFile(root, "pair_scores", "MANIFEST.json")).getModificationTime

      val scoresManifestBefore = scoresManifestTime
      val resumed = ResolvePipeline.run(spark, docs, cfg)
        .clusters.select("doc_id", "cluster_id").collect()
        .map(_.toString).sorted
      val scoresManifestAfter = scoresManifestTime

      assert(resumed.toSeq == full.toSeq, "resumed output differs from uninterrupted run")
      assert(scoresManifestBefore == scoresManifestAfter,
        "pair_scores was recomputed despite a committed snapshot")
    }
  }
}
