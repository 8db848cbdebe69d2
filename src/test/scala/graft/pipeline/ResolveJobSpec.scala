package graft.pipeline

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.gen.DocGen

/** The spark-submit entry (SURVEY §3.3 Main): arg parsing, output layout,
  * equivalence with a direct ResolvePipeline.run, checkpointed re-run.
  */
class ResolveJobSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private lazy val inputDir: String = {
    val dir = tmp("rjob-in")
    DocGen.corpusDF(spark, entities = 120, docsPerEntity = 3, partitions = 4)
      .select("doc_id", "spans")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("arg parsing: required, unknown, odd, triples") {
    assertThrows[IllegalArgumentException](ResolveJob.parseArgs(Array("--input", "x")))
    assertThrows[IllegalArgumentException](
      ResolveJob.parseArgs(Array("--input", "x", "--output", "y", "--bogus", "1")))
    assertThrows[IllegalArgumentException](
      ResolveJob.parseArgs(Array("--input", "x", "--output")))
    val m = ResolveJob.parseArgs(Array(
      "--input", "a", "--output", "b", "--weights", "0.5,0.0,0.5"))
    val cfg = ResolveJob.configFrom(m)
    assert(cfg.weights.levenshteinWeight == 0.5 && cfg.weights.jaroWinklerWeight == 0.0)
    assert(ResolveJob.configFrom(
      ResolveJob.parseArgs(Array("--input", "a", "--output", "b",
        "--entity-type", "none"))).entityType.isEmpty)
    assertThrows[IllegalArgumentException](ResolveJob.configFrom(
      ResolveJob.parseArgs(Array("--input", "a", "--output", "b",
        "--thresholds", "0.9,0.8"))))
    // an unparseable token must fail loudly, not be dropped so the rest
    // masquerades as a valid triple
    assertThrows[IllegalArgumentException](ResolveJob.configFrom(
      ResolveJob.parseArgs(Array("--input", "a", "--output", "b",
        "--weights", "0.33,junk,0.34,0.33"))))
  }

  test("back-to-back runs release their stage caches") {
    val sc = spark.sparkContext
    // a cached Dataset's block set is an RDD named after its plan; the
    // engine's local checkpoints are unnamed and go with their frames
    def cachedFrames = sc.getPersistentRDDs.values.count(_.name != null)
    def run(k: Int) = ResolveJob.run(spark, ResolveJob.parseArgs(Array(
      "--input", inputDir, "--output", tmp(s"rjob-release-$k"))))
    val first = run(0)
    assert(first.cached.nonEmpty, "a run without a store caches its stages")
    assert(first.cached.forall(_.storageLevel == org.apache.spark.storage.StorageLevel.NONE))
    val afterFirst = cachedFrames
    (1 to 3).foreach(run)
    assert(cachedFrames == afterFirst,
      s"cached block sets went $afterFirst -> $cachedFrames over 3 more runs")
  }

  test("job output == direct pipeline run; provenance tables written") {
    val out = tmp("rjob-out")
    val opts = ResolveJob.parseArgs(Array(
      "--input", inputDir, "--output", out, "--write-provenance", "true"))
    ResolveJob.run(spark, opts)

    val jobClusters = spark.read.parquet(s"$out/clusters")
      .select("doc_id", "cluster_id").collect().map(r => (r.getString(0), r.getString(1))).sorted
    val direct = ResolvePipeline.run(spark, spark.read.parquet(inputDir), PipelineConfig())
      .clusters.select("doc_id", "cluster_id")
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(jobClusters.sameElements(direct))
    assert(jobClusters.nonEmpty)

    assert(spark.read.parquet(s"$out/pair_scores").count() > 0)
    assert(spark.read.parquet(s"$out/metrics").count() > 0)
    val st = spark.read.parquet(s"$out/block_stats").collect()(0)
    assert(st.getAs[Long]("total_keys") > 0)
    // rejects/merge_edges exist (may be empty but must be readable)
    assert(spark.read.parquet(s"$out/rejects").columns.contains("reject_reason"))
    assert(spark.read.parquet(s"$out/merge_edges").columns.contains("confidence"))
  }

  test("checkpointed re-run is identical (StageStore resume through the job surface)") {
    val ckpt = tmp("rjob-ckpt")
    def once(): Array[(String, String)] = {
      val out = tmp("rjob-out2")
      ResolveJob.run(spark, ResolveJob.parseArgs(Array(
        "--input", inputDir, "--output", out, "--checkpoint-dir", ckpt)))
      spark.read.parquet(s"$out/clusters").select("doc_id", "cluster_id")
        .collect().map(r => (r.getString(0), r.getString(1))).sorted
    }
    val first = once()
    val second = once() // every stage resumes from the snapshot
    assert(first.sameElements(second))
  }

  test("checkpointed resume under a file:/// URI root == the plain-path run") {
    def clusters(ckpt: String): Array[(String, String)] = {
      val out = tmp("rjob-out3")
      ResolveJob.run(spark, ResolveJob.parseArgs(Array(
        "--input", inputDir, "--output", out, "--checkpoint-dir", ckpt)))
      spark.read.parquet(s"$out/clusters").select("doc_id", "cluster_id")
        .collect().map(r => (r.getString(0), r.getString(1))).sorted
    }
    val plain = clusters(tmp("rjob-ckpt-plain"))
    val dir = tmp("rjob-ckpt-uri")
    val first = clusters(s"file://$dir")
    // the stages committed under the URI's own path
    def manifestTimes = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.resolve("MANIFEST.json")).filter(Files.exists(_))
      .map(p => p.toString -> Files.getLastModifiedTime(p)).toMap
    val committed = manifestTimes
    assert(committed.size >= 5, s"stage manifests under $dir: ${committed.keys}")
    val resumed = clusters(s"file://$dir")
    assert(manifestTimes == committed, "the rerun resumed every stage")
    assert(first.sameElements(plain))
    assert(resumed.sameElements(plain))
  }
}
