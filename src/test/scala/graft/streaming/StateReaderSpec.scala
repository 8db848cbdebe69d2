package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.checkpoint.VersionedState
import graft.gen.DocGen

/** The public state readers of both streaming jobs take their schema from
  * the newest unit's parquet footer: building their frames runs no Spark
  * job, and the frames read what a schema-inferring read does.
  */
class StateReaderSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  test("building the state readers' frames over a 3-unit state runs no Spark job") {
    val resolve = tmp("readers-resolve")
    val dedup = tmp("readers-dedup")
    for (i <- 0 until 3) {
      StreamResolveJob.attachBatch(spark, resolve,
        DocGen.corpusDF(spark, entities = 5, docsPerEntity = 2, seed = 80L + i, partitions = 1)
          .select(concat(lit(s"b$i-"), col("doc_id")).as("doc_id"), col("spans")),
        batchId = i.toLong)
      StreamDedupJob.attachBatch(spark, dedup,
        Seq((10L * i, s"near duplicate text of batch $i"), (10L * i + 1, s"near duplicate text of batch $i"))
          .toDF("doc_id", "text"),
        batchId = i.toLong)
    }
    assert(VersionedState.stateView(spark, resolve).deltaIds == Seq(0L, 1L, 2L))

    var frames: Seq[(String, String, DataFrame)] = Nil
    val jobs = graft.SparkJobs.count(spark) {
      frames = Seq("names", "keys", "rejects").map(t =>
        (resolve, t, StreamResolveJob.stateTable(spark, resolve, t).get)) ++
        Seq("keys", "shingles", "ids").map(t =>
          (dedup, t, StreamDedupJob.readStateTable(spark, dedup, t).get)) :+
        ((dedup, "pairs", StreamDedupJob.pairsSoFar(spark, dedup).get))
      StreamResolveJob.currentClusters(spark, resolve).get
    }
    assert(jobs == 0, s"building the reader frames ran $jobs Spark jobs")

    for ((root, t, df) <- frames) {
      val inferred = spark.read.parquet(
        VersionedState.stateView(spark, root).units(root).map { case (_, d) => s"$d/$t" }: _*)
      assert(df.collect().map(_.toString).sorted.sameElements(
        inferred.collect().map(_.toString).sorted), s"$root $t")
    }
    assert(StreamResolveJob.currentClusters(spark, resolve).get.count() ==
      StreamResolveJob.stateTable(spark, resolve, "names").get.count())
  }
}
