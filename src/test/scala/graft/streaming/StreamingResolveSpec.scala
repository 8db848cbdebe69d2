package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestSession

class StreamingResolveSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("streaming resolve: file source -> exact match against entity dim -> memory sink") {
    import spark.implicits._
    // entity dim (static)
    val dim = Seq((1L, "apple"), (2L, "microsoft")).toDF("entity_id", "normalized")

    // stream input: a directory of parquet files
    val dir = Files.createTempDirectory("graft-stream").toString
    Seq(
      ("d1", "Apple Inc."),
      ("d2", "Microsoft Corporation"),
      ("d3", "Unknown Startup LLC"),
      ("d4", "   ")
    ).toDF("doc_id", "name").write.mode("overwrite").parquet(dir)

    val schema = StructType(Seq(
      StructField("doc_id", StringType), StructField("name", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir)
    assert(stream.isStreaming)

    val resolved = StreamingResolve.resolveStream(stream, dim)
    val q = resolved.writeStream
      .format("memory").queryName("resolved_out").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val out = spark.table("resolved_out").collect()
      .map(r => r.getString(0) -> (Option(r.get(2)), r.getString(4))).toMap
    assert(out("d1") == (Some(1L), "AUTO_MERGE"))
    assert(out("d2") == (Some(2L), "AUTO_MERGE"))
    assert(out("d3") == (None, "NO_MATCH"))
    assert(!out.contains("d4"), "blank doc must be rejected from the stream")
  }

  test("streaming exact dedup keeps the first occurrence per content hash") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream3").toString
    Seq(
      ("d1", "same text", java.sql.Timestamp.valueOf("2024-01-01 00:00:01")),
      ("d2", "same text", java.sql.Timestamp.valueOf("2024-01-01 00:00:02")),
      ("d3", "other text", java.sql.Timestamp.valueOf("2024-01-01 00:00:03"))
    ).toDF("doc_id", "text", "ts").write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      StructField("doc_id", StringType), StructField("text", StringType),
      StructField("ts", TimestampType)))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val deduped = StreamingResolve.dedupStream(stream, "ts", "text")
    val q = deduped.writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val ids = spark.table("dedup_out").select("doc_id").as[String].collect().toSet
    assert(ids.contains("d3"))
    assert((ids - "d3").size == 1, s"exactly one of the dup pair must survive: $ids")
  }

  test("mapGroupsWithState sessionization: gap splits sessions, state carries counts") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream4").toString
    val us = (s: Long) => s * 1000000L
    Seq(
      (7L, us(0)), (7L, us(60)),            // session 1 (gap <= 30 min)
      (7L, us(60 * 60)),                    // session 2 (gap > 30 min)
      (9L, us(10))                          // other user, own session
    ).toDF("user_id", "ts_us").write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts_us", LongType)))
    val stream = spark.readStream.schema(schema).parquet(dir)
      .as[(Long, Long)]
    val sessions = StreamingResolve.sessionize(stream)
    val q = sessions.toDF().writeStream
      .format("memory").queryName("sess_out").outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("sess_out").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(7L) == ((1L, 2L)), "user 7 ends in session 2 with 1 event in it")
    assert(out(9L) == ((1L, 1L)))
  }

  test("watermarked windowed decision counts run to completion") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream2").toString
    Seq(
      ("d1", "apple", java.sql.Timestamp.valueOf("2024-01-01 00:10:00")),
      ("d2", "apple", java.sql.Timestamp.valueOf("2024-01-01 00:20:00")),
      ("d3", "pear", java.sql.Timestamp.valueOf("2024-01-01 01:20:00"))
    ).toDF("doc_id", "name", "ts").write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      StructField("doc_id", StringType), StructField("name", StringType),
      StructField("ts", TimestampType)))
    val stream = spark.readStream.schema(schema).parquet(dir)
    // decisions computed on the stream itself (watermark needs an
    // event-time column originating from the streaming side)
    val decided = stream.withColumn("decision",
      when(col("name") === "apple", "AUTO_MERGE").otherwise("NO_MATCH"))
    val windowed = StreamingResolve.windowedDecisionCounts(decided, "ts")
    val q = windowed.writeStream
      .format("memory").queryName("windowed_out").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("windowed_out").collect()
    assert(rows.map(_.getLong(2)).sum == 3)
  }

  test("foreachBatch incremental clustering: stream resolves, clustering stays exact") {
    import spark.implicits._
    import graft.pipeline.IncrementalResolve

    val dir = Files.createTempDirectory("graft-stream4").toString
    val schema = StructType(Seq(
      StructField("doc_id", StringType), StructField("normalized", StringType)))

    // running state: clustering + names seen so far (the foreachBatch
    // analog of the persisted cluster-map and B2 key tables)
    var existing = Seq.empty[(String, String)].toDF("doc_id", "cluster_id")
    var existingNames = Seq.empty[(String, String)].toDF("doc_id", "normalized")

    Seq(("d1", "acme gamma"), ("d2", "acme gamma"), ("d3", "zeta omega"))
      .toDF("doc_id", "normalized").write.mode("append").parquet(dir)

    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = stream.writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
      val newNames = batch.select("doc_id", "normalized").localCheckpoint(true)
      existing = IncrementalResolve.resolveNames(spark, IncrementalResolve.Existing(existing),
        IncrementalResolve.namesState(existingNames), IncrementalResolve.namesState(newNames))
        .assignments.localCheckpoint(true)
      existingNames = existingNames.unionByName(newNames).localCheckpoint(true)
      ()
    }.start()
    try {
      q.processAllAvailable()
      Seq(("d4", "acme gamma"), ("d5", "beta fresh"), ("d6", "zeta omega"))
        .toDF("doc_id", "normalized").write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()

    val out = existing.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map(
      "d1" -> "d1", "d2" -> "d1", "d4" -> "d1", // batch-2 doc joins batch-1 cluster
      "d3" -> "d3", "d6" -> "d3",
      "d5" -> "d5"))
  }
}
