package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.decide.Thresholds
import graft.sim.SimilarityWeights

/** Production spark-submit entry (SURVEY §3.3 `Main`): read an
  * interleaved-span document table, run [[ResolvePipeline]], write the
  * cluster assignment (and optionally the full provenance tables).
  *
  * {{{
  * spark-submit --class graft.pipeline.ResolveJob graft.jar \
  *   --input  s3://bucket/docs          # parquet: doc_id, spans[, ...]
  *   --output s3://bucket/resolved \
  *   --checkpoint-dir s3://bucket/ckpt  # StageStore resume + lineage
  *   --weights 0.33,0.34,0.33 --thresholds 0.92,0.80,0.60 \
  *   --tenant-column tenant --type-column entity_type \
  *   --write-provenance true
  * }}}
  *
  * Cluster sizing (master, executors, memory, AQE advisory sizes) stays
  * on the spark-submit command line where it belongs; the job only sets
  * what the engine requires (see ResolvePipeline.run's AQE notes).
  * With `--checkpoint-dir` a killed run resumes mid-pipeline from the
  * dependency-scoped stage fingerprints; weight/threshold retunes reuse
  * the normalize/key/pair snapshots and re-run scoring onward.
  */
object ResolveJob {

  private val Usage =
    """graft.pipeline.ResolveJob
      |  --input PATH              input table (parquet unless --format)
      |  --output PATH             output root; writes PATH/clusters etc.
      |  [--format parquet|orc|json]   (csv lacks nested spans — import
      |                                via Bulk.importCsv + a span builder)
      |  [--checkpoint-dir URI]    StageStore root, a Hadoop URI or path
      |                            (resume + lineage)
      |  [--weights L,JW,JAC]      default 0.33,0.34,0.33
      |  [--thresholds A,S,R]      default 0.92,0.80,0.60
      |  [--entity-type T|none]    normalization profile, default COMPANY
      |  [--max-block-size N]      default 1000
      |  [--salted-max-block-size N]  salted pair generation for hot keys
      |  [--type-column C] [--tenant-column C] [--status-column C]
      |  [--orphan-fallback true] [--orphan-fallback-cap N]
      |  [--override-edges PATH]   D7 approved merge edges (src, dst)
      |  [--shuffle-partitions N]
      |  [--write-provenance true] also write pair_scores, merge_edges,
      |                            rejects, metrics, block_stats
      |""".stripMargin

  private[pipeline] def parseArgs(args: Array[String]): Map[String, String] = {
    val m = graft.util.Args.parse(args,
      known = Set("input", "output", "format", "checkpoint-dir", "weights",
        "thresholds", "entity-type", "max-block-size", "salted-max-block-size",
        "type-column", "tenant-column", "status-column", "orphan-fallback",
        "orphan-fallback-cap", "override-edges", "shuffle-partitions",
        "write-provenance"),
      required = Set("input", "output"),
      usage = Usage)
    m.get("format").foreach(f => require(Set("parquet", "orc", "json")(f),
      s"--format must be parquet|orc|json, got '$f'\n$Usage"))
    m
  }

  private[pipeline] def configFrom(opts: Map[String, String]): PipelineConfig = {
    val weights = opts.get("weights").map { s =>
      val (l, j, t) = graft.util.Args.triple(s, "--weights")
      SimilarityWeights(l, j, t)
    }.getOrElse(SimilarityWeights.default)
    val thresholds = opts.get("thresholds").map { s =>
      val (a, sy, r) = graft.util.Args.triple(s, "--thresholds")
      Thresholds(a, sy, r)
    }.getOrElse(Thresholds())
    PipelineConfig(
      weights = weights,
      thresholds = thresholds,
      entityType = opts.get("entity-type") match {
        case Some("none") => None
        case Some(t) => Some(t)
        case None => Some(graft.norm.Normalizer.COMPANY)
      },
      maxBlockSize = opts.get("max-block-size").map(_.toInt).getOrElse(1000),
      saltedMaxBlockSize = opts.get("salted-max-block-size").map(_.toInt).getOrElse(-1),
      typeColumn = opts.get("type-column"),
      tenantColumn = opts.get("tenant-column"),
      statusColumn = opts.get("status-column"),
      orphanFallback = opts.get("orphan-fallback").exists(_.toBoolean),
      orphanFallbackCap = opts.get("orphan-fallback-cap").map(_.toInt).getOrElse(1000),
      checkpointRoot = opts.get("checkpoint-dir"),
      numShufflePartitions = opts.get("shuffle-partitions").map(_.toInt))
  }

  /** Run the job against an existing session (the testable core; main
    * wraps it with getOrCreate/stop). Returns the PipelineResult whose
    * outputs were written, its stage caches already released (reading
    * its frames again recomputes them).
    */
  def run(spark: SparkSession, opts: Map[String, String]): PipelineResult = {
    val fmt = opts.getOrElse("format", "parquet")
    val docs = spark.read.format(fmt).load(opts("input"))
    // override edges are OUR provenance artifact (written as parquet by a
    // prior run's review pipeline) — always parquet, independent of the
    // input table's --format
    val overrides = opts.get("override-edges")
      .map(p => spark.read.parquet(p).select("src", "dst"))
    val out = opts("output")
    val result = ResolvePipeline.run(spark, docs, configFrom(opts), overrides)

    def write(df: DataFrame, name: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$name")

    write(result.clusters, "clusters")
    if (opts.get("write-provenance").exists(_.toBoolean)) {
      write(result.pairScores, "pair_scores")
      write(result.mergeEdges, "merge_edges")
      write(result.rejects, "rejects")
      write(result.metrics, "metrics")
      // dropped oversized blocks are a recall decision — always persist
      // alongside the provenance so the recall trade is auditable
      val st = result.candidateStats()
      import spark.implicits._
      write(Seq((st.totalKeys, st.distinctKeys, st.oversizedKeys,
        st.droppedKeyRows, st.saltedKeys, st.saltedKeyRows)).toDF(
        "total_keys", "distinct_keys", "oversized_keys", "dropped_key_rows",
        "salted_keys", "salted_key_rows"),
        "block_stats")
    }
    result.release()
    result
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val spark = SparkSession.builder().appName("graft-resolve").getOrCreate()
    try {
      run(spark, opts)
      val n = spark.read.parquet(s"${opts("output")}/clusters").count()
      // stderr: Spark logs own stdout on many launchers
      System.err.println(s"[resolve-job] wrote $n cluster rows to ${opts("output")}/clusters")
    } finally spark.stop()
  }
}
