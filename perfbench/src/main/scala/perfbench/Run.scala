package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.blocking.BlockingKeys
import graft.checkpoint.StageStore
import graft.cluster.ConnectedComponents
import graft.decide.{Decisions, Thresholds}
import graft.functions.Er
import graft.norm.Normalizer
import graft.pairs.CandidateGenerator
import graft.pipeline.ResolveJob
import graft.sim.SimilarityWeights
import graft.streaming.{StreamDedupJob, StreamResolveJob}

import Util._

/** One arriving batch of ingest_stream: its two attach times and whether
  * the resolve job compacted its state on it.
  */
final case class Batch(k: Int, resolveS: Double, dedupS: Double, compacted: Boolean) {
  def latency: Double = resolveS + dedupS
}

/** One workload run: set-up, the measuring loop, output checks, the
  * traced pass when asked for, and the result file.
  */
final class Run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
                traced: Boolean, work: Path, resultFile: Path, sessionS: Double) {

  private val sc = spark.sparkContext
  private val input = work.resolve("input")

  // results
  private val e2e = mutable.LinkedHashMap.empty[String, Double]
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private val sizes = mutable.LinkedHashMap.empty[String, Any]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private var attempted = 0
  private var failed = 0
  /** Assignment hashes per kind of output (the same input state must
    * give the same hash every time).
    */
  private val hashes = mutable.LinkedHashMap.empty[String, mutable.LinkedHashSet[String]]

  private def check(name: String, ok: Boolean, detail: Any): Boolean = {
    checks += ((name, ok, detail.toString))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
    ok
  }

  /** One attempted operation; it fails when it throws or a check inside
    * it fails.
    */
  private def op(name: String)(body: => Unit): Unit = {
    attempted += 1
    val before = checks.count(!_._2)
    try body catch {
      case e: Throwable =>
        check(s"$name.completes", ok = false, s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }
    if (checks.count(!_._2) > before) failed += 1
  }

  /** Runs `body` until `seconds` have passed since the loop began, at
    * least `minReps` times.
    */
  private def loop(minReps: Int)(body: Int => Unit): Unit = {
    val t0 = clock
    var i = 0
    var last = 0.0
    // no repetition starts that would end well past the window
    while (i < minReps || secs(t0) + 0.5 * last < seconds) {
      val t = clock
      body(i)
      last = secs(t)
      i += 1
    }
    sizes("measure_wall_s") = secs(t0)
    sizes("reps") = i
  }

  private def checkHash(assignments: DataFrame, kind: String = "job"): Unit = {
    val seen = hashes.getOrElseUpdate(kind, mutable.LinkedHashSet.empty)
    seen += Checks.assignmentHash(assignments)
    check(s"assignment_hash.same_across_reps.$kind", seen.size == 1, seen.mkString(" "))
  }

  private def checkAssignments(assignments: DataFrame, truth: DataFrame,
                               kind: String = "job"): Unit = {
    val f1 = Checks.pairwiseF1(assignments, truth)
    if (!e2e.contains("pairwise_f1")) e2e("pairwise_f1") = f1
    check("pairwise_f1", f1 >= Main.F1Floor, f1)
    check("cluster_id.is_min_member", Checks.clusterIdNotMin(assignments) == 0, "violations")
    checkHash(assignments, kind)
  }

  private def normalizedNames(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Normalizer.normalizeColumn(Er.docName(col("spans"))).as("normalized"))

  /** Input sizes that decide which side of the block-cap cliff a run is on. */
  private def recordNameSizes(docs: DataFrame): Unit = {
    val g = normalizedNames(docs).groupBy("normalized").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)), max("n")).collect()(0)
    sizes("distinct_names") = g.getLong(0)
    sizes("largest_exact_group") = g.getLong(1)
    layer("size.distinct_names") = g.getLong(0).toDouble
  }

  /** setup_s: session start + the median input set-up repetition +
    * the JIT warm-up + materializing the input, each recorded apart.
    */
  private def setup(inputS: Double, warmS: Double, materializeS: Double): Unit = {
    e2e("setup_s") = sessionS + inputS + warmS + materializeS
    sizes("setup_session_s") = sessionS
    sizes("setup_input_s") = inputS
    sizes("setup_warm_s") = warmS
    sizes("setup_materialize_s") = materializeS
  }

  private def setupReps(n: Int)(body: => Unit): Double =
    medianOf((1 to n).map { _ => val t = clock; body; secs(t) })

  def execute(): Unit = {
    Files.createDirectories(work)
    workload match {
      case "resolve_skewed_ckpt" => skewed()
      case "ingest_stream" => ingest()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    e2e("peak_rss_mb") = peakRssMb()
    val cores = sc.defaultParallelism
    val probe1 = probeRate(1, 400)
    val probeN = probeRate(cores, 400)
    layer("host.pairs_per_s_1t") = probe1
    layer("host.pairs_per_s_nt") = probeN
    val env = mutable.LinkedHashMap[String, Any](
      "nproc" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "shuffle_partitions" -> Main.Parts,
      "host_probe_pairs_per_s_1t" -> probe1,
      "host_probe_pairs_per_s_nt" -> probeN)
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "correct" -> (failed == 0 && checks.forall(_._2)),
      "attempted" -> attempted, "failed" -> failed,
      "error_rate" -> (if (attempted == 0) 0.0 else failed.toDouble / attempted),
      "end_to_end" -> e2e, "per_layer" -> layer,
      "sizes" -> sizes, "env" -> env,
      "assignment_hash" -> hashes.headOption.map(_._2.head).getOrElse(""),
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) })
    Files.write(resultFile, Json.render(out).getBytes(StandardCharsets.UTF_8))
  }

  // ---------------------------------------------------------------- workloads

  private def skewed(): Unit = {
    import Main.Skewed._
    val genS = setupReps(3) {
      Gen.skewed(spark, Entities, seed, Main.Parts, MaxCount, Exponent)
        .write.mode("overwrite").parquet(input.toString)
    }
    def opts(ckpt: Path, out: Path, extra: (String, String)*) =
      Main.Skewed.opts(input, ckpt, out, extra: _*)
    // warm-up: the workload's own job once, so the measured run finds
    // every plan of this input size compiled and the JIT warm
    val warmS = {
      val t = clock
      ResolveJob.run(spark, opts(work.resolve("warm-ckpt"), work.resolve("warm-out")))
        .assignments.count()
      release(spark)
      Seq("warm-ckpt", "warm-out").foreach(d => deleteTree(work.resolve(d)))
      secs(t)
    }
    val t = clock
    val raw = spark.read.parquet(input.toString)
    val docs = raw.select("doc_id", "spans")
    val truth = raw.select("doc_id", "entity_id").persist()
    val nDocs = truth.count()
    setup(genS, warmS, secs(t))
    sizes("docs") = nDocs
    recordNameSizes(docs)
    val keep = sc.getPersistentRDDs.keySet.toSet

    val jobs = mutable.ArrayBuffer.empty[Double]
    var pairs = 0L
    loop(1) { i =>
      val ckpt = work.resolve(s"ckpt-$i")
      val out = work.resolve(s"out-$i")
      op("job") {
        release(spark, keep)
        val t0 = clock
        val r = ResolveJob.run(spark, opts(ckpt, out))
        r.assignments.count()
        jobs += secs(t0)
        val clusters = spark.read.parquet(out.resolve("clusters").toString)
        val assignments = clusters.select("doc_id", "cluster_id")
        if (i == 0) {
          checkAssignments(assignments, truth)
          check("spans.unchanged", Checks.spanMismatches(clusters, docs) == 0, "mismatches")
          pairs = spark.read.parquet(out.resolve("pair_scores").toString).count()
          val bs = spark.read.parquet(out.resolve("block_stats").toString).collect()(0)
          sizes("candidate_pairs") = pairs
          sizes("dropped_key_rows") = bs.getAs[Long]("dropped_key_rows")
          sizes("oversized_blocks") = bs.getAs[Long]("oversized_keys")
          sizes("salted_blocks") = bs.getAs[Long]("salted_keys")
        } else checkHash(assignments)
      }
      release(spark, keep)
      Seq(ckpt, out).foreach(deleteTree)
    }
    sizes("rep_job_s") = jobs.toSeq
    val job = medianOf(jobs.toSeq)
    e2e("job_s") = job
    e2e("docs_per_s") = nDocs / job
    layer("run.pairs_scored_per_s") = pairs / job

    if (traced) {
      release(spark, keep)
      val tr = new Tracer(sc, s"$workload-$seed")
      val docsMat = docs.localCheckpoint(true)
      val keep2 = sc.getPersistentRDDs.keySet.toSet
      layers(tr, docsMat, MaxBlockSize, SaltedMaxBlockSize, Thresholds())
      release(spark, keep2)
      val ckpt = work.resolve("ckpt-traced")
      tr.span("pipeline") { s =>
        tr.listener.resetPeakStorage()
        val base = tr.listener.storageBytes
        val r = ResolveJob.run(spark, opts(ckpt, work.resolve("out-traced")))
        s.counts("assignments") = r.assignments.count().toDouble
        s.counts("peak_storage_mb") = (tr.listener.peakStorageBytes - base) / 1048576.0
      }
      val written = dirBytes(ckpt)
      layer("checkpoint.written_mb") = written / 1048576.0
      layer("checkpoint.write_amp") = written.toDouble / dirBytes(input)
      val manifests = stageManifests(ckpt)
      release(spark, keep2)
      // the retuned rerun over the committed checkpoint (run.resume_s);
      // untraced runs leave it out to stay short
      op("resume") {
        val out2 = work.resolve("out-traced-retuned")
        val resume = tr.span("pipeline.resume") { s =>
          val r = ResolveJob.run(spark, opts(ckpt, out2, "thresholds" -> Retuned))
          s.counts("assignments") = r.assignments.count().toDouble
          s
        }
        layer("run.resume_s") = tr.wallS(resume)
        val retuned = spark.read.parquet(out2.resolve("clusters").toString)
        check("resume.cluster_id.is_min_member",
          Checks.clusterIdNotMin(retuned.select("doc_id", "cluster_id")) == 0, "violations")
        check("resume.spans.unchanged", Checks.spanMismatches(retuned, docs) == 0, "mismatches")
      }
      val after = stageManifests(ckpt)
      layer("checkpoint.stages_reused") = manifests.count { case (k, v) => after.get(k).contains(v) }
      // StageStore.materialize on its own: a miss (compute, write,
      // commit) and then a hit (read the committed snapshot back)
      val store = new StageStore(work.resolve("ckpt-direct").toString, spark)
      val fp = store.fingerprint("perfbench", seed.toString)
      val stageInput = normalizedNames(docsMat)
      tr.span("checkpoint.commit") { s =>
        s.counts("rows") = store.materialize("normalized", fp)(stageInput).count().toDouble
      }
      tr.span("checkpoint.hit") { s =>
        s.counts("rows") = store.materialize("normalized", fp)(stageInput).count().toDouble
      }
      finishTrace(tr, job)
      // the scaling legs (separate JVMs, started by run.py) warm up on
      // this small input before timing the full one
      Gen.skewed(spark, Entities / 20, seed + 1, Main.Parts, MaxCount / 20, Exponent)
        .write.mode("overwrite").parquet(work.resolve("warm-in").toString)
    }
  }

  private def stageManifests(ckpt: Path): Map[String, String] = {
    if (!Files.exists(ckpt)) return Map.empty
    val st = Files.list(ckpt)
    try st.iterator().asScala.map(_.resolve("MANIFEST.json")).filter(Files.exists(_))
      .map(p => p.getParent.getFileName.toString -> new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      .toMap
    finally st.close()
  }

  private def ingest(): Unit = {
    import Main.Stream._
    def batchDir(k: Int) = input.resolve(s"batch=$k").toString
    def text(df: DataFrame) = df.select(col("doc_id"), Er.docName(col("spans")).as("text"))
    /** Ingest batch k through both jobs: (resolve s, dedup s, whether the
      * resolve job compacted its state). The optional tracer wraps each
      * call in its layer's span.
      */
    def commit(root: Path, k: Int, tr: Option[Tracer] = None): (Double, Double, Boolean) = {
      val b = spark.read.parquet(batchDir(k)).select("doc_id", "spans")
      def timed(name: String)(f: => Unit): Double = tr match {
        case Some(t) => val s = t.span(name)(s => { f; s }); t.wallS(s)
        case None => val t0 = clock; f; secs(t0)
      }
      val r = timed("streaming.batch") {
        StreamResolveJob.attachBatch(spark, root.resolve("resolve").toString, b, k,
          compactEvery = CompactEvery)
      }
      val d = timed("dedup.batch") {
        StreamDedupJob.attachBatch(spark, root.resolve("dedup").toString, text(b), k,
          compactEvery = CompactEvery)
      }
      val compacted = Files.exists(root.resolve(s"resolve/base=$k/_COMMITTED"))
      System.err.println(f"[perfbench] batch $k: resolve $r%.2f s, dedup $d%.2f s, compacted $compacted")
      (r, d, compacted)
    }
    val genS = setupReps(3) {
      val s = Gen.stream(spark, BaseEntities, seed, Main.Parts, MaxCount, Exponent,
        Batches, NewEntities, Variants)
      s.base.write.mode("overwrite").parquet(batchDir(0))
      s.arriving.zipWithIndex.foreach { case (df, i) =>
        df.write.mode("overwrite").parquet(batchDir(i + 1))
      }
    }
    // the base corpus is committed once, as batch 0, into an empty state
    // that every stream below starts from (a fresh copy each time)
    val pristine = work.resolve("state-base")
    val baseS = { val (r, d, _) = commit(pristine, 0); r + d }
    val allDocs = spark.read.parquet(input.toString)
    val truth = allDocs.select("doc_id", "entity_id").persist()
    val nAll = truth.count()
    val nBase = spark.read.parquet(batchDir(0)).count()
    val batchDocs = (1 to Batches).map(k => spark.read.parquet(batchDir(k)).count())
    sizes("docs") = nAll
    sizes("base_docs") = nBase
    sizes("arriving_docs_per_batch") = batchDocs
    recordNameSizes(allDocs.select("doc_id", "spans"))
    val keep = sc.getPersistentRDDs.keySet.toSet

    /** Ingests arriving batches 1..last in order from a fresh copy of the
      * base state, then checks the resulting clustering.
      */
    def stream(root: Path, last: Int, tr: Option[Tracer]): Seq[Batch] = {
      copyTree(pristine, root)
      val done = mutable.ArrayBuffer.empty[Batch]
      (1 to last).foreach { k =>
        op("batch") {
          val (r, d, c) = commit(root, k, tr)
          done += Batch(k, r, d, c)
        }
      }
      op("clusters") {
        checkStream(root, truth, nBase + batchDocs.take(last).sum, s"batches=$last")
      }
      done.toSeq
    }

    // the measured operation: arriving batch 1, which (CompactEvery = 2)
    // also compacts the state; the base commit before it is the warm-up
    val Seq(measured) = stream(work.resolve("state-measured"), 1, None)
    release(spark, keep)
    setup(genS, baseS, 0.0)
    val job = measured.latency
    e2e("job_s") = job
    e2e("docs_per_s") = batchDocs(measured.k - 1) / job

    if (traced) {
      val tr = new Tracer(sc, s"$workload-$seed")
      val root = work.resolve("state-traced")
      val done = stream(root, Batches, Some(tr))
      val lat = done.map(_.latency)
      val tracedJob = lat(measured.k - 1)
      // the tail is the highest percentile with at least ten batches
      // beyond it; a run holds fewer than eleven batches, so none
      // qualifies and the slowest batch stands in, as percentile 100
      layer("run.batch_p50_s") = medianOf(lat)
      layer("run.batch_tail_s") = lat.max
      layer("run.tail_pct") = 100.0
      layer("run.tail_batches") = lat.size
      val (compacting, plain) = done.partition(_.compacted)
      layer("streaming.resolve_batch_s") = medianOf(plain.map(_.resolveS))
      layer("streaming.compaction_batch_s") = medianOf(compacting.map(_.resolveS))
      layer("streaming.compactions") = compacting.size
      layer("streaming.delta_mb_per_batch") = (1 to done.size).map(k =>
        dirBytes(root.resolve(s"resolve/d=$k")) + dirBytes(root.resolve(s"dedup/d=$k"))).sum /
        1048576.0 / done.size
      layer("streaming.state_mb") = dirBytes(root) / 1048576.0
      layer("streaming.live_units") = liveUnits(root.resolve("resolve"))
      layer("dedup.batch_s") = medianOf(done.map(_.dedupS))
      layer("dedup.near_dup_pairs") =
        StreamDedupJob.pairsSoFar(spark, root.resolve("dedup").toString).map(_.count().toDouble).getOrElse(0.0)
      finishTrace(tr, job, Some(tracedJob))
    }
  }

  /** Units of the committed view: the latest base plus deltas above it. */
  private def liveUnits(root: Path): Int = {
    val st = Files.list(root)
    val names = try st.iterator().asScala
      .filter(p => Files.exists(p.resolve("_COMMITTED"))).map(_.getFileName.toString).toSeq
    finally st.close()
    val base = names.filter(_.startsWith("base=")).map(_.drop(5).toLong).maxOption.getOrElse(-1L)
    (if (base >= 0) 1 else 0) + names.count(n => n.startsWith("d=") && n.drop(2).toLong > base)
  }

  private def checkStream(root: Path, truth: DataFrame, nIngested: Long, kind: String): Unit = {
    val rs = root.resolve("resolve").toString
    val clusters = StreamResolveJob.currentClusters(spark, rs).get.persist()
    try {
      val clustered = clusters.select("doc_id").distinct().count()
      val rejected = StreamResolveJob.stateTable(spark, rs, "rejects").map(_.count()).getOrElse(0L)
      check("stream.ingested_eq_clustered_plus_rejected", clustered + rejected == nIngested,
        s"ingested=$nIngested clustered=$clustered rejected=$rejected")
      check("stream.no_doc_in_two_clusters", Checks.docsInTwoClusters(clusters) == 0, "violations")
      checkAssignments(clusters, truth, kind)
    } finally clusters.unpersist()
  }

  // ---------------------------------------------------------------- tracing

  /** The per-module decomposition of a batch run: each module's public
    * entry points called in pipeline order over the exact-group
    * representatives, each output counted inside its span.
    */
  private def layers(tr: Tracer, docs: DataFrame, cap: Int, saltedCap: Int,
                     thresholds: Thresholds): Unit = {
    val normed = tr.span("norm") { s =>
      val named = docs.select(col("doc_id"), Er.docName(col("spans")).as("name"))
        .withColumn("reject_reason", Er.rejectReason(col("name")))
      val n = named.where(col("reject_reason").isNull)
        .select(col("doc_id"), Normalizer.normalizeColumn(col("name")).as("normalized"))
        .persist()
      s.counts("rows") = n.count().toDouble
      s.counts("rejects") = named.where(col("reject_reason").isNotNull).count().toDouble
      n
    }
    val nc = tr.spans.find(_.name == "norm").get.counts
    layer("norm.rows") = nc("rows")
    layer("norm.rejects") = nc("rejects")
    // exact-group representatives, as the pipeline's pregroup forms them
    val groups = normed.groupBy("normalized")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n")).persist()
    val g = groups.agg(count(lit(1)), max("n")).collect()(0)
    layer("pipeline.exact_groups") = g.getLong(0).toDouble
    layer("pipeline.largest_exact_group") = g.getLong(1).toDouble
    val reps = groups.select("doc_id", "normalized")

    val keys = tr.span("blocking") { s =>
      def strategy(name: String)(df: => DataFrame): DataFrame = tr.span(s"blocking.$name") { c =>
        val k = df.persist()
        c.counts("keys") = k.count().toDouble
        k
      }
      val d = strategy("default")(BlockingKeys.explodeKeys(reps, "doc_id",
        BlockingKeys.defaultKeys(col("normalized"))))
      val snk = strategy("snk")(reps.select(
        BlockingKeys.sortedNeighborhoodKey(col("normalized")).as("block_key"), col("doc_id"))
        .where(col("block_key").isNotNull))
      val mh = strategy("minhash")(BlockingKeys.minhashKeyTable(reps, "doc_id", col("normalized")))
      val all = d.union(snk).union(mh).persist()
      s.counts("keys") = all.count().toDouble
      s.counts("distinct_keys") = all.select("block_key").distinct().count().toDouble
      all
    }
    Seq("default", "snk", "minhash").foreach { n =>
      layer(s"blocking.${n}_wall_s") = tr.spans.find(_.name == s"blocking.$n").map(tr.wallS).getOrElse(0.0)
    }
    val bSpan = tr.spans.find(_.name == "blocking").get
    layer("blocking.keys") = bSpan.counts("keys")
    layer("blocking.distinct_keys") = bSpan.counts("distinct_keys")

    val pairs = tr.span("pairs") { s =>
      val p = CandidateGenerator.candidatePairs(keys, cap, saltedCap).persist()
      s.counts("candidates") = p.count().toDouble
      val st = CandidateGenerator.stats(keys, cap, saltedCap)
      s.counts("oversized_blocks") = st.oversizedKeys.toDouble
      s.counts("dropped_key_rows") = st.droppedKeyRows.toDouble
      p
    }
    val pSpan = tr.spans.find(_.name == "pairs").get
    layer("pairs.candidates") = pSpan.counts("candidates")
    layer("pairs.oversized_blocks") = pSpan.counts("oversized_blocks")
    layer("pairs.dropped_key_rows") = pSpan.counts("dropped_key_rows")

    val w = SimilarityWeights.default
    val scored = tr.span("sim") { s =>
      val a = reps.select(col("doc_id").as("doc_id_a"), col("normalized").as("name_a"))
      val b = reps.select(col("doc_id").as("doc_id_b"), col("normalized").as("name_b"))
      val sc = pairs.join(a, "doc_id_a").join(b, "doc_id_b")
        .withColumn("lev", Er.levSim(col("name_a"), col("name_b")))
        .withColumn("jw", Er.jaroWinkler(col("name_a"), col("name_b")))
        .withColumn("jac", Er.tokenJaccard(col("name_a"), col("name_b")))
        .select(col("doc_id_a"), col("doc_id_b"),
          when(col("name_a") === col("name_b"), lit(1.0))
            .otherwise(lit(w.levenshteinWeight) * col("lev") + lit(w.jaroWinklerWeight) * col("jw")
              + lit(w.jaccardWeight) * col("jac")).as("score"))
        .persist()
      s.counts("pairs_scored") = sc.count().toDouble
      sc
    }
    layer("sim.pairs_scored") = tr.spans.find(_.name == "sim").get.counts("pairs_scored")

    val decided = tr.span("decide") { s =>
      val d = scored.withColumn("decision", Decisions.decide(col("score"), thresholds)).persist()
      Decisions.decisionCounts(d).collect().foreach(r => s.counts(r.getString(0)) = r.getLong(1).toDouble)
      d
    }
    val dc = tr.spans.find(_.name == "decide").get.counts
    layer("decide.auto_merge") = dc.getOrElse("AUTO_MERGE", 0.0)
    layer("decide.synonym") = dc.getOrElse("SYNONYM_ONLY", 0.0)
    layer("decide.review") = dc.getOrElse("REVIEW", 0.0)
    layer("decide.no_match") = dc.getOrElse("NO_MATCH", 0.0)
    layer("pairs.useful_ratio") =
      if (layer("pairs.candidates") == 0) 0.0
      else (layer("pairs.candidates") - layer("decide.no_match")) / layer("pairs.candidates")

    tr.span("cluster") { s =>
      val edges = decided.where(col("decision") === "AUTO_MERGE")
        .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst")).persist()
      s.counts("edges") = edges.count().toDouble
      val cc = ConnectedComponents.run(spark, edges, reps.select("doc_id")).persist()
      val sizes = cc.groupBy("cluster_id").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)), max("n")).collect()(0)
      s.counts("components") = sizes.getLong(0).toDouble
      s.counts("largest_component") = sizes.getLong(1).toDouble
    }
    val cc = tr.spans.find(_.name == "cluster").get.counts
    layer("cluster.edges") = cc("edges")
    layer("cluster.components") = cc("components")
    layer("cluster.largest_component") = cc("largest_component")
  }

  val Layers = Seq("norm", "blocking", "pairs", "sim", "decide", "cluster", "pipeline",
    "checkpoint", "streaming", "dedup")

  /** Per-layer totals from the spans, the scaling-independent pipeline
    * figures, the tracing overhead, and the span file.
    */
  private def finishTrace(tr: Tracer, untracedJob: Double, tracedJobOpt: Option[Double] = None): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    tr.stop()
    val res = tr.listener.allRes
    def inLayer(l: String, n: String) = n == l || n.startsWith(l + ".")
    Layers.foreach { l =>
      val ls = tr.spans.filter(s => inLayer(l, s.name))
      val ids = ls.map(_.id).toSet
      val roots = ls.filterNot(s => ids(s.parent))
      val rs = ls.flatMap(s => res.get(s.id))
      val taskMs = rs.flatMap(_.taskMs).sorted
      layer(s"$l.wall_s") = roots.map(tr.wallS).sum
      layer(s"$l.cpu_s") = rs.map(_.cpuNs).sum / 1e9
      layer(s"$l.shuffle_mb") = rs.map(_.shuffleBytes).sum / 1048576.0
      layer(s"$l.spill_mb") = rs.map(_.spillBytes).sum / 1048576.0
      layer(s"$l.tasks") = rs.map(_.tasks).sum
      layer(s"$l.task_skew") =
        if (taskMs.isEmpty) 0.0 else taskMs.last / math.max(1.0, medianOf(taskMs.map(_.toDouble).toSeq))
      layer(s"$l.jobs") = rs.map(_.jobs).sum
      layer(s"$l.failed_tasks") = rs.map(_.failedTasks).sum
    }
    layer("sim.pairs_per_cpu_s") =
      if (layer("sim.cpu_s") > 0) layer("sim.pairs_scored") / layer("sim.cpu_s") else 0.0
    tr.spans.find(_.name == "checkpoint.commit").foreach(s => layer("checkpoint.commit_s") = tr.wallS(s))
    tr.spans.find(_.name == "checkpoint.hit").foreach(s => layer("checkpoint.hit_s") = tr.wallS(s))
    tr.spans.find(_.name == "pipeline").foreach { p =>
      val intervals = tr.subtree(p).flatMap(s => res.get(s.id)).flatMap(_.intervals)
        .map { case (a, b) => (math.max(a, p.startMs), math.min(b, p.endMs)) }
        .filter { case (a, b) => b > a }
      val busy = Tracer.unionLength(intervals.toSeq)
      layer("pipeline.driver_s") = math.max(0.0, tr.wallS(p) - busy / 1000.0)
      layer("pipeline.peak_storage_mb") = p.counts.getOrElse("peak_storage_mb", 0.0)
    }
    val tracedJob = tracedJobOpt.getOrElse(tr.spans.find(_.name == "pipeline").map(tr.wallS).getOrElse(0.0))
    layer("run.tracing_overhead_s") = tracedJob - untracedJob
    val spanFile = resultFile.resolveSibling(resultFile.getFileName.toString.stripSuffix(".json") + ".spans.json")
    val spans = tr.spans.map { s =>
      val r = res.get(s.id)
      mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run_id" -> s.runId,
        "start_s" -> (s.start - tr.spans.head.start) / 1e9,
        "end_s" -> (s.end - tr.spans.head.start) / 1e9,
        "self_s" -> tr.selfS(s),
        "jobs" -> r.map(_.jobs).getOrElse(0), "tasks" -> r.map(_.tasks).getOrElse(0),
        "cpu_s" -> r.map(_.cpuNs / 1e9).getOrElse(0.0),
        "counts" -> s.counts)
    }
    Files.write(spanFile, Json.render(spans).getBytes(StandardCharsets.UTF_8))
  }
}
