package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.blocking.BlockingKeys
import graft.functions.Er
import graft.gen.DocGen
import graft.norm.Normalizer

/** End-to-end north-rule checks: pairwise F1 >= 0.99 against labeled
  * pairs at shared blocking key, and the exact span-sequence invariant
  * (kind, text, media_ref, order) through the whole pipeline.
  */
class ResolvePipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private lazy val truthDocs = DocGen.corpusDF(spark, entities = 40, docsPerEntity = 4)

  private lazy val result =
    ResolvePipeline.run(spark, truthDocs.select("doc_id", "spans"))

  test("pairwise F1 >= 0.99 on labeled pairs at shared blocking key") {
    import spark.implicits._
    val truth = truthDocs.select(col("doc_id"), col("entity_id"))

    // blocking keys over derived+normalized names (same derivation as the
    // pipeline): candidate universe for negative labels
    val names = truthDocs.select(col("doc_id"),
      Normalizer.normalizeColumn(Er.docName(col("spans"))).as("normalized"))
    val keys = BlockingKeys.explodeKeys(names, "doc_id",
      BlockingKeys.defaultKeys(col("normalized")))
    val l = keys.select(col("block_key"), col("doc_id").as("doc_id_a"))
    val r = keys.select(col("block_key"), col("doc_id").as("doc_id_b"))
    val sharedKey = l.join(r, Seq("block_key"))
      .where(col("doc_id_a") < col("doc_id_b"))
      .select("doc_id_a", "doc_id_b").distinct()

    val ta = truth.select(col("doc_id").as("doc_id_a"), col("entity_id").as("ea"))
    val tb = truth.select(col("doc_id").as("doc_id_b"), col("entity_id").as("eb"))

    // positives: ALL intra-entity pairs (blocking recall is part of the
    // measurement); negatives: cross-entity pairs sharing >= 1 key
    val positives = ta.join(tb, col("doc_id_a") < col("doc_id_b"))
      .where(col("ea") === col("eb"))
      .select("doc_id_a", "doc_id_b")
    val negatives = sharedKey.join(ta, Seq("doc_id_a")).join(tb, Seq("doc_id_b"))
      .where(col("ea") =!= col("eb"))
      .select("doc_id_a", "doc_id_b")
    val labeled = positives.withColumn("is_match", lit(true))
      .union(negatives.withColumn("is_match", lit(false)))

    val ca = result.clusters.select(col("doc_id").as("doc_id_a"), col("cluster_id").as("cl_a"))
    val cb = result.clusters.select(col("doc_id").as("doc_id_b"), col("cluster_id").as("cl_b"))
    val evaluated = labeled.join(ca, Seq("doc_id_a")).join(cb, Seq("doc_id_b"))
      .withColumn("pred", col("cl_a") === col("cl_b"))

    val agg = evaluated.agg(
      sum(when(col("is_match") && col("pred"), 1L).otherwise(0L)).as("tp"),
      sum(when(!col("is_match") && col("pred"), 1L).otherwise(0L)).as("fp"),
      sum(when(col("is_match") && !col("pred"), 1L).otherwise(0L)).as("fn")
    ).collect()(0)
    val (tp, fp, fn) = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    val precision = tp.toDouble / math.max(1L, tp + fp)
    val recall = tp.toDouble / math.max(1L, tp + fn)
    val f1 = 2 * precision * recall / math.max(1e-12, precision + recall)
    info(f"tp=$tp fp=$fp fn=$fn precision=$precision%.4f recall=$recall%.4f f1=$f1%.4f")
    assert(tp > 0, "no true positives — corpus or pipeline broken")
    assert(f1 >= 0.99, f"pairwise F1 $f1%.4f < 0.99")
  }

  test("span-sequence invariant: output spans byte-identical to input") {
    val in = truthDocs.select(col("doc_id"), col("spans"))
    val out = result.clusters.select(col("doc_id"), col("spans"))
    assert(out.count() == in.count(), "row count changed")
    // exact struct-array equality including order
    assert(in.exceptAll(out).isEmpty && out.exceptAll(in).isEmpty,
      "span sequences were not preserved exactly")
  }

  test("typed facade: Dataset[Doc] in, Dataset[ClusterAssignment] out, same clusters") {
    import spark.implicits._
    val docsDs = truthDocs.select("doc_id", "spans").as[graft.model.Doc]
    val typed = TypedResolve.resolve(spark, docsDs)
    val fromTyped = typed.clusters.collect().map(c => c.doc_id -> c.cluster_id).toMap
    val fromUntyped = result.clusters.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fromTyped == fromUntyped)
    assert(typed.pairScores.head().isInstanceOf[graft.model.PairScore])
  }

  test("mergeEdges carry score + reason provenance (L6 feed)") {
    // long-text corpus: every duplicate is a typo variant, so merges are
    // FUZZY AUTO_MERGE edges (the short-name corpus collapses all dups
    // in the exact-pregroup and emits no edges at all)
    val docs = DocGen.corpusDF(spark, entities = 12, docsPerEntity = 3,
      fillerTokens = 12).select("doc_id", "spans")
    val r = ResolvePipeline.run(spark, docs)
    val edges = r.mergeEdges.collect()
    assert(edges.nonEmpty)
    assert(edges.forall(e => e.getAs[String]("reason") == "AUTO_MERGE"))
    assert(edges.forall(e => e.getAs[Double]("confidence") >= 0.92),
      "AUTO_MERGE edges must carry their (threshold-passing) scores")
  }

  test("no rejects on the clean corpus; merge metrics exist") {
    assert(result.rejects.isEmpty)
    val m = result.metrics.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // duplicates merge either as exact-group collapses or fuzzy auto-merges
    assert(m.getOrElse("EXACT_MERGE", 0L) + m.getOrElse("AUTO_MERGE", 0L) > 0,
      s"expected merges in metrics, got $m")
  }

  test("NULL-typed docs merge with each other, never with typed docs") {
    import spark.implicits._
    val spans = array(struct(lit("text").as("kind"), lit("Acme Corp").as("text"),
      lit("").as("media_ref"), lit(0).as("offset")))
    val docs = Seq(("d1", null: String), ("d2", null: String), ("d3", "OTHER"))
      .toDF("doc_id", "etype").withColumn("spans", spans)
    val r = ResolvePipeline.run(spark, docs, PipelineConfig(typeColumn = Some("etype")))
    val byDoc = r.clusters.select("doc_id", "cluster_id").collect()
      .map(row => row.getString(0) -> row.getString(1)).toMap
    assert(byDoc("d1") == byDoc("d2"),
      "identical NULL-typed docs must merge (not be silently dropped by the edge guard)")
    assert(byDoc("d3") != byDoc("d1"),
      "a typed doc must never merge with NULL-typed docs")
  }

  test("candidate stats thunk reports block metrics on demand") {
    val stats = result.candidateStats()
    assert(stats.distinctKeys > 0 && stats.totalKeys >= stats.distinctKeys)
    assert(stats.oversizedKeys == 0,
      s"clean small corpus should not overflow the block cap: $stats")
  }

  test("deterministic across reruns") {
    val again = ResolvePipeline.run(spark, truthDocs.select("doc_id", "spans"))
    assert(result.clusters.select("doc_id", "cluster_id")
      .exceptAll(again.clusters.select("doc_id", "cluster_id")).isEmpty)
  }

  test("exact-pregroup fast path is output-equivalent to the full pipeline") {
    val docs = truthDocs.select("doc_id", "spans")
    val on = ResolvePipeline.run(spark, docs, PipelineConfig(exactPregroup = true))
      .clusters.select("doc_id", "cluster_id")
    val off = ResolvePipeline.run(spark, docs, PipelineConfig(exactPregroup = false))
      .clusters.select("doc_id", "cluster_id")
    assert(on.exceptAll(off).isEmpty && off.exceptAll(on).isEmpty,
      "pregrouped clusters must match the full computation exactly")
  }

  test("skew-safe pregroup (two-phase rep map) is output-identical, incl. a dominant group") {
    import spark.implicits._
    // a corpus where ONE name dominates (the Zipfian case the two-phase
    // rep map exists for: a window over the group key would put every
    // copy in one task) plus normal entities; the pregrouped run must
    // produce the same cluster assignments as the unpregrouped reference
    val hot = (0 until 300).map(i => (f"h$i%03d",
      Seq(graft.model.Span("text", "the dominant company inc", "", 0))))
    val base = truthDocs.select("doc_id", "spans")
    val docs = base.unionByName(hot.toDF("doc_id", "spans"))
    def clusters(d: org.apache.spark.sql.DataFrame, cfg: PipelineConfig) =
      ResolvePipeline.run(spark, d, cfg).clusters.select("doc_id", "cluster_id")
    val twoPhase = clusters(docs, PipelineConfig())
    val reference = clusters(docs, PipelineConfig(exactPregroup = false))
    assert(twoPhase.exceptAll(reference).isEmpty && reference.exceptAll(twoPhase).isEmpty,
      "two-phase rep map must match the unpregrouped reference exactly")
    assert(twoPhase.where(col("cluster_id") === "h000").count() == 300,
      "every copy of the dominant name joins one cluster")
    // and with tenant scoping (exercises the null-safe multi-column
    // group join)
    val scoped = docs.withColumn("tenant",
      when(col("doc_id").cast("string").startsWith("h"), lit(null: String))
        .otherwise(concat(lit("t"), pmod(xxhash64(col("doc_id")), lit(2)))))
    val t2 = clusters(scoped, PipelineConfig(tenantColumn = Some("tenant")))
    val r2 = clusters(scoped,
      PipelineConfig(tenantColumn = Some("tenant"), exactPregroup = false))
    assert(t2.exceptAll(r2).isEmpty && r2.exceptAll(t2).isEmpty,
      "two-phase rep map must match the reference under tenant scoping with NULL tenants")
    assert(t2.where(col("cluster_id") === "h000").count() == 300,
      "NULL-tenant copies group together")
  }

  test("forced two-column pair path == packed path, with and without orphan fallback") {
    import spark.implicits._
    // the two-column path serves corpora past 2^31 reps; a pack limit of
    // 0 drives it on a small corpus (run once checkpointed, so the pair
    // snapshot shows which encoding ran). An orphan that shares no
    // blocking key gives the fallback work to do.
    val orphan = Seq(("o1", Seq(graft.model.Span("text", "qqqxyzzy", "", 0))))
      .toDF("doc_id", "spans")
    val docs = truthDocs.select("doc_id", "spans").unionByName(orphan)
    for (fallback <- Seq(false, true)) {
      val cfg = PipelineConfig(orphanFallback = fallback, orphanFallbackCap = 10)
      val root = java.nio.file.Files.createTempDirectory("graft-unpacked").toString
      val packed = ResolvePipeline.run(spark, docs, cfg)
      val unpacked = ResolvePipeline.packLimit.withValue(0L) {
        ResolvePipeline.run(spark, docs, cfg.copy(checkpointRoot = Some(root)))
      }
      assert(spark.read.parquet(s"$root/candidate_pairs/data").columns.toSeq ==
        Seq("doc_id_a", "doc_id_b"), s"pack limit 0 must run unpacked (fallback=$fallback)")
      for ((what, p, u) <- Seq(("assignments", packed.assignments, unpacked.assignments),
                               ("pair scores", packed.pairScores, unpacked.pairScores))) {
        assert(p.exceptAll(u).isEmpty && u.exceptAll(p).isEmpty,
          s"$what differ between packed and unpacked runs (fallback=$fallback)")
      }
      val orphanPairs = unpacked.pairScores
        .where(col("doc_id_a") === "o1" || col("doc_id_b") === "o1").count()
      assert(orphanPairs == (if (fallback) 10L else 0L),
        s"orphan pairs: $orphanPairs (fallback=$fallback)")
    }
  }

  test("D7: review-override edges force a merge the scorer would not") {
    import spark.implicits._
    val docs = Seq(
      ("d1", Seq(graft.model.Span("text", "alpha industries", "", 0))),
      ("d2", Seq(graft.model.Span("text", "completely unrelated name", "", 0)))
    ).toDF("doc_id", "spans")
    val overrides = Seq(("d1", "d2")).toDF("src", "dst")
    val res = ResolvePipeline.run(spark, docs, PipelineConfig(), Some(overrides))
    val clusters = res.clusters.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(clusters("d1") == clusters("d2"), "override edge must merge the pair")
  }

  test("D7: override edges naming NON-representative docs still merge " +
    "(remapped through the exact-group representative)") {
    import spark.implicits._
    // d1/d2 share a normalized name -> d2 is collapsed into rep d1 by
    // exactPregroup; d3 is unrelated. The override names d2 (a non-rep):
    // without remapping it would be silently ignored and its raw id
    // could corrupt the min-label invariant.
    val docs = Seq(
      ("d1", Seq(graft.model.Span("text", "alpha industries", "", 0))),
      ("d2", Seq(graft.model.Span("text", "alpha industries", "", 0))),
      ("d3", Seq(graft.model.Span("text", "completely unrelated name", "", 0)))
    ).toDF("doc_id", "spans")
    val overrides = Seq(("d2", "d3")).toDF("src", "dst")
    val res = ResolvePipeline.run(spark, docs,
      PipelineConfig(exactPregroup = true), Some(overrides))
    val clusters = res.clusters.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(clusters("d2") == clusters("d3"), "non-rep override edge must merge")
    assert(clusters("d1") == clusters("d2"))
    assert(clusters.values.toSet == Set("d1"), "cluster_id must stay the min member")
  }

  test("D7: override edges naming out-of-universe ids are dropped from CC AND provenance") {
    import spark.implicits._
    // "ghost" is no doc at all; d3 is non-ACTIVE. An edge touching either
    // must not reach CC (an out-of-universe id can become a bogus
    // cluster_id colliding with d3's own singleton) and must not be
    // recorded in mergeEdges as an applied confidence-1.0 merge.
    val docs = Seq(
      ("d1", "ACTIVE", Seq(graft.model.Span("text", "alpha industries", "", 0))),
      ("d2", "ACTIVE", Seq(graft.model.Span("text", "unrelated name two", "", 0))),
      ("d3", "MERGED", Seq(graft.model.Span("text", "parked entity", "", 0)))
    ).toDF("doc_id", "status", "spans")
    val overrides = Seq(("ghost", "d1"), ("d3", "d2"), ("d1", "d2")).toDF("src", "dst")
    for (pregroup <- Seq(true, false)) {
      val res = ResolvePipeline.run(spark, docs,
        PipelineConfig(statusColumn = Some("status"), exactPregroup = pregroup),
        Some(overrides))
      val clusters = res.clusters.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(clusters("d1") == clusters("d2"), s"valid override must merge (pregroup=$pregroup)")
      assert(clusters("d3") == "d3", s"inactive doc stays singleton (pregroup=$pregroup)")
      assert(!clusters.values.toSet.contains("ghost"), s"ghost id must not label (pregroup=$pregroup)")
      val applied = res.mergeEdges.where(col("reason") === "REVIEW_APPROVED")
        .select("src", "dst").as[(String, String)].collect().toSet
      assert(applied == Set(("d1", "d2")),
        s"provenance must record only applied overrides (pregroup=$pregroup), got $applied")
    }
  }

  test("NULL status: doc is a singleton, not silently dropped") {
    import spark.implicits._
    val docs = Seq(
      ("d1", "ACTIVE", Seq(graft.model.Span("text", "acme corporation", "", 0))),
      ("d2", null.asInstanceOf[String], Seq(graft.model.Span("text", "acme corporation", "", 0)))
    ).toDF("doc_id", "status", "spans")
    val res = ResolvePipeline.run(spark, docs, PipelineConfig(statusColumn = Some("status")))
    val clusters = res.clusters.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(clusters.size == 2, "NULL-status doc must appear in the output")
    assert(clusters("d2") == "d2", "NULL status = not active -> own singleton")
  }

  test("M9 canMerge: cross-type pairs never merge; non-ACTIVE docs are singletons") {
    import spark.implicits._
    // d1/d2: identical names, different types -> no merge (not even the
    // exact-pregroup collapse). d3: identical name+type to d1 -> merges.
    // d4: identical name+type but MERGED status -> singleton.
    val docs = Seq(
      ("d1", "COMPANY", "ACTIVE", Seq(graft.model.Span("text", "acme corporation", "", 0))),
      ("d2", "PERSON", "ACTIVE", Seq(graft.model.Span("text", "acme corporation", "", 0))),
      ("d3", "COMPANY", "ACTIVE", Seq(graft.model.Span("text", "acme corporation", "", 0))),
      ("d4", "COMPANY", "MERGED", Seq(graft.model.Span("text", "acme corporation", "", 0)))
    ).toDF("doc_id", "entity_type", "status", "spans")
    val res = ResolvePipeline.run(spark, docs,
      PipelineConfig(typeColumn = Some("entity_type"), statusColumn = Some("status")))
    val clusters = res.clusters.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(clusters("d1") == clusters("d3"), "same name+type must merge")
    assert(clusters("d1") != clusters("d2"), "cross-type docs must not merge")
    assert(clusters("d4") == "d4", "non-ACTIVE doc must stay a singleton")
    assert(clusters.size == 4)
  }

  test("D7 end-to-end: REVIEW queue -> approvals -> pipeline merge loop") {
    import spark.implicits._
    // names close enough to score in the REVIEW band, far from AUTO_MERGE
    val docs = Seq(
      ("d1", Seq(graft.model.Span("text", "northwind trading house", "", 0))),
      ("d2", Seq(graft.model.Span("text", "northwind trading co ltd", "", 0))),
      ("d3", Seq(graft.model.Span("text", "completely different name", "", 0)))
    ).toDF("doc_id", "spans")
    val first = ResolvePipeline.run(spark, docs)
    val firstClusters = first.clusters.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val queue = graft.review.Review.queueFromScores(first.pairScores)
    val pending = queue.collect()
    assert(pending.nonEmpty, "expected a REVIEW-band pair to queue")
    assert(firstClusters("d1") != firstClusters("d2"), "REVIEW band must not merge on its own")
    // human approves everything pending -> re-run with override edges
    val approved = graft.review.Review.approvedEdges(
      queue.withColumn("status", org.apache.spark.sql.functions.lit("APPROVED")))
    val second = ResolvePipeline.run(spark, docs, PipelineConfig(), Some(approved))
    val clusters = second.clusters.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(clusters("d1") == clusters("d2"), "approved review must merge the pair")
    assert(clusters("d3") != clusters("d1"))
    val reasons = second.mergeEdges.select("reason").as[String].collect().toSet
    assert(reasons.contains("REVIEW_APPROVED"))
  }

  test("invalid docs go to rejects, not exceptions") {
    import spark.implicits._
    val bad = Seq(
      ("good-1", Seq(graft.model.Span("text", "acme corp", "", 0))),
      ("bad-blank", Seq(graft.model.Span("text", "   ", "", 0))),
      ("bad-ctl", Seq(graft.model.Span("text", "acme\u0001corp", "", 0))),
      ("bad-long", Seq(graft.model.Span("text", "x" * 1001, "", 0)))
    ).toDF("doc_id", "spans")
    val res = ResolvePipeline.run(spark, bad)
    val rejects = res.rejects.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rejects == Map("bad-blank" -> "blank", "bad-ctl" -> "control_chars",
      "bad-long" -> "too_long"))
    assert(res.clusters.count() == 1)
  }
}
