package graft.pipeline

import org.apache.spark.graft.ListenerBus
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.cluster.ConnectedComponents

/** Incremental attach == full recompute (the contraction argument in
  * IncrementalResolve's scaladoc), including the hard case where one new
  * doc bridges two previously-separate clusters.
  */
class IncrementalResolveSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("attach equals full recompute; increment can bridge old clusters") {
    // old world: clusters {1,2} (edge) and {3} and {10,11}
    val oldEdges = Seq((1L, 2L), (10L, 11L)).toDF("src", "dst")
    val oldVerts = Seq(1L, 2L, 3L, 10L, 11L).toDF("doc_id")
    val existing = ConnectedComponents.run(spark, oldEdges, oldVerts)

    // increment: 6 bridges old docs 2 and 3; 7-8 form their own pair
    val newIds = Seq(6L, 7L, 8L).toDF("doc_id")
    val newNew = Seq((7L, 8L)).toDF("src", "dst")
    val newOld = Seq((6L, 2L), (6L, 3L)).toDF("src", "dst")

    val inc = IncrementalResolve.attach(spark, IncrementalResolve.Existing(existing), newIds,
      newNew.union(newOld))
      .assignments.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val full = ConnectedComponents.run(spark,
      oldEdges.union(newNew).union(newOld),
      oldVerts.union(newIds))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    assert(inc == full)
    // the bridge merged {1,2} and {3} with 6 -> one cluster labelled 1
    assert(inc(3L) == 1L && inc(6L) == 1L)
    // untouched cluster kept its label
    assert(inc(10L) == 10L && inc(11L) == 10L)
    // new-only pair got its own min label
    assert(inc(7L) == 7L && inc(8L) == 7L)
  }

  test("block cap under scoping: the scoped increment == full recompute over the unscoped corpus") {
    // the batch touches one corpus block over the cap (six identical
    // names) and one under it (two); two more names are untouched
    val cap = 5
    val corpus = ((1 to 6).map(i => (f"c-z$i%02d", "zanzibar holdings")) ++ Seq(
      ("c-q01", "quintessa partners"), ("c-q02", "quintessa partners"),
      ("c-a01", "acme widgets"), ("c-b01", "borealis mining")))
      .toDF("doc_id", "normalized")
    val batch = Seq(("n-z01", "zanzibar holdings"), ("n-q01", "quintessa partners"))
      .toDF("doc_id", "normalized")
    val all = corpus.unionByName(batch)
    val none = Seq.empty[(String, String)].toDF("doc_id", "cluster_id")
    def fromScratch(names: org.apache.spark.sql.DataFrame) =
      IncrementalResolve.resolveNames(spark, IncrementalResolve.Existing(none),
        IncrementalResolve.namesState(names.limit(0)), IncrementalResolve.namesState(names),
        maxBlockSize = cap)
      .assignments.collect().map(r => r.getString(0) -> r.getString(1)).toMap

    val existing = fromScratch(corpus).toSeq.toDF("doc_id", "cluster_id")
    val inc = IncrementalResolve.resolveNames(spark, IncrementalResolve.Existing(existing),
      IncrementalResolve.namesState(corpus), IncrementalResolve.namesState(batch),
      maxBlockSize = cap)
    val assigned = inc.assignments.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val changed = inc.changed.collect().map(r => r.getString(0) -> r.getString(1)).toSet

    assert(assigned == fromScratch(all))
    // the over-cap block merges nothing, the under-cap one attaches
    assert(assigned("n-z01") == "n-z01" && assigned("c-z02") == "c-z02")
    assert(assigned("n-q01") == "c-q01" && assigned("c-q02") == "c-q01")
    // no label moved (the new ids sort after the corpus labels): the
    // changed rows are the new docs only
    assert(changed == Set("n-z01" -> "n-z01", "n-q01" -> "c-q01"))
  }

  test("empty increment is a no-op") {
    val existing = ConnectedComponents.run(spark,
      Seq((1L, 2L)).toDF("src", "dst"), Seq(1L, 2L, 3L).toDF("doc_id"))
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val out = IncrementalResolve.attach(spark, IncrementalResolve.Existing(existing),
      Seq.empty[Long].toDF("doc_id"), empty)
      .assignments.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("the contraction map is broadcast once and reused for both edge endpoints") {
    // a clique of 8 new docs bridging two old clusters: 30 edges, a map
    // of 10 rows — the smaller side of both endpoint joins. The two
    // endpoint projections of the map differ only in their column names,
    // so their broadcasts are one exchange.
    val existing = ConnectedComponents.run(spark,
      Seq((1L, 2L), (3L, 4L)).toDF("src", "dst"), Seq(1L, 2L, 3L, 4L).toDF("doc_id"))
    val newIds = (11L to 18L).toDF("doc_id")
    val clique = for (a <- 11L to 18L; b <- a + 1 to 18L) yield (a, b)
    val edges = (clique ++ Seq((11L, 2L), (12L, 4L))).toDF("src", "dst")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val out = try {
      val r = IncrementalResolve.attach(spark, IncrementalResolve.Existing(existing), newIds,
        edges).assignments.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      ListenerBus.drain(spark.sparkContext)
      r
    } finally spark.listenerManager.unregister(listener)
    assert(out == (Seq(1L, 2L, 3L, 4L) ++ (11L to 18L)).map(_ -> 1L).toMap)
    // the exchanges over the map's scan, whatever they rename; a reused
    // exchange's subtree is the one exchange it reuses
    def overMap(p: SparkPlan) = p.collectLeaves().exists(_.output.exists(_.name == "__to"))
    val all = plans.toArray(Array.empty[SparkPlan]).toSeq
    val broadcasts = all.flatMap(p => ReusePlans.collect(p) {
      case b: BroadcastExchangeExec if overMap(b) => b
    })
    val reused = all.flatMap(p => ReusePlans.collect(p) {
      case r: ReusedExchangeExec if overMap(r.child) => r
    })
    assert(broadcasts.size == 1 && reused.nonEmpty,
      s"${broadcasts.size} map broadcasts, ${reused.size} reused")
  }
}

/** Plan traversal that descends into adaptive query stages. */
private object ReusePlans extends AdaptiveSparkPlanHelper
