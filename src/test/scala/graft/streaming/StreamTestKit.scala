package graft.streaming

import java.io.File

import org.apache.spark.graft.ListenerBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Helpers shared by the streaming job specs. */
private[streaming] object StreamTestKit extends AdaptiveSparkPlanHelper {

  /** Every table of every unit dir under a state root (`d=1/keys` →
    * its rows as sorted strings): two roots dump equal iff each holds the
    * same units with the same rows, every column compared exactly.
    */
  def stateDump(spark: SparkSession, root: String): Map[String, Seq[String]] =
    new File(root).listFiles.filter(_.isDirectory).toSeq.flatMap { unit =>
      unit.listFiles.filter(_.isDirectory).toSeq.map { table =>
        s"${unit.getName}/${table.getName}" ->
          spark.read.parquet(table.getPath).collect().map(_.toString).sorted.toSeq
      }
    }.toMap

  /** The number of actions `body` runs whose executed plan holds
    * whole-stage generated code, and the number of actions it runs.
    */
  def codegenActions(spark: SparkSession)(body: => Unit): (Int, Int) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      ListenerBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val all = plans.toArray(Array.empty[SparkPlan]).toSeq
    (all.count(p => find(p)(_.isInstanceOf[WholeStageCodegenExec]).isDefined), all.size)
  }
}
