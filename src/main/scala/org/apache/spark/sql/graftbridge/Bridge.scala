package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{CodegenObjectFactoryMode, Expression, KnownNotNull, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.internal.SQLConf

/** The Spark internals the engine needs. Spark 4 made them `private[sql]`
  * (e.g. org.apache.spark.sql.classic.ExpressionUtils); placing this
  * object under org.apache.spark.sql grants access — the standard
  * pattern for libraries shipping native Catalyst expressions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c` typed non-null, for a column a filter has already cleared of
    * nulls (Catalyst does not carry that into the analyzed schema).
    */
  def knownNotNull(c: Column): Column = column(KnownNotNull(expression(c)))

  /** An eager local checkpoint that knows its size. `Dataset.localCheckpoint`
    * keeps only the size ESTIMATE of the plan that made it, which after a
    * join is usually far too large, so a small checkpointed table joined
    * with a corpus-sized one makes the planner shuffle both sides. This
    * one measures the rows in the job that materializes them: it states
    * their count and their stored bytes (the sum of the `UnsafeRow`
    * sizes), so the planner broadcasts a small table and sort-merges a
    * large one. Column default sizes would not do: Spark costs an array
    * as ONE element, so a table of shingle sets (up to 64 KB a row) would
    * read as ~28 B a row and be broadcast at any bulk-load size. A frame
    * derived from the checkpoint is estimated by Spark from this size
    * and the default widths of its columns; an explode of an array keeps
    * the array's measured bytes, so a key table exploded from a
    * checkpointed batch reads within about 2x of its real size.
    * Its blocks are released like a local checkpoint's, by the context
    * cleaner once the frame is unreachable.
    */
  def checkpoint(df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    val output = qe.analyzed.output
    val types = output.map(_.dataType).toArray
    val rdd = qe.toRdd.mapPartitions { rows =>
      lazy val toUnsafe = UnsafeProjection.create(types)
      rows.map {
        case u: UnsafeRow => u.copy()
        case r => toUnsafe(r).copy()
      }
    }
    rdd.localCheckpoint()
    // one job: it fills the checkpoint and measures it
    val (rows, bytes) = rdd.map(r => (1L, r.getSizeInBytes.toLong))
      .fold((0L, 0L)) { case ((n1, b1), (n2, b2)) => (n1 + n2, b1 + b2) }
    val session = df.sparkSession.asInstanceOf[SparkSession]
    Dataset.ofRows(session, LogicalRDD(output, rdd.asInstanceOf[RDD[InternalRow]])(session,
      Some(Statistics(BigInt(math.max(bytes, 1L)), Some(BigInt(rows))))))
  }

  /** The session confs under which plans run interpreted: no whole-stage
    * code generation, and the projections, predicates and orderings Spark
    * builds through its compiled-or-interpreted factories take the
    * interpreted implementation. The factory mode is an internal Spark
    * conf, named through its constant so that a rename fails compilation.
    */
  val interpretedConfs: Seq[(String, String)] = Seq(
    SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
    SQLConf.CODEGEN_FACTORY_MODE.key -> CodegenObjectFactoryMode.NO_CODEGEN.toString)

  /** Whether the planner sizes `df` under the broadcast threshold
    * (`spark.sql.autoBroadcastJoinThreshold`; never when that is off).
    * For a [[checkpoint]] this reads its measured bytes.
    */
  def broadcastSized(df: DataFrame): Boolean = {
    val limit = df.sparkSession.asInstanceOf[SparkSession].sessionState.conf
      .autoBroadcastJoinThreshold
    limit >= 0 && df.queryExecution.optimizedPlan.stats.sizeInBytes <= limit
  }
}
