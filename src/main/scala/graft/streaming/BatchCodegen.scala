package graft.streaming

import scala.util.DynamicVariable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

import graft.checkpoint.VersionedState
import graft.util.Confs

/** Whether a micro-batch's plans run compiled or interpreted.
  *
  * Spark compiles every distinct generated class (whole-stage code,
  * projections, predicates, orderings) with Janino and keeps 100 of them
  * (`spark.sql.codegen.cache.maxEntries`, a static conf of the caller's
  * session). One attach of either streaming job uses about 210 distinct
  * classes, so the LRU evicts each before its next use and every batch
  * compiles all of them again, 8–13 ms each. A small batch processes too
  * few rows to pay that back, so it runs interpreted, as Kohn, Leis &
  * Neumann's adaptive execution does for short queries ("Adaptive
  * Execution of Compiled Queries", ICDE 2018): every plan of the batch —
  * side checkpoint, duplicate-id guard, increment, delta writes and
  * compaction — runs under [[Bridge.interpretedConfs]]. A batch that
  * reads more bytes than the crossover keeps code generation, which its
  * per-row speed pays for.
  *
  * The decision reads only the sizes the planner already reports for the
  * incoming batch and for the state reads ([[VersionedState.plannedBytes]]):
  * no Spark job and no extra listing. A plan without statistics reports
  * Spark's default size and stays compiled.
  */
private[streaming] object BatchCodegen {

  // The crossovers, measured on a 4-vCPU host (BASELINE.md, "Compiled
  // or interpreted micro-batches"). Input: a bulk batch into an empty
  // state resolved faster compiled from 10k docs (803 KB) up; the
  // dedup job's input is its text alone (419 KB at 10k docs) and ran
  // faster interpreted there. State: a 34-doc batch ran faster
  // interpreted against a 100k-doc state (resolve 8.5 MB, dedup 36 MB)
  // and faster compiled against the dedup state of about 1M docs
  // (366 MB), the resolve state of 86 MB being about even. The two
  // crossovers are 128x apart, so each has its own constant.
  private val InputLimit: BigInt = BigInt(512) << 10
  private val StateLimit: BigInt = BigInt(64) << 20

  /** Forces the decision (Some(true): interpreted), for tests. */
  private[streaming] val forceInterpreted = new DynamicVariable[Option[Boolean]](None)

  /** Whether a batch of `inputBytes` against `stateBytes` of state reads
    * runs interpreted.
    */
  def interpreted(inputBytes: BigInt, stateBytes: BigInt): Boolean =
    forceInterpreted.value.getOrElse(inputBytes < InputLimit && stateBytes < StateLimit)

  /** Run one batch's `body`, interpreted when the batch and the state it
    * reads are small (see above); the caller's confs are restored after.
    */
  def scoped[T](spark: SparkSession, batch: DataFrame, stateReads: Seq[DataFrame])(body: => T): T =
    if (interpreted(VersionedState.plannedBytes(Seq(batch)), VersionedState.plannedBytes(stateReads)))
      Confs.withConfs(spark, Bridge.interpretedConfs)(body)
    else body
}
