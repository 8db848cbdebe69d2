package graft.util

import org.apache.spark.sql.SparkSession

/** Session confs scoped to a block. */
object Confs {

  /** Run `body` with the session confs `kvs` set, then restore every key
    * to what it was before — its prior value, or unset when it was unset —
    * in `finally`, so a body that throws restores them too. Scopes nest:
    * an inner scope restores the outer scope's values.
    *
    * The values are session state, not thread state: while `body` runs,
    * other threads using the same session see the scoped values. A lazy
    * frame built inside `body` and evaluated after it runs under the
    * conf current at evaluation time.
    */
  def withConfs[T](spark: SparkSession, kvs: Seq[(String, String)])(body: => T): T = {
    // getAll holds the keys set in the session, not the defaults
    val set = spark.conf.getAll
    val prev = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    // reversed: a key listed twice gets back the value from before both
    try body
    finally prev.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
