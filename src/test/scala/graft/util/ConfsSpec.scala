package graft.util

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Scoped session confs: every exit of a scope, normal or thrown, puts
  * back what was there before it, unset keys included.
  */
class ConfsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val setKey = "spark.graft.test.confs.set"
  private val unsetKey = "spark.graft.test.confs.unset"
  // a Spark conf with a default: unset, it reads the default
  private val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"

  private def value(k: String): Option[String] = spark.conf.getAll.get(k)

  test("nested scopes and a throwing body restore the prior values, unset keys included") {
    spark.conf.set(setKey, "outer")
    spark.conf.unset(unsetKey)
    val coalescePrior = value(coalesce)
    try {
      // a batch-like scope with a CC-like scope nested in it
      Confs.withConfs(spark, Seq(setKey -> "batch", unsetKey -> "batch", coalesce -> "false")) {
        assert(value(setKey).contains("batch") && value(unsetKey).contains("batch"))
        val inner = Confs.withConfs(spark, Seq(unsetKey -> "cc", coalesce -> "true")) {
          assert(value(unsetKey).contains("cc") && value(coalesce).contains("true"))
          assert(value(setKey).contains("batch"))
          42
        }
        assert(inner == 42)
        assert(value(unsetKey).contains("batch") && value(coalesce).contains("false"),
          "the inner scope restores the outer scope's values")
        intercept[IllegalStateException] {
          Confs.withConfs(spark, Seq(setKey -> "thrown", unsetKey -> "thrown")) {
            throw new IllegalStateException("body fails")
          }
        }
        assert(value(setKey).contains("batch") && value(unsetKey).contains("batch"),
          "a body that throws restores the scope's values")
      }
      assert(value(setKey).contains("outer"))
      assert(value(unsetKey).isEmpty, "a key unset before the scope is unset after it")
      assert(value(coalesce) == coalescePrior)
      // a throw out of the outermost scope restores the session itself
      intercept[RuntimeException] {
        Confs.withConfs(spark, Seq(setKey -> "x", unsetKey -> "x", setKey -> "y")) {
          assert(value(setKey).contains("y"))
          throw new RuntimeException("body fails")
        }
      }
      assert(value(setKey).contains("outer") && value(unsetKey).isEmpty,
        "a key listed twice gets back its value from before the scope")
    } finally {
      spark.conf.unset(setKey)
      spark.conf.unset(unsetKey)
    }
  }
}
