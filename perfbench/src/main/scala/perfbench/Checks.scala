package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Output checks. Each returns the number of violating rows (0 = pass)
  * or a value the caller compares against its bound.
  */
object Checks {

  /** Pairwise F1 of a (doc_id, cluster_id) assignment against the
    * (doc_id, entity_id) truth, over the docs both tables hold.
    */
  def pairwiseF1(assignments: DataFrame, truth: DataFrame): Double = {
    val j = assignments.select("doc_id", "cluster_id").join(truth, "doc_id").persist()
    def pairs(by: String*): Double = j.groupBy(by.map(col): _*).agg(count(lit(1)).as("n"))
      .agg(sum(col("n") * (col("n") - 1) / 2)).collect()(0) match {
        case r if r.isNullAt(0) => 0.0
        case r => r.getDouble(0)
      }
    try {
      val tp = pairs("cluster_id", "entity_id")
      val predicted = pairs("cluster_id")
      val actual = pairs("entity_id")
      if (predicted + actual == 0) 1.0 else 2 * tp / (predicted + actual)
    } finally j.unpersist()
  }

  /** Output docs whose span sequence differs from their input doc's
    * (kind, text, media_ref and offset, in order), plus input docs
    * missing from the output.
    */
  def spanMismatches(clusters: DataFrame, input: DataFrame): Long = {
    val out = clusters.select(col("doc_id"), col("spans").as("out_spans"))
    input.select(col("doc_id"), col("spans").as("in_spans"))
      .join(out, Seq("doc_id"), "full_outer")
      .where(!(col("in_spans") <=> col("out_spans")))
      .count()
  }

  /** Clusters whose id is not their smallest member doc_id. */
  def clusterIdNotMin(assignments: DataFrame): Long =
    assignments.groupBy("cluster_id").agg(min("doc_id").as("m"))
      .where(col("m") =!= col("cluster_id")).count()

  /** doc_ids assigned to more than one cluster. */
  def docsInTwoClusters(assignments: DataFrame): Long =
    assignments.groupBy("doc_id").agg(countDistinct("cluster_id").as("k"))
      .where(col("k") > 1).count()

  /** Order-independent hash of an assignment table, with its row count. */
  def assignmentHash(assignments: DataFrame): String = {
    val r = assignments.agg(count(lit(1)),
      coalesce(sum(xxhash64(col("doc_id"), col("cluster_id")).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).collect()(0)
    s"${r.get(0)}:${r.get(1)}"
  }
}
