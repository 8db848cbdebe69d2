package graft.checkpoint

import java.io.IOException
import java.nio.charset.StandardCharsets

import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** I6/M8: stage checkpoint store — snapshot commits with a per-stage
  * manifest carrying lineage + per-partition metrics, so a killed run
  * resumes mid-pipeline. `root` is any Hadoop path or URI.
  *
  * The north star names Iceberg tables; no Iceberg runtime jar exists on
  * this image's classpath (SURVEY.md §7.4), so the *semantics* are
  * implemented over Parquet directories. A stage is `<root>/<stage>/`
  * holding `data/` and `MANIFEST.json`, and commits by
  * [[VersionedState]]'s rule, the one the streaming state uses: the
  * manifest is the stage's commit marker and is created last. A commit
  * is one Spark write plus a few metadata calls, all through Hadoop
  * `FileSystem`: delete the old manifest (un-commit), write the snapshot
  * straight into `data/`, take the per-partition row counts from the
  * written files' parquet footers, then create the manifest
  * (fingerprint, rows, per-partition lineage, schema). No step renames,
  * so the protocol holds on stores whose rename is copy+delete. A stage
  * is committed when its manifest is complete, its fingerprint matches
  * and its data dir exists; it is read back with the manifest's schema,
  * so neither the commit nor a resume runs a schema-inference job.
  *
  * This replaces the reference's 6-step compensating merge transaction
  * (merge/MergeEngine.java:97-228, docs/adr/ADR-002): Spark stages are
  * deterministic and idempotent, so "transaction" = snapshot overwrite
  * under a marker-last commit and "rollback" = recompute from the
  * previous stage.
  */
final class StageStore(root: String, spark: SparkSession) {

  private val fs = VersionedState.fsOf(spark, root)
  private def dataDir(name: String): Path = new Path(new Path(root, name), "data")
  private def manifestPath(name: String): Path = new Path(new Path(root, name), "MANIFEST.json")

  /** Stable fingerprint for (stage params + upstream fingerprints). */
  def fingerprint(parts: String*): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(parts.mkString("\u0000").getBytes(StandardCharsets.UTF_8))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** The commit record of a stage: the manifest's top-level fields. A
    * missing, unreadable or truncated manifest, one without all three
    * fields (a manifest from before the `schema` field included), or one
    * whose data dir is gone, is no commit at all.
    */
  private def manifest(name: String): Option[StageStore.Manifest] =
    try {
      val in = fs.open(manifestPath(name))
      val m = try StageStore.json.readTree(in) finally in.close()
      val (fp, rows, schema) = (m.path("fingerprint"), m.path("rows"), m.path("schema"))
      if (fp.isTextual && rows.isIntegralNumber && schema.isTextual &&
          fs.getFileStatus(dataDir(name)).isDirectory)
        Try(DataType.fromJson(schema.asText)).toOption.collect {
          case st: StructType => StageStore.Manifest(fp.asText, rows.asLong, st)
        }
      else None
    } catch { case _: IOException => None }

  def committedFingerprint(name: String): Option[String] = manifest(name).map(_.fingerprint)

  /** Row count of a committed stage, from its manifest (written at
    * commit time from the snapshot's parquet footers) — callers that
    * need the cardinality of a just-materialized stage read it here
    * instead of paying a count job over the snapshot.
    */
  def committedRows(name: String): Option[Long] = manifest(name).map(_.rows)

  /** Materialize a stage: if a committed snapshot with the same
    * fingerprint exists, read it (resume path, no recompute); otherwise
    * compute, write the snapshot, commit the manifest, and read back.
    * Reading back (instead of reusing the in-memory plan) truncates
    * lineage and makes every downstream stage restart-equivalent. Until
    * the returned frame is consumed, a miss runs only the write's jobs
    * and a hit runs none.
    */
  def materialize(name: String, fp: String)(compute: => DataFrame): DataFrame =
    manifest(name).filter(_.fingerprint == fp) match {
      case Some(m) => read(name, m.schema)
      case None => commit(name, fp, compute)
    }

  private def commit(name: String, fp: String, df: DataFrame): DataFrame = {
    // Un-commit FIRST: a crash anywhere before the new manifest lands
    // then leaves no manifest (-> recompute on resume) instead of one
    // whose fingerprint describes data that is being replaced — the
    // invariant "manifest present + fingerprint match = committed" holds
    // through crashes. The overwrite also clears a killed writer's
    // partial data dir.
    fs.delete(manifestPath(name), false)
    df.write.mode("overwrite").parquet(dataDir(name).toString)

    // Per-partition lineage metrics from the written files' footers
    // (stable across reruns because the snapshot, not the plan, is the
    // source of truth). `pid` is the partition of the write task that
    // produced the file; a task that wrote nothing left no file.
    val partStats = footerRows(dataDir(name))
    val record = StageStore.json.createObjectNode()
      .put("stage", name).put("fingerprint", fp).put("rows", partStats.map(_._2).sum)
    val parts = record.putArray("partitions")
    partStats.foreach { case (pid, rows) => parts.addObject().put("pid", pid).put("rows", rows) }
    record.put("schema", df.schema.json)
    VersionedState.commitMarker(fs, manifestPath(name), StageStore.json.writeValueAsBytes(record))
    read(name, df.schema)
  }

  private def read(name: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(dataDir(name).toString)

  /** (write-task partition, rows) per partition that wrote part files,
    * ordered by partition: the record counts of the footers, summed over
    * a task's files.
    */
  private def footerRows(dir: Path): Seq[(Int, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    fs.listStatus(dir).toSeq.flatMap { st =>
      StageStore.partFile.findPrefixMatchOf(st.getPath.getName).map { m =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try m.group(1).toInt -> reader.getRecordCount finally reader.close()
      }
    }.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sorted
  }
}

object StageStore {
  private final case class Manifest(fingerprint: String, rows: Long, schema: StructType)

  private val json = new ObjectMapper()

  /** Spark's data-file name: `part-<task partition>-<job uuid>…`. */
  private val partFile = "^part-(\\d+)-".r
}
