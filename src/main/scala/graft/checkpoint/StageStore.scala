package graft.checkpoint

import java.io.IOException
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** I6/M8: stage checkpoint store — atomic snapshot commits with a
  * per-stage manifest carrying lineage + per-partition metrics, so a
  * killed run resumes mid-pipeline.
  *
  * The north star names Iceberg tables; no Iceberg runtime jar exists on
  * this image's classpath (SURVEY.md §7.4), so the *semantics* are
  * implemented over Parquet directories: data is written to a temp dir,
  * verified, moved into place, and the manifest write is the commit point
  * (manifest present + fingerprint match = stage committed). This mirrors
  * Iceberg's snapshot-commit model; if an Iceberg jar appears, only the
  * format strings change.
  *
  * This replaces the reference's 6-step compensating merge transaction
  * (merge/MergeEngine.java:97-228, docs/adr/ADR-002): Spark stages are
  * deterministic and idempotent, so "transaction" = atomic snapshot
  * overwrite and "rollback" = recompute from the previous stage.
  */
final class StageStore(root: String, spark: SparkSession) {

  private def stageDir(name: String): Path = Paths.get(root, name)
  private def dataDir(name: String): Path = stageDir(name).resolve("data")
  private def manifestPath(name: String): Path = stageDir(name).resolve("MANIFEST.json")

  /** Stable fingerprint for (stage params + upstream fingerprints). */
  def fingerprint(parts: String*): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(parts.mkString("\u0000").getBytes(StandardCharsets.UTF_8))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** The commit record of a stage: the manifest's top-level fields. A
    * missing, unparseable or truncated manifest, or one without both
    * fields, is no commit at all.
    */
  private def manifest(name: String): Option[StageStore.Manifest] = {
    val mp = manifestPath(name)
    if (!Files.exists(mp)) None
    else try {
      val m = StageStore.json.readTree(mp.toFile)
      val (fp, rows) = (m.path("fingerprint"), m.path("rows"))
      if (fp.isTextual && rows.isIntegralNumber) Some(StageStore.Manifest(fp.asText, rows.asLong))
      else None
    } catch { case _: IOException => None }
  }

  def committedFingerprint(name: String): Option[String] = manifest(name).map(_.fingerprint)

  /** Row count of a committed stage, from its manifest (written at
    * commit time from the snapshot's own partition stats) — callers that
    * need the cardinality of a just-materialized stage read it here
    * instead of paying a count job over the snapshot.
    */
  def committedRows(name: String): Option[Long] = manifest(name).map(_.rows)

  /** Materialize a stage: if a committed snapshot with the same
    * fingerprint exists, read it (resume path, no recompute); otherwise
    * compute, snapshot atomically, commit the manifest, and read back.
    * Reading back (instead of reusing the in-memory plan) truncates
    * lineage and makes every downstream stage restart-equivalent.
    */
  def materialize(name: String, fp: String)(compute: => DataFrame): DataFrame = {
    if (committedFingerprint(name).contains(fp))
      return spark.read.parquet(dataDir(name).toString)

    val df = compute
    val tmp = stageDir(name).resolve(s".tmp-$fp")
    Files.createDirectories(stageDir(name))
    // clean ALL stale tmp snapshots for this stage, not just the current
    // fingerprint's — a crashed run with a different config would
    // otherwise leave its near-full copy on disk forever
    val siblings = Files.list(stageDir(name))
    try siblings.forEach { p =>
      if (p.getFileName.toString.startsWith(".tmp-")) deleteRecursively(p)
    } finally siblings.close()
    df.write.mode("overwrite").parquet(tmp.toString)

    // Per-partition lineage metrics from the written files (stable across
    // reruns because the snapshot, not the plan, is the source of truth).
    val written = spark.read.parquet(tmp.toString)
    val partStats = written.groupBy(spark_partition_id().as("pid"))
      .agg(count(lit(1)).as("rows"))
      .orderBy("pid")
      .collect()
    // total = sum of the per-partition rows already collected — a second
    // full count() scan of the snapshot would be redundant I/O per commit
    val total = partStats.map(_.getLong(1)).sum

    // Swap snapshot into place, then commit via manifest (commit point).
    // The OLD manifest is invalidated FIRST: a crash anywhere in the swap
    // window then leaves no manifest (-> recompute on resume) instead of
    // a manifest whose fingerprint describes data that was already
    // deleted or replaced — the stated invariant "manifest present +
    // fingerprint match = committed" must hold through crashes.
    Files.deleteIfExists(manifestPath(name))
    val dd = dataDir(name)
    deleteRecursively(dd)
    Files.move(tmp, dd, StandardCopyOption.ATOMIC_MOVE)
    val record = StageStore.json.createObjectNode()
      .put("stage", name).put("fingerprint", fp).put("rows", total)
    val parts = record.putArray("partitions")
    partStats.foreach(r => parts.addObject().put("pid", r.getInt(0)).put("rows", r.getLong(1)))
    val tmpManifest = stageDir(name).resolve(".MANIFEST.tmp")
    Files.write(tmpManifest, StageStore.json.writeValueAsBytes(record))
    Files.move(tmpManifest, manifestPath(name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    spark.read.parquet(dd.toString)
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }
  }
}

object StageStore {
  private final case class Manifest(fingerprint: String, rows: Long)

  private val json = new ObjectMapper()
}
