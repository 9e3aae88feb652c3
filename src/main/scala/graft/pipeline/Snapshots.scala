package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Stage-granular resumable snapshots.
  *
  * Emulates table-format snapshot semantics on plain Parquet (no Iceberg
  * jars ship in /opt/spark/jars — SURVEY.md §7.0): a stage is COMMITTED iff
  * its directory holds both the writer's `_SUCCESS` marker and our
  * `_manifest.json` (written strictly after the data). A killed job
  * restarts, finds the committed stages, and recomputes only the rest —
  * final output byte-identical because every stage is a deterministic
  * function of committed inputs.
  *
  * Isolated behind this one class so a real catalog/table-format backend
  * can replace it without touching the stages.
  */
final class SnapshotStore(root: String, spark: SparkSession, config: String = "") {

  require(!config.contains('"') && !config.contains('\\'),
    s"snapshot config must not need JSON escaping: $config")

  /** Caller config plus the snapshot FORMAT version: a resume must not
    * silently serve stage outputs committed by an older build whose ids
    * or schemas differ (e.g. a mentionId hash change) — bumping
    * [[SnapshotStore.FormatVersion]] invalidates every prior snapshot.
    */
  private val fullConfig = s"fmt=${SnapshotStore.FormatVersion};$config"

  private val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dir(stage: String) = new Path(root, stage)
  private def manifest(stage: String) = new Path(dir(stage), "_manifest.json")

  /** Committed iff data + manifest exist AND the manifest's recorded
    * config equals ours — re-running a DIFFERENT job (page count, input
    * identity) into the same out dir must recompute, not silently serve
    * the previous run's snapshots.
    */
  def committed(stage: String): Boolean =
    fs.exists(new Path(dir(stage), "_SUCCESS")) && fs.exists(manifest(stage)) &&
      manifestConfig(stage) == fullConfig

  private def manifestConfig(stage: String): String = {
    val in = fs.open(manifest(stage))
    val text =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    """"config":"([^"]*)"""".r.findFirstMatchIn(text).map(_.group(1)).getOrElse("")
  }

  def load(stage: String): DataFrame = spark.read.parquet(dir(stage).toString)

  private def writeManifest(stage: String, rows: Long, wallMs: Long): Unit = {
    val json =
      s"""{"stage":"$stage","rows":$rows,"wall_ms":$wallMs,"config":"$fullConfig",""" +
        s""""committed_at_ms":${System.currentTimeMillis()}}"""
    val out = fs.create(manifest(stage), true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Run a stage through the snapshot gate: skip when committed, else
    * compute → write → manifest → read back (downstream reads the
    * committed bytes, never the in-flight plan). Returns the DataFrame and
    * its row count (from the committed footers — callers must not pay a
    * second count job).
    */
  def run(stage: String)(compute: => DataFrame): (DataFrame, Long) = {
    if (committed(stage)) {
      val df = load(stage)
      (df, df.count())
    } else {
      val t0 = System.currentTimeMillis()
      compute.write.mode("overwrite").parquet(dir(stage).toString)
      val back = load(stage)
      val rows = back.count() // metadata-only parquet count
      writeManifest(stage, rows, System.currentTimeMillis() - t0)
      (back, rows)
    }
  }

  def stages(): Seq[String] =
    if (!fs.exists(new Path(root))) Seq.empty
    else fs.listStatus(new Path(root)).toSeq.filter(_.isDirectory).map(_.getPath.getName)
}

object SnapshotStore {
  /** Snapshot FORMAT version, folded into every manifest's config gate.
    * Bump on any change that alters committed stage bytes for identical
    * job config — id/hash functions (e.g. `Mentions.mentionId`), stage
    * schemas, emission rules — so stale-format snapshots recompute
    * instead of silently serving.
    */
  val FormatVersion = 2
}
