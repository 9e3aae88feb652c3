package graft.pipeline

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.{DataType, StructType}

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
  * The manifest records the stage's row count and schema, so neither a
  * fresh commit nor a resume runs a Spark job beyond the stage's own
  * write: the count rides the write as an [[Observation]], and read-backs
  * pass the schema instead of inferring it from the Parquet footers.
  *
  * Isolated behind this one class so a real catalog/table-format backend
  * can replace it without touching the stages.
  */
final class SnapshotStore(root: String, spark: SparkSession, config: String = "") {

  /** Caller config plus the snapshot FORMAT version: a resume must not
    * silently serve stage outputs committed by an older build whose ids
    * or schemas differ (e.g. a mentionId hash change) — bumping
    * [[SnapshotStore.FormatVersion]] invalidates every prior snapshot.
    */
  private val fullConfig = s"fmt=${SnapshotStore.FormatVersion};$config"

  private val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val json = new ObjectMapper()

  private def dir(stage: String) = new Path(root, stage)
  private def manifest(stage: String) = new Path(dir(stage), "_manifest.json")

  /** The stage's manifest when data + manifest exist AND the manifest's
    * recorded config equals ours — re-running a DIFFERENT job (page count,
    * input identity) into the same out dir must recompute, not silently
    * serve the previous run's snapshots. A manifest cut short by a crash
    * fails its checksum or does not parse, so its stage recomputes.
    */
  private def committedManifest(stage: String): Option[JsonNode] =
    if (!fs.exists(new Path(dir(stage), "_SUCCESS")) || !fs.exists(manifest(stage))) None
    else {
      val in = fs.open(manifest(stage))
      val m =
        try Option(json.readTree(in))
        catch { case _: java.io.IOException => None } // incl. JSON parse errors
        finally in.close()
      m.filter(_.path("config").asText == fullConfig)
    }

  private def load(stage: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(dir(stage).toString)

  private def writeManifest(stage: String, rows: Long, schema: StructType, wallMs: Long): Unit = {
    val m = json.createObjectNode()
      .put("stage", stage).put("rows", rows).put("wall_ms", wallMs)
      .put("config", fullConfig).put("committed_at_ms", System.currentTimeMillis())
    m.set[JsonNode]("schema", json.readTree(schema.json))
    val out = fs.create(manifest(stage), true)
    try out.write(json.writeValueAsBytes(m)) finally out.close()
  }

  /** Run a stage through the snapshot gate: skip when committed, else
    * compute → write → manifest → read back (downstream reads the
    * committed bytes, never the in-flight plan). Returns the DataFrame and
    * its row count. A fresh stage adds no job to its write (the count is
    * observed on the write); a committed one runs none (count and schema
    * come from the manifest).
    */
  def run(stage: String)(compute: => DataFrame): (DataFrame, Long) =
    committedManifest(stage) match {
      case Some(m) =>
        val schema = DataType.fromJson(m.get("schema").toString).asInstanceOf[StructType]
        (load(stage, schema), m.get("rows").asLong)
      case None =>
        val t0 = System.currentTimeMillis()
        val df = compute
        val obs = new Observation(s"snapshot.$stage.${java.util.UUID.randomUUID()}")
        df.observe(obs, count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(dir(stage).toString)
        val rows = obs.get("n").asInstanceOf[Long]
        writeManifest(stage, rows, df.schema, System.currentTimeMillis() - t0)
        (load(stage, df.schema), rows)
    }

  def stages(): Seq[String] =
    if (!fs.exists(new Path(root))) Seq.empty
    else fs.listStatus(new Path(root)).toSeq.filter(_.isDirectory).map(_.getPath.getName)
}

object SnapshotStore {
  /** Snapshot FORMAT version, folded into every manifest's config gate.
    * Bump on any change that alters committed stage bytes for identical
    * job config — id/hash functions (e.g. `Mentions.mentionId`), stage
    * schemas, emission rules, linking ranks — so stale-format snapshots
    * recompute instead of silently serving.
    */
  val FormatVersion = 4
}
