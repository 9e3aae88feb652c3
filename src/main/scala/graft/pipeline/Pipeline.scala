package graft.pipeline

import java.util.concurrent.{ExecutionException, FutureTask}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end KG-construction pipeline orchestration:
  * generate/read pages → extract text → detect mentions → link entities →
  * canonicalize → emit triples → materialize graph table; every stage runs
  * through the [[SnapshotStore]] gate (resumable) and the [[Lineage]]
  * tracker (per-partition metrics).
  *
  * Two chains run side by side. The PAGE chain (pages → extracted →
  * mentions → links) runs on the caller's thread. The DICTIONARY branch —
  * everything that reads only the entity dictionary: the linker's
  * dictionary side ([[Linking.prepare]], one driver-side pass that also
  * audits the alias quarantine) and the whole `canonical` stage — runs on
  * one dedicated driver thread started before `pages`, so Spark schedules
  * its jobs beside the page chain's. It prepares the linker's side first
  * and hands it to `links` at once; the chains meet again at `linked`,
  * the first stage that reads both, and the branch is joined on every
  * exit path (return, stop, failure), so no job of a run outlives `run`.
  */
object Pipeline {

  /** What a run committed. `stageWallMs` holds each stage's own wall
    * time; `canonical` runs on the dictionary branch beside `pages` …
    * `links`, so its wall overlaps theirs and the walls do not sum to the
    * run's.
    */
  final case class Summary(
      stageRows: Map[String, Long],
      graphRows: Long,
      stageWallMs: Map[String, Long] = Map.empty)

  /** A committed stage: its read-back frame, rows and wall time. */
  private final case class Committed(df: DataFrame, rows: Long, wallMs: Long)

  def sparkSession(master: String, shufflePartitions: Int, app: String = "graft"): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .appName(app)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // task-side commit (v2): the v1 committer renames every output file
      // serially on the driver at stage-commit time — a fixed cost per
      // snapshot that dominates small stages and scales with file count
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    // shuffle/spill dir override (e.g. tmpfs when benchmarking — stands in
    // for cluster-local NVMe; /tmp on this sandbox is a ~280MB/s virtual
    // disk that serializes 32-way shuffle writes)
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").foreach(d => b.config("spark.local.dir", d))
    b.getOrCreate()
  }

  /** Entity profile rows (entity_iri, token) for the linker. */
  def profiles(nEntities: Int): Seq[(String, String)] =
    (0 until nEntities).flatMap { k =>
      Linking.entityProfile(PageGen.entityIri(k), PageGen.entityName(k), PageGen.topicTokens(k))
        .map(t => (PageGen.entityIri(k), t))
    }

  /** entity_iri → primary label (the weight-1.0 alias). */
  def labels(dict: DataFrame): DataFrame =
    dict.filter(col("weight") === 1.0).select(col("entity_iri"), col("alias").as("label"))

  def run(
      spark: SparkSession,
      nPages: Long,
      nEntities: Int,
      out: String,
      stopAfter: Option[String] = None,
      inputPages: Option[DataFrame] = None,
      checkpoint: CheckpointPolicy = CheckpointPolicy.Local): Summary = {
    import spark.implicits._

    // snapshots are valid only for the SAME job: a different page count /
    // entity count / input identity into the same out dir recomputes
    val snaps = new SnapshotStore(s"$out/_stages", spark,
      config = s"pages=$nPages;entities=$nEntities;input=" +
        (if (inputPages.isDefined) "external" else "synthetic"))
    val lineage = Lineage.collector(spark)
    // written only by the caller's thread (record), never by the branch
    var rows = Map.empty[String, Long]
    var walls = Map.empty[String, Long]

    // thread-safe: touches only the calling thread's local properties
    def commit(name: String)(compute: => DataFrame): Committed = {
      val t0 = System.currentTimeMillis()
      // attribute every Spark job of this stage for StageMetricsListener;
      // always reset (a throwing stage must not misattribute later jobs)
      spark.sparkContext.setLocalProperty("graft.stage", name)
      val (df, n) =
        try snaps.run(name)(compute)
        finally spark.sparkContext.setLocalProperty("graft.stage", null)
      Committed(df, n, System.currentTimeMillis() - t0)
    }

    def record(name: String, c: Committed): DataFrame = {
      rows += name -> c.rows
      walls += name -> c.wallMs
      if (stopAfter.contains(name))
        throw new PipelineStopped(name, Summary(rows, -1, walls))
      c.df
    }

    def stage(name: String)(compute: => DataFrame): DataFrame = record(name, commit(name)(compute))

    val dictDf = PageGen.dictionary(spark, nEntities).toDF().cache()

    // the dictionary branch (see the object doc). The thread inherits a
    // copy of the caller's local properties (job group, scheduler pool),
    // and its jobs carry the `canonical` label. `linkDict` is run first,
    // on the branch, and holds its own result or failure for `links`.
    val linkDict = new FutureTask[Linking.Dictionary](() =>
      Linking.prepare(spark, PageGen.entityDictionary(nEntities), profiles(nEntities)))
    val dictBranch = new FutureTask[Committed](() => {
      linkDict.run()
      spark.sparkContext.setLocalProperty("graft.stage", "canonical")
      commit("canonical")(Canonical.canonicalMapping(dictDf, checkpoint = checkpoint))
    })
    def await[T](f: FutureTask[T]): T =
      try f.get() catch { case e: ExecutionException => throw e.getCause }
    val branch = new Thread(dictBranch, "graft-dictionary-branch")
    branch.setDaemon(true)
    branch.start()
    try {
      val pages = stage("pages") {
        inputPages.getOrElse(PageGen.pages(spark, nPages, nEntities).toDF())
      }

      val extracted = stage("extracted") {
        // html is dead weight after extraction — the snapshot keeps only the
        // columns downstream stages read (halves post-extract snapshot I/O)
        lineage.track("extracted")(Extract.run(pages.as[WebPage])).toDF()
          .select($"url", $"warc_ts", $"text", $"lang")
      }

      val mentions = stage("mentions") {
        val aliasSurfaces = PageGen.entityDictionary(nEntities).map(_.alias)
        lineage.track("mentions")(
          Mentions.detect(extracted.select($"url", $"text"), aliasSurfaces)).toDF()
      }

      val links = stage("links") {
        Linking.link(mentions, await(linkDict), rows("mentions")).toDF()
      }

      val canonical = record("canonical", await(dictBranch))

      val linked = stage("linked") {
        links
          .join(mentions.select($"mention_id", $"url"), "mention_id")
          .join(canonical, Seq("entity_iri"), "left")
          .withColumn("canonical_iri", coalesce($"canonical_iri", $"entity_iri"))
          .join(labels(dictDf).withColumnRenamed("entity_iri", "canonical_iri"), Seq("canonical_iri"))
          .select($"url", $"canonical_iri", $"label")
      }

      val tEmit = System.currentTimeMillis()
      spark.sparkContext.setLocalProperty("graft.stage", "emit+materialize")
      val graphRows =
        try {
          val triples = lineage.track("emit")(TripleEmit.emit(pages, linked))
          // predicate-count ESTIMATES from the stage manifests (exact orders
          // of magnitude: 3 metadata triples per page, ≤1 mentions + ≤1 label
          // triple per linked mention) — salting only needs the magnitude,
          // and estimates avoid a second pass over the lazy emit subtree
          val predEst = Map(
            "http://www.w3.org/1999/02/22-rdf-syntax-ns#type" -> rows("pages"),
            s"${TripleEmit.Kg}lang" -> rows("pages"),
            s"${TripleEmit.Kg}fetchedAt" -> rows("pages"),
            s"${TripleEmit.Kg}mentions" -> rows("linked"),
            s"${TripleEmit.Kg}label" -> rows("linked"))
          Materialize.writeAdaptive(triples, s"$out/graph", predCounts = Some(predEst))
        } finally spark.sparkContext.setLocalProperty("graft.stage", null)
      walls += "emit+materialize" -> (System.currentTimeMillis() - tEmit)

      lineage.write(spark, s"$out/lineage")

      Summary(rows, graphRows, walls)
    } finally {
      branch.join() // on every exit path: no job of this run outlives it
      dictDf.unpersist()
    }
  }

  final class PipelineStopped(val stage: String, val partial: Summary)
      extends RuntimeException(s"stopped after stage $stage (requested)")
}

/** spark-submit entry point. */
object Main {
  def main(args: Array[String]): Unit = {
    var nPages = 1000L
    var nEntities = 500
    var out = "/tmp/graft-kg"
    var master = s"local[${Runtime.getRuntime.availableProcessors()}]"
    var shuffle = 32
    var stopAfter: Option[String] = None
    var checkpoint: CheckpointPolicy = CheckpointPolicy.Local
    args.sliding(2, 2).foreach {
      case Array("--pages", v)          => nPages = v.toLong
      case Array("--entities", v)       => nEntities = v.toInt
      case Array("--out", v)            => out = v
      case Array("--master", v)         => master = v
      case Array("--shuffle", v)        => shuffle = v.toInt
      case Array("--stop-after", v)     => stopAfter = Some(v)
      // reliable DFS checkpointing for the iterative stages: at cluster
      // scale point this at HDFS/S3 so connected-components rounds survive
      // executor loss (default keeps executor-local blocks)
      case Array("--checkpoint-dir", v) => checkpoint = CheckpointPolicy.Reliable(v)
      case other                        => sys.error(s"unknown args: ${other.mkString(" ")}")
    }
    val spark = Pipeline.sparkSession(master, shuffle)
    spark.sparkContext.setLogLevel("WARN")
    try {
      val summary = Pipeline.run(spark, nPages, nEntities, out, stopAfter,
        checkpoint = checkpoint)
      println(s"[graft] stages: ${summary.stageRows.toSeq.sortBy(_._1).mkString(", ")}")
      println(s"[graft] graph rows: ${summary.graphRows}")
    } catch {
      case s: Pipeline.PipelineStopped =>
        println(s"[graft] stopped after ${s.stage} — committed: ${s.partial.stageRows.keys.mkString(",")}")
    } finally spark.stop()
  }
}
