package graftbench

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

object GraphQueries {
  val Docs = 500

  /** An iterative operator of `ops.GraphAnalytics` (BFS by repeated joins)
    * and the incremental path (graph diff, LSM delta apply, merged
    * predicate reads, a `ViewStore` fold).
    */
  val Queries = Seq("kg14_bfs", "kg81_sum_view_maintenance")

  /** Untimed runs of each query before its measured one. */
  val Warm = 2

  /** The `graftbench.op` index the measured runs are traced under. */
  val TracedOp = -2

  private val Langs = Seq("en" -> 41, "zh" -> 15, "de" -> 14, "fr" -> 15, "es" -> 15)
  private val Words = Array("key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "spark", "line", "sort", "window", "join", "query", "stream", "order")

  /** A `documents` table shaped like the repository's test data: ids
    * 0..n-1, five languages, 20 sources, 44..577 characters of text.
    */
  def documents(seed: Long, n: Int): Seq[(Long, String, String, String, Long)] = {
    val r = new Random(seed)
    (0 until n).map { id =>
      val pick = r.nextInt(100)
      val lang = Langs.scanLeft(("", 0)) { case ((_, acc), (l, w)) => (l, acc + w) }.tail
        .find(_._2 > pick).get._1
      val len = 44 + r.nextInt(534)
      val sb = new StringBuilder
      while (sb.length < len) { if (sb.nonEmpty) sb.append(' '); sb.append(Words(r.nextInt(Words.length))) }
      val text = sb.result().take(len).trim
      (id.toLong, text, lang, s"src${id % 20}", text.length.toLong)
    }
  }
}

/** The graph-query layer: [[GraphQueries.Queries]] of `SparkEntry` on a
  * seeded `documents` table, each query's rows written as Parquet and
  * compared with its DuckDB oracle by `run.py`.
  *
  * It has no workload of its own: a fresh JVM needs about 45 s of BFS passes
  * before a pass stops getting faster, which the run budget does not leave
  * a third workload. Traced `turtle_ingest` runs measure it instead, after
  * their own ops.
  */
final class GraphQueries(spark: SparkSession, seed: Long, work: String) {
  import GraphQueries._
  import spark.implicits._

  private val dataDir = s"$work/input/sf"
  private val outputs = s"$work/out/graph-queries"

  def setup(): Unit =
    documents(seed, Docs).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dataDir/documents.parquet")

  /** Runs one query into `out/<query>` and returns its wall time. */
  def run(q: String, out: String): Double = {
    val sc = spark.sparkContext
    sc.setJobGroup(q, q)
    val t0 = System.nanoTime()
    try SparkEntry.queries(q)(spark, dataDir).write.parquet(s"$out/$q")
    finally sc.clearJobGroup()
    (System.nanoTime() - t0) / 1e9
  }

  /** `query.<name>.*` of one measured run of each query, after
    * [[GraphQueries.Warm]] untimed ones.
    */
  def layers(trace: Trace): Map[String, Double] = {
    val sc = spark.sparkContext
    Queries.flatMap { q =>
      (1 to Warm).foreach { i =>
        run(q, s"$work/out/graph-warm-$i")
        Main.rmrf(new java.io.File(s"$work/out/graph-warm-$i"))
      }
      sc.setLocalProperty("graftbench.op", TracedOp.toString)
      val wall = try run(q, outputs) finally sc.setLocalProperty("graftbench.op", null)
      org.apache.spark.BenchBus.drain(sc)
      val l = trace.labelMetrics(TracedOp).getOrElse(q, Map.empty[String, Double])
      Seq(s"query.$q.wall_s" -> wall) ++
        Seq("jobs", "shuffle_write_mb", "task_skew").map(k => s"query.$q.$k" -> l.getOrElse(k, 0.0))
    }.toMap
  }

  /** What `run.py` needs for the DuckDB comparison. */
  def result: Map[String, Any] = Map(
    "documents" -> s"$dataDir/documents.parquet",
    "outputs" -> outputs,
    "oracle_sql" -> Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap)
}
