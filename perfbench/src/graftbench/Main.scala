package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.BenchBus

import graft.pipeline.Pipeline

/** What one op reports besides its wall time: the graph rows it committed
  * (-1 for the rows its Parquet writes wrote, as the listener counts them)
  * and per-op layer figures (stage walls, step times) that a traced run
  * aggregates.
  */
final case class OpOut(rows: Long, extra: Map[String, Double] = Map.empty)

final case class OpRecord(
    index: Int, warm: Boolean, wallS: Double,
    rows: Long, shuffleBytes: Long, writtenBytes: Long, extra: Map[String, Double])

final case class Check(name: String, ok: Boolean, detail: String)

object Check {
  def of(name: String, problems: Seq[String], size: Int): Check =
    if (problems.isEmpty) Check(name, ok = true, s"$size checked")
    else Check(name, ok = false, s"${problems.size} of $size wrong, first: ${problems.take(3).mkString("; ")}")
}

/** One workload: inputs made in `setup`, then ops repeated by [[Main]]. */
trait Workload {
  /** Untimed ops that set-up runs after generating the inputs. */
  def warmup: Int

  /** Fewest timed ops per run, so that `op_p50_s` is a median of several
    * ops even where one op outlasts `--seconds`.
    */
  def minTimed: Int

  /** Generates the inputs from the seed and commits them under the work dir. */
  def setup(): Unit

  /** One timed unit of work; every byte it leaves goes under `out`. */
  def op(out: String): OpOut

  /** Output checks of the last op, made apart from the program. */
  def check(out: String): Seq[Check]

  /** The same checks, each run on a planted corruption of the last op's
    * outputs; `ok` is true when the check caught the corruption.
    */
  def selftest(out: String): Seq[Check]

  /** Per-layer figures of a traced run. */
  def layers(timed: Seq[OpRecord], trace: Trace, out: String): Map[String, Double]
}

/** Benchmark JVM entry point. Usage (normally started by `run.py`):
  * {{{
  * graftbench.Main --workload kg_build --seed 1 --seconds 10 --trace 0 \
  *   --work <dir> --result <file> [--cores 4] [--selftest 1]
  * }}}
  */
object Main {

  def du(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)

  def rmrf(f: File): Unit = org.apache.commons.io.FileUtils.deleteQuietly(f)

  def main(args: Array[String]): Unit = {
    val o = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o.getOrElse("trace", "0") == "1"
    val work = new File(o("work")).getAbsolutePath
    val cores = o.getOrElse("cores", "4").toInt

    // two shuffle partitions per core at local[4]; kept at 8 for other core
    // counts so that a local[1] run does the same work
    val spark = Pipeline.sparkSession(s"local[$cores]", 8, s"graftbench-$name")
    spark.sparkContext.setLogLevel("WARN")
    val trace = new Trace(detailed = traced)
    spark.sparkContext.addSparkListener(trace)

    val workload: Workload = name match {
      case "kg_build"      => new KgBuild(spark, seed, work)
      case "turtle_ingest" => new TurtleIngest(spark, seed, work)
      case other           => sys.error(s"unknown workload $other")
    }
    val warmup = workload.warmup

    val sessionMs = System.currentTimeMillis()
    workload.setup()
    val inputsMs = System.currentTimeMillis()

    val records = scala.collection.mutable.ArrayBuffer.empty[OpRecord]
    var failed = 0
    var lastOk: Option[String] = None
    var index = 0
    def runOp(warm: Boolean): Unit = {
      val out = s"$work/out/op-$index"
      spark.sparkContext.setLocalProperty("graftbench.op", index.toString)
      val before = trace.shuffleBytes.get()
      val recordsBefore = trace.recordsWritten.get()
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try {
        val res = workload.op(out)
        val wall = (System.nanoTime() - n0) / 1e9
        BenchBus.drain(spark.sparkContext)
        val rows = if (res.rows >= 0) res.rows else trace.recordsWritten.get() - recordsBefore
        trace.span(s"op $index", t0, System.currentTimeMillis(), "run")
        records += OpRecord(index, warm, wall, rows,
          trace.shuffleBytes.get() - before, du(new File(out)), res.extra)
        lastOk.foreach(p => rmrf(new File(p)))
        lastOk = Some(out)
      } catch {
        case scala.util.control.NonFatal(e) =>
          if (!warm) failed += 1
          System.err.println(s"[graftbench] op $index failed: $e")
          e.printStackTrace()
          rmrf(new File(out))
      } finally spark.sparkContext.setLocalProperty("graftbench.op", null)
      index += 1
    }

    (0 until warmup).foreach(_ => runOp(warm = true))
    val firstTimedMs = System.currentTimeMillis()
    val tStart = System.nanoTime()
    do runOp(warm = false)
    while (index - warmup < workload.minTimed || (System.nanoTime() - tStart) / 1e9 < seconds)
    val attempted = index - warmup

    val out = lastOk.getOrElse(s"$work/out/none")
    val checks = if (lastOk.isDefined) workload.check(out) else Seq(Check("ops", ok = false, "no op succeeded"))
    val selftest = if (o.getOrElse("selftest", "0") == "1" && lastOk.isDefined) workload.selftest(out) else Nil
    val timed = records.filterNot(_.warm).toSeq
    val layers = if (traced && timed.nonEmpty) workload.layers(timed, trace, out) else Map.empty[String, Double]
    // the graph-query layer, which has no workload of its own
    val graph = if (traced && name == "turtle_ingest") Some(new GraphQueries(spark, seed, work)) else None
    val graphLayers = graph.map { g => g.setup(); g.layers(trace) }.getOrElse(Map.empty)

    val result = Map(
      "workload" -> name, "seed" -> seed, "cores" -> cores,
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ms" -> sessionMs, "inputs_ms" -> inputsMs, "first_timed_ms" -> firstTimedMs,
      "attempted" -> attempted, "failed" -> failed,
      "ops" -> records.map(r => Map("index" -> r.index, "warm" -> r.warm, "wall_s" -> r.wallS,
        "rows" -> r.rows, "shuffle_bytes" -> r.shuffleBytes, "written_bytes" -> r.writtenBytes,
        "extra" -> r.extra)),
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "selftest" -> selftest.map(c => Map("name" -> c.name, "caught" -> c.ok, "detail" -> c.detail)),
      "layers" -> (layers ++ graphLayers)) ++ graph.map(_.result).getOrElse(Map.empty)
    Files.write(Paths.get(o("result")), Json.write(result).getBytes(StandardCharsets.UTF_8))
    if (traced) Files.write(Paths.get(s"$work/spans.json"), trace.spansJson.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Reads a UTF-8 text file. */
  def readText(p: java.nio.file.Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
}
