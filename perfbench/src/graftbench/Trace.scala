package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.scheduler._

/** The benchmark's SparkListener.
  *
  * Always: sums the shuffle bytes and the output records written by every
  * task (two adds per task), which give the end-to-end `shuffle_mb` and the
  * rows an op's Parquet writes committed.
  *
  * When `detailed`: attributes every job, stage and task to a label — the
  * `graft.stage` local property that `Pipeline.run` sets, else the job group
  * the benchmark sets around each query or step, else "other" — and to the
  * op during which it ran (the `graftbench.op` local property). It also
  * records spans (name, start, end, parent) for ops, labels and jobs.
  */
final class Trace(detailed: Boolean) extends SparkListener {

  val shuffleBytes = new AtomicLong
  val recordsWritten = new AtomicLong

  final case class TaskRec(durMs: Long, cpuNs: Long, shuffleW: Long, spill: Long)
  final case class Span(name: String, startMs: Long, endMs: Long, parent: String)

  private val stageOwner = mutable.HashMap.empty[Int, (Int, String)] // stage -> (op, label)
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[TaskRec]]
  private val jobsByKey = mutable.HashMap.empty[(Int, String), Int].withDefaultValue(0)
  private val jobOpen = mutable.HashMap.empty[Int, (Long, Int, String)]
  private val spans = mutable.ArrayBuffer.empty[Span]

  private def labelOf(props: java.util.Properties): (Int, String) = {
    def prop(k: String) = Option(props).flatMap(p => Option(p.getProperty(k)))
    val op = prop("graftbench.op").map(_.toInt).getOrElse(-1)
    val label = prop("graft.stage").orElse(prop("spark.jobGroup.id")).getOrElse("other")
    (op, label.replace('+', '_'))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (detailed) synchronized {
    val key = labelOf(e.properties)
    e.stageIds.foreach(id => stageOwner.getOrElseUpdate(id, key))
    jobsByKey(key) += 1
    jobOpen(e.jobId) = (e.time, key._1, key._2)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (detailed) synchronized {
    jobOpen.remove(e.jobId).foreach { case (t0, op, label) =>
      spans += Span(s"job ${e.jobId}", t0, e.time, s"op $op/$label")
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val w = m.shuffleWriteMetrics.bytesWritten
      shuffleBytes.addAndGet(w)
      recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
      if (detailed) synchronized {
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          TaskRec(e.taskInfo.duration, m.executorCpuTime, w, m.diskBytesSpilled)
      }
    }
  }

  /** Records a span measured around an op by the benchmark. */
  def span(name: String, startMs: Long, endMs: Long, parent: String): Unit =
    if (detailed) synchronized { spans += Span(name, startMs, endMs, parent) }

  /** Per-label figures of one op: jobs, cpu_s, shuffle_write_mb, spill_mb
    * and task_skew (max over median task time in the label's dominant
    * stage, the one with the largest summed task time).
    */
  def labelMetrics(op: Int): Map[String, Map[String, Double]] = synchronized {
    val byLabel = stageOwner.toSeq.collect { case (stage, (`op`, label)) => label -> stage }
      .groupBy(_._1).map { case (l, ss) => l -> ss.map(_._2) }
    val labels = byLabel.keySet ++ jobsByKey.keySet.collect { case (`op`, l) => l }
    labels.map { label =>
      val stages = byLabel.getOrElse(label, Nil).map(s => stageTasks.getOrElse(s, mutable.ArrayBuffer.empty))
      val tasks = stages.flatten
      val dominant = if (stages.isEmpty) Seq.empty else stages.maxBy(_.map(_.durMs).sum).toSeq
      val skew =
        if (dominant.isEmpty) 0.0
        else {
          val d = dominant.map(_.durMs.toDouble).sorted
          d.last / math.max(1.0, Stats.median(d))
        }
      label -> Map(
        "jobs" -> jobsByKey((op, label)).toDouble,
        "cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
        "shuffle_write_mb" -> tasks.map(_.shuffleW).sum / 1e6,
        "spill_mb" -> tasks.map(_.spill).sum / 1e6,
        "task_skew" -> skew)
    }.toMap
  }

  /** Every span as JSON: ops (parent "run"), one span per label and op
    * from its first job's start to its last job's end (parent "op N"), and
    * jobs (parent "op N/label").
    */
  def spansJson: String = synchronized {
    val labels = spans.filter(_.name.startsWith("job ")).groupBy(_.parent).map { case (key, js) =>
      val Array(op, label) = key.split("/", 2)
      Span(label, js.map(_.startMs).min, js.map(_.endMs).max, op)
    }
    Json.write((spans ++ labels).map(s => Map("name" -> s.name, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "parent" -> s.parent)))
  }
}

object Trace {
  /** The figures [[Trace.labelMetrics]] gives for each label. */
  val LabelKeys: Seq[String] = Seq("jobs", "cpu_s", "shuffle_write_mb", "spill_mb", "task_skew")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Median over timed ops of one per-op figure (absent counts as 0). */
  def medianOf(ops: Seq[Map[String, Double]], key: String): Double =
    median(ops.map(_.getOrElse(key, 0.0)))
}
