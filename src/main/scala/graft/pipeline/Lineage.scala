package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.util.CollectionAccumulator

/** Per-partition lineage/metrics (north_rule: "per-partition lineage +
  * metrics"): a pass-through `mapPartitions` wrapper counts rows and wall
  * time per (stage, partition) into a collection accumulator; the driver
  * persists the rows as a `stage`-partitioned `lineage` Parquet table
  * after each run.
  */
object Lineage {

  final class Collector(spark: SparkSession) extends Serializable {
    val acc: CollectionAccumulator[LineageRow] =
      spark.sparkContext.collectionAccumulator[LineageRow]("graft.lineage")

    /** Wrap a Dataset: counts rows flowing out of each partition of this
      * stage. Zero-copy — the iterator is decorated, not materialized.
      * The decorator observes ONE stream (the stage's output); the
      * input-side cardinality is not visible at this boundary, so
      * `rows_in` is recorded as -1 (not observed) rather than a
      * fabricated copy of `rows_out` — consumers computing per-stage
      * selectivity must join the upstream stage's `rows_out` instead.
      */
    def track[T: Encoder](stage: String)(ds: Dataset[T]): Dataset[T] = {
      val a = acc
      ds.mapPartitions { it =>
        val t0 = System.currentTimeMillis()
        val ctx = TaskContext.get()
        val pid = ctx.partitionId()
        val attempt = ctx.attemptNumber()
        new Iterator[T] {
          private[this] var n = 0L
          private[this] var reported = false
          def hasNext: Boolean = {
            val h = it.hasNext
            if (!h && !reported) {
              reported = true
              a.add(LineageRow(stage, pid, attempt, -1L, n, System.currentTimeMillis() - t0))
            }
            h
          }
          def next(): T = { n += 1; it.next() }
        }
      }
    }

    /** Exactly-once view of the accumulated rows: task retries and
      * speculative duplicates collapse to ONE row per (stage, partition) —
      * the highest attempt (ties: identical duplicate, first wins).
      */
    def rows: Seq[LineageRow] = {
      import scala.jdk.CollectionConverters._
      acc.value.asScala.toSeq
        .groupBy(r => (r.stage, r.partition_id))
        .valuesIterator.map(_.maxBy(_.attempt))
        .toSeq.sortBy(r => (r.stage, r.partition_id))
    }

    /** Writes the rows partitioned by `stage`, replacing only the stages
      * this run tracked: a rerun into the same `out` recomputes some
      * stages and resumes the rest from snapshots, so a resumed stage
      * keeps its rows and a recomputed one gets exactly one set.
      */
    def write(spark: SparkSession, out: String): Unit = {
      import spark.implicits._
      spark.createDataset(rows).coalesce(1).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("stage")
        .parquet(out)
    }
  }

  def collector(spark: SparkSession): Collector = new Collector(spark)
}
