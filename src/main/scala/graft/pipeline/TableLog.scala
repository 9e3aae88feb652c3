package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The on-disk commit protocol every partitioned store table shares — the
  * graph tables of [[Materialize]] (triples and quads), the vector index of
  * [[graft.ops.IvfStore]] and the views of [[ViewStore]]. Each store keeps
  * only its own arithmetic (salting and min-provenance, centroid assignment
  * and latest-value, fold sums); the three protocols below live here once.
  *
  * THE DELTA LOG under a table root: append-only batches in `_delta`
  * (partitioned like the base, plus `op` ∈ {[[OpAdd]], [[OpDel]]} and a
  * `batch_seq`) and one marker file per non-empty batch in
  * `_delta_batches` — the O(1) batch counter the next `batch_seq` and the
  * compaction trigger read. Both names are underscore-prefixed, so plain
  * parquet readers of the base ignore them. The log has a single writer
  * per table (the standard LSM assumption; concurrent writers need a real
  * table format's commit protocol).
  *
  * THE TOMBSTONE RULE ([[liveAdds]]): base rows are (add, 0); per key the
  * latest state wins — an add survives iff its batch is strictly newer
  * than the key's latest delete, so within one batch a delete wins.
  *
  * THE TOUCHED-PARTITION REWRITE ([[rewrite]]): only the partitions a
  * change touches are read, resolved and replaced by dynamic overwrite;
  * partitions the resolution emptied are deleted explicitly, because
  * dynamic overwrite replaces only partitions present in the written data.
  *
  * Commit points, in order, for every caller: the data write (an append to
  * `_delta`, or the rewrite's overwrite), then the emptied-partition
  * delete, then the caller's marker or ledger entry, then — for a
  * compaction — the log drop ([[drop]]).
  */
object TableLog {

  val OpAdd = "add"
  val OpDel = "del"

  private def deltaDir(root: String): String = s"$root/_delta"
  private def markerDir(root: String) = s"$root/_delta_batches"

  private[pipeline] def fsOf(spark: SparkSession, p: String) = {
    val path = new org.apache.hadoop.fs.Path(p)
    (path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }

  /** True iff `dir` contains at least one non-hidden data file — guards
    * readers against a `_delta` dir holding only `_SUCCESS` (an empty
    * append), which parquet schema inference would otherwise reject.
    */
  private def hasDataFiles(
      fs: org.apache.hadoop.fs.FileSystem, dir: org.apache.hadoop.fs.Path): Boolean = {
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val name = it.next().getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) return true
    }
    false
  }

  /** Pending deltas exist (the log dir is present AND holds data files). */
  private[graft] def hasPending(spark: SparkSession, root: String): Boolean = {
    val (fs, dd) = fsOf(spark, deltaDir(root))
    fs.exists(dd) && hasDataFiles(fs, dd)
  }

  /** Delta batches appended since the last [[drop]]. */
  private[graft] def batchCount(spark: SparkSession, root: String): Int = {
    val (fs, dir) = fsOf(spark, markerDir(root))
    if (fs.exists(dir)) fs.listStatus(dir).length else 0
  }

  /** The pending delta rows (only valid when [[hasPending]]). */
  private[graft] def deltas(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(deltaDir(root))

  /** Append `rows` (carrying `op`) as the next batch, partitioned by
    * `column`: `batch_seq` is the batch count + 1. Rows are counted
    * DURING the write (an observation rides the job) instead of by an
    * isEmpty pre-check, which would evaluate the caller's subtree twice.
    * An empty append leaves no marker (the batch counter would count a
    * phantom batch) and no `_delta` dir unless earlier batches own it.
    */
  private[graft] def append(
      spark: SparkSession, root: String, rows: DataFrame, column: String): Unit = {
    val seq = batchCount(spark, root) + 1L
    val obs = new org.apache.spark.sql.Observation(
      s"tablelog.append.${java.util.UUID.randomUUID()}")
    rows.withColumn("batch_seq", lit(seq))
      .observe(obs, count(lit(1)).as("n"))
      .write.mode("append").partitionBy(column).parquet(deltaDir(root))
    if (obs.get("n").asInstanceOf[Long] > 0L) {
      val (fs, dir) = fsOf(spark, markerDir(root))
      fs.mkdirs(dir)
      fs.create(new org.apache.hadoop.fs.Path(dir,
        s"batch-${java.util.UUID.randomUUID()}"), false).close()
    } else {
      val (fs, dd) = fsOf(spark, deltaDir(root))
      if (fs.exists(dd) && !hasDataFiles(fs, dd)) fs.delete(dd, true)
    }
  }

  /** Drop the delta log and its batch markers — after a compaction has
    * committed the resolved state, or when a rebuild replaces the base.
    */
  private[graft] def drop(spark: SparkSession, root: String): Unit = {
    val (fs, dd) = fsOf(spark, deltaDir(root))
    fs.delete(dd, true)
    val (mfs, md) = fsOf(spark, markerDir(root))
    mfs.delete(md, true)
  }

  /** Base rows in the delta row shape: every base row is (add, 0). */
  private[graft] def asBaseOps(base: DataFrame): DataFrame =
    base.withColumn("op", lit(OpAdd)).withColumn("batch_seq", lit(0L))

  /** The tombstone rule over (…, op, batch_seq) rows: per `keys`, the
    * adds strictly newer than the key's latest delete. The window rides
    * any hash clustering of the rows whose expressions are a subset of
    * `keys`, so resolution costs no exchange of its own.
    */
  private[graft] def liveAdds(rows: DataFrame, keys: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
    val lastDel = "_dseq" // the key's latest delete batch, -1 if none
    rows
      .withColumn(lastDel,
        coalesce(max(when(col("op") === OpDel, col("batch_seq"))).over(w), lit(-1L)))
      .filter(col("op") === OpAdd && col("batch_seq") > col(lastDel))
      .drop(lastDel)
  }

  /** The distinct `column` values of `rows` as longs — one collect,
    * bounded by the table's bucket (or cell) count, never by data.
    */
  private[graft] def touched(rows: DataFrame, column: String): Array[Long] =
    rows.select(col(column).cast("long")).distinct().collect().map(_.getLong(0))

  /** The touched-partition rewrite of the table at `dir`, partitioned by
    * `column`: (1) the partitions `touchedBy` touches; (2) `rows` over
    * them, materialized through `checkpoint` before the write (Spark
    * refuses to overwrite a path it is still reading from); (3) the
    * surviving partition set, observed on the write; (4) the dynamic
    * overwrite — untouched partitions are never listed, read or
    * replaced; (5) the delete of touched partitions the rows no longer
    * hold. Nothing is written when nothing is touched.
    */
  private[graft] def rewrite(
      dir: String, column: String, touchedBy: DataFrame, checkpoint: CheckpointPolicy)(
      rows: Array[Long] => DataFrame): Unit = {
    val parts = touched(touchedBy, column)
    if (parts.isEmpty) return
    val obs = new org.apache.spark.sql.Observation(
      s"tablelog.rewrite.${java.util.UUID.randomUUID()}")
    checkpoint.truncate(rows(parts))
      .observe(obs, collect_set(col(column).cast("long")).as("parts"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(column)
      .parquet(dir)
    val surviving = obs.get("parts").asInstanceOf[Seq[Long]].toSet
    val (fs, root) = fsOf(touchedBy.sparkSession, dir)
    parts.filterNot(surviving).foreach { n =>
      fs.delete(new org.apache.hadoop.fs.Path(root, s"$column=$n"), true)
    }
  }
}
