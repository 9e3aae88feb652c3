package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{CheckpointPolicy, TableLog}

/** Persistent IVF vector index with an LSM DELTA PATH — the embedding
  * store's counterpart to [[graft.pipeline.Materialize]]'s graph tables,
  * on the same [[graft.pipeline.TableLog]] delta log, tombstone rule and
  * touched-partition rewrite, with cells as the partitions. New vectors
  * APPEND into existing cells (one narrow assignment pass against the
  * stored centroids — training stays periodic, exactly how production
  * IVF indexes absorb writes), deletions are vec_id tombstones resolved
  * at read time, and compaction folds both into the base.
  *
  * Layout under `out`:
  *   - `base/` — (vec_id, g, n, cell) parquet partitioned by cell
  *   - the [[graft.pipeline.TableLog]] delta log — base columns + (op,
  *     batch_seq), partitioned by cell, with its batch markers
  *   - `_centroids/` — (k, m) the trained coarse quantizer on the ×1000
  *     integer grid ([[EmbeddingOps.kmeansRefine]]'s convention), so every
  *     append and every search uses THE SAME quantizer the base was built
  *     with (an index is its centroids; a rebuild refreshes both)
  *
  * Scale shapes: append assigns against centroid LITERALS (cells×dims
  * longs in the plan — nothing collects, nothing joins) and writes bytes
  * ∝ delta (spec-pinned on FS sizes); deletes look the doomed ids' cells
  * up with one broadcast semi-join (the id→cell lookup every real vector
  * store does) so tombstones carry their cell and resolution stays
  * cell-local; the merged read resolves ONLY delta-touched cells — the
  * untouched base streams as a pruned scan, no exchange.
  */
object IvfStore {

  private def baseDir(out: String) = s"$out/base"
  private def centDir(out: String) = s"$out/_centroids"

  /** Build (or rebuild) the index: assign every vector to its nearest
    * stored-centroid cell (exact ×1000-grid integer distance, ties to the
    * lowest k) and persist base + centroids. `centroids` come from
    * [[EmbeddingOps.kmeansRefine]]'s trained table or the deterministic
    * seeds ×1000 — training is the caller's periodic job, not this path.
    */
  def write(
      embeddings: DataFrame, out: String,
      centroids: Array[Array[Long]], dims: Int = 64): Unit = {
    require(centroids.nonEmpty, "an IVF index needs at least one centroid")
    val spark = embeddings.sparkSession
    EmbeddingOps.gridded(embeddings)
      .withColumn("cell", EmbeddingOps.assignCellExpr(centroids, dims))
      .select(col("vec_id"), col("g"), col("n"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(baseDir(out))
    import spark.implicits._
    centroids.zipWithIndex.map { case (m, k) => (k.toLong, m.toSeq) }.toSeq
      .toDF("k", "m")
      .coalesce(1).write.mode("overwrite").parquet(centDir(out))
    TableLog.drop(spark, out)
  }

  /** The stored coarse quantizer — collect bounded by cells×dims. */
  private def centroids(spark: SparkSession, out: String): Array[Array[Long]] =
    spark.read.parquet(centDir(out)).orderBy(col("k").asc).collect()
      .map(_.getSeq[Long](1).toArray)

  /** APPEND new vectors into the existing cells: one narrow pass (grid →
    * assign against centroid literals → write), bytes ∝ delta. The index
    * serves them on the next [[readMerged]]/[[searchTopK]] — no rebuild.
    */
  def appendVectors(spark: SparkSession, out: String, vectors: DataFrame): Unit = {
    val m = centroids(spark, out)
    val rows = EmbeddingOps.gridded(vectors)
      .withColumn("cell", EmbeddingOps.assignCellExpr(m, m(0).length))
    TableLog.append(spark, out, rows.select(col("vec_id"), col("g"), col("n"), col("cell"),
      lit(TableLog.OpAdd).as("op")), "cell")
  }

  /** DELETE vectors by id: the doomed ids' cells come from one broadcast
    * semi-join against the merged view (cell-pruned scans — the id→cell
    * lookup), and the tombstones land cell-partitioned so read-time
    * resolution never leaves the cell. Ids not in the index are ignored;
    * when none is, the append leaves no batch behind.
    */
  def deleteVectors(spark: SparkSession, out: String, vecIds: DataFrame): Unit = {
    val ids = vecIds.select(col(vecIds.columns.head).cast("long").as("vec_id"))
    // materialize the delta-sized batch ONCE: the lookup plan reads the
    // very delta log the write below appends to (the updateWhere rule)
    val doomed = readMerged(spark, out)
      .join(broadcast(ids), Seq("vec_id"), "left_semi")
      .localCheckpoint()
    TableLog.append(spark, out, doomed.select(col("vec_id"), col("g"), col("n"), col("cell"),
      lit(TableLog.OpDel).as("op")), "cell")
  }

  /** The live vector set: base ∪ delta with tombstones resolved
    * latest-batch-wins (within a batch del wins — a batch retracts before
    * it asserts, [[TableLog.liveAdds]]). Only delta-touched CELLS pay the
    * resolution exchange; with no pending delta this is the plain base
    * scan.
    */
  def readMerged(spark: SparkSession, out: String): DataFrame = {
    val base = readBase(spark, out)
    if (!TableLog.hasPending(spark, out)) return base
    val deltas = readDeltas(spark, out)
    val touched = TableLog.touched(deltas, "cell")
    base.filter(!col("cell").isin(touched: _*))
      .unionByName(latest(touchedRows(base, deltas, touched), Nil))
  }

  /** The AS-OF EVOLUTION (as_of, vec_id, cell) for as_of ∈ 0..upTo — the
    * live set after each delta batch (`as_of = 0` is the base build;
    * valid until a [[compact]] folds the log, which trades history for
    * read cost) — in ONE resolution pass (emb20's shape): the base and
    * delta scan once, every cut shares one exchange, and the
    * latest-batch-wins window runs per (as_of, cell, vec_id). A delta row
    * with batch_seq = b participates in every cut ≥ b (one bounded
    * replicate against the literal cut list); untouched base rows
    * replicate cut-count times outside the exchange.
    */
  def readEvolution(spark: SparkSession, out: String, upTo: Long): DataFrame = {
    require(upTo >= 0L, s"upTo=$upTo must be ≥ 0")
    val base = readBase(spark, out)
    val cutsCol = array((0L to upTo).map(lit(_)): _*)
    def withCuts(df: DataFrame, from: org.apache.spark.sql.Column) = df
      .withColumn("as_of", explode(filter(cutsCol, c => c >= from)))
    def live(df: DataFrame) = df.select(col("as_of"), col("vec_id"), col("cell"))
    val plain = live(withCuts(base, lit(0L)))
    if (!TableLog.hasPending(spark, out)) return plain
    val deltas = readDeltas(spark, out).filter(col("batch_seq") <= upTo)
    val touched = TableLog.touched(deltas, "cell")
    if (touched.isEmpty) return plain
    live(withCuts(base.filter(!col("cell").isin(touched: _*)), lit(0L)))
      .unionByName(live(latest(
        withCuts(touchedRows(base, deltas, touched), col("batch_seq")), Seq("as_of"))))
  }

  // partition discovery types the cell column as INT on read — pin the
  // long contract at the boundary
  private def readBase(spark: SparkSession, out: String): DataFrame =
    spark.read.parquet(baseDir(out))
      .select(col("vec_id"), col("g"), col("n"), col("cell").cast("long").as("cell"))

  private def readDeltas(spark: SparkSession, out: String): DataFrame =
    TableLog.deltas(spark, out).withColumn("cell", col("cell").cast("long"))

  /** The touched cells' base rows as (add, 0) ∪ the delta rows. */
  private def touchedRows(base: DataFrame, deltas: DataFrame, touched: Array[Long]): DataFrame =
    TableLog.asBaseOps(base.filter(col("cell").isin(touched: _*)))
      .unionByName(deltas.select(col("vec_id"), col("g"), col("n"),
        col("cell"), col("op"), col("batch_seq")))

  /** The latest live value per (`cut` ++ (cell, vec_id)): the tombstone
    * rule, then the newest surviving add's vector — window, filter and
    * aggregate share one exchange on those keys.
    */
  private def latest(rows: DataFrame, cut: Seq[String]): DataFrame = {
    val keys = cut ++ Seq("cell", "vec_id")
    TableLog.liveAdds(rows, keys)
      .groupBy(keys.map(col): _*)
      .agg(max(struct(col("batch_seq"), col("g"), col("n"))).as("v"))
      .select(cut.map(col) ++ Seq(
        col("vec_id"), col("v.g").as("g"), col("v.n").as("n"), col("cell")): _*)
  }

  /** IVF top-k over the LIVE set: [[EmbeddingOps.annWithinKey]] on the
    * merged cells — equal to a fresh rebuild's search by construction
    * (same centroids, same live vectors; the emb19 gate pins it).
    */
  def searchTopK(spark: SparkSession, out: String, k: Int): DataFrame =
    EmbeddingOps.annWithinKey(readMerged(spark, out), "cell", k)

  /** Fold the delta log into the base — one [[TableLog.rewrite]] of the
    * touched cell partitions (a cell whose vectors were ALL tombstoned is
    * deleted, not resurrected) — and drop the log. Tombstones are
    * consumed here.
    */
  def compact(
      spark: SparkSession, out: String,
      checkpoint: CheckpointPolicy = CheckpointPolicy.Local): Unit = {
    if (!TableLog.hasPending(spark, out)) return
    val deltas = readDeltas(spark, out)
    val base = readBase(spark, out)
    TableLog.rewrite(baseDir(out), "cell", deltas, checkpoint) { touched =>
      latest(touchedRows(base, deltas, touched), Nil)
    }
    TableLog.drop(spark, out)
  }
}
