package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Graph-table materialization: dedup, predicate-hash partitioning, and
  * explicit skew handling.
  *
  * Layout per the north_star: Parquet partitioned by
  * `pred_hash = pmod(xxhash64(pred), P)`. Hot predicates (`rdf:type`
  * dominates every KG) would otherwise serialize through one task per
  * partition directory — a SALT column joins the repartition key so each
  * hot predicate fans out across S tasks. S is DATA-DRIVEN per predicate
  * (see [[saltPlan]]): a cheap `groupBy(pred).count` sketch (or
  * caller-provided estimates) sizes each predicate's fan-out to
  * `targetRowsPerSalt` rows per write task, floored so total write
  * parallelism never collapses for small pred vocabularies, capped at
  * [[MaxSalt]]. AQE remains on as the backstop for residual skew.
  */
object Materialize {

  val DefaultPredBuckets = 64
  val DefaultSalt = 16

  /** Rows one (pred, salt) write task should own — at ~70 B/triple in
    * flight this is a few hundred MB per task, the classic healthy range.
    */
  val TargetRowsPerSalt = 2000000L

  /** Per-predicate fan-out ceiling (a 10^11-row predicate still caps at
    * 256 concurrent writers per pred_hash bucket; beyond that the
    * bottleneck is the store, not the shuffle).
    */
  val MaxSalt = 256

  def withPredHash(df: DataFrame, predBuckets: Int = DefaultPredBuckets): DataFrame =
    df.withColumn("pred_hash", pmod(xxhash64(col("pred")), lit(predBuckets)))

  /** Cheap predicate-frequency sketch: a column-pruned, map-side-combined
    * aggregate whose shuffle is |distinct preds| rows. Only the top
    * `maxPreds` by count reach the driver — the long tail salts at the
    * floor anyway, so the collect stays bounded on any input.
    */
  def sketchPredCounts(triples: DataFrame, maxPreds: Int = 4096): Map[String, Long] =
    triples.groupBy(col("pred")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pred").asc).limit(maxPreds).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Per-predicate salt factors from (possibly estimated) counts: enough
    * fan-out that no pred exceeds ~targetRowsPerSalt rows per task, at
    * least `baseSalt` so write parallelism survives small vocabularies,
    * at most [[MaxSalt]]. Estimates are fine — S only needs the order of
    * magnitude.
    */
  def saltPlan(
      predCounts: Map[String, Long],
      targetRowsPerSalt: Long = TargetRowsPerSalt,
      maxSalt: Int = MaxSalt,
      baseSalt: Int = 1): Map[String, Int] =
    predCounts.map { case (p, c) =>
      val need = (c + targetRowsPerSalt - 1) / math.max(targetRowsPerSalt, 1L)
      p -> math.min(maxSalt.toLong, math.max(baseSalt.toLong, need)).toInt
    }

  /** `subj_salt` column: pmod(xxhash64(subj), S_pred) with S looked up in
    * the plan (predicates outside the plan use `defaultSalt`). Still a
    * pure function of (subj, pred), so the dedup keys stay a superset of
    * the partitioning keys — the one-exchange property below survives.
    */
  private def saltCol(plan: Map[String, Int], defaultSalt: Int): Column = {
    val s =
      if (plan.isEmpty) lit(defaultSalt.toLong)
      else coalesce(element_at(typedLit(plan), col("pred")), lit(defaultSalt)).cast("long")
    pmod(xxhash64(col("subj")), s)
  }

  /** Dedup + partition — ONE shuffle of the triple table (the largest
    * table in the job; round 1 shuffled it twice: a dropDuplicates
    * exchange on hash(s,p,o) followed by the salted repartition).
    *
    * How: the salted repartition on (pred_hash, subj_salt) runs FIRST;
    * the dedup group keys (pred_hash, subj_salt, subj, pred, obj) are a
    * SUPERSET of the partitioning expressions (pred_hash = f(pred),
    * subj_salt = f(subj, pred)), so `HashPartitioning(pred_hash,
    * subj_salt)` already satisfies the aggregate's ClusteredDistribution
    * and Catalyst plans the dedup with NO second exchange — the whole
    * shuffle→aggregate→write pipeline is one exchange, and the write
    * stays clustered by pred_hash. Provenance per (s,p,o) is the MIN
    * (src_url, warc_ts) pair — deterministic, unlike dropDuplicates-first.
    */
  private[pipeline] def saltedDeduped(
      triples: DataFrame,
      predBuckets: Int,
      plan: Map[String, Int],
      defaultSalt: Int): DataFrame = {
    val df = withPredHash(triples, predBuckets)
      .withColumn("subj_salt", saltCol(plan, defaultSalt))
    df.repartition(col("pred_hash"), col("subj_salt"))
      .groupBy(col("pred_hash"), col("subj_salt"), col("subj"), col("pred"), col("obj"))
      .agg(min(struct(col("src_url"), col("warc_ts"))).as("prov"))
      .select(col("subj"), col("pred"), col("obj"),
        col("prov.src_url").as("src_url"), col("prov.warc_ts").as("warc_ts"),
        col("pred_hash"))
  }

  /** Fixed-salt write (every predicate fans out ×`salt`). */
  def write(
      triples: Dataset[TripleRow],
      out: String,
      predBuckets: Int = DefaultPredBuckets,
      salt: Int = DefaultSalt): Unit =
    saltedDeduped(triples.toDF(), predBuckets, Map.empty, salt)
      .write.mode("overwrite")
      .partitionBy("pred_hash")
      .parquet(out)

  /** Data-driven write: salt factors picked per predicate from
    * `predCounts` (caller estimates — e.g. from stage manifests — avoid a
    * second pass over a lazily-derived input) or, when absent, from the
    * [[sketchPredCounts]] sketch. The parallelism floor spreads the
    * vocabulary across ~2× the session's shuffle partitions even when
    * every count is small. Returns the number of rows committed, counted
    * by an [[org.apache.spark.sql.Observation]] on the write job itself
    * (no read-back count job).
    */
  def writeAdaptive(
      triples: Dataset[TripleRow],
      out: String,
      predBuckets: Int = DefaultPredBuckets,
      predCounts: Option[Map[String, Long]] = None,
      targetRowsPerSalt: Long = TargetRowsPerSalt,
      maxSalt: Int = MaxSalt): Long = {
    val df = triples.toDF()
    val counts = predCounts.getOrElse(sketchPredCounts(df))
    val shuffleP = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    // the parallelism floor obeys the same ceiling the plan does — a
    // 1-predicate sketch under a large shuffle-partition setting must not
    // fan unplanned predicates out beyond maxSalt
    val baseSalt = math.min(maxSalt,
      math.max(1, (2 * shuffleP + counts.size - 1) / math.max(counts.size, 1)))
    val plan = saltPlan(counts, targetRowsPerSalt, maxSalt, baseSalt)
    val obs = new org.apache.spark.sql.Observation(
      s"materialize.write.${java.util.UUID.randomUUID()}")
    saltedDeduped(df, predBuckets, plan, baseSalt)
      .observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite")
      .partitionBy("pred_hash")
      .parquet(out)
    obs.get("n").asInstanceOf[Long]
  }

  def read(spark: org.apache.spark.sql.SparkSession, out: String): DataFrame =
    spark.read.parquet(out)

  /** DELTA-MERGE a batch of new triples into an existing graph table by
    * rewriting ONLY the `pred_hash` partitions the delta touches (dynamic
    * partition overwrite) — the incremental-update path at 100 TB, where a
    * daily crawl delta is ≪ the graph and a full rewrite is the thing to
    * avoid. Steps: (1) the touched partition set — bounded by
    * `predBuckets`, never by data — prunes the existing-side read to those
    * partitions (PartitionFilters); (2) existing ∪ delta goes through the
    * same one-exchange [[saltedDeduped]] as a full write, so merged
    * duplicates collapse with the same deterministic min-provenance rule;
    * (3) the result is materialized through `checkpoint` BEFORE the write
    * (Spark refuses to overwrite a path it is still reading from; at
    * cluster scale pass [[CheckpointPolicy.Reliable]] so the staged merge
    * lives on DFS, or swap this class for a real table format — Iceberg/
    * Delta snapshots are exactly this operation) and written with
    * per-write `partitionOverwriteMode=dynamic` (no session conf
    * mutation): untouched partitions are never listed, read, or replaced
    * (PipelineSpec pins byte-identical untouched partition files).
    * Operational caveats at cluster scale: run dynamic overwrite under
    * the DEFAULT (v1) file output committer — the v2 committer's
    * task-commit renames interact badly with overwrite staging on task
    * retry — and note that Local-policy staging blocks are reclaimed by
    * the ContextCleaner when the batch's Dataset is collected; a long
    * foreachBatch merge loop should pass `Reliable(dir)` and prune the
    * dir on its own schedule.
    */
  def mergeDelta(
      spark: org.apache.spark.sql.SparkSession,
      out: String,
      delta: Dataset[TripleRow],
      predBuckets: Int = DefaultPredBuckets,
      salt: Int = DefaultSalt,
      checkpoint: CheckpointPolicy = CheckpointPolicy.Local): Unit = {
    // the delta subtree is consumed twice (touched-set collect + the
    // merge union) — materialize it once through the policy
    val deltaDf = checkpoint.truncate(delta.toDF())
    val touched = withPredHash(deltaDf, predBuckets)
      .select(col("pred_hash")).distinct()
      .collect().map(_.getLong(0))
    val existing = read(spark, out)
      .filter(col("pred_hash").isin(touched: _*))
      .select(col("subj"), col("pred"), col("obj"), col("src_url"), col("warc_ts"))
    val merged = checkpoint.truncate(
      saltedDeduped(existing.unionByName(deltaDf), predBuckets, Map.empty, salt))
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("pred_hash")
      .parquet(out)
  }

  // -------------------------------------------------- LSM-style delta path
  //
  // [[mergeDelta]] is CORRECT but its overwrite grain is a whole pred_hash
  // partition: a daily delta holding even one rdf:type triple reads and
  // rewrites the entire rdf:type bucket — at 100 TB a ~terabyte rewrite for
  // a kilobyte delta, every batch. The LSM path bounds that write
  // amplification the way every log-structured table format does:
  // [[appendDelta]] lands each batch as APPEND-ONLY files under
  // `out/_delta` (bytes written ∝ delta, never ∝ partition — spec-pinned
  // on FS sizes), [[readMerged]] serves the merged view with dedup-on-read,
  // and [[compact]] folds all accumulated deltas into the base in ONE
  // touched-partition rewrite, amortizing the heavy overwrite across many
  // cheap appends. `_delta` is underscore-prefixed, so [[read]] (and every
  // plain parquet reader) ignores it and keeps seeing the consistent base.
  //
  // TOMBSTONES: every delta row carries `op` ∈ {add, del} and a
  // monotonically increasing `batch_seq` (base rows are implicitly
  // (add, 0)). A re-crawled page whose new parse DROPS triples can retract
  // them: per (s,p,o) the LATEST state wins — a triple is present iff some
  // add outlives every del (strictly newer batch; within one batch del
  // wins, so a batch is a set of retractions applied before its
  // assertions). Provenance of a surviving triple is the MIN (src_url,
  // warc_ts) among the adds since it last came into existence — the same
  // deterministic rule a full build applies, now windowed to the live
  // assertions. [[compact]] resolves and DROPS tombstones (the rewritten
  // base is the resolved state). The batch sequence comes from the marker
  // log — the delta log has a single writer per table (the standard LSM
  // assumption; concurrent writers need a real table format's commit
  // protocol).

  private def deltaDir(out: String) = s"$out/_delta"
  private def batchMarkerDir(out: String) = s"$out/_delta_batches"

  val OpAdd = "add"
  val OpDel = "del"

  private def fsOf(spark: org.apache.spark.sql.SparkSession, p: String) = {
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

  /** Pending deltas exist (dir present AND holds real data files). */
  private def pendingDeltas(spark: org.apache.spark.sql.SparkSession, out: String): Boolean = {
    val (fs, dd) = fsOf(spark, deltaDir(out))
    fs.exists(dd) && hasDataFiles(fs, dd)
  }

  /** Append one delta batch under `out/_delta` (same schema + pred_hash
    * partition layout as the base, plus `op`/`batch_seq`) plus a batch
    * marker for the compaction trigger. Within-batch dedup only —
    * cross-batch duplicates resolve at [[readMerged]]/[[compact]], so
    * repeated appends of the same delta stay idempotent at the read
    * surface. An EMPTY delta is a no-op (no files, no marker). Rows are
    * assertions; for retractions pass (op, …) rows to [[appendDeltaOps]]
    * or a diff to [[applyDiff]].
    */
  def appendDelta(
      spark: org.apache.spark.sql.SparkSession,
      out: String,
      delta: Dataset[TripleRow],
      predBuckets: Int = DefaultPredBuckets,
      salt: Int = DefaultSalt): Unit =
    appendDeltaOps(spark, out, delta.toDF().withColumn("op", lit(OpAdd)),
      predBuckets, salt)

  /** [[appendDelta]] for mixed assertions + retractions: `deltaOps` rows
    * are (subj, pred, obj, src_url, warc_ts, op) with op ∈ {add, del}
    * (a del's provenance columns are carried but never surface — only
    * live assertions contribute provenance).
    */
  def appendDeltaOps(
      spark: org.apache.spark.sql.SparkSession,
      out: String,
      deltaOps: DataFrame,
      predBuckets: Int = DefaultPredBuckets,
      salt: Int = DefaultSalt): Unit = {
    val ops = deltaOps.select(col("subj"), col("pred"), col("obj"),
      col("src_url"), col("warc_ts"), col("op"))
    val seq = deltaBatchCount(spark, out) + 1L
    val df = withPredHash(ops, predBuckets)
      .withColumn("subj_salt", saltCol(Map.empty, salt))
    // count rows DURING the write (observe rides the job) instead of a
    // separate isEmpty pre-check — the former shape evaluated the caller's
    // delta subtree twice per append (once for the probe, once for the
    // write). An empty append writes no data files (readers' hasDataFiles
    // guard already ignores a _SUCCESS-only _delta dir); it must not leave
    // a batch marker, or the compaction trigger and batch_seq would count
    // phantom batches.
    val obs = new org.apache.spark.sql.Observation(
      s"lsm.append.${java.util.UUID.randomUUID()}")
    df.repartition(col("pred_hash"), col("subj_salt"))
      .groupBy(col("pred_hash"), col("subj_salt"),
        col("subj"), col("pred"), col("obj"), col("op"))
      .agg(min(struct(col("src_url"), col("warc_ts"))).as("prov"))
      .select(col("subj"), col("pred"), col("obj"),
        col("prov.src_url").as("src_url"), col("prov.warc_ts").as("warc_ts"),
        col("op"), lit(seq).as("batch_seq"), col("pred_hash"))
      .observe(obs, count(lit(1)).as("n"))
      .write.mode("append").partitionBy("pred_hash").parquet(deltaDir(out))
    if (obs.get("n").asInstanceOf[Long] > 0L) {
      val (fs, dir) = fsOf(spark, batchMarkerDir(out))
      fs.mkdirs(dir)
      fs.create(new org.apache.hadoop.fs.Path(dir,
        s"batch-${java.util.UUID.randomUUID()}"), false).close()
    } else {
      // restore the exact no-op: an empty append must leave no _delta dir
      // behind (spec-pinned) — but only when the dir holds no earlier
      // batches' data files
      val (fs, dd) = fsOf(spark, deltaDir(out))
      if (fs.exists(dd) && !hasDataFiles(fs, dd)) fs.delete(dd, true)
    }
  }

  /** Number of delta batches appended since the last [[compact]]. */
  def deltaBatchCount(spark: org.apache.spark.sql.SparkSession, out: String): Int = {
    val (fs, dir) = fsOf(spark, batchMarkerDir(out))
    if (fs.exists(dir)) fs.listStatus(dir).length else 0
  }

  /** Tombstone resolution over (…, op, batch_seq) rows already clustered
    * by a hash partitioning whose expressions are a subset of `keys`: a
    * window over `keys` finds each triple's latest retraction seq, adds
    * strictly newer than it survive, and the surviving assertions collapse
    * to the MIN provenance — window + filter + aggregate all ride the
    * SAME clustering, so the whole resolution costs the ONE exchange the
    * caller already paid.
    */
  private def resolveOps(
      rows: DataFrame, keys: Seq[String],
      carry: Seq[String] = Seq("subj", "pred", "obj")): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
    rows
      .withColumn("_dseq",
        coalesce(max(when(col("op") === OpDel, col("batch_seq"))).over(w), lit(-1L)))
      .filter(col("op") === OpAdd && col("batch_seq") > col("_dseq"))
      .groupBy(keys.map(col): _*)
      .agg(min(struct(col("src_url"), col("warc_ts"))).as("prov"))
      .select(carry.map(col) ++ Seq(
        col("prov.src_url").as("src_url"), col("prov.warc_ts").as("warc_ts"),
        col("pred_hash")): _*)
  }

  /** The merged view: base ∪ pending deltas with tombstones resolved and
    * the same deterministic min-provenance rule a full write applies. With
    * no pending deltas this IS [[read]] — zero overhead. With deltas, ONLY
    * the pred_hash partitions the deltas touch pay the resolution exchange:
    * the (vast, at 100 TB) untouched remainder of the base streams through
    * as a plain pruned scan — merge-on-read, not shuffle-the-world
    * (plan-guarded: the untouched branch has no Exchange). The touched set
    * is bounded by predBuckets, never by data.
    */
  def readMerged(spark: org.apache.spark.sql.SparkSession, out: String): DataFrame =
    mergedView(spark, out, None)

  /** TIME-TRAVEL read: the graph as of delta batch `asOfSeq` — the base
    * plus only delta batches with `batch_seq` ≤ `asOfSeq`, tombstones
    * resolved by the same latest-batch-wins rule. `asOfSeq = 0` is the
    * bare base; [[deltaBatchCount]] is "now". The travel window is the
    * CURRENT delta log: [[compact]] consumes history (the rewritten base
    * becomes the new seq-0), exactly a lakehouse VACUUM/retention
    * trade-off — callers that need deeper history compact less often.
    * Same bounded merge-on-read plan as [[readMerged]]: only partitions
    * touched by the ≤ asOfSeq batches pay the resolution exchange.
    */
  def readAsOf(
      spark: org.apache.spark.sql.SparkSession, out: String, asOfSeq: Long): DataFrame = {
    require(asOfSeq >= 0L, s"asOfSeq=$asOfSeq must be ≥ 0")
    mergedView(spark, out, Some(asOfSeq))
  }

  private def mergedView(
      spark: org.apache.spark.sql.SparkSession, out: String,
      asOf: Option[Long]): DataFrame = {
    val base = read(spark, out)
    if (!pendingDeltas(spark, out) || asOf.contains(0L)) base
    else {
      val deltas = asOf.foldLeft(spark.read.parquet(deltaDir(out)))(
        (d, seq) => d.filter(col("batch_seq") <= seq))
      // partition discovery types pred_hash as int — align before isin;
      // under an asOf cut the touched set shrinks to the CUT's partitions
      val touched = deltas.select(col("pred_hash").cast("int")).distinct()
        .collect().map(_.getInt(0)) // bounded by predBuckets, never by data
      val outCols = Seq("subj", "pred", "obj", "src_url", "warc_ts", "pred_hash").map(col)
      if (touched.isEmpty) base // the asOf cut excludes every pending batch
      else {
        val untouched = base.filter(!col("pred_hash").isin(touched: _*)).select(outCols: _*)
        val rows = base.filter(col("pred_hash").isin(touched: _*))
          .withColumn("op", lit(OpAdd)).withColumn("batch_seq", lit(0L))
          .unionByName(deltas)
        val merged = resolveOps(
          rows.repartition(col("pred_hash"), col("subj"), col("pred"), col("obj")),
          Seq("pred_hash", "subj", "pred", "obj"))
        untouched.unionByName(merged)
      }
    }
  }

  /** Fold all pending deltas into the base: one [[mergeDelta]]-shaped
    * touched-partition rewrite (existing ∪ deltas resolved inside the one
    * salted exchange — the resolution window/filter/aggregate all ride the
    * repartition's clustering — then dynamic partition overwrite; untouched
    * partitions never listed or rewritten), then drop the delta log.
    * Tombstones are consumed here: the rewritten base IS the resolved
    * state, so retractions cost nothing after compaction. No-op when no
    * deltas are pending.
    */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      out: String,
      predBuckets: Int = DefaultPredBuckets,
      salt: Int = DefaultSalt,
      checkpoint: CheckpointPolicy = CheckpointPolicy.Local): Unit = {
    if (!pendingDeltas(spark, out)) return
    val (fs, dd) = fsOf(spark, deltaDir(out))
    val deltas = spark.read.parquet(deltaDir(out))
    // partition discovery types pred_hash as int — cast before collecting
    val touched = deltas.select(col("pred_hash").cast("long")).distinct()
      .collect().map(_.getLong(0)) // bounded by predBuckets, never by data
    val opCols = Seq("subj", "pred", "obj", "src_url", "warc_ts", "op", "batch_seq")
    val existing = read(spark, out)
      .filter(col("pred_hash").isin(touched: _*))
      .withColumn("op", lit(OpAdd)).withColumn("batch_seq", lit(0L))
    val rows = existing.select(opCols.map(col): _*)
      .unionByName(deltas.select(opCols.map(col): _*))
    val salted = withPredHash(rows, predBuckets)
      .withColumn("subj_salt", saltCol(Map.empty, salt))
      .repartition(col("pred_hash"), col("subj_salt"))
    val merged = checkpoint.truncate(
      resolveOps(salted, Seq("pred_hash", "subj_salt", "subj", "pred", "obj")))
    val obs = new org.apache.spark.sql.Observation(
      s"lsm.compact.${java.util.UUID.randomUUID()}")
    merged.observe(obs, collect_set(col("pred_hash").cast("long")).as("ph"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("pred_hash")
      .parquet(out)
    // a touched pred_hash partition whose triples were ALL retracted emits
    // no resolved rows; dynamic overwrite would keep its stale base files
    // while the delta log is dropped below, resurrecting the retractions.
    // Delete emptied partitions explicitly (the ViewStore invariant); the
    // surviving set rides the write job as an observed metric.
    deleteEmptiedPartitions(spark, out, touched,
      obs.get("ph").asInstanceOf[Seq[Long]].toSet)
    fs.delete(dd, true)
    val (bfs, bd) = fsOf(spark, batchMarkerDir(out))
    bfs.delete(bd, true)
  }

  /** Explicitly delete `pred_hash=N` partition dirs that were touched by a
    * compaction but absent from its resolved output (dynamic overwrite
    * only replaces partitions present in the written data).
    */
  private def deleteEmptiedPartitions(
      spark: org.apache.spark.sql.SparkSession, out: String,
      touched: Array[Long], surviving: Set[Long]): Unit = {
    val root = new org.apache.hadoop.fs.Path(out)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    touched.filterNot(surviving).foreach { ph =>
      fs.delete(new org.apache.hadoop.fs.Path(root, s"pred_hash=$ph"), true)
    }
  }

  /** The LSM merge entry point: append the batch (cheap — bytes ∝ delta),
    * compact once `maxDeltaBatches` have accumulated. The incremental-
    * update path to prefer over [[mergeDelta]] when deltas are frequent
    * and small relative to the partitions they touch.
    */
  def mergeDeltaLsm(
      spark: org.apache.spark.sql.SparkSession,
      out: String,
      delta: Dataset[TripleRow],
      predBuckets: Int = DefaultPredBuckets,
      salt: Int = DefaultSalt,
      maxDeltaBatches: Int = 8,
      checkpoint: CheckpointPolicy = CheckpointPolicy.Local): Unit = {
    appendDelta(spark, out, delta, predBuckets, salt)
    if (deltaBatchCount(spark, out) >= maxDeltaBatches)
      compact(spark, out, predBuckets, salt, checkpoint)
  }

  /** Snapshot DIFF between two materialized graphs — the KG-ops audit
    * primitive ("what changed between yesterday's build and today's?"):
    * one row per changed triple, `op` ∈ {add, del} (add = in `newOut`
    * only, del = in `oldOut` only). Exact set difference via two
    * left-anti joins keyed on (pred_hash, s, p, o): the layout's
    * partition key rides the join keys, so both sides cluster by the
    * SAME hash layout, and a predicate-scoped diff prunes both scans to
    * one pred_hash bucket with [[readPred]]-style filters before any
    * shuffle. Provenance columns are deliberately excluded — the diff is
    * over graph CONTENT, not over which crawl delivered it.
    */
  def graphDiff(
      spark: org.apache.spark.sql.SparkSession,
      oldOut: String, newOut: String,
      predBuckets: Int = DefaultPredBuckets): DataFrame =
    graphDiffProv(spark, oldOut, newOut, predBuckets)
      .select(col("op"), col("subj"), col("pred"), col("obj"))

  /** [[graphDiff]] carrying provenance — the DIRECTLY APPLYABLE form: adds
    * keep the NEW snapshot's (src_url, warc_ts), dels carry the old
    * snapshot's (retractions never surface provenance; the columns just
    * keep the row shape uniform). Feed the result to [[applyDiff]] to
    * bring an LSM table holding the old snapshot to the new one. The join
    * key includes pred_hash RECOMPUTED from pred on both sides (not the
    * stored partition column), so two snapshots written with different
    * predBuckets layouts still diff exactly — while snapshots sharing the
    * layout keep the co-clustered join.
    */
  def graphDiffProv(
      spark: org.apache.spark.sql.SparkSession,
      oldOut: String, newOut: String,
      predBuckets: Int = DefaultPredBuckets): DataFrame = {
    def side(p: String) =
      withPredHash(
        read(spark, p).select(col("subj"), col("pred"), col("obj"),
          col("src_url"), col("warc_ts")),
        predBuckets)
    val o = side(oldOut)
    val n = side(newOut)
    val keys = Seq("pred_hash", "subj", "pred", "obj")
    val keyCols = keys.map(col)
    n.join(o.select(keyCols: _*), keys, "left_anti").withColumn("op", lit(OpAdd))
      .unionByName(
        o.join(n.select(keyCols: _*), keys, "left_anti").withColumn("op", lit(OpDel)))
      .select(col("op"), col("subj"), col("pred"), col("obj"),
        col("src_url"), col("warc_ts"))
  }

  /** Apply a [[graphDiffProv]] diff to an LSM graph table as ONE delta
    * batch: adds assert, dels retract; [[readMerged]] immediately serves
    * the new snapshot's content, [[compact]] folds it into the base.
    * Bytes written ∝ |diff| — the incremental re-crawl path: diff
    * yesterday's build against today's, apply, done.
    */
  def applyDiff(
      spark: org.apache.spark.sql.SparkSession,
      out: String,
      diffProv: DataFrame,
      predBuckets: Int = DefaultPredBuckets,
      salt: Int = DefaultSalt): Unit =
    appendDeltaOps(spark, out, diffProv, predBuckets, salt)

  /** Single-predicate read that EXPLOITS the layout: the `pred_hash`
    * equality folds to a constant and prunes the scan to 1/predBuckets of
    * the partition directories (PartitionFilters in the plan), then the
    * row-level `pred` filter pushes into parquet. This is the access path
    * a downstream "all triples of predicate P" query takes at 100 TB.
    */
  def readPred(
      spark: org.apache.spark.sql.SparkSession,
      out: String,
      pred: String,
      predBuckets: Int = DefaultPredBuckets): DataFrame =
    read(spark, out)
      .filter(col("pred_hash") === pmod(xxhash64(lit(pred)), lit(predBuckets)) &&
        col("pred") === pred)

  /** [[readPred]] against the MERGED view: both the base and the pending
    * delta log prune to the predicate's single pred_hash partition before
    * anything shuffles (PartitionFilters on both scans), tombstones
    * resolve over just those rows. The per-predicate access path between
    * compactions — a 1/predBuckets read plus a delta-sized dedup, never a
    * whole-table merge.
    */
  def readMergedPred(
      spark: org.apache.spark.sql.SparkSession,
      out: String,
      pred: String,
      predBuckets: Int = DefaultPredBuckets): DataFrame = {
    val ph = pmod(xxhash64(lit(pred)), lit(predBuckets))
    val base = read(spark, out)
      .filter(col("pred_hash") === ph && col("pred") === pred)
    if (!pendingDeltas(spark, out)) base
    else {
      val deltas = spark.read.parquet(deltaDir(out))
        .filter(col("pred_hash") === ph && col("pred") === pred)
      val rows = base
        .withColumn("op", lit(OpAdd)).withColumn("batch_seq", lit(0L))
        .unionByName(deltas)
      resolveOps(
        rows.repartition(col("pred_hash"), col("subj"), col("pred"), col("obj")),
        Seq("pred_hash", "subj", "pred", "obj"))
    }
  }

  // ----------------------------------------------------- QUAD (named-graph)
  // tables: the triple layout with a `graph` column riding every content
  // row AND every dedup/resolution key — named graphs share pred_hash
  // partitions (the layout stays predicate-driven: BGPs prune the same
  // way), but a (graph, s, p, o) quad is a distinct fact from its sibling
  // graphs' (s, p, o), so tombstones retract WITHIN one graph only. The
  // delta log, batch markers, and LSM discipline are shared with the
  // triple path — a table is either triples or quads for its lifetime.

  private val QuadKeys = Seq("pred_hash", "graph", "subj", "pred", "obj")
  private val QuadCarry = Seq("graph", "subj", "pred", "obj")

  /** [[write]] for quads (graph, subj, pred, obj, src_url, warc_ts):
    * the same ONE-exchange dedup+write — graph joins the group keys,
    * which stay a superset of the (pred_hash, subj_salt) partitioning.
    */
  def writeQuads(
      quads: DataFrame,
      out: String,
      predBuckets: Int = DefaultPredBuckets,
      salt: Int = DefaultSalt): Unit = {
    val df = withPredHash(quads, predBuckets)
      .withColumn("subj_salt", saltCol(Map.empty, salt))
    df.repartition(col("pred_hash"), col("subj_salt"))
      .groupBy(col("pred_hash"), col("subj_salt"),
        col("graph"), col("subj"), col("pred"), col("obj"))
      .agg(min(struct(col("src_url"), col("warc_ts"))).as("prov"))
      .select(col("graph"), col("subj"), col("pred"), col("obj"),
        col("prov.src_url").as("src_url"), col("prov.warc_ts").as("warc_ts"),
        col("pred_hash"))
      .write.mode("overwrite")
      .partitionBy("pred_hash")
      .parquet(out)
  }

  /** [[appendDeltaOps]] for quad deltas (…, graph, op): one delta-sized
    * salted exchange, bytes written ∝ delta; tombstones are graph-scoped.
    */
  def appendQuadDeltaOps(
      spark: org.apache.spark.sql.SparkSession,
      out: String,
      deltaOps: DataFrame,
      predBuckets: Int = DefaultPredBuckets,
      salt: Int = DefaultSalt): Unit = {
    val ops = deltaOps.select(col("graph"), col("subj"), col("pred"), col("obj"),
      col("src_url"), col("warc_ts"), col("op"))
    val seq = deltaBatchCount(spark, out) + 1L
    val df = withPredHash(ops, predBuckets)
      .withColumn("subj_salt", saltCol(Map.empty, salt))
    // row count observed DURING the write replaces the isEmpty pre-check
    // (which evaluated the delta subtree twice) — see appendDeltaOps
    val obs = new org.apache.spark.sql.Observation(
      s"lsm.appendq.${java.util.UUID.randomUUID()}")
    df.repartition(col("pred_hash"), col("subj_salt"))
      .groupBy(col("pred_hash"), col("subj_salt"),
        col("graph"), col("subj"), col("pred"), col("obj"), col("op"))
      .agg(min(struct(col("src_url"), col("warc_ts"))).as("prov"))
      .select(col("graph"), col("subj"), col("pred"), col("obj"),
        col("prov.src_url").as("src_url"), col("prov.warc_ts").as("warc_ts"),
        col("op"), lit(seq).as("batch_seq"), col("pred_hash"))
      .observe(obs, count(lit(1)).as("n"))
      .write.mode("append").partitionBy("pred_hash").parquet(deltaDir(out))
    if (obs.get("n").asInstanceOf[Long] > 0L) {
      val (fs, dir) = fsOf(spark, batchMarkerDir(out))
      fs.mkdirs(dir)
      fs.create(new org.apache.hadoop.fs.Path(dir,
        s"batch-${java.util.UUID.randomUUID()}"), false).close()
    } else {
      val (fs, dd) = fsOf(spark, deltaDir(out))
      if (fs.exists(dd) && !hasDataFiles(fs, dd)) fs.delete(dd, true)
    }
  }

  /** [[readMerged]] for quad tables: identical bounded merge-on-read —
    * only delta-touched pred_hash partitions pay the resolution exchange,
    * with `graph` in the window/group keys so retractions stay scoped to
    * their named graph.
    */
  def readMergedQuads(
      spark: org.apache.spark.sql.SparkSession, out: String): DataFrame = {
    val base = read(spark, out)
    if (!pendingDeltas(spark, out)) base
    else {
      val deltas = spark.read.parquet(deltaDir(out))
      val touched = deltas.select(col("pred_hash").cast("int")).distinct()
        .collect().map(_.getInt(0)) // bounded by predBuckets, never by data
      val outCols = (QuadCarry ++ Seq("src_url", "warc_ts", "pred_hash")).map(col)
      val untouched = base.filter(!col("pred_hash").isin(touched: _*)).select(outCols: _*)
      val rows = base.filter(col("pred_hash").isin(touched: _*))
        .withColumn("op", lit(OpAdd)).withColumn("batch_seq", lit(0L))
        .unionByName(deltas)
      val merged = resolveOps(
        rows.repartition(QuadKeys.map(col): _*), QuadKeys, QuadCarry)
      untouched.unionByName(merged)
    }
  }

  /** [[compact]] for quad tables: fold the delta log into the base with
    * the graph-scoped resolution riding the one salted exchange, then
    * drop the log.
    */
  def compactQuads(
      spark: org.apache.spark.sql.SparkSession,
      out: String,
      predBuckets: Int = DefaultPredBuckets,
      salt: Int = DefaultSalt,
      checkpoint: CheckpointPolicy = CheckpointPolicy.Local): Unit = {
    if (!pendingDeltas(spark, out)) return
    val (fs, dd) = fsOf(spark, deltaDir(out))
    val deltas = spark.read.parquet(deltaDir(out))
    val touched = deltas.select(col("pred_hash").cast("long")).distinct()
      .collect().map(_.getLong(0))
    val opCols = QuadCarry ++ Seq("src_url", "warc_ts", "op", "batch_seq")
    val existing = read(spark, out)
      .filter(col("pred_hash").isin(touched: _*))
      .withColumn("op", lit(OpAdd)).withColumn("batch_seq", lit(0L))
    val rows = existing.select(opCols.map(col): _*)
      .unionByName(deltas.select(opCols.map(col): _*))
    val salted = withPredHash(rows, predBuckets)
      .withColumn("subj_salt", saltCol(Map.empty, salt))
      .repartition(col("pred_hash"), col("subj_salt"))
    val merged = checkpoint.truncate(
      resolveOps(salted,
        Seq("pred_hash", "subj_salt", "graph", "subj", "pred", "obj"), QuadCarry))
    val obsQ = new org.apache.spark.sql.Observation(
      s"lsm.compactq.${java.util.UUID.randomUUID()}")
    merged.observe(obsQ, collect_set(col("pred_hash").cast("long")).as("ph"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("pred_hash")
      .parquet(out)
    // same emptied-partition gap as the triple compact(): see there
    deleteEmptiedPartitions(spark, out, touched,
      obsQ.get("ph").asInstanceOf[Seq[Long]].toSet)
    fs.delete(dd, true)
    val (bfs, bd) = fsOf(spark, batchMarkerDir(out))
    bfs.delete(bd, true)
  }
}
