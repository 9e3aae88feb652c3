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
  * [[TargetRowsPerSalt]] rows per write task, floored so total write
  * parallelism never collapses for small pred vocabularies, capped at
  * [[MaxSalt]]. AQE remains on as the backstop for residual skew.
  *
  * The bucket count [[DefaultPredBuckets]] is the TABLE FORMAT, not a
  * tuning knob: every writer and every pruned reader ([[readPred]],
  * [[readMergedPred]], anything filtering on [[predHash]]) must agree on
  * it, so no public function takes it — or the fixed salt
  * [[DefaultSalt]] — as a parameter. Changing it invalidates every table
  * already written: pruned reads would look in the wrong bucket and
  * silently return nothing.
  *
  * A table holds triples (subj, pred, obj, …) or quads (graph, subj,
  * pred, obj, …) for its whole lifetime. Each operation has ONE body for
  * both: its content key columns ([[contentKeys]]) come from the schema
  * of its input or of the base table.
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

  /** The layout's partition key of a predicate column or literal — the
    * one pred_hash expression every writer and pruned reader shares.
    */
  def predHash(pred: Column): Column = pmod(xxhash64(pred), lit(DefaultPredBuckets))

  private def withPredHash(df: DataFrame): DataFrame =
    df.withColumn("pred_hash", predHash(col("pred")))

  /** Content key columns of graph rows: (subj, pred, obj), with `graph`
    * in front for a quad table.
    */
  private def contentKeys(df: DataFrame): Seq[String] =
    (if (df.columns.contains("graph")) Seq("graph") else Nil) ++ Seq("subj", "pred", "obj")

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
  private[pipeline] def saltPlan(
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

  /** Rows hashed to their pred_hash and clustered by (pred_hash,
    * subj_salt) — the one exchange of every write path.
    */
  private def salted(rows: DataFrame, plan: Map[String, Int], defaultSalt: Int): DataFrame =
    withPredHash(rows).withColumn("subj_salt", saltCol(plan, defaultSalt))
      .repartition(col("pred_hash"), col("subj_salt"))

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
    *
    * Quads dedup the same way with `graph` in the group keys, and delta
    * rows with their `op` (an add and a del of one triple are two rows).
    */
  private[pipeline] def saltedDeduped(
      rows: DataFrame,
      plan: Map[String, Int],
      defaultSalt: Int): DataFrame = {
    val content = contentKeys(rows)
    val op = rows.columns.filter(_ == "op").toSeq
    salted(rows, plan, defaultSalt)
      .groupBy((Seq("pred_hash", "subj_salt") ++ content ++ op).map(col): _*)
      .agg(min(struct(col("src_url"), col("warc_ts"))).as("prov"))
      .select(content.map(col) ++ Seq(
        col("prov.src_url").as("src_url"), col("prov.warc_ts").as("warc_ts")) ++
        op.map(col) :+ col("pred_hash"): _*)
  }

  /** Fixed-salt write (every predicate fans out ×[[DefaultSalt]]). */
  def write(triples: Dataset[TripleRow], out: String): Unit = writeRows(triples.toDF(), out)

  /** [[write]] for quads (graph, subj, pred, obj, src_url, warc_ts). */
  def writeQuads(quads: DataFrame, out: String): Unit = writeRows(quads, out)

  private def writeRows(rows: DataFrame, out: String): Unit =
    saltedDeduped(rows, Map.empty, DefaultSalt)
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
      predCounts: Option[Map[String, Long]] = None): Long = {
    val df = triples.toDF()
    val counts = predCounts.getOrElse(sketchPredCounts(df))
    val shuffleP = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    // the parallelism floor obeys the same ceiling the plan does — a
    // 1-predicate sketch under a large shuffle-partition setting must not
    // fan unplanned predicates out beyond MaxSalt
    val baseSalt = math.min(MaxSalt,
      math.max(1, (2 * shuffleP + counts.size - 1) / math.max(counts.size, 1)))
    val plan = saltPlan(counts, baseSalt = baseSalt)
    val obs = new org.apache.spark.sql.Observation(
      s"materialize.write.${java.util.UUID.randomUUID()}")
    saltedDeduped(df, plan, baseSalt)
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
    * [[DefaultPredBuckets]], never by data — prunes the existing-side read to those
    * partitions (PartitionFilters); (2) existing ∪ delta goes through the
    * same one-exchange [[saltedDeduped]] as a full write, so merged
    * duplicates collapse with the same deterministic min-provenance rule;
    * (3) the result is materialized through `checkpoint` BEFORE the write
    * (Spark refuses to overwrite a path it is still reading from; at
    * cluster scale pass [[CheckpointPolicy.Reliable]] so the staged merge
    * lives on DFS, or swap this class for a real table format — Iceberg/
    * Delta snapshots are exactly this operation) and written by
    * [[TableLog.rewrite]]'s per-write dynamic overwrite (no session conf
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
      checkpoint: CheckpointPolicy = CheckpointPolicy.Local): Unit = {
    // the delta subtree is consumed twice (touched-set collect + the
    // merge union) — materialize it once through the policy
    val deltaDf = checkpoint.truncate(delta.toDF())
    TableLog.rewrite(out, "pred_hash", withPredHash(deltaDf), checkpoint) { touched =>
      val existing = read(spark, out)
        .filter(col("pred_hash").isin(touched: _*))
        .select(col("subj"), col("pred"), col("obj"), col("src_url"), col("warc_ts"))
      saltedDeduped(existing.unionByName(deltaDf), Map.empty, DefaultSalt)
    }
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
  // base is the resolved state). The log itself — its directories, batch
  // sequence, empty-append rule and tombstone rule — is [[TableLog]]'s.

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
      delta: Dataset[TripleRow]): Unit =
    appendDeltaOps(spark, out, delta.toDF().withColumn("op", lit(TableLog.OpAdd)))

  /** [[appendDelta]] for mixed assertions + retractions: `deltaOps` rows
    * are (subj, pred, obj, src_url, warc_ts, op) with op ∈ {add, del}
    * (a del's provenance columns are carried but never surface — only
    * live assertions contribute provenance). Quad deltas carry `graph`
    * too, and their tombstones retract within that graph only.
    */
  def appendDeltaOps(
      spark: org.apache.spark.sql.SparkSession,
      out: String,
      deltaOps: DataFrame): Unit = {
    val ops = deltaOps.select(
      (contentKeys(deltaOps) ++ Seq("src_url", "warc_ts", "op")).map(col): _*)
    TableLog.append(spark, out, saltedDeduped(ops, Map.empty, DefaultSalt), "pred_hash")
  }

  /** Number of delta batches appended since the last [[compact]]. */
  def deltaBatchCount(spark: org.apache.spark.sql.SparkSession, out: String): Int =
    TableLog.batchCount(spark, out)

  /** Tombstone resolution over (…, op, batch_seq) rows already clustered
    * by a hash partitioning whose expressions are a subset of the keys
    * `clustering` ++ [[contentKeys]]: [[TableLog.liveAdds]] over the keys,
    * then the surviving assertions collapse to the MIN provenance —
    * window + filter + aggregate all ride the SAME clustering, so the
    * whole resolution costs the ONE exchange the caller already paid.
    */
  private def resolveOps(rows: DataFrame, clustering: Seq[String]): DataFrame = {
    val carry = contentKeys(rows)
    val keys = clustering ++ carry
    TableLog.liveAdds(rows, keys)
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
    * is bounded by [[DefaultPredBuckets]], never by data. On a quad table
    * `graph` joins the resolution keys, so retractions stay scoped to
    * their named graph.
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
    if (!TableLog.hasPending(spark, out) || asOf.contains(0L)) base
    else {
      val deltas = asOf.foldLeft(TableLog.deltas(spark, out))(
        (d, seq) => d.filter(col("batch_seq") <= seq))
      // under an asOf cut the touched set shrinks to the CUT's partitions
      val touched = TableLog.touched(deltas, "pred_hash")
      val content = contentKeys(base)
      if (touched.isEmpty) base // the asOf cut excludes every pending batch
      else {
        val untouched = base.filter(!col("pred_hash").isin(touched: _*))
          .select((content ++ Seq("src_url", "warc_ts", "pred_hash")).map(col): _*)
        val rows = TableLog.asBaseOps(base.filter(col("pred_hash").isin(touched: _*)))
          .unionByName(deltas)
        untouched.unionByName(
          resolveOps(rows.repartition(("pred_hash" +: content).map(col): _*), Seq("pred_hash")))
      }
    }
  }

  /** Fold all pending deltas into the base: one [[TableLog.rewrite]] of
    * the touched pred_hash partitions (existing ∪ deltas resolved inside
    * the one salted exchange — the resolution window/filter/aggregate all
    * ride the repartition's clustering), then drop the delta log. A
    * touched partition whose triples were ALL retracted is deleted, not
    * resurrected. Tombstones are consumed here: the rewritten base IS the
    * resolved state, so retractions cost nothing after compaction. No-op
    * when no deltas are pending. A quad table resolves per (graph, s, p, o).
    */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      out: String,
      checkpoint: CheckpointPolicy = CheckpointPolicy.Local): Unit = {
    if (!TableLog.hasPending(spark, out)) return
    val deltas = TableLog.deltas(spark, out)
    TableLog.rewrite(out, "pred_hash", deltas, checkpoint) { touched =>
      val existing = TableLog.asBaseOps(read(spark, out).filter(col("pred_hash").isin(touched: _*)))
      val opCols = (contentKeys(existing) ++
        Seq("src_url", "warc_ts", "op", "batch_seq")).map(col)
      val rows = existing.select(opCols: _*).unionByName(deltas.select(opCols: _*))
      resolveOps(salted(rows, Map.empty, DefaultSalt), Seq("pred_hash", "subj_salt"))
    }
    TableLog.drop(spark, out)
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
      maxDeltaBatches: Int = 8,
      checkpoint: CheckpointPolicy = CheckpointPolicy.Local): Unit = {
    appendDelta(spark, out, delta)
    if (deltaBatchCount(spark, out) >= maxDeltaBatches)
      compact(spark, out, checkpoint)
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
      oldOut: String, newOut: String): DataFrame =
    graphDiffProv(spark, oldOut, newOut)
      .select(col("op"), col("subj"), col("pred"), col("obj"))

  /** [[graphDiff]] carrying provenance — the DIRECTLY APPLYABLE form: adds
    * keep the NEW snapshot's (src_url, warc_ts), dels carry the old
    * snapshot's (retractions never surface provenance; the columns just
    * keep the row shape uniform). Feed the result to [[applyDiff]] to
    * bring an LSM table holding the old snapshot to the new one. The join
    * key includes pred_hash, so both sides keep the co-clustered join.
    */
  def graphDiffProv(
      spark: org.apache.spark.sql.SparkSession,
      oldOut: String, newOut: String): DataFrame =
    diff(read(spark, oldOut), read(spark, newOut))

  /** The one body of [[graphDiffProv]], over any two triple frames
    * (subj, pred, obj, src_url, warc_ts) — stored snapshots or in-flight
    * parses alike (the streaming re-crawl diffs a page's old parse against
    * its new one). Same row shape and provenance rule as [[graphDiffProv]].
    */
  def diff(oldRows: DataFrame, newRows: DataFrame): DataFrame = {
    def side(df: DataFrame) =
      withPredHash(df.select(col("subj"), col("pred"), col("obj"),
        col("src_url"), col("warc_ts")))
    val o = side(oldRows)
    val n = side(newRows)
    val keys = Seq("pred_hash", "subj", "pred", "obj")
    val keyCols = keys.map(col)
    n.join(o.select(keyCols: _*), keys, "left_anti").withColumn("op", lit(TableLog.OpAdd))
      .unionByName(
        o.join(n.select(keyCols: _*), keys, "left_anti").withColumn("op", lit(TableLog.OpDel)))
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
      diffProv: DataFrame): Unit =
    appendDeltaOps(spark, out, diffProv)

  /** Single-predicate read that EXPLOITS the layout: the `pred_hash`
    * equality folds to a constant and prunes the scan to
    * 1/[[DefaultPredBuckets]] of the partition directories (PartitionFilters in the plan), then the
    * row-level `pred` filter pushes into parquet. This is the access path
    * a downstream "all triples of predicate P" query takes at 100 TB.
    */
  def readPred(
      spark: org.apache.spark.sql.SparkSession,
      out: String,
      pred: String): DataFrame =
    read(spark, out)
      .filter(col("pred_hash") === predHash(lit(pred)) && col("pred") === pred)

  /** [[readPred]] against the MERGED view: both the base and the pending
    * delta log prune to the predicate's single pred_hash partition before
    * anything shuffles (PartitionFilters on both scans), tombstones
    * resolve over just those rows. The per-predicate access path between
    * compactions — a 1/[[DefaultPredBuckets]] read plus a delta-sized
    * dedup, never a whole-table merge.
    */
  def readMergedPred(
      spark: org.apache.spark.sql.SparkSession,
      out: String,
      pred: String): DataFrame = {
    val ph = predHash(lit(pred))
    val base = read(spark, out)
      .filter(col("pred_hash") === ph && col("pred") === pred)
    if (!TableLog.hasPending(spark, out)) base
    else {
      val deltas = TableLog.deltas(spark, out)
        .filter(col("pred_hash") === ph && col("pred") === pred)
      val rows = TableLog.asBaseOps(base).unionByName(deltas)
      resolveOps(
        rows.repartition(("pred_hash" +: contentKeys(base)).map(col): _*), Seq("pred_hash"))
    }
  }
}
