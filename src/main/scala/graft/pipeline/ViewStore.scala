package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental MATERIALIZED-VIEW maintenance (kg79) — the IVM half of the
  * standing-query story: kg78 RE-EVALUATES a registered query per batch;
  * this UPDATES a materialized GROUP-BY-COUNT view in O(diff) without
  * touching the rest of the view, the way a warehouse maintains its
  * rollups under a trickle of retractions and asserts.
  *
  * The view: per-key counts of one predicate's objects (`key = obj`,
  * `n = count`), stored `key_hash`-partitioned. The fold input is an
  * EFFECTIVE diff ([[Materialize.graphDiffProv]]'s output: adds absent
  * before, dels present before — set-effective by construction). That
  * contract is load-bearing: count folding over a RAW batch would corrupt
  * on duplicate adds (the LSM store is a set; the view is a multiplicity
  * ledger), so the API takes the diff, not the batch.
  *
  * Scale shape (a [[TableLog.rewrite]], like [[Materialize.mergeDelta]]):
  * the delta aggregate is ∝ diff; only diff-touched `key_hash` partitions
  * are read and dynamically overwritten — work ∝ diff + touched
  * partitions, never ∝ view. Keys folding to n ≤ 0 leave the view.
  *
  * The bucket count [[DefaultKeyBuckets]] is the view's TABLE FORMAT:
  * build and every fold must hash a key to the same bucket, so no
  * function takes it as a parameter. Changing it invalidates every view
  * already written (a fold would split one key over two buckets).
  */
object ViewStore {

  val DefaultKeyBuckets = 64

  private def withKeyHash(df: DataFrame): DataFrame =
    df.withColumn("key_hash", pmod(xxhash64(col("key")), lit(DefaultKeyBuckets)))

  /** Build (or rebuild) the view from a triple frame: per-object counts
    * of `pred` — one map-side-combined aggregate, one write.
    */
  def buildCountView(triples: DataFrame, pred: String, out: String): Unit = {
    withKeyHash(
      triples.filter(col("pred") === pred)
        .groupBy(col("obj").as("key")).agg(count(lit(1)).as("n")))
      .write.mode("overwrite").partitionBy("key_hash").parquet(out)
    clearLedger(triples.sparkSession, out) // a rebuild voids the fold history
  }

  /** The SUM sibling: per-key BIGINT sums of `valuePred`'s integer
    * lexical forms, keyed by `keyPred`'s object per subject (the kg74
    * GROUP-BY shape materialized). Non-integer values contribute nothing
    * (the kg38 type-error-drops rule) — IDENTICALLY in build and fold, so
    * maintenance stays exact.
    */
  def buildSumView(
      triples: DataFrame, keyPred: String, valuePred: String, out: String): Unit = {
    withKeyHash(
      keyed(triples, keyPred, valuePred)
        .groupBy(col("key")).agg(sum(col("v")).as("n")))
      .write.mode("overwrite").partitionBy("key_hash").parquet(out)
    clearLedger(triples.sparkSession, out)
  }

  /** (key, v) pairs: subjects' keyPred object × valuePred integer value —
    * one co-partitioned self-join on subj, both scans pred-pruned.
    */
  private def keyed(triples: DataFrame, keyPred: String, valuePred: String): DataFrame = {
    val keys = triples.filter(col("pred") === keyPred)
      .select(col("subj"), col("obj").as("key"))
    val lex = regexp_extract(col("obj"), "^\"(-?\\d+)\"", 1)
    val vals = triples.filter(col("pred") === valuePred)
      .select(col("subj"), when(lex =!= "", lex.cast("long")).as("v"))
      .filter(col("v").isNotNull)
    keys.join(vals, Seq("subj")).select(col("key"), col("v"))
  }

  def readView(spark: SparkSession, out: String): DataFrame =
    spark.read.parquet(out).select(col("key"), col("n"))

  /** Touched-bucket read of the stored view with the schema SPECIFIED:
    * a maintenance run that legitimately emptied every key_hash partition
    * leaves only _SUCCESS behind, and schema inference would fail with
    * "unable to infer schema" — the explicit schema makes the empty view
    * read as an empty frame instead.
    */
  private def readExisting(
      spark: SparkSession, out: String, touched: Array[Long]): DataFrame =
    spark.read.schema("key STRING, n BIGINT, key_hash INT").parquet(out)
      .filter(col("key_hash").cast("long").isin(touched: _*))
      .select(col("key"), col("n"), col("key_hash").cast("long").as("key_hash"))

  /** Fold an effective diff ([[Materialize.graphDiffProv]] rows: op/subj/
    * pred/obj) into the stored view: counts move by (adds − dels) per key,
    * new keys appear, zeroed keys vanish. Only the diff-touched key_hash
    * partitions are read and rewritten (plan- and file-level spec-pinned).
    */
  def maintainCountView(
      spark: SparkSession, out: String, diff: DataFrame, pred: String,
      checkpoint: CheckpointPolicy = CheckpointPolicy.Local,
      foldId: Option[String] = None): Unit =
    foldInto(spark, out,
      diff.filter(col("pred") === pred)
        .groupBy(col("obj").as("key"))
        .agg(sum(when(col("op") === TableLog.OpAdd, lit(1L))
          .otherwise(lit(-1L))).as("dn")),
      checkpoint, foldId)

  /** Maintain a [[buildSumView]] view under an effective diff — the
    * join-view IVM decomposition, exact on signed multisets:
    *
    *   Δ(K ⋈ V) = Knew ⋈ ΔV  +  ΔK ⋈ Vold
    *
    * where ΔV/ΔK are the diff's value/key rows (signed), Knew comes from
    * the POST-diff pred-pruned reader, and Vold(subj) = Vnew(subj) −
    * Δv(subj) reconstructs the pre-state for exactly the key-diffed
    * subjects. Work: two pred-pruned scans joined against BROADCAST
    * diff-subject sets + the O(diff) fold — never a full-graph pass, and
    * never ∝ view.
    */
  def maintainSumView(
      spark: SparkSession, out: String, diff: DataFrame,
      keyPred: String, valuePred: String,
      postTriples: String => DataFrame,
      checkpoint: CheckpointPolicy = CheckpointPolicy.Local,
      foldId: Option[String] = None): Unit =
    foldInto(spark, out,
      sumViewDeltas(diff, keyPred, valuePred, postTriples), checkpoint, foldId)

  /** The decomposition's per-key deltas, exposed for plan guards: both
    * terms join the (big) pred-pruned scans against BROADCAST diff-sized
    * sides.
    */
  private[pipeline] def sumViewDeltas(
      diff: DataFrame, keyPred: String, valuePred: String,
      postTriples: String => DataFrame): DataFrame = {
    val sign = when(col("op") === TableLog.OpAdd, lit(1L)).otherwise(lit(-1L))
    val lex = regexp_extract(col("obj"), "^\"(-?\\d+)\"", 1)
    // Δv per subject (signed value movement; non-integer objects drop,
    // matching buildSumView)
    val dV = diff.filter(col("pred") === valuePred)
      .select(col("subj"),
        (sign * when(lex =!= "", lex.cast("long"))).as("dv"))
      .filter(col("dv").isNotNull)
      .groupBy(col("subj")).agg(sum(col("dv")).as("dv"))
      .localCheckpoint() // ∝ diff, consumed by both terms below
    // ΔK rows (signed key membership)
    val dK = diff.filter(col("pred") === keyPred)
      .select(col("subj"), col("obj").as("key"), sign.as("sign"))
      .localCheckpoint()
    // Term 1: value movement under the NEW key assignment
    val kNew = postTriples(keyPred).select(col("subj"), col("obj").as("key"))
    val term1 = kNew.join(broadcast(dV), Seq("subj"))
      .select(col("key"), col("dv").as("dn"))
    // Term 2: key movement × the PRE-state value sum of the moved subjects
    val vNewMoved = postTriples(valuePred)
      .join(broadcast(dK.select(col("subj")).distinct()), Seq("subj"), "left_semi")
      .select(col("subj"),
        when(lex =!= "", lex.cast("long")).as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("subj")).agg(sum(col("v")).as("vnew"))
    val vOld = vNewMoved.join(dV, Seq("subj"), "full_outer")
      .select(col("subj"),
        (coalesce(col("vnew"), lit(0L)) - coalesce(col("dv"), lit(0L))).as("vold"))
    val term2 = dK.join(broadcast(vOld), Seq("subj"))
      .select(col("key"), (col("sign") * col("vold")).as("dn"))
    term1.unionByName(term2).groupBy(col("key")).agg(sum(col("dn")).as("dn"))
  }

  /** The MAX sibling (kg82): per-key BIGINT maxima of `valuePred`'s
    * integer lexical forms under `keyPred` grouping.
    */
  def buildMaxView(
      triples: DataFrame, keyPred: String, valuePred: String, out: String): Unit = {
    withKeyHash(
      keyed(triples, keyPred, valuePred)
        .groupBy(col("key")).agg(max(col("v")).as("n")))
      .write.mode("overwrite").partitionBy("key_hash").parquet(out)
    clearLedger(triples.sparkSession, out)
  }

  /** Maintain a [[buildMaxView]] view under an effective diff. MAX is the
    * textbook NON-INVERTIBLE aggregate: an add folds upward in O(diff)
    * (new max = max(old, v)), but deleting a key's current extremum
    * cannot be undone from the summary — the true post-delete max lives
    * only in the base rows. The standard IVM answer, implemented here:
    * RECOMPUTE exactly the AFFECTED KEYS (every key any diff row touches,
    * on either its key or value side) from the post-state pred-pruned
    * scans, semi-joined to the affected-key/subject sets (broadcast,
    * diff-sized) — work ∝ affected keys' rows + touched view partitions,
    * never ∝ graph or view. Unaffected keys in touched partitions carry
    * through; keys whose groups emptied leave the view. A fold that
    * touches no key still enters its `foldId` in the ledger, like
    * [[maintainCountView]]'s.
    */
  def maintainMaxView(
      spark: SparkSession, out: String, diff: DataFrame,
      keyPred: String, valuePred: String,
      postTriples: String => DataFrame,
      checkpoint: CheckpointPolicy = CheckpointPolicy.Local,
      foldId: Option[String] = None): Unit = {
    if (foldId.exists(alreadyApplied(spark, out, _))) return
    // affected keys: keys named by key-side diff rows, plus the keys
    // (old OR new — both read from key rows present in diff ∪ post-state)
    // of subjects with value-side diff rows
    val dKkeys = diff.filter(col("pred") === keyPred).select(col("obj").as("key"))
    val dVsubj = diff.filter(col("pred") === valuePred).select(col("subj")).distinct()
    val kNew = postTriples(keyPred).select(col("subj"), col("obj").as("key"))
    val dVkeys = kNew.join(broadcast(dVsubj), Seq("subj"), "left_semi").select(col("key"))
    val affected = checkpoint.truncate( // ∝ diff; consumed three times
      withKeyHash(dKkeys.unionByName(dVkeys).distinct()))
    // recompute ONLY the affected keys from the post-state
    val subjAffected = kNew.join(broadcast(affected), Seq("key"), "left_semi")
    val lex = regexp_extract(col("obj"), "^\"(-?\\d+)\"", 1)
    val vNew = postTriples(valuePred)
      .select(col("subj"), when(lex =!= "", lex.cast("long")).as("v"))
      .filter(col("v").isNotNull)
    val recomputed = subjAffected.join(vNew, Seq("subj"))
      .groupBy(col("key")).agg(max(col("v")).as("n"))
    // fold: affected keys REPLACE their view rows (or vanish if their
    // group emptied); co-located unaffected keys carry through
    TableLog.rewrite(out, "key_hash", affected, checkpoint) { touched =>
      readExisting(spark, out, touched)
        .join(broadcast(affected), Seq("key"), "left_anti")
        .unionByName(withKeyHash(recomputed))
    }
    foldId.foreach(markApplied(spark, out, _))
  }

  /** The shared fold tail: apply per-key deltas to the stored view — a
    * [[TableLog.rewrite]] of the touched key_hash partitions as a
    * full-outer merge; buckets whose keys all folded to zero are deleted.
    */
  private def foldInto(
      spark: SparkSession, out: String, deltas: DataFrame,
      checkpoint: CheckpointPolicy, foldId: Option[String]): Unit = {
    if (foldId.exists(alreadyApplied(spark, out, _))) return
    val d = checkpoint.truncate( // materialized ONCE: sized ∝ diff, read twice below
      withKeyHash(deltas.filter(col("dn") =!= 0L)))
    TableLog.rewrite(out, "key_hash", d, checkpoint) { touched =>
      readExisting(spark, out, touched)
        .join(d, Seq("key_hash", "key"), "full_outer")
        .select(col("key"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
          col("key_hash"))
        .filter(col("n") > 0)
    }
    foldId.foreach(markApplied(spark, out, _))
  }

  // ---------------------------------------------------- applied-fold ledger
  // Counts and sums are DELTAS: re-applying a completed fold (an
  // at-least-once replay, or a job retried after its write committed)
  // silently corrupts the view. Callers that can replay pass a stable
  // foldId (e.g. the checkpointed micro-batch id) and the fold becomes
  // idempotent: a marker per applied fold lives beside the view (the
  // TableLog batch-marker / snapshot-log discipline), and a fold whose
  // marker exists is skipped. MAX-view folds are idempotent in value but
  // skip too — cheaper and uniform.

  private def ledgerDir(out: String) = s"$out/_applied"

  private def alreadyApplied(spark: SparkSession, out: String, id: String): Boolean = {
    val (fs, dir) = TableLog.fsOf(spark, ledgerDir(out))
    fs.exists(new org.apache.hadoop.fs.Path(dir, s"fold-$id"))
  }

  private def markApplied(spark: SparkSession, out: String, id: String): Unit = {
    val (fs, dir) = TableLog.fsOf(spark, ledgerDir(out))
    fs.mkdirs(dir)
    fs.create(new org.apache.hadoop.fs.Path(dir, s"fold-$id"), false).close()
  }

  private def clearLedger(spark: SparkSession, out: String): Unit = {
    val (fs, dir) = TableLog.fsOf(spark, ledgerDir(out))
    fs.delete(dir, true)
  }
}
