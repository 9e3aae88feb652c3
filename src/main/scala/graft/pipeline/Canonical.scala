package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Canonicalization: connected components over the entity sameAs-graph
  * (entities sharing a dictionary alias), via iterative hash-to-min
  * DataFrame self-joins with checkpointed frontiers (north_star:
  * "canonicalization by connected-components, iterative DataFrame
  * self-join, checkpointed frontiers").
  *
  * Each iteration: every vertex adopts the minimum label among itself and
  * its neighbours; converges in O(diameter) rounds. Lineage is truncated
  * each round so plans stay O(1) instead of O(rounds); the
  * [[CheckpointPolicy]] decides HOW — executor-local blocks (default,
  * fastest) or a reliable DFS checkpoint that survives executor loss at
  * cluster scale.
  */
object Canonical {

  /** Undirected edges (src, dst) from alias collisions: group the
    * dictionary by alias and pair each group's min entity with the rest —
    * O(group) edges per alias (star), not O(group²).
    */
  def aliasEdges(dict: DataFrame): DataFrame = {
    val grouped = dict.groupBy(col("alias"))
      .agg(min(col("entity_iri")).as("src"), collect_set(col("entity_iri")).as("members"))
    grouped.select(col("src"), explode(col("members")).as("dst"))
      .filter(col("src") =!= col("dst"))
  }

  /** Connected components. Input: edges(src, dst). Output: (id, component)
    * with component = min vertex id in the component (only vertices that
    * appear in an edge are returned).
    */
  def connectedComponents(
      edges: DataFrame, maxIter: Int = 50,
      checkpoint: CheckpointPolicy = CheckpointPolicy.Local): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // symmetrize once, MATERIALIZED WITH LINEAGE TRUNCATED (not a plain
    // .cache()): a cached frame still carries the caller's full logical
    // plan, so every iteration re-analyzes/re-optimizes that subtree —
    // measured 0.64 s/iter vs 0.28 s/iter on kg67's delta subgraph whose
    // input plan is a 5-join tree over parquet. After truncate the loop
    // plans against an O(1) scan node. Durability rides the caller's
    // CheckpointPolicy like every other loop frame.
    val sym = checkpoint.truncate(
      edges.select($"src", $"dst")
        .union(edges.select($"dst".as("src"), $"src".as("dst")))
        .distinct())

    var labels = checkpoint.truncate(
      sym.select($"src".as("id")).distinct()
        .withColumn("component", $"id"))

    // one hash-to-min half-step: neighbour messages and each vertex's own
    // label meet in ONE union + min aggregation (replaces the former
    // join → groupBy → left-join chain: one join and one exchange fewer),
    // then pointer jumping (adopt the label of your label — halves chain
    // depth). `changed` = the neighbour min beat the old label.
    def step(l: DataFrame): DataFrame = {
      val msgs = sym
        .join(l.withColumnRenamed("id", "src"), "src")
        .select($"dst".as("id"), $"component", lit(false).as("self"))
        .unionByName(l.select($"id", $"component", lit(true).as("self")))
      val updated = msgs.groupBy($"id")
        .agg(min($"component").as("component"),
          min(when($"self", $"component")).as("old_component"))
        .select($"id", $"component", ($"component" < $"old_component").as("changed"))
      val parents = updated.select($"id".as("component"), $"component".as("jump"))
      updated.join(parents, Seq("component"), "left")
        .select($"id", least($"component", coalesce($"jump", $"component")).as("component"),
          $"changed")
    }

    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // TWO half-steps per materialization: the fixed per-round cost
      // (job launch, AQE stage scheduling, lineage truncation) dominates
      // at small frontiers, so amortizing it over two hash-to-min rounds
      // nearly halves the loop's wall. Convergence is tested on the
      // SECOND half-step's flags alone — sound: if the last neighbour-min
      // pass improved nothing, labels are constant per component (for
      // every edge (u,v): L(v) ≤ L(u) and L(u) ≤ L(v)), i.e. a fixpoint.
      // Convergence detection costs ZERO extra jobs: a native
      // CollectMetrics node (Dataset.observe) sums the changed flags
      // DURING the checkpoint materialization itself — no per-row UDF in
      // the loop hot path. Exactly-once: observed metrics ignore
      // retried/speculative task attempts, unlike accumulators.
      val second = step(step(labels).drop("changed"))
      val obs = new org.apache.spark.sql.Observation(s"cc.changed.$iter")
      val next = checkpoint.truncate( // eager: materializes, completes the observation
        second
          .observe(obs, sum(when($"changed", 1L).otherwise(0L)).as("n_changed"))
          .drop("changed"))
      labels = next
      converged = obs.get("n_changed").asInstanceOf[Long] == 0L
      iter += 1
    }
    labels
  }

  /** The part of an edge-set update a label recomputation must see: the
    * TOUCHED old components, the AFFECTED node set (every node of a
    * touched component, plus diff nodes absent from the old labels —
    * brand-new vertices) and the new-edge subgraph they induce. An edge of
    * `newEdges` has either both endpoints affected or neither: a surviving
    * old edge's endpoints share an old component (touched together), an
    * added edge's endpoints are diff nodes — so ONE src-side semi-join
    * captures the induced subgraph exactly. The diff-node and
    * touched-component sets are diff-sized by contract and consumed twice
    * (here and by the caller's carry-forward anti-join), so both are
    * materialized ONCE through `checkpoint` with truncated lineage instead
    * of re-evaluating the caller's diff subtree at every consuming action.
    * The one derivation [[connectedComponentsDelta]] runs; the spec pins
    * "untouched components are not recomputed" on it as a row-count
    * invariant.
    */
  private[graft] def affectedSubgraph(
      oldLabels: DataFrame, newEdges: DataFrame, diff: DataFrame,
      checkpoint: CheckpointPolicy = CheckpointPolicy.Local)
      : (DataFrame, DataFrame, DataFrame) = {
    val touched = checkpoint.truncate(
      diff.select(col("src").as("id"))
        .unionByName(diff.select(col("dst").as("id"))).distinct())
    val touchedComps = checkpoint.truncate(
      oldLabels.join(touched, Seq("id"), "left_semi")
        .select(col("component")).distinct())
    val affected = oldLabels.join(touchedComps, Seq("component"), "left_semi")
      .select(col("id"))
      .unionByName(touched) // diff nodes the old labels never saw
      .distinct()
    val subEdges = newEdges
      .join(affected.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
    (touchedComps, affected, subEdges)
  }

  /** INCREMENTAL connected components under an edge diff — the nightly
    * re-canonicalization bill at 100 TB, reduced from the whole graph to
    * the components the diff touches. `oldLabels` is [[connectedComponents]]
    * over the old edge set; `diff` (op ∈ {add, del}, src, dst) is the edge
    * delta; `newEdges` the post-diff edge set. Labels of components the
    * diff never touches carry forward UNREAD by the iterative loop (one
    * anti-join); the hash-to-min CC re-runs only on the affected induced
    * subgraph ([[affectedSubgraph]] — work ∝ touched components, never ∝
    * graph; both prunes are semi-joins that keep the big side's scan
    * shape). Result is row-identical to a fresh [[connectedComponents]]
    * over `newEdges`: merged components re-label to the new min, split
    * components re-label per part, nodes isolated by deletions drop out
    * (CC returns only edge-participating nodes), new nodes appear.
    */
  def connectedComponentsDelta(
      oldLabels: DataFrame,
      newEdges: DataFrame,
      diff: DataFrame,
      maxIter: Int = 50,
      checkpoint: CheckpointPolicy = CheckpointPolicy.Local): DataFrame = {
    val (touchedComps, _, subEdges) =
      affectedSubgraph(oldLabels, newEdges, diff, checkpoint)
    // the using-column join fronts `component` — re-project to the
    // (id, component) contract before the union
    val keep = oldLabels.join(touchedComps, Seq("component"), "left_anti")
      .select(col("id"), col("component"))
    keep.unionByName(
      connectedComponents(subEdges, maxIter, checkpoint)
        .select(col("id"), col("component")))
  }

  /** entity_iri → canonical_iri mapping (identity for singleton entities is
    * implicit; join with a left outer + coalesce at the use site).
    */
  def canonicalMapping(
      dict: DataFrame,
      checkpoint: CheckpointPolicy = CheckpointPolicy.Local): DataFrame =
    connectedComponents(aliasEdges(dict), checkpoint = checkpoint)
      .withColumnRenamed("id", "entity_iri")
      .withColumnRenamed("component", "canonical_iri")
}
