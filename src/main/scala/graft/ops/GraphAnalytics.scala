package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph analytics over the constructed KG — the query side of a
  * KG-construction engine: once triples are materialized, users ask degree
  * distributions, multi-hop reachability, triangle/community structure and
  * centrality. Every operator takes a generic `(src, dst)` edge DataFrame,
  * so it runs unchanged on [[graft.pipeline.Materialize]] output (project
  * subj/obj of a predicate) or any derived edge set.
  *
  * Scale shapes (the properties that survive 1000 executors):
  *   - degree: one partial-aggregated groupBy — map-side combine does the
  *     heavy lifting, shuffle carries one row per (node) per task;
  *   - triangles: DEGREE-ORIENTED enumeration — each undirected edge is
  *     directed from its (degree, id)-smaller endpoint, so every wedge is
  *     generated at its lowest-degree vertex and total wedge count is
  *     O(m^1.5) even on power-law graphs (the naive a<b<c orientation
  *     explodes at the hubs exactly where a web KG is skewed);
  *   - BFS: frontier-based iteration — per round, only the newly-reached
  *     frontier joins the adjacency (not the whole dist table), lineage is
  *     truncated per round through the [[graft.pipeline.CheckpointPolicy]]
  *     like [[graft.pipeline.Canonical]];
  *   - PageRank: fixed-iteration power method; contributions are one
  *     shuffle per iteration (join on src + groupBy dst, both partial-agg),
  *     rank state is one row per node.
  *
  * The SparkEntry queries run these on [[syntheticEdges]] — a closed-form
  * graph over the corpus doc ids that the DuckDB oracle re-derives in SQL —
  * so every operator is value-checked end to end.
  */
object GraphAnalytics {

  /** Deterministic synthetic graph over the corpus doc ids, closed-form in
    * SQL for the oracles: a connected tree (d → d/2 for every d > 0) plus a
    * triangle chord block {4k, 4k+1, 4k+2} at every multiple of 4. Chords
    * both shortcut BFS paths and create triangles that ALSO combine with
    * tree edges (e.g. {4, 8, 9}: 8→4 and 9→4 tree edges + 8—9 chord).
    * Endpoints are semi-joined back to the id set so the edge list stays
    * closed over the corpus at any scale factor; self-loops excluded.
    */
  def syntheticEdges(documents: DataFrame): DataFrame = {
    val ids = documents.select(col("doc_id").as("id"))
    val tree = ids.filter(col("id") > 0)
      .select(col("id").as("src"), (col("id") / 2).cast("long").as("dst"))
    def chord(sOff: Int, dOff: Int) = ids.filter(col("id") % 4 === 0)
      .select((col("id") + sOff).as("src"), (col("id") + dOff).as("dst"))
    tree.union(chord(0, 1)).union(chord(0, 2)).union(chord(1, 2))
      .filter(col("src") =!= col("dst"))
      .join(ids.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(ids.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .select(col("src"), col("dst"))
  }

  /** Distinct undirected edge set as canonical (u < v) pairs. */
  private def canonicalUndirected(edges: DataFrame): DataFrame =
    edges.select(
      least(col("src"), col("dst")).as("u"),
      greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

  /** Undirected degree per node: number of distinct neighbours. One
    * groupBy over the exploded endpoints (map-side combined); `nodes`
    * (optional) left-joins isolated vertices back in with degree 0.
    */
  def degrees(edges: DataFrame, nodes: Option[DataFrame] = None): DataFrame = {
    val und = canonicalUndirected(edges)
    val deg = und.select(col("u").as("id")).union(und.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    nodes match {
      case None => deg
      case Some(n) =>
        n.select(col("id")).join(deg, Seq("id"), "left")
          .select(col("id"), coalesce(col("degree"), lit(0L)).as("degree"))
    }
  }

  /** Out-degree per SUBJECT of a triple table — the per-entity statistic
    * every KG serves ("how many facts about X"). One map-side-combined
    * groupBy.
    */
  def outDegrees(triples: DataFrame): DataFrame =
    triples.groupBy(col("subj")).agg(count(lit(1)).as("degree"))

  /** INCREMENTAL out-degree maintenance under a tombstone diff
    * ([[graft.pipeline.Materialize.graphDiff]] rows, op ∈ {add, del}):
    * the delta collapses to per-subject ±counts (one diff-sized
    * map-side-combined aggregate) and folds into the old degree table with
    * a full-outer join — work ∝ |degree table| + |diff|, never ∝ |graph|,
    * which is the whole point: re-deriving degrees after a daily delta
    * re-scans 100 TB, maintaining them touches the entity-sized stat
    * table. Subjects whose degree reaches 0 drop out (fully retracted).
    */
  def degreesDelta(oldDegrees: DataFrame, diff: DataFrame): DataFrame = {
    val d = diff
      .groupBy(col("subj"))
      .agg(sum(when(col("op") === graft.pipeline.TableLog.OpAdd, 1L)
        .otherwise(-1L)).as("_d"))
    oldDegrees.join(d, Seq("subj"), "full_outer")
      .select(col("subj"),
        (coalesce(col("degree"), lit(0L)) + coalesce(col("_d"), lit(0L))).as("degree"))
      .filter(col("degree") > 0)
  }

  /** Per-node triangle counts via degree-oriented wedge enumeration.
    *
    * Orient every undirected edge from its (degree, id)-smaller endpoint;
    * generate wedges (two out-edges of one vertex, the two heads ordered by
    * the same total order); close each wedge with an equi-join back to the
    * oriented edge set — the closing edge is oriented exactly
    * lower-head → higher-head, so each triangle is found ONCE, with no
    * post-hoc dedup. The orientation bounds per-vertex wedge fan-out by
    * out-degree ≤ O(√m), the classic bound that keeps hub vertices of a
    * web graph from generating quadratic wedges. Output: (id, n_triangles)
    * for every vertex in ≥ 1 triangle.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = canonicalUndirected(edges)
    // ONE degree definition — [[degrees]] — so orientation can never
    // drift from the degree op it is defined in terms of
    val deg = degrees(edges).withColumnRenamed("degree", "d")
    // (degree, id) total order as a sortable struct key per endpoint
    def key(dC: Column, idC: Column): Column = struct(dC.as("d"), idC.as("id"))
    // consumed THREE times below (both wedge sides + the closing edge) —
    // materialize once, lazily (no extra job: the first action fills it)
    val oriented = und
      .join(deg.select(col("id").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(key(col("du"), col("u")) < key(col("dv"), col("v")), col("u")).otherwise(col("v")).as("src"),
        when(key(col("du"), col("u")) < key(col("dv"), col("v")), col("v")).otherwise(col("u")).as("dst"),
        when(key(col("du"), col("u")) < key(col("dv"), col("v")), key(col("dv"), col("v")))
          .otherwise(key(col("du"), col("u"))).as("dstKey"))
      .localCheckpoint(eager = false)
    val e1 = oriented.select(col("src"), col("dst").as("b1"), col("dstKey").as("k1"))
    val e2 = oriented.select(col("src"), col("dst").as("b2"), col("dstKey").as("k2"))
    val wedges = e1.join(e2, Seq("src")).filter(col("k1") < col("k2"))
      .select(col("src").as("a"), col("b1").as("b"), col("b2").as("c"))
    val closing = oriented.select(col("src").as("b"), col("dst").as("c"))
    val triangles = wedges.join(closing, Seq("b", "c"))
    triangles.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Synchronous LABEL PROPAGATION community detection (Raghavan et al.
    * 2007): every node starts labeled with its own id; each round every
    * node adopts the MODE of its neighbours' labels (ties → smallest
    * label; nodes without neighbours keep theirs). Fixed `iterations`
    * rounds so the run is deterministic and the DuckDB oracle can unroll
    * it (the kg15 PageRank discipline — the classic async/random-order
    * LPA is deliberately not reproducible).
    *
    * Per round: one join of the (persisted) adjacency against the label
    * table + one partial-aggregated groupBy((node, label)) + a per-node
    * argmax window — shuffle carries one row per distinct (node,
    * neighbour-label), bounded by the edge count; lineage truncates per
    * round through `checkpoint` like every iterative loop here.
    */
  def labelPropagation(
      edges: DataFrame, nodes: DataFrame, iterations: Int = 2,
      checkpoint: graft.pipeline.CheckpointPolicy =
        graft.pipeline.CheckpointPolicy.Local): DataFrame = {
    require(iterations >= 1 && iterations <= 16, s"iterations=$iterations out of 1..16")
    val und = canonicalUndirected(edges)
    // loop-invariant adjacency: materialize with lineage TRUNCATED (not a
    // plain persist — a cached frame still re-plans the caller's subtree
    // every round; the Canonical.connectedComponents measurement)
    val adj = checkpoint.truncate(
      und.select(col("u").as("v"), col("v").as("w"))
        .union(und.select(col("v").as("v"), col("u").as("w"))))
    var labels = checkpoint.truncate(
      nodes.select(col("id"), col("id").as("lbl")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("v")).orderBy(col("c").desc, col("lbl").asc)
    for (_ <- 1 to iterations) {
      val best = adj
        .join(labels.select(col("id").as("w"), col("lbl")), "w")
        .groupBy(col("v"), col("lbl")).agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("v").as("id"), col("lbl").as("newLbl"))
      labels = checkpoint.truncate(
        labels.join(best, Seq("id"), "left")
          .select(col("id"), coalesce(col("newLbl"), col("lbl")).as("lbl")))
    }
    labels
  }

  /** Bounded k-CORE peeling: `rounds` synchronous rounds of "drop every
    * node with undirected degree < k, restrict the edge set to survivors".
    * Fixed rounds keep the run deterministic and let the DuckDB oracle
    * unroll it (the kg31 label-propagation discipline); on real graphs the
    * peel converges in a few rounds and the caller raises `rounds` until
    * the output is a fixpoint (a converged run IS the k-core). Output:
    * (id, degree) of the surviving subgraph — nodes isolated by the last
    * restriction drop out.
    *
    * Per round: one map-side-combined degree aggregate + two semi-joins
    * restricting the edge set (survivor side is degree-filtered, usually a
    * small fraction); lineage truncates per round through the
    * [[graft.pipeline.CheckpointPolicy]] like every iterative loop here.
    */
  def kCoreBounded(
      edges: DataFrame, k: Int, rounds: Int,
      checkpoint: graft.pipeline.CheckpointPolicy =
        graft.pipeline.CheckpointPolicy.Local): DataFrame = {
    require(k >= 1 && k <= (1 << 20), s"k=$k out of range")
    require(rounds >= 1 && rounds <= 16, s"rounds=$rounds out of 1..16")
    def degreesOf(e: DataFrame): DataFrame =
      e.select(col("u").as("id")).union(e.select(col("v").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    // round 1 reads the input edge set twice (degree aggregate + the two
    // semi-joins) — truncate it once like every later round's survivor set
    var e = checkpoint.truncate(canonicalUndirected(edges))
    for (_ <- 1 to rounds) {
      val surv = degreesOf(e).filter(col("degree") >= k).select(col("id"))
      e = checkpoint.truncate(
        e.join(surv.select(col("id").as("u")), Seq("u"), "left_semi")
          .join(surv.select(col("id").as("v")), Seq("v"), "left_semi")
          .select(col("u"), col("v")))
    }
    degreesOf(e)
  }

  /** Minimum hop distance from `sources` to every reachable vertex over
    * the UNDIRECTED graph. Frontier-based BFS: each round joins only the
    * frontier (nodes first reached last round) against the adjacency,
    * anti-joins already-settled vertices, and truncates lineage per round
    * through the [[graft.pipeline.CheckpointPolicy]] — the
    * [[graft.pipeline.Canonical]] iteration discipline (reliable DFS
    * checkpointing at cluster scale, executor-local blocks by default).
    * Terminates when the frontier empties; nodes at hop `maxIter` are
    * still in-contract, and a non-empty frontier beyond it throws (a
    * diameter contract violation, never silent truncation).
    */
  def bfsHops(
      edges: DataFrame, sources: DataFrame, maxIter: Int = 25,
      checkpoint: graft.pipeline.CheckpointPolicy =
        graft.pipeline.CheckpointPolicy.Local): DataFrame = {
    // loop-invariant symmetrized adjacency: truncated, not persisted —
    // every BFS round otherwise re-plans the caller's edge subtree
    val adj = checkpoint.truncate(
      edges.select(col("src").as("a"), col("dst").as("b"))
        .union(edges.select(col("dst").as("a"), col("src").as("b")))
        .distinct())
    locally {
      // settled rounds are each checkpointed ONCE and never re-materialized
      // (2 jobs per round: checkpoint `next`, count it — the count doubles
      // as the convergence test). Because `adj` is symmetrized, a neighbour
      // of a hop-h node has distance ≥ h−1, so the dedup anti-join only
      // needs the PREVIOUS TWO frontiers — O(frontier) rows, not the O(N)
      // full settled set (the textbook frontier-BFS bound that matters when
      // the reached set dwarfs the wave).
      val settled = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      var prev: Option[DataFrame] = None
      var frontier = checkpoint.truncate(sources.select(col("id"), lit(0L).as("hop")))
      settled += frontier
      var n = frontier.count()
      var iter = 0
      while (n > 0) {
        val recent = prev.map(_ union frontier).getOrElse(frontier)
        val next = checkpoint.truncate(
          frontier.join(adj, frontier("id") === adj("a"))
            .select(col("b").as("id"), (col("hop") + 1).as("hop"))
            .groupBy(col("id")).agg(min(col("hop")).as("hop"))
            .join(recent.select(col("id").as("seen")), col("id") === col("seen"), "left_anti"))
        n = next.count()
        // nodes AT hop maxIter are in-contract (the oracle's `hop < maxIter`
        // recursion reaches them); only a non-empty frontier BEYOND it
        // violates the diameter contract — and loudly, never by truncation
        require(n == 0 || iter + 1 <= maxIter,
          s"bfsHops: frontier non-empty past hop $maxIter — graph diameter exceeds contract")
        if (n > 0) settled += next
        prev = Some(frontier)
        frontier = next
        iter += 1
      }
      settled.reduce(_ union _)
    }
  }

  /** Bounded DIRECTED transitive closure — the SPARQL property-path `p+`
    * (up to `maxHops`) as an iterative frontier join: (src, dst, hops)
    * with hops = the MINIMUM path length ≤ maxHops. Each round extends
    * only last round's frontier by one edge hop, anti-joins pairs already
    * reached (so shorter paths win and revisits never re-expand — the
    * property that keeps rounds linear in NEW pairs even through
    * diamonds/cycles), and truncates lineage through the
    * [[graft.pipeline.CheckpointPolicy]]. maxHops bounds both work and
    * output (an unbounded `p+` over a web KG is a full closure — callers
    * opt into depth explicitly).
    */
  def pathClosure(
      edges: DataFrame, maxHops: Int,
      checkpoint: graft.pipeline.CheckpointPolicy =
        graft.pipeline.CheckpointPolicy.Local): DataFrame = {
    require(maxHops >= 1 && maxHops <= 16, s"maxHops=$maxHops out of 1..16")
    val e = checkpoint.truncate(
      edges.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst")).distinct())
    locally {
      // acc stays a LAZY union of per-round checkpointed frontiers (the
      // bfsHops discipline): each round materializes only its NEW pairs,
      // never the growing accumulator
      var acc = checkpoint.truncate(e.withColumn("hops", lit(1L)))
      var frontier = acc
      var h = 2
      var saturated = false
      while (h <= maxHops && !saturated) {
        val step = frontier
          .join(e.select(col("src").as("_m"), col("dst").as("_d")),
            frontier("dst") === col("_m"))
          .select(col("src"), col("_d").as("dst"), lit(h.toLong).as("hops"))
          .filter(col("src") =!= col("dst"))
          .distinct()
        val fresh = checkpoint.truncate(
          step.join(acc.select(col("src").as("_s"), col("dst").as("_t")),
            step("src") === col("_s") && step("dst") === col("_t"), "left_anti"))
        if (fresh.isEmpty) saturated = true // closure done before the bound
        else {
          acc = acc.unionByName(fresh)
          frontier = fresh
        }
        h += 1
      }
      acc
    }
  }

  /** BOUNDED strongly connected components: label(u) = min id of the set
    * of vertices MUTUALLY reachable from u within ≤ `rounds` hops (u
    * itself included) — exact SCC labels whenever every component's
    * internal diameter is ≤ `rounds`, the same explicit-depth contract as
    * [[pathClosure]] (which does the heavy lifting: the checkpointed
    * frontier closure). Mutual reachability is ONE left-semi self-join of
    * the closure against its swap (pairs surviving both directions), the
    * label one map-side-combined min per vertex — the closure is the cost
    * and the reason the depth bound is an explicit opt-in: unbounded SCC
    * over a web KG is a full transitive closure. Run on condensable
    * subgraphs (a predicate-pruned edge set) at 100 TB.
    */
  def sccBounded(
      edges: DataFrame, vertices: DataFrame, rounds: Int,
      checkpoint: graft.pipeline.CheckpointPolicy =
        graft.pipeline.CheckpointPolicy.Local): DataFrame = {
    val r = pathClosure(edges, rounds, checkpoint).select(col("src"), col("dst"))
    val mutual = r.join(
      r.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    val minMutual = mutual.groupBy(col("src")).agg(min(col("dst")).as("_m"))
      .select(col("src").as("id"), col("_m"))
    vertices.select(col("id"))
      .join(minMutual, Seq("id"), "left")
      .select(col("id"), least(col("id"), coalesce(col("_m"), col("id"))).as("scc"))
  }

  /** Fixed-iteration PERSONALIZED PageRank: identical power method to
    * [[pageRank]] but the teleport mass lands on the `sources` set instead
    * of uniformly — r₀ = p; r_{t+1}(v) = 0.15·p(v) + 0.85·Σ contribs,
    * with p = 1/|S| on S and 0 elsewhere. The per-seed-set relevance
    * ranking every KG serves ("entities related to THESE") — rank decays
    * with distance from the seeds and unreachable nodes stay at 0. Same
    * scale shape as pageRank: loop-invariant degree-annotated edges
    * persisted once, one shuffle per iteration, both sides
    * partial-aggregated; the restart vector rides the persisted node frame
    * as a column (never re-joined per round).
    */
  def personalizedPageRank(
      edges: DataFrame, nodes: DataFrame, sources: DataFrame, iterations: Int = 3,
      checkpoint: graft.pipeline.CheckpointPolicy =
        graft.pipeline.CheckpointPolicy.Local): DataFrame = {
    require(iterations >= 1 && iterations <= 10, s"iterations=$iterations out of 1..10")
    val src = sources.select(col("id")).distinct()
    val nS = src.count()
    require(nS > 0, "personalizedPageRank needs a non-empty source set")
    val base = checkpoint.truncate(
      nodes.select(col("id"))
        .join(src.withColumn("_s", lit(1)), Seq("id"), "left")
        .select(col("id"),
          when(col("_s").isNotNull, lit(1.0 / nS)).otherwise(lit(0.0)).as("p")))
    val outdeg = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val withDeg = checkpoint.truncate(
      edges.join(outdeg, col("src") === outdeg("id"))
        .select(col("src"), col("dst"), col("deg")))
    locally {
      var ranks = base.select(col("id"), col("p").as("rank"))
      for (_ <- 1 to iterations) {
        val contribs = ranks
          .join(withDeg, col("id") === col("src"))
          .select(col("dst").as("id"), (col("rank") / col("deg")).as("c"))
          .groupBy(col("id")).agg(sum(col("c")).as("c"))
        ranks = checkpoint.truncateLazy(
          base.join(contribs, Seq("id"), "left")
            .select(col("id"),
              (lit(0.15) * col("p") + lit(0.85) * coalesce(col("c"), lit(0.0))).as("rank")))
      }
      checkpoint.truncate(
        ranks.select(col("id"), round(col("rank"), 6).as("rank")))
    }
  }

  /** Bounded WEIGHTED single-source shortest paths — `rounds` synchronous
    * Bellman-Ford relaxations over the UNDIRECTED weighted edge set
    * (src, dst, w): dist₀ = 0 on the source set; each round every reached
    * node offers dist+w to its neighbours and every node keeps its MIN
    * offer. After R rounds dist(v) = the exact min-weight path from any
    * source using ≤ R edges — deterministic, integer-exact, and
    * SQL-unrollable (the kg49/kg52 fixed-round discipline); callers raise
    * `rounds` to the weighted diameter for the full fixpoint.
    *
    * Scale shape: the symmetrized edge set persists once; each round is
    * one join (reached ⋈ edges) + one map-side-combined min-groupBy —
    * the frontier-less textbook distributed Bellman-Ford (a Δ-stepping
    * refinement only pays off once rounds ≫ diameter); lineage truncates
    * per round through the [[graft.pipeline.CheckpointPolicy]].
    */
  def ssspBounded(
      edges: DataFrame, sources: DataFrame, rounds: Int,
      checkpoint: graft.pipeline.CheckpointPolicy =
        graft.pipeline.CheckpointPolicy.Local): DataFrame = {
    require(rounds >= 1 && rounds <= 16, s"rounds=$rounds out of 1..16")
    val sym = checkpoint.truncate(
      edges.select(col("src").as("a"), col("dst").as("b"), col("w"))
        .union(edges.select(col("dst").as("a"), col("src").as("b"), col("w"))))
    locally {
      var dist = checkpoint.truncate(
        sources.select(col("id"), lit(0L).as("dist")))
      for (_ <- 1 to rounds) {
        val relaxed = dist.join(sym, dist("id") === sym("a"))
          .select(col("b").as("id"), (col("dist") + col("w")).as("dist"))
        dist = checkpoint.truncate(
          dist.unionByName(relaxed)
            .groupBy(col("id")).agg(min(col("dist")).as("dist")))
      }
      dist
    }
  }

  /** Fixed-iteration HITS (Kleinberg 1999) hubs & authorities over the
    * DIRECTED edge set, UNNORMALIZED so every score stays integer-exact:
    * h₀ ≡ 1; per round a(v) = Σ_{u→v} h(u) then h(u) = Σ_{u→v} a(v) with
    * the freshly-updated authorities (the classic in-round ordering).
    * Skipping the per-round L2 normalization trades the usual convergent
    * fixed point for BIGINT-exact scores a SQL oracle can unroll term for
    * term — the kg15/kg31/kg49 determinism discipline; the RANKING each
    * round is identical to the normalized iterate (normalization is a
    * positive scalar). `iterations` is capped low because unnormalized
    * scores grow like (principal eigenvalue)^2t.
    *
    * Scale shape: the edge set is persisted once and reused 2·t times;
    * each half-step is one join on the persisted edges + one map-side-
    * combined groupBy — the pageRank shuffle budget exactly. Dangling
    * nodes (no out-edges / no in-edges) ride `nodes` with score 0.
    */
  def hits(
      edges: DataFrame, nodes: DataFrame, iterations: Int = 2,
      checkpoint: graft.pipeline.CheckpointPolicy =
        graft.pipeline.CheckpointPolicy.Local): DataFrame = {
    require(iterations >= 1 && iterations <= 4,
      s"iterations=$iterations out of 1..4 (unnormalized scores grow geometrically)")
    val ids = checkpoint.truncate(nodes.select(col("id")))
    val e = checkpoint.truncate(edges.select(col("src"), col("dst")))
    locally {
      var hub = ids.select(col("id"), lit(1L).as("hub"))
      var auth = ids.select(col("id"), lit(0L).as("auth"))
      for (_ <- 1 to iterations) {
        val aSum = e.join(hub.select(col("id").as("src"), col("hub")), Seq("src"))
          .groupBy(col("dst").as("id")).agg(sum(col("hub")).as("a"))
        auth = checkpoint.truncateLazy(
          ids.join(aSum, Seq("id"), "left")
            .select(col("id"), coalesce(col("a"), lit(0L)).as("auth")))
        val hSum = e.join(auth.select(col("id").as("dst"), col("auth")), Seq("dst"))
          .groupBy(col("src").as("id")).agg(sum(col("auth")).as("h"))
        hub = checkpoint.truncateLazy(
          ids.join(hSum, Seq("id"), "left")
            .select(col("id"), coalesce(col("h"), lit(0L)).as("hub")))
      }
      checkpoint.truncate(
        hub.join(auth, Seq("id")).select(col("id"), col("hub"), col("auth")))
    }
  }

  /** Fixed-iteration PageRank (damping 0.85) over the DIRECTED edge set:
    * r₀ = 1/N; r_{t+1}(v) = 0.15/N + 0.85·Σ_{u→v} r_t(u)/outdeg(u).
    * Power method with one shuffle per iteration (join ranks⋈edges on src,
    * groupBy dst — both sides partial-aggregated); no convergence loop, so
    * no driver round-trips beyond the single N count. Matches the unrolled
    * SQL oracle term for term (double sums over in-degrees this small are
    * order-insensitive at round-6).
    */
  def pageRank(
      edges: DataFrame, nodes: DataFrame, iterations: Int = 3,
      checkpoint: graft.pipeline.CheckpointPolicy =
        graft.pipeline.CheckpointPolicy.Local): DataFrame = {
    require(iterations >= 1 && iterations <= 10, s"iterations=$iterations out of 1..10")
    val ids = checkpoint.truncate(nodes.select(col("id")))
    // degree-annotated edges computed ONCE with lineage truncated — every
    // iteration otherwise re-plans (and a bare persist re-optimizes) the
    // edge subtree; blocks ride the caller's CheckpointPolicy
    val outdeg = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val withDeg = checkpoint.truncate(
      edges.join(outdeg, col("src") === outdeg("id"))
        .select(col("src"), col("dst"), col("deg")))
    locally {
      val n = ids.count()
      var ranks = ids.select(col("id"), lit(1.0 / n).as("rank"))
      for (_ <- 1 to iterations) {
        val contribs = ranks
          .join(withDeg, col("id") === col("src"))
          .select(col("dst").as("id"), (col("rank") / col("deg")).as("c"))
          .groupBy(col("id")).agg(sum(col("c")).as("c"))
        ranks = checkpoint.truncateLazy(
          ids.join(contribs, Seq("id"), "left")
            .select(col("id"),
              (lit(0.15 / n) + lit(0.85) * coalesce(col("c"), lit(0.0))).as("rank")))
      }
      checkpoint.truncate(
        ranks.select(col("id"), round(col("rank"), 6).as("rank")))
    }
  }

  /** Per-iteration PageRank HISTORY — (iter, id, rank) for iter ∈ 0..T,
    * rank UNROUNDED: the incremental-maintenance artifact
    * [[pageRankDelta]] reads boundary values from (storage T+1 rank
    * tables — the price of incrementality, the rank-table analogue of the
    * LSM keeping deltas). Same loop and plan shapes as [[pageRank]];
    * `history.filter(iter == T)` with round(6) equals [[pageRank]] row
    * for row.
    */
  def pageRankHistory(
      edges: DataFrame, nodes: DataFrame, iterations: Int = 3,
      checkpoint: graft.pipeline.CheckpointPolicy =
        graft.pipeline.CheckpointPolicy.Local): DataFrame = {
    require(iterations >= 1 && iterations <= 10, s"iterations=$iterations out of 1..10")
    val ids = checkpoint.truncate(nodes.select(col("id")))
    val outdeg = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val withDeg = checkpoint.truncate(
      edges.join(outdeg, col("src") === outdeg("id"))
        .select(col("src"), col("dst"), col("deg")))
    locally {
      val n = ids.count()
      var ranks = ids.select(col("id"), lit(1.0 / n).as("rank"))
      var frames = Seq(ranks.select(lit(0L).as("iter"), col("id"), col("rank")))
      for (t <- 1 to iterations) {
        val contribs = ranks
          .join(withDeg, col("id") === col("src"))
          .select(col("dst").as("id"), (col("rank") / col("deg")).as("c"))
          .groupBy(col("id")).agg(sum(col("c")).as("c"))
        ranks = checkpoint.truncateLazy(
          ids.join(contribs, Seq("id"), "left")
            .select(col("id"),
              (lit(0.15 / n) + lit(0.85) * coalesce(col("c"), lit(0.0))).as("rank")))
        frames :+= ranks.select(lit(t.toLong).as("iter"), col("id"), col("rank"))
      }
      checkpoint.truncate(frames.reduce(_.unionByName(_)))
    }
  }

  /** The vertices whose fixed-T PageRank can change under an edge diff —
    * the per-iteration affected frontier D_T. D_1 (the structural seed) =
    * dsts of added/deleted edges (their in-edge set changed) ∪ ALL v2
    * out-neighbours of diff sources (those sources' outdeg changed, so
    * their contribution changes at every out-edge); beyond the seed,
    * changed ranks propagate only along V2 edges:
    * D_t = D_1 ∪ out_v2(D_{t−1}). Exposed for the work-∝-diff spec pin
    * (a component the diff never reaches must not appear).
    */
  def pageRankAffected(
      newEdges: DataFrame, diff: DataFrame, iterations: Int): DataFrame = {
    val diffSrcs = diff.select(col("src")).distinct()
    val seed = diff.select(col("dst").as("id"))
      .unionByName(newEdges.join(diffSrcs, Seq("src"), "left_semi")
        .select(col("dst").as("id")))
      .distinct().persist()
    var d = seed
    for (_ <- 2 to iterations)
      d = seed.unionByName(
        newEdges.join(d.select(col("id").as("src")), Seq("src"), "left_semi")
          .select(col("dst").as("id"))).distinct()
    d
  }

  /** INCREMENTAL PageRank under an edge diff — the other nightly
    * recompute bill (kg67 covered canonicalization; this covers kg15's
    * rank table): fixed-T ranks of graph v2 from v1's
    * [[pageRankHistory]] plus the diff, ITERATING ONLY OVER THE AFFECTED
    * NEIGHBOURHOOD. Per iteration t the affected set D_t
    * ([[pageRankAffected]]) recomputes its ranks from v2 in-edges, with
    * in-neighbour values at t−1 read from the recomputed set where
    * changed and from v1's history where not (outside D_{t−1} the v1 and
    * v2 values are IDENTICAL by construction of D — not approximately:
    * the same multiset of contributions, so round(6) agrees with a fresh
    * run exactly, the kg15 determinism discipline). Unaffected vertices'
    * final ranks carry forward from history(T) through one anti-join,
    * never entering the loop.
    *
    * Work: the loop's joins and exchanges are ∝ the affected
    * neighbourhood's in-edges per iteration (semi-join prunes on both the
    * history read and the edge scan); the only graph-sized touches are
    * single-pass scans (outdeg aggregate, final anti-join) — never T×.
    * Contract: the node universe is unchanged (node add/remove ⇒ 1/N
    * itself changes globally — rebuild via [[pageRankHistory]]); diff
    * rows are (op ∈ {add, del}, src, dst), the kg67 convention.
    */
  def pageRankDelta(
      history: DataFrame,
      newEdges: DataFrame,
      diff: DataFrame,
      nodes: DataFrame,
      iterations: Int = 3,
      checkpoint: graft.pipeline.CheckpointPolicy =
        graft.pipeline.CheckpointPolicy.Local): DataFrame = {
    require(iterations >= 1 && iterations <= 10, s"iterations=$iterations out of 1..10")
    val spark = newEdges.sparkSession
    val diffSrcs = diff.select(col("src")).distinct()
    // seed (diff-sized) and degree-annotated v2 edges are read every
    // iteration — truncate once, like every loop-invariant frame
    val seed = checkpoint.truncate(
      diff.select(col("dst").as("id"))
        .unionByName(newEdges.join(diffSrcs, Seq("src"), "left_semi")
          .select(col("dst").as("id")))
        .distinct())
    val outdeg = newEdges.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val withDeg = checkpoint.truncate(
      newEdges.join(outdeg, col("src") === outdeg("id"))
        .select(col("src"), col("dst"), col("deg")))
    val iterCaches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      val n = nodes.count()
      // D_0 = ∅: at t=1 every in-neighbour value is history(0) = 1/n
      var changed = nodes.select(col("id"), lit(1.0 / n).as("rank")).limit(0)
      for (t <- 1 to iterations) {
        // dT and inE are each consumed TWICE below — persist them or the
        // affected-frontier subtree re-evaluates ~2× per reuse and the
        // delta path ends up slower than a fresh run (measured 14 s vs
        // 1.5 s at sf0.1 before these persists; 3-iteration frames are
        // diff-neighbourhood-sized, so the cache is small by design)
        val dT = seed.unionByName(
          withDeg.join(changed.select(col("id").as("src")), Seq("src"), "left_semi")
            .select(col("dst").as("id"))).distinct().persist()
        // v2 in-edges of the affected set; contributing sources take the
        // recomputed value where changed, v1 history elsewhere
        val inE = withDeg
          .join(dT.select(col("id").as("dst")), Seq("dst"), "left_semi").persist()
        iterCaches += dT
        iterCaches += inE
        val needSrcs = inE.select(col("src").as("id")).distinct()
        // one coalesce-join: the recomputed value wins, history fills in
        val prev = needSrcs
          .join(changed.withColumnRenamed("rank", "_rc"), Seq("id"), "left")
          .join(history.filter(col("iter") === (t - 1))
            .select(col("id"), col("rank").as("_rh")), Seq("id"), "left")
          .select(col("id"), coalesce(col("_rc"), col("_rh")).as("rank"))
        val contribs = inE.join(prev, inE("src") === prev("id"))
          .select(inE("dst").as("id"), (col("rank") / col("deg")).as("c"))
          .groupBy(col("id")).agg(sum(col("c")).as("c"))
        changed = checkpoint.truncateLazy(
          dT.join(contribs, Seq("id"), "left")
            .select(col("id"),
              (lit(0.15 / n) + lit(0.85) * coalesce(col("c"), lit(0.0))).as("rank")))
      }
      val untouched = history.filter(col("iter") === iterations)
        .select(col("id"), col("rank"))
        .join(changed.select(col("id")), Seq("id"), "left_anti")
      checkpoint.truncate(
        untouched.unionByName(changed)
          .select(col("id"), round(col("rank"), 6).as("rank")))
    } finally {
      iterCaches.foreach(_.unpersist())
    }
  }
}
