package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Cross-engine determinism trick: floats are snapped to an integer grid
  * (`round(x * 1000)` as BIGINT) BEFORE any arithmetic, so dot products are
  * exact integer sums — identical in Spark and the DuckDB oracle — and the
  * single final `dot / sqrt(na * nb)` double division is bit-reproducible.
  *
  * Baseline: brute-force top-k (query-set × corpus). Scale path: LSH
  * bucketing by sign-random-projection so candidates shrink from O(N) to
  * O(bucket) per query — same scoring, coarser recall, no full cross join.
  */
object EmbeddingOps {

  /** embedding → integer-grid vector column (array<bigint>). */
  private def gridCol = transform(col("embedding"),
    x => round(x.cast("double") * 1000).cast("long"))

  /** (vec_id, g, n): grid vector + squared norm, computed ONCE per vector —
    * never inside a pairwise join (norm recomputation per pair dominated
    * the first profile of these ops).
    */
  private[ops] def gridded(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), gridCol.as("g"))
      .withColumn("n", aggregate(col("g"), lit(0L), (acc, v) => acc + v * v))

  /** Brute-force cosine top-k: for each query vector (vec_id < nQueries),
    * the k nearest corpus vectors. Output (query_id, rank, neighbor_id,
    * cos) — cos rounded to 6 for stable formatting; ranking happens on the
    * exact value with neighbor-id tiebreak.
    */
  /** Exact cosine between two grid vectors with their precomputed squared
    * norms — the shared primitive-array kernel (one multiply-add per
    * element; ~100× the throughput of a per-pair `zip_with` plan).
    */
  private def cosKernel(a: Array[Long], na: Long, b: Array[Long], nb: Long): Double = {
    var dot = 0L
    var i = 0
    // zip to the SHORTER vector (ragged inputs must not read out of
    // bounds) — the same truncation semantics the SQL paths' slice guards
    // implement
    val n = math.min(a.length, b.length)
    while (i < n) { dot += a(i) * b(i); i += 1 }
    dot.toDouble / math.sqrt((na * nb).toDouble)
  }

  /** Hard ceiling on the broadcast query side of [[annBruteForce]]: beyond
    * this the "queries are tiny" contract is void — use [[annBucketed]].
    */
  val MaxBroadcastQueries = 4096

  def annBruteForce(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    require(nQueries <= MaxBroadcastQueries,
      s"annBruteForce broadcasts the query side; nQueries=$nQueries exceeds " +
        s"$MaxBroadcastQueries — use annBucketed (LSH) for large query sets")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val g = gridded(embeddings).as[(Long, Array[Long], Long)]
    // queries are the tiny side (bounded above) → broadcast them, stream the
    // corpus. Filter BEFORE the grid projection (Column filter, not a typed
    // lambda) so the vec_id predicate pushes into the parquet scan and the
    // query-collect job grids nQueries rows, not the whole corpus.
    val queries = spark.sparkContext.broadcast(
      gridded(embeddings.filter(col("vec_id") < nQueries))
        .as[(Long, Array[Long], Long)].collect().sortBy(_._1))
    val scored = g.mapPartitions { it =>
      val qs = queries.value
      it.flatMap { case (cid, cg, cn) =>
        qs.iterator.filter(_._1 != cid).map { case (qid, qg, qn) =>
          (qid, cid, cosKernel(qg, qn, cg, cn))
        }
      }
    }.toDF("query_id", "neighbor_id", "cos")

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos"), 6).as("cos"))
  }

  /** Near-duplicate pairs: all (a < b) with grid-cosine ≥ threshold —
    * EXACT all-pairs semantics (any exact near-dup is inherently O(N²)
    * work; the approximate scale path is [[annBucketed]]/[[srpBuckets]]).
    *
    * Distributed block-pair ("triangle") self-join: vectors hash into B
    * blocks by id; every unordered block pair (i ≤ j) becomes one group,
    * each vector replicated to its B groups; each group compares its two
    * block slices with the primitive-array kernel. Properties that hold at
    * 100×: NO driver collect, per-task memory bounded by 2·N/B vectors
    * (grow `blocks` with N), shuffle volume N·B rows, and B(B+1)/2
    * independent tasks — work distributes evenly because block membership
    * is hash-of-id, not data-dependent.
    */
  def nearDupPairs(embeddings: DataFrame, threshold: Double, blocks: Int = 16): DataFrame = {
    require(blocks >= 1 && blocks <= 1024, s"blocks=$blocks out of range")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val g = gridded(embeddings).as[(Long, Array[Long], Long)]
    val b = blocks
    val keyed = g.flatMap { case (id, vec, n) =>
      val bi = java.lang.Math.floorMod(id, b.toLong).toInt
      (0 until b).iterator.map { bj =>
        val lo = math.min(bi, bj)
        val hi = math.max(bi, bj)
        (lo * b + hi, bi, id, vec, n)
      }
    }
    keyed.groupByKey(_._1).flatMapGroups { (key, it) =>
      val lo = key / b
      val hi = key % b
      val loSide = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long], Long)]
      val hiSide = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long], Long)]
      it.foreach { case (_, bi, id, vec, n) =>
        if (bi == lo) loSide += ((id, vec, n)) else hiSide += ((id, vec, n))
      }
      if (lo == hi) {
        // within-block: all index pairs i < j, ordered output by id
        val arr = loSide.sortBy(_._1).toArray
        arr.indices.iterator.flatMap { i =>
          (i + 1 until arr.length).iterator.flatMap { j =>
            val (a, ga, na) = arr(i)
            val (c, gc, nc) = arr(j)
            val cos = cosKernel(ga, na, gc, nc)
            if (cos >= threshold) Iterator.single((a, c, cos)) else Iterator.empty
          }
        }
      } else {
        // cross-block: every lo-vector against every hi-vector; each
        // unordered pair lives in exactly one (lo, hi) group
        loSide.iterator.flatMap { case (x, gx, nx) =>
          hiSide.iterator.flatMap { case (y, gy, ny) =>
            val cos = cosKernel(gx, nx, gy, ny)
            if (cos >= threshold)
              Iterator.single((math.min(x, y), math.max(x, y), cos))
            else Iterator.empty
          }
        }
      }
    }.toDF("a", "b", "cos")
      .select(col("a"), col("b"), round(col("cos"), 6).as("cos"))
  }

  /** Sign-random-projection LSH bucket (the ANN scale path): bucket id =
    * bits of sign(v · h_p) for `nPlanes` deterministic hyperplanes drawn
    * from the md5 grid. Vectors in the same bucket are candidate
    * neighbours; per-bucket brute force replaces the full cross join.
    */
  /** Sign of hyperplane `p` at dimension `i`: parity of the md5-hex-prefix
    * hash of "p:i" — the spec the DuckDB oracle reproduces per element.
    */
  def srpSign(p: Int, i: Int): Long =
    if ((TextOps.md5Hash60(s"$p:$i") & 1L) == 1L) 1L else -1L

  /** SRP bucket as a single Column over a grid column `g` — composable
    * into the same projection that computes the grid (no self-join).
    */
  private def srpBucketExpr(nPlanes: Int, dims: Int): org.apache.spark.sql.Column = {
    // signs depend only on (plane, index) — precompute per-plane ±1 vectors
    // on the driver and inline them as array literals, instead of hashing
    // md5("p:i") once per ELEMENT PER ROW inside the plan
    // slice BOTH ways: shorter vectors must not zip against null, and a
    // vector LONGER than dims must truncate to the dims-dimensional
    // hyperplane basis — unguarded, zip_with would null-pad the signs,
    // null-poison every plane sum, and silently funnel all over-length
    // vectors into one bucket
    val gS = slice(col("g"), lit(1), lit(dims))
    val bits = (0 until nPlanes).map { p =>
      val signs = array((0 until dims).map(i => lit(srpSign(p, i))): _*)
      val s = aggregate(
        zip_with(gS, slice(signs, lit(1), size(gS)), (x, sg) => x * sg),
        lit(0L), (acc, v) => acc + v)
      (s > 0).cast("int")
    }
    concat_ws("", bits: _*)
  }

  def srpBuckets(embeddings: DataFrame, nPlanes: Int, dims: Int = 64): DataFrame =
    embeddings.select(col("vec_id"), gridCol.as("g"))
      .withColumn("bucket", srpBucketExpr(nPlanes, dims))
      .select(col("vec_id"), col("bucket"))

  /** Cosine top-k restricted to equal values of `keyCol` — the shared
    * engine of the two approximate scale paths ([[annBucketed]] LSH,
    * [[annIvf]] IVF). ONE shuffle (groupByKey on the blocking key), then a
    * primitive-array kernel per group with a bounded per-query top-k
    * buffer — ~100× the per-pair throughput of the equivalent
    * join + `zip_with` plan, no ranking-window sort, and no
    * candidate-pair materialization. Per-task memory = the group's
    * vectors (≤ N/K · dims · 8 B); pick K ≈ √N so it stays bounded.
    * Ordering parity with the SQL oracle: exact integer dot / IEEE sqrt,
    * ties broken by ascending neighbor id.
    */
  private[ops] def annWithinKey(g: DataFrame, keyCol: String, k: Int): DataFrame = {
    val spark = g.sparkSession
    import spark.implicits._
    val grouped = g.select(col(keyCol).cast("string").as("key"),
      col("vec_id"), col("g"), col("n"))
      .as[(String, Long, Array[Long], Long)]
      .groupByKey(_._1)
    grouped.flatMapGroups { (_, it) =>
      val arr = it.toArray.sortBy(_._2)
      val m = arr.length
      val out = Vector.newBuilder[(Long, Int, Long, Double)]
      var i = 0
      while (i < m) {
        val (_, qid, qg, qn) = arr(i)
        val topCos = new Array[Double](k)
        val topId = new Array[Long](k)
        var filled = 0
        var j = 0
        while (j < m) {
          if (j != i) {
            val (_, cid, cg, cn) = arr(j)
            val cos = cosKernel(qg, qn, cg, cn)
            // insertion position by (cos desc, id asc)
            var pos = filled
            while (pos > 0 &&
              (cos > topCos(pos - 1) || (cos == topCos(pos - 1) && cid < topId(pos - 1)))) pos -= 1
            if (pos < k) {
              var t = math.min(filled, k - 1)
              while (t > pos) { topCos(t) = topCos(t - 1); topId(t) = topId(t - 1); t -= 1 }
              topCos(pos) = cos
              topId(pos) = cid
              if (filled < k) filled += 1
            }
          }
          j += 1
        }
        var r = 0
        while (r < filled) { out += ((qid, r + 1, topId(r), topCos(r))); r += 1 }
        i += 1
      }
      out.result().iterator
    }.toDF("query_id", "rank", "neighbor_id", "cos")
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos"), 6).as("cos"))
  }

  /** Bucketed ANN: brute force within SRP buckets only. The bucket is
    * computed in the SAME projection as the grid (no self-join back to the
    * table): the whole op is scan → project → one groupByKey exchange —
    * plan-guarded in OpsSpec.
    */
  def annBucketed(embeddings: DataFrame, nPlanes: Int, k: Int, dims: Int = 64): DataFrame =
    annWithinKey(
      gridded(embeddings).withColumn("bucket", srpBucketExpr(nPlanes, dims)),
      "bucket", k)

  // ------------------------------------------------------------ multi-probe

  /** Shared multi-probe engine: `rows` = (probe key, vec_id, grid, norm,
    * isQuery). Every vector appears ONCE as corpus (its own bucket/cell)
    * and once as query per probed key, so each (query, corpus) pair within
    * the probe set meets in exactly one group. Per group, each query scans
    * the group's corpus slice with the primitive-array kernel and keeps a
    * bounded top-k; the global re-rank merges the per-probe top-ks (the
    * global top-k is contained in their union). Shuffle: O(vectors ×
    * (1 + probes)) rows in, O(queries × probes × k) candidates out.
    */
  private def multiProbeSearch(
      rows: org.apache.spark.sql.Dataset[(String, Long, Array[Long], Long, Boolean)],
      k: Int): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val candidates = rows.groupByKey(_._1).flatMapGroups { (_, it) =>
      val all = it.toArray
      val corpus = all.filter(!_._5).sortBy(_._2)
      val queries = all.filter(_._5)
      val out = Vector.newBuilder[(Long, Long, Double)]
      queries.foreach { case (_, qid, qg, qn, _) =>
        val topCos = new Array[Double](k)
        val topId = new Array[Long](k)
        var filled = 0
        var j = 0
        while (j < corpus.length) {
          val (_, cid, cg, cn, _) = corpus(j)
          if (cid != qid) {
            val cos = cosKernel(qg, qn, cg, cn)
            var pos = filled
            while (pos > 0 &&
              (cos > topCos(pos - 1) || (cos == topCos(pos - 1) && cid < topId(pos - 1)))) pos -= 1
            if (pos < k) {
              var t = math.min(filled, k - 1)
              while (t > pos) { topCos(t) = topCos(t - 1); topId(t) = topId(t - 1); t -= 1 }
              topCos(pos) = cos
              topId(pos) = cid
              if (filled < k) filled += 1
            }
          }
          j += 1
        }
        var r = 0
        while (r < filled) { out += ((qid, topId(r), topCos(r))); r += 1 }
      }
      out.result().iterator
    }.toDF("query_id", "neighbor_id", "cos")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    candidates.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos"), 6).as("cos"))
  }

  /** All bucket strings within Hamming distance ≤ maxHamming of `b`
    * (including `b` itself) — the probe set of classic multi-probe LSH.
    */
  def hammingBall(b: String, maxHamming: Int): Seq[String] = {
    def flip(s: String, i: Int): String =
      s.substring(0, i) + (if (s.charAt(i) == '1') '0' else '1') + s.substring(i + 1)
    val h1 = b.indices.map(flip(b, _))
    maxHamming match {
      case 0 => Seq(b)
      case 1 => b +: h1
      case 2 => (b +: h1) ++ (for {
        i <- b.indices; j <- (i + 1) until b.length
      } yield flip(flip(b, i), j))
      case _ => throw new IllegalArgumentException(s"maxHamming=$maxHamming not in 0..2")
    }
  }

  /** Multi-probe SRP ANN — the recall control [[annBucketed]] lacks: each
    * query probes every bucket within Hamming distance `maxHamming` of its
    * own (near-boundary neighbours land in adjacent buckets — exactly one
    * flipped sign bit away). Probes scan (1 + nPlanes [+ C(nPlanes,2)]) of
    * the 2^nPlanes buckets ≈ a tunable corpus fraction; recall@5 vs the
    * exact [[annBruteForce]] oracle is measured in OpsSpec (clustered
    * corpus) and BENCH/BASELINE.md (isotropic sf tables).
    */
  def annMultiProbe(
      embeddings: DataFrame, nPlanes: Int, k: Int,
      maxHamming: Int = 1, dims: Int = 64): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val base = gridded(embeddings).withColumn("bucket", srpBucketExpr(nPlanes, dims))
      .select(col("vec_id"), col("g"), col("n"), col("bucket"))
      .as[(Long, Array[Long], Long, String)]
    val rows = base.flatMap { case (id, v, n, b) =>
      (b, id, v, n, false) +: hammingBall(b, maxHamming).map(pb => (pb, id, v, n, true))
    }
    multiProbeSearch(rows, k)
  }

  /** IVF ANN with `nprobe` > 1: each query searches its `nprobe` nearest
    * cells (corpus membership stays the single nearest cell). The cell
    * ranking reuses the exact integer-distance argmin of [[ivfAssign]].
    */
  def annIvfMultiProbe(
      embeddings: DataFrame, cells: Int = IvfCells, k: Int,
      nprobe: Int = 2, dims: Int = 64): DataFrame = {
    require(nprobe >= 1 && nprobe <= cells, s"nprobe=$nprobe out of range 1..$cells")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val ranked = ivfCellsRankedExpr(cells, dims)
    val base = gridded(embeddings).withColumn("cells", ranked)
      .select(col("vec_id"), col("g"), col("n"), col("cells"))
      .as[(Long, Array[Long], Long, Seq[Int])]
    val rows = base.flatMap { case (id, v, n, cs) =>
      (cs.head.toString, id, v, n, false) +:
        cs.take(nprobe).map(c => (c.toString, id, v, n, true))
    }
    multiProbeSearch(rows, k)
  }

  // ------------------------------------------------------------------ IVF

  /** IVF-style ANN — the other classic scale path besides LSH: K
    * deterministic centroids partition the corpus into cells (nearest
    * centroid by exact integer distance); searches probe the query's own
    * cell (nprobe = 1). Candidates shrink ~N/K per query.
    */
  val IvfCells = 8

  /** Centroid k: deterministic md5-grid vector, components in [-1000, 1000]
    * — the same spec the DuckDB oracle inlines as list literals.
    */
  def ivfCentroid(k: Int, dims: Int = 64): Array[Long] =
    Array.tabulate(dims)(i => (TextOps.md5Hash60(s"c$k:$i") % 2001L) - 1000L)

  /** (vec_id, cell): nearest centroid by squared euclidean distance on the
    * grid — argmin_k (|c_k|² − 2·g·c_k), |g|² being constant per row; ties
    * break to the lowest k (sort_array-of-structs argmin, all columnar,
    * zero shuffle). Centroids sliced to the row's length so short vectors
    * never zip against null.
    */
  /** Cell-assignment Column over a grid column `g` — composable into the
    * same projection that computes the grid (no self-join).
    */
  /** All cell ids ranked by exact integer distance (nearest first) — the
    * probe order of [[annIvfMultiProbe]]; element 0 is the assignment.
    */
  private def ivfCellsRankedExprWith(
      cents: Array[Array[Long]]): org.apache.spark.sql.Column = {
    // both-ways slice, as in srpBucketExpr: over-length vectors truncate
    // to the centroids' dims instead of null-poisoning every distance
    val gS = slice(col("g"), lit(1), lit(cents(0).length))
    val scored = cents.indices.map { k =>
      val cSliced = slice(array(cents(k).map(lit(_)): _*), lit(1), size(gS))
      val dot = aggregate(zip_with(gS, cSliced, (x, y) => x * y),
        lit(0L), (acc, v) => acc + v)
      val norm = aggregate(cSliced, lit(0L), (acc, v) => acc + v * v)
      struct((norm - dot * 2).as("d"), lit(k).as("k"))
    }
    transform(sort_array(array(scored: _*), asc = true), s => s.getField("k"))
  }

  private def ivfCellsRankedExpr(cells: Int, dims: Int): org.apache.spark.sql.Column =
    ivfCellsRankedExprWith(Array.tabulate(cells)(ivfCentroid(_, dims)))

  private def ivfCellExpr(cells: Int, dims: Int): org.apache.spark.sql.Column =
    ivfCellsRankedExpr(cells, dims).getItem(0)

  def ivfAssign(embeddings: DataFrame, cells: Int = IvfCells, dims: Int = 64): DataFrame =
    embeddings.select(col("vec_id"), gridCol.as("g"))
      .withColumn("cell", ivfCellExpr(cells, dims))
      .select(col("vec_id"), col("cell"))

  /** IVF ANN: brute force within the query's cell only. Like
    * [[annBucketed]], the cell is computed inline — scan → project → one
    * groupByKey exchange.
    */
  def annIvf(embeddings: DataFrame, cells: Int = IvfCells, k: Int, dims: Int = 64): DataFrame =
    annWithinKey(
      gridded(embeddings).withColumn("cell", ivfCellExpr(cells, dims)),
      "cell", k)

  // ------------------------------------------------- product quantization
  // (emb09): the memory side of the canonical IVF+PQ ANN stack (Jégou,
  // Douze & Schmid, "Product quantization for nearest neighbor search",
  // TPAMI 2011). Vectors compress to M small codes (one per subspace);
  // queries score the WHOLE corpus through an M×K lookup table (asymmetric
  // distance, ADC) instead of touching raw vectors — at 100 TB the corpus
  // codes are ~64× smaller than the embeddings and the scan is
  // table-lookups, not multiply-adds. Codewords are deterministic md5-grid
  // vectors and every distance is an exact integer sum, so the DuckDB
  // oracle reproduces codes, ADC distances and the final ranking exactly.

  val PqM = 8      // subspaces
  val PqSubDim = 8 // dims per subspace (PqM × PqSubDim = 64)
  val PqK = 4      // codewords per subspace

  /** Codeword (m, k): deterministic md5-grid subvector in [-1000, 1000]. */
  def pqCodeword(m: Int, k: Int): Array[Long] =
    Array.tabulate(PqSubDim)(i => (TextOps.md5Hash60(s"pq$m:$k:$i") % 2001L) - 1000L)

  /** Column: exact integer distance of grid subvector m to codeword (m,k)
    * (codeword sliced to the subvector length — ragged guard). `src` is
    * the vector column to encode — the raw grid by default, a residual
    * for the IVFADC path.
    */
  private def pqSubDistExpr(
      m: Int, k: Int,
      src: org.apache.spark.sql.Column = col("g"),
      codebook: (Int, Int) => Array[Long] = pqCodeword): org.apache.spark.sql.Column = {
    val sub = slice(src, lit(m * PqSubDim + 1), lit(PqSubDim))
    val cS = slice(array(codebook(m, k).map(lit(_)): _*), lit(1), size(sub))
    aggregate(zip_with(sub, cS, (x, y) => (x - y) * (x - y)), lit(0L), (a, v) => a + v)
  }

  /** Column: subspace m's code = argmin over codewords (ties → lowest k). */
  private def pqCodeExpr(
      m: Int,
      src: org.apache.spark.sql.Column = col("g"),
      codebook: (Int, Int) => Array[Long] = pqCodeword): org.apache.spark.sql.Column =
    transform(sort_array(array((0 until PqK).map(k =>
      struct(pqSubDistExpr(m, k, src, codebook).as("d"), lit(k).as("k"))): _*), asc = true),
      s => s.getField("k")).getItem(0)

  /** (vec_id, code): M-code PQ encoding — one zero-shuffle projection. */
  def pqEncode(embeddings: DataFrame): DataFrame =
    gridded(embeddings)
      .select(col("vec_id"), array((0 until PqM).map(m => pqCodeExpr(m)): _*).as("code"))

  /** ADC top-k: each query precomputes its M×K distance table (driver-side
    * from the SAME integer arithmetic, bounded by [[MaxBroadcastQueries]]),
    * the corpus streams its CODES through a broadcast lookup — the
    * [[annBruteForce]] shape, but each comparison is M table lookups on an
    * M-byte code instead of a dims-long multiply-add.
    */
  def annPq(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    require(nQueries <= MaxBroadcastQueries,
      s"annPq broadcasts the query tables; nQueries=$nQueries exceeds $MaxBroadcastQueries")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val queries = gridded(embeddings.filter(col("vec_id") < nQueries))
      .select(col("vec_id"), col("g")).as[(Long, Array[Long])].collect().sortBy(_._1)
      .map { case (qid, g) =>
        val dtab = Array.tabulate(PqM, PqK) { (m, kk) =>
          val cw = pqCodeword(m, kk)
          var d = 0L
          var i = 0
          val n = math.min(PqSubDim, math.max(g.length - m * PqSubDim, 0))
          while (i < n) {
            val diff = g(m * PqSubDim + i) - cw(i)
            d += diff * diff
            i += 1
          }
          d
        }
        (qid, dtab)
      }
    val qBc = spark.sparkContext.broadcast(queries)
    val scored = pqEncode(embeddings).as[(Long, Array[Int])]
      .mapPartitions { it =>
        val qs = qBc.value
        it.flatMap { case (vid, code) =>
          qs.iterator.filter(_._1 != vid).map { case (qid, dtab) =>
            var adc = 0L
            var m = 0
            while (m < PqM) { adc += dtab(m)(code(m)); m += 1 }
            (qid, vid, adc)
          }
        }
      }.toDF("query_id", "neighbor_id", "adc_dist")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("adc_dist"))
  }

  /** Per-dimension SQ8 statistics over the corpus grid: (min, span) per
    * dimension from ONE tiny map-side-combined aggregate (64 groups); the
    * collect is bounded by the DIMS parameter, never data-sized.
    */
  def sq8Stats(embeddings: DataFrame, dims: Int = 64): (Array[Long], Array[Long]) = {
    val rows = gridded(embeddings)
      .select(posexplode(slice(col("g"), 1, dims)).as(Seq("i", "x")))
      .groupBy(col("i")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect()
    val n = rows.map(_.getInt(0)).max + 1
    val mn = new Array[Long](n)
    val span = new Array[Long](n)
    rows.foreach { r =>
      mn(r.getInt(0)) = r.getLong(1)
      span(r.getInt(0)) = r.getLong(2) - r.getLong(1)
    }
    (mn, span)
  }

  /** SQ8 SCALAR QUANTIZATION (emb14): each dimension is affinely mapped to
    * an 8-bit level `code = ⌊(x − min_d)·255 / span_d⌋` under per-dim
    * corpus (min, max) — the memory tier BELOW product quantization
    * (1 byte/dim, no codebook training) that real vector stores ship as
    * their default compression. Query-time distance is asymmetric: the
    * uncompressed query against the DEQUANTIZED corpus levels
    * `recon = min_d·255 + code·span_d` on a ×255 common integer scale, so
    * every code, reconstruction and distance is an exact integer and the
    * oracle replays the ranking verbatim (the emb09 discipline; the
    * floor-of-double division is exact here because the true quotient is
    * ≥ 1/span > 2⁻¹¹ away from any integer it doesn't equal, far beyond
    * double rounding at these magnitudes).
    *
    * Scale shape: stats are one 64-group aggregate; corpus encode is a
    * zero-shuffle projection reading codes only (raw vectors never flow
    * into the scan); queries broadcast (bounded by
    * [[MaxBroadcastQueries]]); the only exchange is the top-k window on
    * (query_id) — identical to [[annPq]].
    */
  def annSq8(embeddings: DataFrame, nQueries: Int, k: Int, dims: Int = 64): DataFrame = {
    require(nQueries <= MaxBroadcastQueries,
      s"annSq8 broadcasts the query side; nQueries=$nQueries exceeds $MaxBroadcastQueries")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val (mn, span) = sq8Stats(embeddings, dims)
    val queries = gridded(embeddings.filter(col("vec_id") < nQueries))
      .select(col("vec_id"), slice(col("g"), 1, dims).as("g"))
      .as[(Long, Array[Long])].collect().sortBy(_._1)
      .map { case (qid, g) => (qid, g.map(_ * 255L)) }
    val statsBc = spark.sparkContext.broadcast((mn, span))
    val qBc = spark.sparkContext.broadcast(queries)
    val scored = gridded(embeddings)
      .select(col("vec_id"), slice(col("g"), 1, dims).as("g"))
      .as[(Long, Array[Long])]
      .mapPartitions { it =>
        val (mnA, spanA) = statsBc.value
        val qs = qBc.value
        it.flatMap { case (vid, g) =>
          // stored representation: the 8-bit levels (encode once per row)
          val nD = math.min(g.length, mnA.length)
          val recon = new Array[Long](nD)
          var i = 0
          while (i < nD) {
            val c = if (spanA(i) == 0L) 0L
              else math.floor(((g(i) - mnA(i)) * 255L).toDouble / spanA(i)).toLong
            recon(i) = mnA(i) * 255L + c * spanA(i)
            i += 1
          }
          qs.iterator.filter(_._1 != vid).map { case (qid, q255) =>
            var d = 0L
            var j = 0
            val nn = math.min(nD, q255.length)
            while (j < nn) {
              val diff = q255(j) - recon(j)
              d += diff * diff
              j += 1
            }
            (qid, vid, d)
          }
        }
      }.toDF("query_id", "neighbor_id", "sq_dist")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sq_dist").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("sq_dist"))
  }

  /** MAXSIM late-interaction scoring (the ColBERT retrieval shape,
    * Khattab & Zaharia 2020): each vector is treated as a BAG of `tokens`
    * sub-vectors (contiguous dims/tokens-dim slices of the stored
    * embedding — the layout a multi-vector encoder would store), and
    * score(q, d) = Σ_i max_j ⟨q_i, d_j⟩ — every query token matches its
    * best document token, matches summed. Grid-integer dot products keep
    * the whole score BIGINT-exact (no cosine division), so ranking is
    * bit-reproducible cross-engine.
    *
    * Scale shape: identical to [[annBruteForce]] — queries broadcast
    * (bounded by [[MaxBroadcastQueries]]), one zero-shuffle corpus pass
    * with a primitive-array kernel (M² sub-dots per pair costs exactly
    * one full-dim dot), one top-k window exchange on query_id. The
    * IVF/PQ tiers compose in front unchanged (shortlist by pooled
    * single-vector ANN, MaxSim-rerank the shortlist) — this op IS that
    * rerank stage.
    */
  def annMaxSim(
      embeddings: DataFrame, nQueries: Int, k: Int, tokens: Int = 4): DataFrame = {
    require(nQueries <= MaxBroadcastQueries,
      s"annMaxSim broadcasts the query side; nQueries=$nQueries exceeds $MaxBroadcastQueries")
    require(tokens >= 1 && tokens <= 64, s"tokens=$tokens out of 1..64")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val g = gridded(embeddings).select(col("vec_id"), col("g")).as[(Long, Array[Long])]
    val queries = spark.sparkContext.broadcast(
      gridded(embeddings.filter(col("vec_id") < nQueries))
        .select(col("vec_id"), col("g")).as[(Long, Array[Long])]
        .collect().sortBy(_._1))
    val m = tokens
    val scored = g.mapPartitions { it =>
      val qs = queries.value
      it.flatMap { case (cid, cg) =>
        qs.iterator.filter(_._1 != cid).map { case (qid, qg) =>
          val sub = math.min(qg.length, cg.length) / m
          var total = 0L
          var i = 0
          while (i < m) {
            var best = Long.MinValue
            var j = 0
            while (j < m) {
              var dot = 0L
              var t = 0
              while (t < sub) { dot += qg(i * sub + t) * cg(j * sub + t); t += 1 }
              if (dot > best) best = dot
              j += 1
            }
            total += best
            i += 1
          }
          (qid, cid, total)
        }
      }
    }.toDF("query_id", "neighbor_id", "score")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("score"))
  }

  /** FILTERED ANN — vector search under a metadata predicate, here "same
    * `label` as the query" (the tenant/category/language isolation shape
    * every production vector store serves): each query ranks only corpus
    * vectors sharing its label, exact cosine top-k within the filtered
    * set. Post-filtering a plain top-k is WRONG at low selectivity (k
    * survivors may not exist); this is pre-filtering — candidates are
    * restricted BEFORE ranking, so k results surface whenever the
    * filtered set has k members.
    *
    * Scale shape: queries broadcast grouped by label; the corpus pass
    * scores each row against only its own label's query list (hash-map
    * lookup, zero work for unmatched labels — at a real deployment the
    * label is a partition column and the scan prunes to matching
    * partitions); one top-k window. No exchange beyond the window.
    */
  def annFiltered(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    require(nQueries <= MaxBroadcastQueries,
      s"annFiltered broadcasts the query side; nQueries=$nQueries exceeds $MaxBroadcastQueries")
    val spark = embeddings.sparkSession
    import spark.implicits._
    def withLabel(df: DataFrame) =
      df.select(col("vec_id"), col("label").cast("int").as("label"), gridCol.as("g"))
        .withColumn("n", aggregate(col("g"), lit(0L), (acc, v) => acc + v * v))
        .as[(Long, Int, Array[Long], Long)]
    val queries = spark.sparkContext.broadcast(
      withLabel(embeddings.filter(col("vec_id") < nQueries))
        .collect().sortBy(_._1).groupBy(_._2))
    val scored = withLabel(embeddings).mapPartitions { it =>
      val byLabel = queries.value
      it.flatMap { case (cid, lbl, cg, cn) =>
        byLabel.getOrElse(lbl, Array.empty[(Long, Int, Array[Long], Long)])
          .iterator.filter(_._1 != cid).map { case (qid, _, qg, qn) =>
            (qid, cid, cosKernel(qg, qn, cg, cn))
          }
      }
    }.toDF("query_id", "neighbor_id", "cos")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("cos"), 6).as("cos"))
  }

  /** MATRYOSHKA two-stage ANN (Kusupati et al. 2022 representation
    * shape): stage 1 scores the corpus on only the FIRST `prefixDims`
    * dimensions — an MRL-trained embedding packs most of the signal
    * there, and the scan-side projection (`slice` before gridding) means
    * the coarse pass READS prefix bytes only, a dims/prefixDims bandwidth
    * cut on the dominant full-corpus stage; stage 2 joins the raw vectors
    * back for ONLY the per-query `shortlist` survivors and reranks with
    * the exact full-dim cosine. Both stages integer-grid-exact; shortlist
    * membership (not order) is what stage 2 consumes, and coarse ties
    * break on neighbor_id so the shortlist is deterministic.
    *
    * Scale shape: coarse = broadcast queries × one narrow corpus pass +
    * one top-R window; rerank = one shortlist-sized join (R·nQueries
    * rows) against the full-width table + one top-k window. No
    * full-width cross join anywhere.
    */
  def annMatryoshka(
      embeddings: DataFrame, nQueries: Int, k: Int,
      prefixDims: Int = 16, shortlist: Int = 20): DataFrame = {
    require(nQueries <= MaxBroadcastQueries,
      s"annMatryoshka broadcasts the query side; nQueries=$nQueries exceeds $MaxBroadcastQueries")
    require(shortlist >= k, s"shortlist=$shortlist must be ≥ k=$k")
    val spark = embeddings.sparkSession
    import spark.implicits._
    // coarse pass: slice BEFORE gridding — the stored prefix is all the
    // stage reads (column-pruned at a real column store)
    val prefix = embeddings.select(col("vec_id"),
      slice(col("embedding"), 1, prefixDims).as("embedding"))
    val gP = gridded(prefix).as[(Long, Array[Long], Long)]
    val qP = spark.sparkContext.broadcast(
      gridded(prefix.filter(col("vec_id") < nQueries))
        .as[(Long, Array[Long], Long)].collect().sortBy(_._1))
    val coarse = gP.mapPartitions { it =>
      val qs = qP.value
      it.flatMap { case (cid, cg, cn) =>
        qs.iterator.filter(_._1 != cid).map { case (qid, qg, qn) =>
          (qid, cid, cosKernel(qg, qn, cg, cn))
        }
      }
    }.toDF("query_id", "neighbor_id", "ccos")
    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("neighbor_id").asc)
    val short = coarse.withColumn("rn", row_number().over(wS))
      .filter(col("rn") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    // rerank: full-width vectors for shortlist rows only
    val qF = spark.sparkContext.broadcast(
      gridded(embeddings.filter(col("vec_id") < nQueries))
        .as[(Long, Array[Long], Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap)
    val joined = short
      .join(gridded(embeddings).withColumnRenamed("vec_id", "neighbor_id"),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("g"), col("n"))
      .as[(Long, Long, Array[Long], Long)]
    val exact = joined.mapPartitions { it =>
      val qs = qF.value
      it.map { case (qid, cid, cg, cn) =>
        val (qg, qn) = qs(qid)
        (qid, cid, cosKernel(qg, qn, cg, cn))
      }
    }.toDF("query_id", "neighbor_id", "cos")
    val wK = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    exact.withColumn("rank", row_number().over(wK))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("cos"), 6).as("cos"))
  }

  /** The FULL IVF+PQ stack (emb10): the coarse quantizer prunes each
    * query's candidates to its `nprobe` nearest cells (~N·nprobe/cells),
    * and PQ asymmetric distance ranks those candidates through the M×K
    * lookup table — at 100 TB the scan touches M-byte codes of a cell
    * subset, never raw vectors of the corpus. Corpus side is ONE
    * zero-shuffle projection (cell + code in the same select); query side
    * is a driver-built (probe-set, distance-table) broadcast, bounded by
    * [[MaxBroadcastQueries]]. Integer-exact end to end (cell argmin, codes,
    * ADC sums), so the oracle reproduces the ranking verbatim.
    */
  def annIvfPq(
      embeddings: DataFrame, cells: Int = IvfCells, k: Int,
      nQueries: Int = 10, nprobe: Int = 1, dims: Int = 64): DataFrame = {
    require(nQueries <= MaxBroadcastQueries,
      s"annIvfPq broadcasts the query tables; nQueries=$nQueries exceeds $MaxBroadcastQueries")
    require(nprobe >= 1 && nprobe <= cells, s"nprobe=$nprobe out of 1..$cells")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val corpus = gridded(embeddings)
      .select(col("vec_id"), ivfCellExpr(cells, dims).cast("int").as("cell"),
        array((0 until PqM).map(m => pqCodeExpr(m)): _*).as("code"))
      .as[(Long, Int, Array[Int])]
    val qs = gridded(embeddings.filter(col("vec_id") < nQueries))
      .select(col("vec_id"), col("g"),
        ivfCellsRankedExpr(cells, dims).as("ranked"))
      .as[(Long, Array[Long], Array[Int])].collect().sortBy(_._1)
      .map { case (qid, g, ranked) =>
        val probe = ranked.take(nprobe).toSet
        val dtab = Array.tabulate(PqM, PqK) { (m, kk) =>
          val cw = pqCodeword(m, kk)
          var d = 0L
          var i = 0
          val n = math.min(PqSubDim, math.max(g.length - m * PqSubDim, 0))
          while (i < n) {
            val diff = g(m * PqSubDim + i) - cw(i)
            d += diff * diff
            i += 1
          }
          d
        }
        (qid, probe, dtab)
      }
    val qBc = spark.sparkContext.broadcast(qs)
    val scored = corpus.mapPartitions { it =>
      val queries = qBc.value
      it.flatMap { case (vid, cell, code) =>
        queries.iterator
          .filter { case (qid, probe, _) => qid != vid && probe.contains(cell) }
          .map { case (qid, _, dtab) =>
            var adc = 0L
            var m = 0
            while (m < PqM) { adc += dtab(m)(code(m)); m += 1 }
            (qid, vid, adc)
          }
      }
    }.toDF("query_id", "neighbor_id", "adc_dist")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("adc_dist"))
  }

  /** ADC shortlist + EXACT rerank (emb12) — the refinement step every
    * production PQ deployment runs: the IVF+PQ stack ranks a SHORTLIST of
    * `rerank` candidates per query through the cheap code-only ADC scan
    * ([[annIvfPq]]), then ONLY those nQueries×rerank rows read their raw
    * grid vectors for an exact integer L2 rerank — at 100 TB the corpus
    * is touched through M-byte codes, and full vectors are fetched for a
    * parameter-bounded shortlist (both joins broadcast the tiny side, so
    * the corpus never shuffles). Integer-exact end to end; the oracle
    * reruns the ADC CTEs, takes the same shortlist, and reranks it with
    * the same exact distance.
    */
  def annIvfPqRerank(
      embeddings: DataFrame, cells: Int = IvfCells, k: Int,
      nQueries: Int = 10, nprobe: Int = 1, rerank: Int = 20,
      dims: Int = 64): DataFrame = {
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    val shortlist = annIvfPq(embeddings, cells, rerank, nQueries, nprobe, dims)
      .select(col("query_id"), col("neighbor_id"))
    val corpus = gridded(embeddings).select(col("vec_id").as("neighbor_id"), col("g"))
    val queries = gridded(embeddings.filter(col("vec_id") < nQueries))
      .select(col("vec_id").as("query_id"), col("g").as("qg"))
    val n = least(size(col("g")), size(col("qg"))) // ragged guard
    val exact = corpus.join(broadcast(shortlist), "neighbor_id")
      .join(broadcast(queries), "query_id")
      .withColumn("d_exact",
        aggregate(zip_with(slice(col("g"), lit(1), n), slice(col("qg"), lit(1), n),
          (x, y) => (x - y) * (x - y)), lit(0L), (a, v) => a + v))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("d_exact").asc, col("neighbor_id").asc)
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("d_exact"))
  }

  /** IVFADC — [[annIvfPq]] with RESIDUAL encoding, the canonical stack's
    * actual recipe (Jégou et al. §IV): PQ-encode `x − c(cell(x))`, not
    * `x`, with the codebook TRAINED on those residuals — the coarse term
    * of the distance is handled exactly by cell selection, so the (small)
    * codebook only has to cover the residual spread. Training is one
    * Lloyd step per subspace over the corpus residuals, exactly the
    * [[kmeansRefine]] discipline: seed with the md5 codewords, assign
    * in-plan, average per (subspace, code, dim) with HALF_UP `round` IN
    * the plan (so the rounding rule is the engines', not the JVM's), and
    * collect only M×K×subdim codebook values — parameter-bounded. (The
    * untrained-fixed-codebook variant was measured WORSE than raw PQ —
    * random [-1000,1000] codewords are mismatched to the tighter residual
    * spread — which is exactly why the canonical stack trains; OpsSpec
    * pins trained-residual recall ≥ raw PQ at equal M.)
    *
    * Everything stays integer-exact (residuals are grid differences,
    * trained codewords are rounded averages of integers, ADC sums are
    * integer), so the DuckDB oracle re-derives training, codes and
    * ranking verbatim. Corpus side: ONE persisted zero-shuffle
    * (cell, residual) projection feeds both the training aggregate and
    * the code projection. Query side: one M×K table per (query, probed
    * cell) — nprobe× emb10's table budget, still parameter-bounded.
    */
  def annIvfPqResidual(
      embeddings: DataFrame, cells: Int = IvfCells, k: Int,
      nQueries: Int = 10, nprobe: Int = 1, dims: Int = 64,
      coarseIterations: Int = 0,
      trainIterations: Int = 1,
      checkpoint: graft.pipeline.CheckpointPolicy =
        graft.pipeline.CheckpointPolicy.Local): DataFrame = {
    require(trainIterations >= 1 && trainIterations <= 8,
      s"trainIterations=$trainIterations out of 1..8")
    require(coarseIterations >= 0 && coarseIterations <= 8,
      s"coarseIterations=$coarseIterations out of 0..8")
    require(nQueries <= MaxBroadcastQueries,
      s"annIvfPqResidual broadcasts the query tables; nQueries=$nQueries exceeds $MaxBroadcastQueries")
    require(nprobe >= 1 && nprobe <= cells, s"nprobe=$nprobe out of 1..$cells")
    val spark = embeddings.sparkSession
    import spark.implicits._

    // COARSE training (Lloyd on the cell centroids, integer-rounded means
    // — the kmeansRefine discipline on the g scale): residuals only
    // shrink when the coarse quantizer actually fits the data; with the
    // fixed md5 centroids a 64-dim residual is a difference of two
    // near-independent vectors and its spread is LARGER than the raw
    // vector's (measured — see the Scaladoc note below)
    var cents = Array.tabulate(cells)(ivfCentroid(_, dims))
    for (_ <- 1 to coarseIterations) {
      val sums = gridded(embeddings)
        .withColumn("cell", ivfCellsRankedExprWith(cents).getItem(0))
        .select(col("cell"), posexplode(slice(col("g"), lit(1), lit(dims))).as(Seq("i", "x")))
        .groupBy(col("cell"), col("i"))
        .agg(round(avg(col("x"))).cast("long").as("v"))
        .collect() // ≤ cells×dims rows — parameter-bounded
      val next = cents.map(_.clone())
      sums.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getLong(2))
      cents = next // empty cells keep their previous centroid
    }

    // residual column: g − centroid(cell), both sliced to the shared
    // length (the ivfCellsRankedExprWith ragged guard)
    val centArr = array(cents.map(c => array(c.map(lit(_)): _*)): _*)
    val gS = slice(col("g"), lit(1), lit(dims))
    val residExpr = zip_with(
      gS, slice(element_at(centArr, col("cell") + 1), lit(1), size(gS)),
      (x, c) => x - c)
    val resid = gridded(embeddings)
      .withColumn("cell", ivfCellsRankedExprWith(cents).getItem(0).cast("int"))
      .withColumn("r", residExpr)
      .select(col("vec_id"), col("cell"), col("r"))
    resid.persist() // training aggregate + code projection both read it

    // Lloyd steps on the codebook: assign each residual subvector with the
    // current codewords, then per (m, k, dim) the rounded mean — empty
    // codes keep their previous codeword
    val trained = Array.tabulate(PqM, PqK)((m, kk) => pqCodeword(m, kk).clone())
    val cb: (Int, Int) => Array[Long] = (m, kk) => trained(m)(kk)
    for (_ <- 1 to trainIterations) {
      val sums = resid
        .select(col("r"),
          array((0 until PqM).map(m => pqCodeExpr(m, col("r"), cb)): _*).as("ks"))
        .select(posexplode(col("r")).as(Seq("gi", "x")), col("ks"))
        .select((col("gi") / lit(PqSubDim)).cast("int").as("m"),
          (col("gi") % lit(PqSubDim)).cast("int").as("i"), col("x"), col("ks"))
        .withColumn("k", element_at(col("ks"), col("m") + 1))
        .groupBy(col("m"), col("k"), col("i"))
        .agg(round(avg(col("x"))).cast("long").as("v"))
        .collect() // ≤ M×K×subdim rows — parameter-bounded
      sums.foreach(r => trained(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getLong(3))
    }

    val corpus = resid
      .select(col("vec_id"), col("cell"),
        array((0 until PqM).map(m => pqCodeExpr(m, col("r"), cb)): _*).as("code"))
      .as[(Long, Int, Array[Int])]
    val qs = gridded(embeddings.filter(col("vec_id") < nQueries))
      .select(col("vec_id"), col("g"),
        ivfCellsRankedExprWith(cents).as("ranked"))
      .as[(Long, Array[Long], Array[Int])].collect().sortBy(_._1)
      .map { case (qid, g, ranked) =>
        // one ADC table per probed cell, from the query's residual
        // AGAINST THAT CELL's centroid
        val tabs = ranked.take(nprobe).map { cell =>
          val cent = cents(cell)
          val dtab = Array.tabulate(PqM, PqK) { (m, kk) =>
            val cw = trained(m)(kk)
            var d = 0L
            var i = 0
            val n = math.min(PqSubDim, math.max(g.length - m * PqSubDim, 0))
            while (i < n) {
              val gi = m * PqSubDim + i
              val diff = (g(gi) - cent(gi)) - cw(i)
              d += diff * diff
              i += 1
            }
            d
          }
          cell -> dtab
        }.toMap
        (qid, tabs)
      }
    val qBc = spark.sparkContext.broadcast(qs)
    val scored = corpus.mapPartitions { it =>
      val queries = qBc.value
      it.flatMap { case (vid, cell, code) =>
        queries.iterator
          .filter { case (qid, tabs) => qid != vid && tabs.contains(cell) }
          .map { case (qid, tabs) =>
            val dtab = tabs(cell)
            var adc = 0L
            var m = 0
            while (m < PqM) { adc += dtab(m)(code(m)); m += 1 }
            (qid, vid, adc)
          }
      }
    }.toDF("query_id", "neighbor_id", "adc_dist")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    // materialize the (≤ nQueries×k-row) result before releasing the cache
    // the lazy plan still references
    val out = checkpoint.truncate(
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("adc_dist")))
    resid.unpersist()
    out
  }

  // -------------------------------------------------------- learned coarse
  // quantizer: Lloyd refinement of the md5 seed centroids. This closes the
  // "centroids not learned" gap of [[annIvf]]: the same deterministic seeds
  // start the iteration, but cell boundaries then move to the data.

  /** Exact cross-engine Lloyd step determinism: learned centroids are
    * quantized to a 1000× integer grid — m_i = round(1000·Σx_i / n), where
    * the sum and count are exact integers on both engines and `round` is
    * HALF_UP in Spark and DuckDB alike (the same parity the embedding grid
    * snap already relies on). Distances at the next assignment are then
    * exact integer sums of (1000·x_i − m_i)², so the argmin never depends
    * on float summation order.
    */
  /** `keepVector = true` carries the grid vector + squared norm into the
    * output (vec_id, cell0, cell, g, n) — consumers that need the vectors
    * per cell ([[semDedupClusters]]'s within-cell kernels) read them
    * straight off the assignment instead of shuffling the whole corpus
    * through a vec_id join, the difference between one exchange and two
    * at 10^9 vectors.
    */
  /** Exact-integer cell argmin over ×1000-grid centroid literals — the
    * assignment kernel shared by the Lloyd loop and the [[IvfStore]] delta
    * path (new vectors assign against broadcast-as-literals centroids in
    * ONE narrow pass). Both-ways slice (see ivfCellsRankedExpr): truncate
    * over-length vectors to the centroid basis instead of null-poisoning
    * distances; ties break to the lowest k.
    */
  private[ops] def assignCellExpr(
      m: Array[Array[Long]], dims: Int): org.apache.spark.sql.Column = {
    val g1000 = transform(slice(col("g"), lit(1), lit(dims)), x => x * 1000L)
    val scored = m.indices.map { k =>
      val cSliced = slice(array(m(k).map(lit(_)): _*), lit(1), size(g1000))
      val d = aggregate(zip_with(g1000, cSliced, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v)
      struct(d.as("d"), lit(k).as("k"))
    }
    transform(sort_array(array(scored: _*), asc = true), s => s.getField("k"))
      .getItem(0).cast("long")
  }

  def kmeansRefine(
      embeddings: DataFrame, cells: Int = IvfCells,
      dims: Int = 64, iterations: Int = 1,
      checkpoint: graft.pipeline.CheckpointPolicy =
        graft.pipeline.CheckpointPolicy.Local,
      keepVector: Boolean = false): DataFrame = {
    require(iterations >= 1 && iterations <= 8, s"iterations=$iterations out of 1..8")
    require(cells >= 1 && cells <= 256, s"cells=$cells out of range")
    val base = gridded(embeddings)
      .withColumn("cell0", ivfCellExpr(cells, dims).cast("long"))
      .select(col("vec_id"), col("g"), col("n"), col("cell0"))

    def assignExpr(m: Array[Array[Long]]): org.apache.spark.sql.Column =
      assignCellExpr(m, dims)

    // loop-invariant scan+grid+seed-argmin persisted once (the pageRank
    // discipline): each Lloyd iteration reads these blocks instead of
    // re-deriving the projection from parquet
    base.persist()
    var assigned = base.withColumn("cell", col("cell0"))
    var centroids = Array.tabulate(cells)(k => ivfCentroid(k, dims).map(_ * 1000L))
    for (_ <- 1 to iterations) {
      // per-(cell, dim) exact integer sums — one partial-aggregated shuffle
      // of K×dims keys; the collect is K×dims rows, bounded by PARAMETERS
      // (8×64 here), never by data — the standard "train the coarse
      // quantizer centrally, apply distributedly" IVF shape. Quantization
      // happens IN the plan (Spark's HALF_UP round), not in Scala, so the
      // rounding rule is the engines', not the JVM's.
      // slice to the centroid basis first (same both-ways truncation as
      // assignExpr): an over-length vector must not emit dim indices
      // >= dims, which would throw in the next(cell)(i) update below
      val sums = assigned
        .select(col("cell"), posexplode(slice(col("g"), lit(1), lit(dims))).as(Seq("i", "x")))
        .groupBy(col("cell"), col("i"))
        .agg(round(lit(1000.0) * sum(col("x")) / count(lit(1))).cast("long").as("m"))
        .collect()
      val next = centroids.map(_.clone())
      sums.foreach { r => next(r.getLong(0).toInt)(r.getInt(1)) = r.getLong(2) }
      centroids = next // cells left empty keep their previous centroid
      assigned = base.withColumn("cell", assignExpr(centroids))
    }
    // materialize the (output-sized) result before releasing the cache the
    // lazy plan would otherwise still reference
    val outCols =
      if (keepVector)
        Seq(col("vec_id"), col("cell0"), col("cell"), col("g"), col("n"))
      else Seq(col("vec_id"), col("cell0"), col("cell"))
    val out = checkpoint.truncate(assigned.select(outCols: _*))
    base.unpersist()
    out
  }

  /** EMBEDDING-SPACE SEMANTIC DEDUP (the SemDeDup shape, Abbas et al.
    * 2023): k-means cells partition the corpus ([[kmeansRefine]] — learned
    * centroids, exact integer assignment), every within-cell pair above
    * the cosine threshold becomes a duplicate edge, connected components
    * close the clusters, and each vector's representative is its
    * component's min id — [[graft.ops.TextOps.dedupClusters]]'s pipeline
    * with ANN cells instead of MinHash bands.
    *
    * Scale shape: exact within-cell pairing is the SemDeDup spec (the
    * approximation is the CELL boundary — cross-cell near-dups are the
    * accepted recall loss, measured in BENCH/RECALL.md); within a cell the
    * [[nearDupPairs]] block-pair triangle bounds per-task memory to
    * 2·|cell|/blocks vectors and keeps every unordered pair in exactly one
    * task. Grow `cells` ∝ N (SemDeDup uses √N-ish) and `blocks` with cell
    * size; CC threads the shared [[graft.pipeline.CheckpointPolicy]].
    */
  def semDedupClusters(
      embeddings: DataFrame,
      threshold: Double,
      cells: Int = IvfCells,
      dims: Int = 64,
      iterations: Int = 1,
      blocks: Int = 8,
      checkpoint: graft.pipeline.CheckpointPolicy =
        graft.pipeline.CheckpointPolicy.Local): DataFrame = {
    require(blocks >= 1 && blocks <= 1024, s"blocks=$blocks out of range")
    val spark = embeddings.sparkSession
    import spark.implicits._
    // keepVector: the grid vectors ride the assignment — zero vec_id join
    // (at 10^9 vectors the join would be a second full-corpus exchange)
    val rows = kmeansRefine(embeddings, cells, dims, iterations, checkpoint,
      keepVector = true)
      .select(col("cell"), col("vec_id"), col("g"), col("n"))
      .as[(Long, Long, Array[Long], Long)]
    val b = blocks
    // every vector replicated to its cell's `b` block-pair groups; each
    // unordered pair of same-cell vectors meets in exactly ONE group
    val keyed = rows.flatMap { case (cell, id, vec, n) =>
      val bi = java.lang.Math.floorMod(id, b.toLong).toInt
      (0 until b).iterator.map { bj =>
        val lo = math.min(bi, bj)
        val hi = math.max(bi, bj)
        (cell * b * b + lo * b + hi, bi, id, vec, n)
      }
    }
    val edges = keyed.groupByKey(_._1).flatMapGroups { (key, it) =>
      val lo = (key % (b * b)).toInt / b
      val hi = (key % (b * b)).toInt % b
      val loSide = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long], Long)]
      val hiSide = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long], Long)]
      it.foreach { case (_, bi, id, vec, n) =>
        if (bi == lo) loSide += ((id, vec, n)) else hiSide += ((id, vec, n))
      }
      if (lo == hi) {
        val arr = loSide.sortBy(_._1).toArray
        arr.indices.iterator.flatMap { i =>
          (i + 1 until arr.length).iterator.flatMap { j =>
            val (x, gx, nx) = arr(i)
            val (y, gy, ny) = arr(j)
            if (cosKernel(gx, nx, gy, ny) >= threshold) Iterator.single((x, y))
            else Iterator.empty
          }
        }
      } else {
        loSide.iterator.flatMap { case (x, gx, nx) =>
          hiSide.iterator.flatMap { case (y, gy, ny) =>
            if (cosKernel(gx, nx, gy, ny) >= threshold)
              Iterator.single((math.min(x, y), math.max(x, y)))
            else Iterator.empty
          }
        }
      }
    }.toDF("src", "dst")
    val cc = graft.pipeline.Canonical.connectedComponents(edges, checkpoint = checkpoint)
      .withColumnRenamed("id", "vec_id")
    embeddings.select(col("vec_id"))
      .join(cc, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("component"), col("vec_id")).as("cluster_rep"))
  }

  /** Exact squared L2 between two grid vectors from their precomputed
    * squared norms (‖a‖² + ‖b‖² − 2·a·b) — integer-exact on the grid; the
    * dot zips to the shorter vector, [[cosKernel]]'s truncation semantics.
    */
  private def dist2Kernel(a: Array[Long], na: Long, b: Array[Long], nb: Long): Long = {
    var dot = 0L
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { dot += a(i) * b(i); i += 1 }
    na + nb - 2 * dot
  }

  /** WITHIN-CELL exact kNN GRAPH — the scalable kNN-join shape (the
    * all-rows analogue of a query-side ANN search, and the substrate for
    * graph-based dedup/diversity/UMAP-style pipelines): learned k-means
    * cells partition the corpus ([[kmeansRefine]], vectors riding the
    * assignment — zero re-join), each vector's k nearest SAME-CELL
    * neighbours by squared L2 (integer-exact on the grid, ties broken by
    * neighbour id). The cell boundary is the declared approximation,
    * exactly [[semDedupClusters]]'s contract.
    *
    * Scale shape: the block-pair triangle bounds per-task memory to
    * 2·|cell|/blocks vectors; each task emits only its members' LOCAL
    * top-k (global top-k of per-group top-k is exact — any global
    * neighbour ranks ≤ k inside its own group), so the final rank window
    * exchanges ≤ blocks·k candidate rows per vector, never |cell|.
    * Output: (vec_id, rank, neighbor_id, dist2).
    */
  def knnGraphCells(
      embeddings: DataFrame,
      k: Int,
      cells: Int = IvfCells,
      dims: Int = 64,
      iterations: Int = 1,
      blocks: Int = 8,
      checkpoint: graft.pipeline.CheckpointPolicy =
        graft.pipeline.CheckpointPolicy.Local): DataFrame = {
    require(k >= 1 && k <= 1024, s"k=$k out of 1..1024")
    require(blocks >= 1 && blocks <= 1024, s"blocks=$blocks out of range")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val rows = kmeansRefine(embeddings, cells, dims, iterations, checkpoint,
      keepVector = true)
      .select(col("cell"), col("vec_id"), col("g"), col("n"))
      .as[(Long, Long, Array[Long], Long)]
    val b = blocks
    val kk = k
    val keyed = rows.flatMap { case (cell, id, vec, n) =>
      val bi = java.lang.Math.floorMod(id, b.toLong).toInt
      (0 until b).iterator.map { bj =>
        val lo = math.min(bi, bj)
        val hi = math.max(bi, bj)
        (cell * b * b + lo * b + hi, bi, id, vec, n)
      }
    }
    val candidates = keyed.groupByKey(_._1).flatMapGroups { (key, it) =>
      val lo = (key % (b * b)).toInt / b
      val hi = (key % (b * b)).toInt % b
      val loSide = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long], Long)]
      val hiSide = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long], Long)]
      it.foreach { case (_, bi, id, vec, n) =>
        if (bi == lo) loSide += ((id, vec, n)) else hiSide += ((id, vec, n))
      }
      def localTopK(
          xs: scala.collection.Seq[(Long, Array[Long], Long)],
          ys: scala.collection.Seq[(Long, Array[Long], Long)]) =
        xs.iterator.flatMap { case (x, gx, nx) =>
          ys.iterator.collect {
            case (y, gy, ny) if y != x => (x, y, dist2Kernel(gx, nx, gy, ny))
          }.toArray.sortBy(t => (t._3, t._2)).iterator.take(kk)
        }
      if (lo == hi) localTopK(loSide, loSide)
      else localTopK(loSide, hiSide) ++ localTopK(hiSide, loSide)
    }.toDF("vec_id", "neighbor_id", "dist2")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("dist2").asc, col("neighbor_id").asc)
    candidates
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= kk)
      .select(col("vec_id"), col("rank"), col("neighbor_id"), col("dist2"))
  }
}
