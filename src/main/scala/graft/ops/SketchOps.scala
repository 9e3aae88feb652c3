package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch operators — the sub-linear-state answers to questions that are
  * shuffle-bound when asked exactly. The flagship is a from-scratch
  * HyperLogLog whose every step is CROSS-ENGINE DETERMINISTIC (md5-prefix
  * hashing, integer bucket/rank arithmetic via `bin()` string length, the
  * same double formula on both sides), so the DuckDB oracle reproduces the
  * ESTIMATE itself — the sketch is value-checked, not just shape-checked.
  *
  * Why it matters at 100 TB: `COUNT(DISTINCT x)` shuffles every distinct
  * value; the HLL register table is 2^p rows per group, fully
  * partial-aggregable (`max` per register combines map-side), so the
  * exchange carries ≤ groups × 2^p tiny rows regardless of cardinality —
  * and register tables MERGE, so per-partition / per-day sketches roll up
  * without re-reading data.
  */
object SketchOps {

  /** Register-index bits: 2^8 = 256 registers, standard error ≈ 1.04/√256
    * ≈ 6.5%.
    */
  val HllP = 8
  val HllM = 1 << HllP // 256

  /** α₂₅₆ · m² and the raw-estimate constant, computed ONCE in Scala and
    * inlined as the same double literal into both the Spark plan and the
    * DuckDB oracle (so neither engine re-derives it).
    */
  val HllAlpha: Double = 0.7213 / (1.0 + 1.079 / HllM)

  /** Raw-estimate numerator α·m²·2⁵³ as ONE shared double literal. The
    * 2⁵³ scale lets the harmonic sum Σ 2^−m accumulate as the EXACT
    * integer Σ 2^(53−m) (ρ ≤ 53 ⇒ every term ≥ 1, total < 2⁶¹), so
    * summation ORDER — which Spark and DuckDB pick differently — cannot
    * perturb `raw` at the .005 rounding boundaries of n_est; and because
    * the scale is a power of two, α·m²·2⁵³ and the integer denominator
    * reproduce the unscaled quotient bit-identically.
    */
  val HllRawNum: Double = HllAlpha * HllM * HllM * (1L << 53).toDouble

  /** ρ (rank) of the 52 hash bits above the register index: number of
    * leading zeros + 1. Computed integrally — 53 − bit_length(w), with
    * bit_length via the length of `bin(w)` (identical in Spark and DuckDB;
    * no float log2 edge cases). w = 0 (all 52 bits zero) → ρ = 53.
    */
  private def rhoCol(w: Column): Column =
    when(w === 0L, lit(53L)).otherwise(lit(53L) - length(bin(w)))

  /** Register table (group, bucket, m = max ρ) — the MERGEABLE sketch
    * state: registers of two corpora (per-partition, per-day) combine by
    * `max` per (group, bucket), and [[hllEstimate]] of the merge equals
    * the estimate over the union (test-pinned). Partial-aggregates
    * map-side.
    */
  def hllRegisters(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val h = TextOps.md5Hash60Col(concat(lit("hll:"), col(valueCol)))
    // shiftright, NOT `/`: Column./ on longs is DOUBLE division, whose
    // rounding (h can exceed 2^53) and nonzero-but-truncated quotients
    // would silently diverge from the oracle's integer `h // 256`
    df.select(col(groupCol), (h % HllM).as("bucket"),
        rhoCol(shiftright(h, HllP)).as("rho"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(max(col("rho")).as("m"))
  }

  /** Estimate per group from a register table, with the linear-counting
    * small-range branch applied exactly as the oracle does.
    */
  def hllEstimate(registers: DataFrame, groupCol: String): DataFrame = {
    // harmonic sum as exact integers (see [[HllRawNum]]): Σ 2^(53−m),
    // order-independent on any engine
    val agg = registers.groupBy(col(groupCol))
      .agg(
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - m AS INT))")).as("s_int"),
        count(lit(1)).as("present"))
    // absent registers contribute 2^0 = 1 each to the harmonic sum; zeros
    // (for linear counting) equal the absent registers because ρ ≥ 1
    val zeros = lit(HllM.toLong) - col("present")
    val raw = lit(HllRawNum) /
      (col("s_int") + zeros * lit(1L << 53)).cast("double")
    val est = when(raw <= lit(2.5 * HllM) && zeros > 0,
      lit(HllM.toDouble) * log(lit(HllM.toDouble) / zeros.cast("double")))
      .otherwise(raw)
    agg.select(col(groupCol), round(est, 2).as("n_est"))
  }

  /** Distinct `valueCol` per `groupCol` via HLL(p=8) next to the exact
    * count (sketch error is part of the output contract). Two-level
    * aggregation: (group, register) → max ρ, then group → estimate; both
    * levels partial-aggregate map-side.
    */
  def hllDistinct(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val exact = df.groupBy(col(groupCol))
      .agg(countDistinct(col(valueCol)).as("n_exact"))
    hllEstimate(hllRegisters(df, groupCol, valueCol), groupCol)
      .join(exact, Seq(groupCol))
  }

  // ---------------------------------------------- quantile sketch (q38)

  /** DDSketch-style log-bucket QUANTILE sketch (the bucket-indexed family
    * of Masson, Lee & Khanna, "DDSketch", VLDB 2019) with the float
    * `log_γ(x)` index replaced by PURE INTEGER arithmetic so both engines
    * bucket identically: for a positive integer v, the bucket is v itself
    * below 32 (exact), else `bitlen(v)·16 + (the 4 bits after the leading
    * bit)` — a base-2^(1/16) geometric grid (γ ≈ 1.044, ≲ 4.4% relative
    * bucket width). Why it matters at 100 TB: exact percentiles
    * (`percentile`, q20) buffer every value per group; this state is
    * ≤ 16·63 + 32 tiny rows per group at ANY cardinality, fully
    * partial-aggregable map-side, and MERGEABLE (sum cnt, min rep) so
    * per-partition/per-day sketches roll up without re-reading data.
    */
  private def qsBucketSqlExpr(v: String): String =
    s"CASE WHEN $v <= 31 THEN $v ELSE CAST(length(bin($v)) AS BIGINT) * 16 " +
      s"+ (shiftright($v, length(bin($v)) - 5) & 15) END"

  /** Column names the quantile-sketch surfaces reserve internally. */
  private val QsReserved = Set("v", "bucket", "cnt", "rep", "cum", "n")

  /** Sketch state (group, bucket, cnt, rep = min v): `valueCol` must
    * evaluate to a positive BIGINT (scale decimals to integer units
    * first); non-positive values are excluded (log-bucket domain), a rule
    * the generated oracle mirrors.
    */
  def quantileSketch(df: DataFrame, groupCol: String, valueCol: Column): DataFrame = {
    require(!QsReserved.contains(groupCol),
      s"groupCol `$groupCol` collides with quantileSketch internals ($QsReserved)")
    df.select(col(groupCol), valueCol.as("v"))
      .filter(col("v") >= 1L)
      .select(col(groupCol), expr(qsBucketSqlExpr("v")).as("bucket"), col("v"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(count(lit(1)).as("cnt"), min(col("v")).as("rep"))
  }

  /** Percent-rank estimates per group from a sketch: rank = ⌈q%·n/100⌉ in
    * exact integer arithmetic, estimate = rep of the FIRST bucket whose
    * cumulative count reaches the rank. Buckets are monotone in v (all
    * values of a lower bucket are smaller than all of a higher one), so
    * `min(rep | cum ≥ rank)` IS that first bucket's rep — an actual data
    * value, deterministic cross-engine.
    */
  def qsEstimate(sketch: DataFrame, groupCol: String, qPcts: Seq[Int]): DataFrame = {
    require(qPcts.nonEmpty && qPcts.forall(p => p >= 1 && p <= 100), s"bad qPcts: $qPcts")
    require(!QsReserved.contains(groupCol),
      s"groupCol `$groupCol` collides with qsEstimate internals ($QsReserved)")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol)).orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = sketch
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col(groupCol))))
    val ests = qPcts.map { p =>
      min(when(col("cum") >= expr(s"(n * $p + 99) DIV 100"), col("rep"))).as(s"p${p}_est")
    }
    cum.groupBy(col(groupCol))
      .agg(max(col("n")).as("n_vals"), ests: _*)
  }

  /** DuckDB twin of sketch + estimate over `rel` — bucket rule, rank
    * arithmetic and first-bucket selection mirrored step for step (window
    * cumsum ordered by bucket, integer ceil via `// 100`).
    */
  def quantileSketchSql(
      rel: String, groupCol: String, valueSql: String, qPcts: Seq[Int]): String = {
    val ests = qPcts.map(p =>
      s"CAST(MIN(CASE WHEN cum >= (n * $p + 99) // 100 THEN rep END) AS BIGINT) AS p${p}_est")
      .mkString(",\n  ")
    s"""WITH v AS (
       |  SELECT $groupCol, $valueSql AS v FROM $rel
       |), b AS (
       |  SELECT $groupCol,
       |    CASE WHEN v <= 31 THEN v
       |         ELSE CAST(len(bin(v)) AS BIGINT) * 16 + ((v >> (len(bin(v)) - 5)) & 15) END AS bucket,
       |    v
       |  FROM v WHERE v >= 1
       |), sk AS (
       |  SELECT $groupCol, bucket, COUNT(*) AS cnt, MIN(v) AS rep
       |  FROM b GROUP BY 1, 2
       |), c AS (
       |  SELECT $groupCol, bucket, cnt, rep,
       |    SUM(cnt) OVER (PARTITION BY $groupCol ORDER BY bucket ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    SUM(cnt) OVER (PARTITION BY $groupCol) AS n
       |  FROM sk
       |)
       |SELECT $groupCol, CAST(MAX(n) AS BIGINT) AS n_vals,
       |  $ests
       |FROM c GROUP BY 1""".stripMargin
  }

  // ------------------------------------------- count-min sketch (q39)

  /** COUNT-MIN frequency sketch (Cormode & Muthukrishnan 2005) — third of
    * the sketch trio (HLL: distinct, DDSketch: quantiles, CM: per-key
    * frequency). Depth × width salted-md5 cells; every cell count is an
    * EXACT integer sum, so unlike sampling-based frequency estimators the
    * whole construction is cross-engine deterministic and the DuckDB
    * oracle reproduces the ESTIMATES themselves. State is depth·width
    * cells per sketch at ANY key cardinality, partial-aggregable map-side
    * and mergeable by cell-wise sum; estimates only ever OVER-count
    * (min over rows bounds collision inflation).
    */
  val CmDepth = 4
  val CmWidth = 256

  private def cmCell(keyCol: Column, row: Int): Column =
    TextOps.md5Hash60Col(concat(lit(s"cm$row:"), keyCol.cast("string"))) % CmWidth

  /** Sketch cells (row, cell, cnt). The depth-way explode multiplies rows
    * ×[[CmDepth]] BEFORE the aggregate, but map-side combine collapses
    * each task's contribution to ≤ depth·width rows — the exchange is
    * O(tasks·depth·width), independent of data volume.
    */
  private val CmReserved = Set("rc", "row", "cell", "cnt", "n_est", "n_exact")

  def cmSketch(df: DataFrame, keyCol: String): DataFrame = {
    require(!CmReserved.contains(keyCol),
      s"keyCol `$keyCol` collides with count-min internals ($CmReserved)")
    val cells = (0 until CmDepth).map(r =>
      struct(lit(r.toLong).as("row"), cmCell(col(keyCol), r).as("cell")))
    df.select(explode(array(cells: _*)).as("rc"))
      .select(col("rc.row").as("row"), col("rc.cell").as("cell"))
      .groupBy(col("row"), col("cell"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point-estimate frequencies for `keys` (a DataFrame with `keyCol`):
    * min over the depth rows of each key's cell count (absent cell = 0).
    * The keys side fans out ×depth and joins the (tiny) cell table —
    * broadcast-sized by construction.
    */
  def cmEstimate(sketch: DataFrame, keys: DataFrame, keyCol: String): DataFrame = {
    require(!CmReserved.contains(keyCol),
      s"keyCol `$keyCol` collides with count-min internals ($CmReserved)")
    val cells = (0 until CmDepth).map(r =>
      struct(lit(r.toLong).as("row"), cmCell(col(keyCol), r).as("cell")))
    keys.select(col(keyCol), explode(array(cells: _*)).as("rc"))
      .select(col(keyCol), col("rc.row").as("row"), col("rc.cell").as("cell"))
      .join(broadcast(sketch), Seq("row", "cell"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("n_est"))
  }

  /** CM heavy-hitter check over `df`: estimates for a deterministic
    * candidate key subset next to the exact counts (the CM ≥ exact
    * over-count contract is part of the checked output).
    */
  def cmFrequencies(df: DataFrame, keyCol: String, keys: DataFrame): DataFrame = {
    val exact = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n_exact"))
    cmEstimate(cmSketch(df, keyCol), keys, keyCol)
      .join(exact, Seq(keyCol), "left")
      .select(col(keyCol), col("n_est"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"))
  }

  /** DuckDB twin of [[cmFrequencies]] over `rel` — same salted md5 cells,
    * exact integer cell sums, min-over-rows estimate with absent cells
    * as 0. `keysWhere` selects the candidate keys from `rel`.
    */
  def cmFrequenciesSql(
      rel: String, keyCol: String, keysWhere: String): String =
    s"""WITH rows AS (
       |  SELECT r AS row FROM generate_series(0, ${CmDepth - 1}) t(r)
       |), cells AS (
       |  SELECT rows.row,
       |    ('0x' || substr(md5('cm' || rows.row || ':' || CAST($keyCol AS VARCHAR)), 1, 15))::BIGINT
       |      % $CmWidth AS cell,
       |    COUNT(*) AS cnt
       |  FROM $rel, rows GROUP BY 1, 2
       |), keys AS (
       |  SELECT DISTINCT $keyCol FROM $rel WHERE $keysWhere
       |), kc AS (
       |  SELECT k.$keyCol, rows.row,
       |    ('0x' || substr(md5('cm' || rows.row || ':' || CAST(k.$keyCol AS VARCHAR)), 1, 15))::BIGINT
       |      % $CmWidth AS cell
       |  FROM keys k, rows
       |), est AS (
       |  SELECT kc.$keyCol, CAST(MIN(coalesce(c.cnt, 0)) AS BIGINT) AS n_est
       |  FROM kc LEFT JOIN cells c ON c.row = kc.row AND c.cell = kc.cell
       |  GROUP BY 1
       |)
       |SELECT e.$keyCol, e.n_est,
       |  CAST(coalesce(x.n_exact, 0) AS BIGINT) AS n_exact
       |FROM est e LEFT JOIN (
       |  SELECT $keyCol, COUNT(*) AS n_exact FROM $rel GROUP BY 1) x
       |  ON x.$keyCol = e.$keyCol""".stripMargin

  // ------------------------------------------- bloom pre-join filter (q40)

  /** BLOOM-FILTER pre-join (Bloom 1970) — the shuffle-avoidance primitive
    * at 100 TB: before a big probe side shuffles into a join, a tiny
    * membership filter built from the (small) build side's keys drops the
    * probe rows that cannot match, map-side, with NO exchange. The filter
    * is represented as the DISTINCT SET of its set-bit indexes (≤
    * [[BloomBits]] rows regardless of build cardinality) — semantically
    * the bit array, but expressible as plain broadcast joins on BOTH
    * engines, so unlike Spark's built-in bloom join the whole construction
    * is deterministic and the DuckDB oracle reproduces the pass/false-
    * positive sets EXACTLY (salted-md5 indexes, k = [[BloomK]]).
    * Guarantee: no false negatives — every true match passes; false
    * positives are bounded by the standard (1 − e^{−kn/m})^k and are
    * COUNTED in the q40 output rather than hidden. The salted-md5 index
    * is the cross-engine-checkable choice (the q40 bench time is mostly
    * the k md5 evaluations per probe row).
    */
  val BloomBits = 4096
  val BloomK = 3

  private def bloomIdx(keyCol: Column, j: Int): Column =
    TextOps.md5Hash60Col(concat(lit(s"bf$j:"), keyCol.cast("string"))) % BloomBits

  /** Build: the distinct set-bit indexes of the build side's keys. */
  def bloomBuild(build: DataFrame, keyCol: String): DataFrame =
    build.select(explode(array((0 until BloomK).map(j =>
      bloomIdx(col(keyCol), j)): _*)).as("bf_idx")).distinct()

  /** Probe: keep the rows whose EVERY index is present. The index set —
    * bounded by [[BloomBits]] regardless of build cardinality — collects
    * once and compiles into a BITMAP LITERAL, so the probe is a pure
    * codegen'd `element_at` filter: ZERO joins, ZERO exchanges on the
    * probe side (plan-guarded) — the property that makes a pre-filter
    * ahead of a shuffle join worth anything.
    */
  def bloomFilterProbe(probe: DataFrame, keyCol: String, idxSet: DataFrame): DataFrame = {
    val bits = new Array[Int](BloomBits)
    idxSet.collect().foreach(r => bits(r.getLong(0).toInt) = 1) // ≤ BloomBits rows
    val bitsLit = typedLit(bits.toSeq)
    val cond = (0 until BloomK).map { j =>
      element_at(bitsLit, (bloomIdx(col(keyCol), j) + 1L).cast("int")) === 1
    }.reduce(_ && _)
    probe.filter(cond)
  }

  /** DuckDB twin of the q40 composition over lineitem×part: per-group
    * bloom-pass count, exact-match count, and the (counted, not hidden)
    * false positives.
    */
  def bloomSemiJoinSql(groupCol: String): String = {
    val probeIdx = (j: Int) =>
      s"('0x' || substr(md5('bf$j:' || CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT % $BloomBits"
    val exists = (0 until BloomK).map(j =>
      s"EXISTS (SELECT 1 FROM bf WHERE bf.bf_idx = ${probeIdx(j)})").mkString("\n    AND ")
    s"""WITH build AS (
       |  SELECT p_partkey FROM part WHERE p_size < 10
       |), bf AS (
       |  SELECT DISTINCT ('0x' || substr(md5('bf' || j.j || ':' || CAST(p_partkey AS VARCHAR)), 1, 15))::BIGINT
       |    % $BloomBits AS bf_idx
       |  FROM build, generate_series(0, ${BloomK - 1}) j(j)
       |), passed AS (
       |  SELECT l.* FROM lineitem l
       |  WHERE $exists
       |)
       |SELECT $groupCol,
       |  COUNT(*) AS n_pass,
       |  CAST(SUM(CASE WHEN l_partkey IN (SELECT p_partkey FROM build) THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_exact,
       |  CAST(SUM(CASE WHEN l_partkey IN (SELECT p_partkey FROM build) THEN 0 ELSE 1 END) AS BIGINT)
       |    AS n_false_pos
       |FROM passed GROUP BY 1""".stripMargin
  }

  /** DuckDB twin of [[hllDistinct]] over a table/CTE named `rel` — every
    * constant and step mirrored (same salted md5 hash, bucket %, ρ via
    * `bin` length, inlined α·m², linear-counting branch), so the two
    * engines disagree only below the round-2 output grid.
    */
  def hllDistinctSql(rel: String, groupCol: String, valueCol: String): String =
    s"""WITH h AS (
       |  SELECT $groupCol,
       |    ('0x' || substr(md5('hll:' || $valueCol), 1, 15))::BIGINT AS h
       |  FROM $rel
       |), r AS (
       |  SELECT $groupCol, h % ${HllM} AS bucket,
       |    MAX(CASE WHEN h // ${HllM} = 0 THEN 53
       |             ELSE 53 - len(bin(h // ${HllM})) END) AS m
       |  FROM h GROUP BY 1, 2
       |), a AS (
       |  SELECT $groupCol,
       |    CAST(SUM(1::BIGINT << CAST(53 - m AS INTEGER)) AS BIGINT) AS s_int,
       |    COUNT(*) AS present
       |  FROM r GROUP BY 1
       |), e AS (
       |  SELECT $groupCol,
       |    ${HllRawNum} / CAST(s_int + (${HllM} - present) * ${1L << 53} AS DOUBLE) AS raw,
       |    ${HllM} - present AS zeros
       |  FROM a)
       |SELECT e.$groupCol,
       |  round(CASE WHEN raw <= ${2.5 * HllM} AND zeros > 0
       |        THEN ${HllM.toDouble} * ln(${HllM.toDouble} / zeros)
       |        ELSE raw END, 2) AS n_est,
       |  x.n_exact
       |FROM e JOIN (
       |  SELECT $groupCol, COUNT(DISTINCT $valueCol) AS n_exact
       |  FROM $rel GROUP BY 1) x ON x.$groupCol = e.$groupCol""".stripMargin
}
