package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.ops.{EmbeddingOps, GraphAnalytics, GraphOps, MultimodalOps, RdfsOps, TextOps}
import graft.pipeline.TableLog
import graft.streaming.StreamingOps

/** Driver contract: one entry per implemented operator, each paired (where
  * ANSI-SQL-expressible) with a DuckDB oracle over the same parquet tables.
  *
  * Determinism conventions shared by every query/oracle pair:
  *   - money/qty sums go through DECIMAL(18,2) (exact, associative) and are
  *     cast to DOUBLE only at the end;
  *   - float embeddings are snapped to an integer grid before arithmetic;
  *   - cross-engine hashing uses md5-hex prefixes (`conv` / `::BIGINT`);
  *   - every integer output is BIGINT on both sides;
  *   - ratios are `round(x, 4)`, cosines `round(x, 6)`.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** DECIMAL(18,2)-exact sum, surfaced as DOUBLE. */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Flagship query on sf=0.001; driver smoke-checks rows>0: Turtle parsing
    * at scale through the embedded conformance-tested parser.
    */
  def entry(spark: SparkSession): DataFrame =
    GraphOps.parseTurtle(t(spark, "/root/testdata/sf0.001", "documents"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------------------------------------------- relational core
    "q01_agg_lineitem" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n"))
    }),

    "q02_join_revenue" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val customer = t(s, d, "customer")
      val nation = t(s, d, "nation")
      val region = t(s, d, "region")
      orders.join(customer, orders("o_custkey") === customer("c_custkey"))
        .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
    }),

    "q03_topk_orders" -> ((s, d) => {
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    "q04_first_order" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey").as("first_orderkey"),
          col("o_orderdate").as("first_orderdate"))
    }),

    "q05_filter_pushdown" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1994-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1994-04-01").cast("timestamp") &&
          col("l_discount") > 0.05 && col("l_quantity") < 10)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"))
    }),

    "q06_semijoin" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_customers"))
    }),

    "q07_antijoin" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_customers"))
    }),

    "q08_distinct_parts" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"))
    }),

    "q09_rollup" -> ((s, d) => {
      val c = t(s, d, "customer")
      val n = t(s, d, "nation")
      val r = t(s, d, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"))
    }),

    "q10_events_hourly" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    }),

    "q11_sessionize" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      t(s, d, "events")
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          (col("prev").isNull ||
            (unix_micros(col("ts").cast("timestamp")) -
              unix_micros(col("prev").cast("timestamp"))) > 1800000000L).cast("long"))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
    }),

    "q12_stream_window" -> ((s, d) => StreamingOps.eventsWindowed(s, d)),

    "q14_setops" -> ((s, d) => {
      val building = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val withOrders = t(s, d, "orders").select(col("o_custkey").as("c_custkey"))
      building.intersect(withOrders).withColumn("tag", lit("both"))
        .unionAll(building.except(withOrders).withColumn("tag", lit("only_cust")))
        .select(col("tag"), col("c_custkey"))
    }),

    "q15_corr_subquery" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("graft_orders")
      s.sql(
        """SELECT o_custkey, o_orderkey FROM graft_orders o
          |WHERE o_totalprice = (SELECT MAX(o2.o_totalprice) FROM graft_orders o2
          |                      WHERE o2.o_custkey = o.o_custkey)""".stripMargin)
    }),

    "q16_conditional_pivot" -> ((s, d) => {
      val e = t(s, d, "events")
      e.groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_view"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchase"),
          sum(when(!col("event_type").isin("click", "view", "purchase"), 1L)
            .otherwise(0L)).as("n_other"))
    }),

    "q17_having" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
        .filter(col("n") >= 5)
    }),

    "q18_brand_revenue" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val part = t(s, d, "part")
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .filter(col("p_size") < 20)
        .groupBy(col("p_brand"))
        .agg(
          dsum(col("l_extendedprice")).as("revenue"),
          countDistinct(col("l_orderkey")).as("n_orders"))
    }),

    "q13_stream_sessionize" -> ((s, d) => StreamingOps.sessionize(s, d)),

    "q23_stream_watermark" -> ((s, d) => StreamingOps.eventsWatermarked(s, d)),

    "q24_stream_dedup" -> ((s, d) => StreamingOps.dedupedUserCounts(s, d)),

    // event-time-bounded streaming dedup over an unbounded key space:
    // planted re-deliveries absorbed by dropDuplicatesWithinWatermark
    "q29_stream_dedup_watermark" -> ((s, d) => StreamingOps.dedupWithinWatermark(s, d)),

    // built-in session_window streaming aggregation (Catalyst-owned
    // session merge; contrast q13's hand-rolled flatMapGroupsWithState)
    "q32_session_window" -> ((s, d) => StreamingOps.sessionWindows(s, d)),

    // arbitrary stateful processing v2: transformWithState with typed
    // ValueState/MapState primitives on the RocksDB state store
    "q33_transform_with_state" -> ((s, d) => StreamingOps.userStatsTws(s, d)),

    // streaming RESTART-RESUME: a checkpointed file-sink query stopped
    // after delivery 1 restarts against re-delivered rows — offset log +
    // recovered dedup state + sink commit log give exactly-once output
    // equal to the batch answer
    "q37_stream_restart" -> ((s, d) => StreamingOps.restartResume(s, d)),

    // semi-structured schema-on-read: typed from_json over the props JSON
    // column, integer aggregation per type (sums stay exact longs)
    "q36_json_extract" -> ((s, d) =>
      t(s, d, "events")
        .select(col("event_type"),
          from_json(col("props"), "k BIGINT", Map.empty[String, String])
            .getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), max(col("k")).as("max_k"),
          count(lit(1)).as("n"))),

    // from-scratch HyperLogLog distinct (p=8), next to the exact count —
    // the partial-aggregable sketch whose ESTIMATE the DuckDB oracle
    // reproduces (value-checked sketch, not shape-checked)
    "q35_hll_distinct" -> ((s, d) =>
      graft.ops.SketchOps.hllDistinct(t(s, d, "events"), "event_type", "user_id")),

    // DDSketch-style integer log-bucket quantile sketch next to q20's
    // exact percentiles: bounded mergeable state per group, the ESTIMATE
    // itself cross-engine value-checked (quantities scaled to exact cents)
    "q38_quantile_sketch" -> ((s, d) => {
      val sk = graft.ops.SketchOps.quantileSketch(t(s, d, "lineitem"),
        "l_returnflag", expr("CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)"))
      graft.ops.SketchOps.qsEstimate(sk, "l_returnflag", Seq(50, 95))
    }),

    // BLOOM pre-join filter: a distinct-index membership filter from the
    // small build side drops non-matching probe rows with ZERO exchange
    // (broadcast joins only) before any shuffle join; false positives are
    // counted in the output, never hidden — the whole construction is
    // deterministic, so the oracle reproduces pass/fp sets exactly
    "q40_bloom_prejoin" -> ((s, d) => {
      val build = t(s, d, "part").filter(col("p_size") < 10).select(col("p_partkey"))
      val probe = t(s, d, "lineitem").select(col("l_partkey"), col("l_returnflag"))
      val passed = graft.ops.SketchOps.bloomFilterProbe(
        probe, "l_partkey", graft.ops.SketchOps.bloomBuild(build, "p_partkey"))
      passed
        .join(broadcast(build.withColumn("_hit", lit(1))),
          col("l_partkey") === col("p_partkey"), "left")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_pass"),
          sum(when(col("_hit").isNotNull, 1L).otherwise(0L)).as("n_exact"),
          sum(when(col("_hit").isNull, 1L).otherwise(0L)).as("n_false_pos"))
    }),

    // count-min frequency sketch (third of the sketch trio): per-user
    // event-count estimates over depth×width exact-integer cells, min
    // over rows, next to the exact counts — estimates value-checked
    "q39_countmin" -> ((s, d) => {
      val ev = t(s, d, "events")
      graft.ops.SketchOps.cmFrequencies(ev, "user_id",
        ev.filter(col("user_id") % 20 === 0).select(col("user_id")).distinct())
    }),

    // AS-OF join (composed, single-shuffle): each click joined to the
    // user's most recent prior-or-equal purchase; DuckDB's native ASOF
    // JOIN is the oracle
    "q27_asof_join" -> ((s, d) => {
      val e = t(s, d, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("purchase_id")) // unique per (key, ts)
      graft.ops.RelationalOps.asofJoin(clicks, purchases, "user_id", "ts")
        .select(col("user_id"), col("click_id"), col("purchase_id").as("last_purchase_id"))
    }),

    // STREAM-STREAM interval join (both sides streaming, watermark-bounded
    // join state): q28's semantics on the inner-matched clicks
    "q31_stream_stream_join" -> ((s, d) => StreamingOps.streamStreamJoin(s, d)),

    // skew-safe AS-OF: same query as q27 through the (key, ts-bucket)
    // composite window + carry path (1-hour buckets) — identical semantics,
    // per-task rows bounded by bucket width instead of key frequency
    "q30_asof_skew" -> ((s, d) => {
      val e = t(s, d, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("purchase_id"))
      graft.ops.RelationalOps
        .asofJoin(clicks, purchases, "user_id", "ts", tsBucket = Some(3600000000L))
        .select(col("user_id"), col("click_id"), col("purchase_id").as("last_purchase_id"))
    }),

    // RANGE join (bucket replication, big×big-safe): purchases within the
    // 30 minutes before each click, counted per click (zero-count clicks
    // kept via left join back)
    "q28_range_join" -> ((s, d) => {
      val e = t(s, d, "events")
        .withColumn("tsus", unix_micros(col("ts").cast("timestamp")))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("tsus"), col("event_id").as("click_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("tsus"), col("event_id").as("purchase_id"))
      val pairs = graft.ops.RelationalOps
        .rangeJoin(clicks, purchases, "user_id", "tsus", window = 1800000000L)
        .groupBy(col("click_id")).agg(count(lit(1)).as("n_recent"))
      clicks.join(pairs, Seq("click_id"), "left")
        .select(col("user_id"), col("click_id"),
          coalesce(col("n_recent"), lit(0L)).as("n_recent"))
    }),

    // FULL OUTER: customers capped at key<100 vs per-customer order counts,
    // so both left-only rows (customers without orders) and right-only rows
    // (orders of customers ≥ 100) survive
    "q25_full_outer" -> ((s, d) => {
      val c = t(s, d, "customer").filter(col("c_custkey") < 100)
        .select(col("c_custkey"), col("c_mktsegment"))
      val o = t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_mktsegment"), col("n_orders"))
    }),

    "q26_string_funcs" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        substring(col("text"), 1, 12).as("head12"),
        length(regexp_replace(col("text"), " ", "")).cast("long").as("n_nonspace"),
        instr(col("text"), "the").cast("long").as("first_the"))),

    "q19_cube" -> ((s, d) => {
      val c = t(s, d, "customer")
      val n = t(s, d, "nation")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .cube(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("sum_bal"))
    }),

    "q20_percentiles" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(CAST(l_quantity AS DOUBLE), 0.25)"), 4).as("p25"),
          round(expr("percentile(CAST(l_quantity AS DOUBLE), 0.5)"), 4).as("p50"),
          round(expr("percentile(CAST(l_quantity AS DOUBLE), 0.75)"), 4).as("p75"),
          round(expr("percentile(CAST(l_quantity AS DOUBLE), 0.95)"), 4).as("p95"))
    }),

    "q21_lateral_words" -> ((s, d) => {
      val toks = TextOps.tokensCol(col("text"))
      t(s, d, "documents")
        .select(col("doc_id"), posexplode(slice(toks, 1, 3)))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("word"))
    }),

    "q22_moving_avg" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(-3, Window.currentRow)
      t(s, d, "events").select(
        col("user_id"), col("event_id"),
        round(sum(col("value").cast(DecimalType(18, 2))).over(w).cast("double") /
          count(lit(1)).over(w), 4).as("mavg"))
    }),

    // ------------------------------------------------- text-analysis ops
    "td01_tokens" -> ((s, d) =>
      TextOps.tokenCounts(t(s, d, "documents"))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"))),

    "td02_quality" -> ((s, d) =>
      TextOps.qualityScores(t(s, d, "documents"))
        .select(col("doc_id"),
          col("n_chars_actual").cast("long").as("n_chars_actual"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("avg_token_len"), col("stopword_ratio"),
          col("n_punct").cast("long").as("n_punct"))),

    "td03_langid" -> ((s, d) =>
      TextOps.langId(t(s, d, "documents"))
        .select(col("doc_id"), col("lang_pred"), col("top_score").cast("long").as("top_score"))),

    "td04_fingerprint" -> ((s, d) => TextOps.fingerprints(t(s, d, "documents"))),

    "td05_dedup_exact" -> ((s, d) => TextOps.exactDedup(t(s, d, "documents"))),

    "td06_minhash" -> ((s, d) => TextOps.minHashes(t(s, d, "documents"))),

    "td07_simhash" -> ((s, d) => TextOps.simHashes(t(s, d, "documents"))),

    // td09/td12 oracles pin the UNCAPPED clique semantics: the sf corpora
    // hold no band bucket near DefaultMaxBucket (500–5000 docs total), so
    // the default capped op equals them; hot-band star behavior is pinned
    // separately by the OpsSpec adversarial corpus + capped==uncapped
    // cluster guards, and audited at runtime via *HotBands
    "td12_simhash_pairs" -> ((s, d) => TextOps.simHashPairs(t(s, d, "documents"))),

    "td08_ngram_jaccard" -> ((s, d) =>
      TextOps.ngramJaccardPairs(t(s, d, "documents"), prefixLen = 120, minJaccard = 0.10)),

    "td09_minhash_pairs" -> ((s, d) => TextOps.minHashBandPairs(t(s, d, "documents"))),

    // asymmetric containment |A∩B|/|X| over rare-shingle candidates
    // (df ≤ 16 inverted index — MinHash banding tracks resemblance and
    // would MISS a short doc quoted inside a long one); rational
    // ½-of-smaller-set cut, integer-exact
    "td32_containment" -> ((s, d) => TextOps.containmentPairs(t(s, d, "documents"))),

    "td10_tokens_bpe" -> ((s, d) => TextOps.bpeTokenCounts(t(s, d, "documents"))),

    // the dedup CAPSTONE: LSH candidates -> connected components -> one
    // representative per near-dup cluster (oracle: recursive-CTE closure
    // over the same band pairs)
    "td14_dedup_clusters" -> ((s, d) => TextOps.dedupClusters(t(s, d, "documents"))),

    // curation capstone: quality gate × language routing × dedup reps →
    // per-language surviving doc/token budget
    "td15_curation" -> ((s, d) => TextOps.curate(t(s, d, "documents"))),

    // benchmark decontamination: per-train-doc shingle overlap with the
    // (broadcast) eval-set shingle union
    "td18_contamination" -> ((s, d) => TextOps.contamination(t(s, d, "documents"))),

    // stable, content-free train/val/test assignment (salted id hash)
    "td16_split" -> ((s, d) => TextOps.assignSplit(t(s, d, "documents"))),

    // Gopher/C4-family repetition quality score: fraction of repeated
    // word 2-grams per doc (templated/degenerate text scores high)
    "td20_repetition" -> ((s, d) => TextOps.repetitionScores(t(s, d, "documents"))),

    // OOV-rate quality signal against the corpus's own top-16 vocabulary
    // (the synthetic corpus has 31 distinct tokens — 16 keeps the signal
    // non-trivial); vocab broadcast, one shuffle-free doc-side pass
    "td21_oov" -> ((s, d) => TextOps.oovRates(t(s, d, "documents"), vocabSize = 16)),

    // PII-style redaction scan over planted emails/urls: counts + the
    // redacted text's md5 (the replacement itself is value-checked)
    "td19_redaction" -> ((s, d) =>
      TextOps.redactionScan(
        t(s, d, "documents").select(col("doc_id"),
          concat(col("text"), lit(" contact doc"), col("doc_id").cast("string"),
            lit("@example.com via https://ex.org/p/"),
            col("doc_id").cast("string")).as("text")))),

    // reproducible per-language downsample: k smallest salted hashes
    "td17_stratified_sample" -> ((s, d) =>
      TextOps.stratifiedSample(t(s, d, "documents"), perStratum = 40)),

    // REAL BPE apply: the td10 pre-tokenizer followed by the deterministic
    // merge table — token counts a trainer budgets with, not piece counts
    "td13_bpe_merges" -> ((s, d) => TextOps.bpeApply(t(s, d, "documents"), TextOps.BpeMerges)),

    // BPE tokenizer TRAINING (Sennrich et al.): one vocabulary collect,
    // then the local pair-count → arg-max → re-segment loop; the LEARNED
    // merge table itself is the value-checked result — the oracle unrolls
    // all 8 iterations in SQL
    "td22_bpe_train" -> ((s, d) =>
      TextOps.bpeTrainTable(TextOps.bpeVocab(t(s, d, "documents")), BpeTrainK)),

    // train-then-tokenize end-to-end: per-doc token counts under the
    // table td22 just learned, applied lowest-rank-first by the same
    // applier as td13 (zero shuffle on the apply side)
    "td23_bpe_train_apply" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val rules = TextOps.bpeTrain(TextOps.bpeVocab(docs), BpeTrainK)
      TextOps.bpeApply(docs, rules.map(m => m.lhs -> m.rhs))
        .select(col("doc_id"), col("n_bpe_tokens"))
    }),

    // BPE training at 560 merges over a PLANTED vocabulary derived from the
    // corpus — 560 two-letter words with strictly decreasing corpus-derived
    // frequencies, so every learned rule has a closed form the oracle
    // states directly (rank k merges word k's letters with count
    // (600−k)·|documents|)
    "td26_bpe_train_512" -> ((s, d) =>
      TextOps.bpeTrainTable(SparkEntry.plantedBpeVocab(t(s, d, "documents")), 560)),

    // ...and the applier APPLIES that 560-rule table: planted per-doc
    // texts hold words 0..559+(doc_id%90) — ranks 0..559 merge to one
    // token each, the tail words (no rule) stay two — so per-doc counts
    // are closed-form: 560 + 2·(doc_id % 90)
    "td27_bpe_apply_512" -> ((s, d) => {
      val docsT = t(s, d, "documents")
      val rules = TextOps.bpeTrain(SparkEntry.plantedBpeVocab(docsT), 560)
      val planted = docsT.select(col("doc_id"),
        expr("array_join(transform(sequence(0, 559 + CAST(doc_id % 90 AS INT)), " +
          "k -> char(97 + k div 26) || char(97 + k % 26)), ' ')").as("text"))
      TextOps.bpeApply(planted, rules.map(m => m.lhs -> m.rhs))
        .select(col("doc_id"), col("n_bpe_tokens"))
    }),

    "td11_rolling_fingerprint" -> ((s, d) => TextOps.rollingFingerprints(t(s, d, "documents"))),

    // adjacent-token PMI ratio (exp(PMI), log-free): the word2vec/GloVe
    // corpus association statistic, hash-exact over integer counts
    "td25_pmi_pairs" -> ((s, d) => TextOps.pmiPairs(t(s, d, "documents"), minCount = 5L)),

    // perplexity-proxy LM quality gate (CCNet/Gopher shape, log-free):
    // mean bigram conditional probability per doc under corpus counts,
    // decimal-summed so the score is hash-exact cross-engine
    "td28_lm_score" -> ((s, d) => TextOps.lmScores(t(s, d, "documents"))),

    // CCNet-style segment dedup: 3-token segments, global first occurrence
    // wins; per-doc counts + md5 of the RECONSTRUCTED surviving text —
    // one segment-keyed exchange, one groupBy back to docs
    "td29_segment_dedup" -> ((s, d) =>
      TextOps.segmentDedup(t(s, d, "documents"), segLen = 3)),

    // ExactSubstr-style duplicate-span accounting: corpus-wide duplicated
    // 5-token windows, per-doc dup-window counts + merged span coverage
    "td30_dup_spans" -> ((s, d) =>
      TextOps.duplicateSpans(t(s, d, "documents"), window = 5)),

    // per-domain quota curation: top-5 docs per source by the quality
    // proxy (n_chars DESC, doc_id tiebreak) — the CCNet/RefinedWeb
    // domain-balancing step; one source-keyed window exchange
    "td31_domain_quota" -> ((s, d) =>
      TextOps.domainQuota(t(s, d, "documents"), quota = 5)),

    // BM25-family ranked retrieval (rational idf — log-free, hash-exact):
    // top-20 docs for a 4-term query; per-term contributions summed as
    // DECIMAL(18,6) so cross-term addition is order-independent
    "td24_bm25_search" -> ((s, d) =>
      TextOps.bm25Search(t(s, d, "documents"), SparkEntry.Bm25QueryTerms, k = 20)),

    // --------------------------------------------------- similarity search
    "emb01_ann_topk" -> ((s, d) =>
      EmbeddingOps.annBruteForce(t(s, d, "embeddings"), nQueries = 10, k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))),

    "emb02_neardup" -> ((s, d) =>
      EmbeddingOps.nearDupPairs(t(s, d, "embeddings"), threshold = 0.30)),

    "emb03_srp_buckets" -> ((s, d) =>
      EmbeddingOps.srpBuckets(t(s, d, "embeddings"), nPlanes = 4)),

    // 8 planes ⇒ 256 buckets: per-bucket candidate sets shrink ~N/256 —
    // the scale path (vs emb01's O(N·Q) brute force)
    "emb04_ann_bucketed" -> ((s, d) =>
      EmbeddingOps.annBucketed(t(s, d, "embeddings"), nPlanes = 8, k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))),

    // IVF scale path: 8 deterministic centroids → per-cell search (~N/8
    // candidates/query), the coarse-quantizer sibling of emb04's LSH
    "emb05_ann_ivf" -> ((s, d) =>
      EmbeddingOps.annIvf(t(s, d, "embeddings"), cells = 8, k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))),

    // learned coarse quantizer: one Lloyd refinement of the md5 seed
    // centroids, quantized to the integer grid so assignment stays exact
    "emb08_kmeans" -> ((s, d) =>
      EmbeddingOps.kmeansRefine(t(s, d, "embeddings"), cells = 8, dims = 64, iterations = 1)),

    // SEMANTIC DEDUP capstone (SemDeDup shape): learned k-means cells →
    // exact within-cell cosine ≥ 0.30 edges (block-pair triangle) →
    // distributed CC → min-id representative — td14's dedup pipeline with
    // ANN cells instead of MinHash bands
    "emb13_semdedup" -> ((s, d) =>
      EmbeddingOps.semDedupClusters(t(s, d, "embeddings"), threshold = 0.30)),

    // within-cell exact kNN graph over the learned cells: each vector's 5
    // nearest cell-mates by integer squared L2, neighbor-id tiebreak — the
    // kNN-join substrate for graph-based dedup/diversity pipelines
    "emb18_knn_graph" -> ((s, d) =>
      EmbeddingOps.knnGraphCells(t(s, d, "embeddings"), k = 5)),

    // IVF DELTA PATH: build the index on vec_id % 3 != 0, APPEND the % 3
    // vectors into the existing cells (one narrow pass vs the stored
    // centroids), tombstone-DELETE vec_id % 5, search the merged view —
    // must equal a fresh rebuild over the live set (% 5 != 0) with the
    // same centroids; base files stay append-only until compaction
    "emb19_ann_ivf_delta" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val dir = java.nio.file.Files.createTempDirectory("graft_emb19_").toString
      try {
        val cents = Array.tabulate(EmbeddingOps.IvfCells)(k =>
          EmbeddingOps.ivfCentroid(k, 64).map(_ * 1000L))
        graft.ops.IvfStore.write(
          emb.filter(col("vec_id") % 3 =!= 0), s"$dir/ivf", cents)
        graft.ops.IvfStore.appendVectors(s, s"$dir/ivf",
          emb.filter(col("vec_id") % 3 === 0))
        graft.ops.IvfStore.deleteVectors(s, s"$dir/ivf",
          emb.filter(col("vec_id") % 5 === 0).select(col("vec_id")))
        graft.ops.IvfStore.searchTopK(s, s"$dir/ivf", k = 5)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("neighbor_id"), col("cos"))
          .localCheckpoint() // eager — the scratch index dir is deleted below
      } finally
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }),

    // vector-store TIME TRAVEL (kg60's discipline on the IVF delta log):
    // the live vector set replayed as of batch 0 (base build), 1 (+append),
    // 2 (+delete tombstones), with the stored-centroid cell assignment —
    // one unioned evolution frame, cells pinned against the oracle's own
    // assignment arithmetic
    "emb20_ann_time_travel" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val dir = java.nio.file.Files.createTempDirectory("graft_emb20_").toString
      try {
        val cents = Array.tabulate(EmbeddingOps.IvfCells)(k =>
          EmbeddingOps.ivfCentroid(k, 64).map(_ * 1000L))
        graft.ops.IvfStore.write(
          emb.filter(col("vec_id") % 3 =!= 0), s"$dir/ivf", cents)
        graft.ops.IvfStore.appendVectors(s, s"$dir/ivf",
          emb.filter(col("vec_id") % 3 === 0))
        graft.ops.IvfStore.deleteVectors(s, s"$dir/ivf",
          emb.filter(col("vec_id") % 5 === 0).select(col("vec_id")))
        // one fused resolution pass for all three as-of cuts
        // (IvfStore.readEvolution)
        graft.ops.IvfStore.readEvolution(s, s"$dir/ivf", upTo = 2L)
          .select(col("as_of"), col("vec_id"), col("cell"))
          .localCheckpoint() // eager — the scratch index dir is deleted below
      } finally
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }),

    // multi-probe SRP ANN: each query also probes every Hamming-1 bucket
    // (5 of 16 at 4 planes) — the recall control single-bucket emb04 lacks;
    // oracle = brute force restricted to the probed bucket set
    "emb06_ann_multiprobe" -> ((s, d) =>
      EmbeddingOps.annMultiProbe(t(s, d, "embeddings"), nPlanes = 4, k = 5, maxHamming = 1)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))),

    // IVF with nprobe=2: queries search their two nearest cells; oracle =
    // brute force restricted to those cells (corpus stays in its own cell)
    "emb07_ann_ivf_nprobe" -> ((s, d) =>
      EmbeddingOps.annIvfMultiProbe(t(s, d, "embeddings"), cells = 8, k = 5, nprobe = 2)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))),

    // PRODUCT QUANTIZATION (IVF+PQ's memory side): corpus compressed to
    // 8 codes/vector, queries rank the whole corpus through an 8×4 ADC
    // lookup table — codes, distances and ranking all integer-exact, so
    // the oracle reproduces them verbatim
    "emb09_ann_pq" -> ((s, d) =>
      EmbeddingOps.annPq(t(s, d, "embeddings"), nQueries = 10, k = 5)),

    // SQ8 scalar quantization: per-dim 8-bit levels under corpus (min,
    // span), asymmetric query-vs-dequantized distance on a ×255 common
    // integer scale — the codebook-free memory tier below PQ; codes,
    // reconstructions, distances and ranking all integer-exact
    "emb14_ann_sq8" -> ((s, d) =>
      EmbeddingOps.annSq8(t(s, d, "embeddings"), nQueries = 10, k = 5)),

    // ColBERT-style MaxSim: 4 sub-vector "tokens" per vector, score =
    // Σ_i max_j ⟨q_i, d_j⟩ on the integer grid — BIGINT-exact ranking
    "emb15_ann_maxsim" -> ((s, d) =>
      EmbeddingOps.annMaxSim(t(s, d, "embeddings"), nQueries = 8, k = 5,
        tokens = 4)),

    // Matryoshka two-stage: 16-dim prefix cosine shortlists 20/query off a
    // narrow scan, full 64-dim exact cosine reranks the shortlist
    "emb16_ann_matryoshka" -> ((s, d) =>
      EmbeddingOps.annMatryoshka(t(s, d, "embeddings"), nQueries = 8, k = 5,
        prefixDims = 16, shortlist = 20)),

    // filtered ANN: each query ranks only corpus vectors sharing its
    // label (pre-filter, not post-filter — k results whenever the
    // filtered set has k members)
    "emb17_ann_filtered" -> ((s, d) =>
      EmbeddingOps.annFiltered(t(s, d, "embeddings"), nQueries = 8, k = 5)),

    // the FULL IVF+PQ stack: coarse cells prune candidates (nprobe=2),
    // PQ codes rank them via the ADC table — candidates ~N/4, scan
    // touches 8-byte codes; ranking integer-exact on both engines
    "emb10_ann_ivfpq" -> ((s, d) =>
      EmbeddingOps.annIvfPq(t(s, d, "embeddings"), cells = 8, k = 5,
        nQueries = 10, nprobe = 2)),

    // IVFADC: the TRAINED stack — one coarse Lloyd step, then PQ codes
    // over the residual g − c(cell) with a codebook Lloyd-trained on
    // those residuals (the canonical recipe; measured vs emb10 in
    // BENCH/RECALL.md); query builds one ADC table per probed cell
    "emb11_ann_ivfadc" -> ((s, d) =>
      EmbeddingOps.annIvfPqResidual(t(s, d, "embeddings"), cells = 8, k = 5,
        nQueries = 10, nprobe = 2, coarseIterations = 1, trainIterations = 1)),

    // ADC shortlist + exact rerank: codes prune to top-20 per query, raw
    // vectors are read ONLY for that parameter-bounded shortlist — the
    // production refinement step over emb10
    "emb12_ann_rerank" -> ((s, d) =>
      EmbeddingOps.annIvfPqRerank(t(s, d, "embeddings"), cells = 8, k = 5,
        nQueries = 10, nprobe = 2, rerank = 20)),

    // -------------------------------------------------- multimodal stubs
    "mm01_image_meta" -> ((s, d) =>
      MultimodalOps.imageMetadata(t(s, d, "documents"))
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"), col("payload_md5"))),

    "mm02_audio_energy" -> ((s, d) => MultimodalOps.audioFeatures(t(s, d, "documents"))),

    "mm04_image_resize" -> ((s, d) => MultimodalOps.resizeHalf(t(s, d, "documents"))),

    "mm03_frame_sample" -> ((s, d) =>
      MultimodalOps.frameSample(t(s, d, "documents"))
        .select(col("doc_id"), col("sample_no").cast("long").as("sample_no"),
          col("frame_no").cast("long").as("frame_no"), col("frame_ts_ms"))),

    // IMAGE near-dup: binary thumbnails → per-partition dHash decode →
    // 4×16-bit Hamming LSH bands → verified pairs ≤ 3 bits apart (banding
    // is pigeonhole-EXACT at that radius, so the oracle is ALL such pairs)
    "mm05_phash_neardup" -> ((s, d) =>
      MultimodalOps.imageNearDupPairs(t(s, d, "documents"))),

    // ------------------------------------------------------------ KG ops
    "kg01_parse_turtle" -> ((s, d) => GraphOps.parseTurtle(t(s, d, "documents"))),

    "kg02_extract" -> ((s, d) => GraphOps.extractFromHtml(t(s, d, "documents"))),

    "kg03_mentions" -> ((s, d) => GraphOps.mentionCounts(t(s, d, "documents"))),

    "kg04_cc" -> ((s, d) => GraphOps.docComponents(t(s, d, "documents"))),

    "kg09_emit_pipeline" -> ((s, d) => GraphOps.emitFromDocs(t(s, d, "documents"))),

    // pure-SQL surface: Turtle text assembled by SQL concat, parsed by the
    // native Catalyst Generator expression `parse_turtle` (graft.expr)
    "kg05_parse_turtle_sql" -> ((s, d) => {
      graft.expr.TurtleFunctions.register(s)
      t(s, d, "documents").createOrReplaceTempView("graft_docs")
      s.sql(
        s"""SELECT doc_id, t.subj, t.pred, t.obj
           |FROM (
           |  SELECT doc_id, concat(
           |    '@prefix d: <${GraphOps.DocPrefix}> .\n',
           |    '@prefix p: <${GraphOps.PropPrefix}> .\n',
           |    'd:', doc_id, ' p:lang "', lang, '" ;\n',
           |    '  p:label "doc ', doc_id, '"@', lang, ' ;\n',
           |    '  p:source "', source, '" ;\n',
           |    '  p:nchars ', n_chars, ' .\n') AS ttl
           |  FROM graft_docs) x
           |LATERAL VIEW parse_turtle(ttl) t AS subj, pred, obj""".stripMargin)
    }),

    // serializer round-trip at corpus scale: parse → NT render → NT
    // re-parse; identity with kg01's oracle pins losslessness on every row
    "kg11_nt_roundtrip" -> ((s, d) => GraphOps.parseTurtleNtRoundTrip(t(s, d, "documents"))),

    // per-triple source-span lineage (reference Meta parity): byte offsets
    // of the emitting statement ride every triple as prunable columns
    "kg10_parse_spans" -> ((s, d) => GraphOps.parseTurtleWithSpans(t(s, d, "documents"))),

    // graph → TURTLE → graph: serialize each doc's triples with the
    // prefix-compacting TurtleWriter, re-parse with the conformance
    // parser — must equal the direct parse (kg01's oracle)
    "kg34_ttl_roundtrip" -> ((s, d) => GraphOps.turtleRoundTrip(t(s, d, "documents"))),

    // distributed .ttl EXPORT → dir-source INGEST: one Turtle document per
    // partition (prefix-compacted), read back through readTurtleDir — the
    // export/import capstone; result must equal the direct parse
    "kg35_ttl_export" -> ((s, d) => {
      val tri = GraphOps.parseTurtle(t(s, d, "documents"))
      val dir = java.nio.file.Files.createTempDirectory("graft_kg35_").toString
      try {
        GraphOps.exportTurtleDir(tri.repartition(8), s"$dir/ttl",
          Map("p" -> GraphOps.PropPrefix, "d" -> GraphOps.DocPrefix))
        val (rows, rejects) = GraphOps.readTurtleDir(s, s"$dir/ttl")
        if (rejects.count() > 0)
          throw new IllegalStateException(s"export produced unparseable files")
        rows.toDF().select(col("subj"), col("pred"), col("obj"))
          .localCheckpoint() // eager — the scratch dir is deleted below
      } finally
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }),

    // rich-grammar Turtle distributed: @base-relative IRIs, \u escapes,
    // collections (reverse bnode allocation), anonymous bnode property
    // lists, integer/decimal lexical forms — the reference's hard
    // conformance paths (p18/p23/p25) under Spark, not just in sbt
    "kg06_parse_rich" -> ((s, d) => GraphOps.parseTurtleRich(t(s, d, "documents"))),

    // ------------------------------------------- graph analytics on the KG
    // all four run on the closed-form synthetic graph over doc ids
    // (tree + triangle chords — GraphAnalytics.syntheticEdges), which the
    // DuckDB oracle re-derives in SQL, so results are value-checked
    "kg12_degree" -> ((s, d) => {
      val docs = t(s, d, "documents")
      GraphAnalytics.degrees(GraphAnalytics.syntheticEdges(docs),
        Some(docs.select(col("doc_id").as("id"))))
        .select(col("id").as("doc_id"), col("degree"))
    }),

    "kg13_triangles" -> ((s, d) =>
      GraphAnalytics.triangleCounts(GraphAnalytics.syntheticEdges(t(s, d, "documents")))
        .select(col("id").as("doc_id"), col("n_triangles"))),

    "kg14_bfs" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val src = docs.agg(min(col("doc_id")).as("id"))
      GraphAnalytics.bfsHops(GraphAnalytics.syntheticEdges(docs), src)
        .select(col("id").as("doc_id"), col("hop"))
    }),

    "kg15_pagerank" -> ((s, d) => {
      val docs = t(s, d, "documents")
      GraphAnalytics.pageRank(GraphAnalytics.syntheticEdges(docs),
        docs.select(col("doc_id").as("id")), iterations = 3)
        .select(col("id").as("doc_id"), col("rank"))
    }),

    // synchronous label-propagation community detection, 2 fixed rounds
    // (deterministic — the oracle unrolls them); mode-of-neighbour-labels
    // with min-label tiebreak, isolated nodes keep their own
    "kg31_label_prop" -> ((s, d) => {
      val docs = t(s, d, "documents")
      GraphAnalytics.labelPropagation(GraphAnalytics.syntheticEdges(docs),
        docs.select(col("doc_id").as("id")), iterations = 2)
        .select(col("id").as("doc_id"), col("lbl").as("label"))
    }),

    // SPARQL SELECT modifiers: DISTINCT (l, n) pairs ordered by the
    // rendered literal (n DESC, l ASC), LIMIT 20, 1-based rank appended —
    // the Project/Distinct/OrderBy/Slice algebra pipeline; lowers to
    // TakeOrderedAndProject (no full sort at scale)
    "kg50_bgp_select" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val triples = GraphOps.parseTurtle(t(s, d, "documents"))
        .select(col("subj"), col("pred"), col("obj"))
      val counts = graft.pipeline.Materialize.sketchPredCounts(triples)
      val sol = GraphOps.bgpChain((_: String) => triples,
        Seq(GraphOps.ChainPattern("d", s"${P}lang", oVar = Some("l")),
          GraphOps.ChainPattern("d", s"${P}nchars", oVar = Some("n"))),
        counts)
      GraphOps.bgpSelect(sol, project = Seq("l", "n"), distinct = true,
        orderBy = Seq(GraphOps.OrderKey("n", ascending = false),
          GraphOps.OrderKey("l")),
        limit = Some(20), rankVar = Some("rk"))
    }),

    // personalized PageRank from the doc_id % 50 seed set, 3 iterations
    // (oracle-unrolled): teleport mass lands on the seeds, rank decays
    // with distance, unreachable nodes stay 0
    "kg51_ppr" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val ids = docs.select(col("doc_id").as("id"))
      GraphAnalytics.personalizedPageRank(
        GraphAnalytics.syntheticEdges(docs), ids,
        ids.filter(col("id") % 50 === 0), iterations = 3)
        .select(col("id").as("doc_id"), col("rank"))
    }),

    // SPARQL ASK: two probes — a satisfiable BGP (some "fr" doc with a
    // nchars binding) and an unsatisfiable one (lang "zz") — each lowered
    // to a short-circuiting CollectLimit(1); output (probe, result 0/1)
    "kg54_bgp_ask" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val triples = GraphOps.parseTurtle(t(s, d, "documents"))
        .select(col("subj"), col("pred"), col("obj"))
      val counts = graft.pipeline.Materialize.sketchPredCounts(triples)
      def ask(langTerm: String) = GraphOps.bgpAsk((_: String) => triples,
        Seq(GraphOps.ChainPattern("d", s"${P}lang", oConst = Some(langTerm)),
          GraphOps.ChainPattern("d", s"${P}nchars", oVar = Some("n"))),
        counts)
      ask("\"fr\"").select(lit("fr").as("probe"), col("result"))
        .unionByName(ask("\"zz\"").select(lit("zz").as("probe"), col("result")))
    }),

    // SPARQL DESCRIBE: the full outgoing description of every resource the
    // selector BGP matches (docs with lang "fr") — one semi join against
    // the triple table, 4 triples per matched doc
    "kg55_describe" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val triples = GraphOps.parseTurtle(t(s, d, "documents"))
        .select(col("subj"), col("pred"), col("obj"))
      val counts = graft.pipeline.Materialize.sketchPredCounts(triples)
      val matched = GraphOps.bgpChain((_: String) => triples,
        Seq(GraphOps.ChainPattern("d", s"${P}lang", oConst = Some("\"fr\""))),
        counts).select(col("d"))
      GraphOps.describe(triples, matched)
    }),

    // GRAPH-scoped BGP over quads: docs shard into 10 named graphs
    // (doc_id % 10); GRAPH ?g { ?d p:lang "en" . ?d p:nchars ?n } joins
    // carry ?g, then solutions aggregate to matches-per-graph
    "kg56_bgp_graph" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val docs = t(s, d, "documents")
      val quads = GraphOps.parseTurtle(docs)
        .withColumn("graph",
          concat(lit("<http://graft.example/graph/"), col("doc_id") % 10, lit(">")))
        .select(col("graph"), col("subj"), col("pred"), col("obj"))
      val counts = graft.pipeline.Materialize.sketchPredCounts(quads)
      val sol = GraphOps.bgpChainGraph(quads,
        Seq(GraphOps.ChainPattern("d", s"${P}lang", oConst = Some("\"en\"")),
          GraphOps.ChainPattern("d", s"${P}nchars", oVar = Some("n"))),
        counts)
      GraphOps.bgpAggregate(sol, Seq("g"),
        Seq(count(lit(1)).as("n_matches")))
    }),

    // SPARQL 1.1 subquery: { SELECT ?l (MAX(?nv) AS ?mx) GROUP BY ?l }
    // joined back into the outer solutions, FILTER ?nv = ?mx — per-lang
    // argmax docs (ties all surface, the correct bag semantics); the
    // inner aggregate is bgpAggregate, the join rides the shared ?l
    "kg57_bgp_subquery" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val triples = GraphOps.parseTurtle(t(s, d, "documents"))
        .select(col("subj"), col("pred"), col("obj"))
      val counts = graft.pipeline.Materialize.sketchPredCounts(triples)
      val sol = GraphOps.bgpChain((_: String) => triples,
        Seq(GraphOps.ChainPattern("d", s"${P}lang", oVar = Some("l")),
          GraphOps.ChainPattern("d", s"${P}nchars", oVar = Some("n"))),
        counts)
        .withColumn("nv", regexp_extract(col("n"), "^\"(\\d+)\"", 1).cast("long"))
      val inner = GraphOps.bgpAggregate(sol, Seq("l"),
        Seq(max(col("nv")).as("mx")))
      sol.join(inner, Seq("l")).filter(col("nv") === col("mx"))
        .select(col("l"), col("d"), col("nv"))
    }),

    // SPARQL term functions as codegen'd Columns: BIND(STR/LANG/DATATYPE)
    // + FILTER STRSTARTS(STR(?o), 'doc 1') over the label/nchars solutions
    "kg58_term_fns" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val triples = GraphOps.parseTurtle(t(s, d, "documents"))
        .select(col("subj"), col("pred"), col("obj"))
      val counts = graft.pipeline.Materialize.sketchPredCounts(triples)
      val sol = GraphOps.bgpChain((_: String) => triples,
        Seq(GraphOps.ChainPattern("d", s"${P}label", oVar = Some("o")),
          GraphOps.ChainPattern("d", s"${P}nchars", oVar = Some("n"))),
        counts)
      import GraphOps.TermFns._
      sol.filter(strStarts(col("o"), "doc 1"))
        .select(col("d"),
          termStr(col("o")).as("s"),
          termLang(col("o")).as("lang_tag"),
          termDatatype(col("n")).as("dt"),
          termIsIri(col("d")).cast("long").as("d_is_iri"))
    }),

    // N-Quads round trip: doc triples serialize with shard-graph labels,
    // re-parse through the graph-KEEPING quad parser, terms re-render —
    // the quad-store ingest path feeding kg56's GRAPH queries
    "kg59_nquads_roundtrip" -> ((s, d) =>
      GraphOps.nquadsRoundTrip(t(s, d, "documents"))),

    // HITS hubs & authorities, 2 unnormalized rounds (BIGINT-exact, the
    // oracle unrolls the half-steps term for term); dangling nodes score 0
    "kg52_hits" -> ((s, d) => {
      val docs = t(s, d, "documents")
      GraphAnalytics.hits(GraphAnalytics.syntheticEdges(docs),
        docs.select(col("doc_id").as("id")), iterations = 2)
        .select(col("id").as("doc_id"), col("hub"), col("auth"))
    }),

    // owl:sameAs canonicalization: chain equivalences d ~ d-1 broken at
    // multiples of 7 partition the docs into 7-wide classes; CC labels each
    // with its min IRI, every fact rewrites onto the canonical entity, and
    // facts-per-canonical-entity is closed-form (4 triples per member doc)
    "kg53_sameas_canon" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val triples = GraphOps.parseTurtle(docs)
        .select(col("subj"), col("pred"), col("obj"))
      val iri = concat(lit(s"<${GraphOps.DocPrefix}"), col("doc_id"), lit(">"))
      val ids = docs.select(iri.as("iri"), col("doc_id"))
      val sameAs = ids.filter(col("doc_id") > 0 && col("doc_id") % 7 =!= 0)
        .select(col("iri").as("src"),
          concat(lit(s"<${GraphOps.DocPrefix}"), col("doc_id") - 1, lit(">")).as("dst"))
        .join(ids.select(col("iri").as("dst")), Seq("dst"), "left_semi")
      GraphOps.sameAsCanonicalize(triples, sameAs)
        .groupBy(col("subj").as("canon_subj"))
        .agg(count(lit(1)).as("n_facts"))
    }),

    // INCREMENTAL canonicalization under a sameAs edge diff: v1 = kg53's
    // consecutive chains broken at %7; the diff DELETES the d%21==1 link
    // (splits group 3k into {21k} and {21k+1..21k+6}) and ADDS d → d-8
    // for d%21==8 (bridges group 3k+1 to the split-off singleton 21k).
    // Old labels + connectedComponentsDelta must equal a fresh v2 CC —
    // the oracle is v2's closed form; untouched components (3k+2) carry
    // forward without entering the iterative loop (spec-pinned)
    "kg67_sameas_canon_delta" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val triples = GraphOps.parseTurtle(docs)
        .select(col("subj"), col("pred"), col("obj"))
      def iriOf(c: Column) = concat(lit(s"<${GraphOps.DocPrefix}"), c, lit(">"))
      val ids = docs.select(iriOf(col("doc_id")).as("iri"), col("doc_id"))
      val v1 = ids.filter(col("doc_id") > 0 && col("doc_id") % 7 =!= 0)
        .select(col("iri").as("src"), iriOf(col("doc_id") - 1).as("dst"))
        .join(ids.select(col("iri").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
      val dels = ids.filter(col("doc_id") % 21 === 1)
        .select(col("iri").as("src"), iriOf(col("doc_id") - 1).as("dst"))
        .join(v1, Seq("src", "dst"), "left_semi")
      val adds = ids.filter(col("doc_id") % 21 === 8 && col("doc_id") >= 8)
        .select(col("iri").as("src"), iriOf(col("doc_id") - 8).as("dst"))
        .join(ids.select(col("iri").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
      val diff = dels.withColumn("op", lit("del"))
        .unionByName(adds.withColumn("op", lit("add")))
      val v2 = v1.join(dels, Seq("src", "dst"), "left_anti").unionByName(adds)
      val oldLabels = graft.pipeline.Canonical.connectedComponents(v1)
      val labels2 = graft.pipeline.Canonical
        .connectedComponentsDelta(oldLabels, v2, diff)
      GraphOps.rewriteWithReps(triples, labels2)
        .groupBy(col("subj").as("canon_subj"))
        .agg(count(lit(1)).as("n_facts"))
    }),

    // bounded weighted SSSP: 4 Bellman-Ford relaxation rounds from the
    // %97 seed set over undirected edges weighted (u % 7) + 1 —
    // integer-exact min-path-weight within ≤ 4 edges, oracle-unrolled
    "kg61_sssp" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val und = GraphAnalytics.syntheticEdges(docs).select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
      val weighted = und.select(col("u").as("src"), col("v").as("dst"),
        (col("u") % 7 + 1).cast("long").as("w"))
      GraphAnalytics.ssspBounded(weighted,
        docs.select(col("doc_id").as("id")).filter(col("id") % 97 === 0),
        rounds = 4)
        .select(col("id").as("doc_id"), col("dist"))
    }),

    // bounded SCC over planted ring-blocks: 8-cycles within doc-id blocks
    // (the SCCs — diameter 7 ≤ 8 rounds, so labels are exact) plus
    // block-leader cross edges that strictly descend (provably acyclic
    // across blocks); the tail block's broken ring degrades to singletons
    "kg64_scc" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val ids = docs.select(col("doc_id").as("id"))
      val ring = ids.select(col("id").as("src"),
        (col("id") - col("id") % 8 + (col("id") + 1) % 8).as("dst"))
      val cross = ids.filter(col("id") % 8 === 0 && col("id") > 0)
        .select(col("id").as("src"), (col("id") / 2).cast("long").as("dst"))
      val e = ring.unionByName(cross)
        .filter(col("src") =!= col("dst"))
        .join(ids.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
      GraphAnalytics.sccBounded(e, ids, rounds = 8)
        .select(col("id").as("doc_id"), col("scc"))
    }),

    // bounded 2-core peeling, 3 synchronous rounds (deterministic — the
    // oracle unrolls them): leaves peel off layer by layer, the chord
    // triangles and the dense tree interior survive with their subgraph
    // degrees
    "kg49_kcore" -> ((s, d) =>
      GraphAnalytics.kCoreBounded(
        GraphAnalytics.syntheticEdges(t(s, d, "documents")), k = 2, rounds = 3)
        .select(col("id").as("doc_id"), col("degree"))),

    // SPARQL property-path p+ bounded to 3 hops: directed transitive
    // closure by frontier iteration, min path length per reached pair
    "kg24_path_closure" -> ((s, d) =>
      GraphAnalytics.pathClosure(
        GraphAnalytics.syntheticEdges(t(s, d, "documents")), maxHops = 3)),

    // streaming→graph capstone: three corpus deliveries land as
    // micro-batches, each parsed and DELTA-MERGED into the materialized
    // graph (dynamic partition overwrite per batch); final graph == the
    // batch build
    "kg23_stream_graph_merge" -> ((s, d) => StreamingOps.streamingGraphMerge(s, d)),

    // the same streaming composition over the LSM path: micro-batches
    // APPEND to the delta log (bytes ∝ batch), the trigger compacts, the
    // merged view must still equal the batch build
    "kg33_stream_lsm_merge" -> ((s, d) =>
      StreamingOps.streamingGraphMerge(s, d, lsm = true)),

    // streaming RE-CRAWL with retractions: the initial crawl materializes
    // the full corpus, then re-crawled pages (content grew) arrive as
    // micro-batches whose old-vs-new parse DIFF applies as a tombstone
    // delta (dels retract the stale triples); compaction consumes the
    // tombstones; the merged view must equal a fresh updated-corpus build
    "kg40_stream_recrawl" -> ((s, d) => StreamingOps.streamingRecrawl(s, d)),

    // STANDING QUERY × RETRACTIONS (kg40 composed with kg78): per
    // re-crawl micro-batch the changed pages' diff applies as tombstones
    // and the registered aggregate re-snapshots — the per-lang doc count
    // must stay CONSTANT (retraction-correct) while the char sum moves by
    // exactly the delivery's page count
    "kg80_stream_sparql_retract" -> ((s, d) =>
      graft.streaming.StreamingOps.continuousSparqlRecrawl(s, d,
        s"""PREFIX p: <${GraphOps.PropPrefix}>
           |SELECT ?l (COUNT(*) AS ?n_docs) (SUM(?n) AS ?sum_nchars)
           |WHERE { ?d p:lang ?l ; p:nchars ?n }
           |GROUP BY ?l""".stripMargin)),

    // SPARQL-style BGP over the constructed graph: two triple patterns
    // sharing ?s, numeric FILTER on a typed literal
    "kg18_bgp_star" -> ((s, d) => GraphOps.bgpStar(t(s, d, "documents"))),

    // vocabulary-interned triples (reference build_triples_with,
    // src/build.rs:75-91): degrees over the 8-byte-keyed edge table —
    // every join/shuffle carries longs — with the dict joined back
    "kg20_interned_degree" -> ((s, d) => {
      val tri = GraphOps.parseTurtle(t(s, d, "documents"))
      val (interned, dict) = GraphOps.internTriples(tri)
      val edges = interned.select(col("sid").as("src"), col("oid").as("dst"))
      GraphAnalytics.degrees(edges)
        .join(dict, col("id") === col("tid"))
        .select(col("tid"), col("term"), col("degree"))
    }),

    // incremental graph maintenance: base graph from the even docs, the
    // odd docs arrive as a DELTA merged via dynamic partition overwrite
    // (only touched pred_hash partitions rewrite — OpsSpec pins the
    // untouched-partition bytes); final graph == the full-corpus build
    "kg22_delta_merge" -> ((s, d) => {
      val tri = GraphOps.parseTurtle(t(s, d, "documents"))
      def rows(df: DataFrame) = df.select(
        col("subj"), col("pred"), col("obj"),
        concat(lit("doc:"), col("doc_id").cast("string")).as("src_url"),
        lit(new java.sql.Timestamp(0L)).as("warc_ts"))
        .as(org.apache.spark.sql.Encoders.product[graft.pipeline.TripleRow])
      val dir = java.nio.file.Files.createTempDirectory("graft_kg22_").toString
      try {
        graft.pipeline.Materialize.write(rows(tri.filter(col("doc_id") % 2 === 0)), dir)
        graft.pipeline.Materialize.mergeDelta(s, dir,
          rows(tri.filter(col("doc_id") % 2 =!= 0)))
        graft.pipeline.Materialize.read(s, dir)
          .select(col("subj"), col("pred"), col("obj"))
          .localCheckpoint() // eager — the scratch graph dir is deleted below
      } finally
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }),

    // LSM incremental maintenance: three corpus deltas APPEND under
    // out/_delta (bytes ∝ delta — the write-amplification fix over kg22's
    // per-partition overwrite), the third triggers compaction; the merged
    // view == the full-corpus build
    "kg28_lsm_merge" -> ((s, d) => {
      val tri = GraphOps.parseTurtle(t(s, d, "documents"))
      def rows(df: DataFrame) = df.select(
        col("subj"), col("pred"), col("obj"),
        concat(lit("doc:"), col("doc_id").cast("string")).as("src_url"),
        lit(new java.sql.Timestamp(0L)).as("warc_ts"))
        .as(org.apache.spark.sql.Encoders.product[graft.pipeline.TripleRow])
      val dir = java.nio.file.Files.createTempDirectory("graft_kg28_").toString
      try {
        graft.pipeline.Materialize.write(rows(tri.filter(col("doc_id") % 4 === 0)), dir)
        (1 to 3).foreach(i =>
          graft.pipeline.Materialize.mergeDeltaLsm(s, dir,
            rows(tri.filter(col("doc_id") % 4 === i)), maxDeltaBatches = 3))
        graft.pipeline.Materialize.readMerged(s, dir)
          .select(col("subj"), col("pred"), col("obj"))
          .localCheckpoint() // eager — the scratch graph dir is deleted below
      } finally
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }),

    // snapshot diff: two materialized graph builds (docs %3≠0 vs %2≠0),
    // one (op, s, p, o) row per changed triple — adds = odd multiples of
    // 3, dels = evens not divisible by 3, both derived in closed form
    "kg32_graph_diff" -> ((s, d) => {
      val tri = GraphOps.parseTurtle(t(s, d, "documents"))
      def rows(df: DataFrame) = df.select(
        col("subj"), col("pred"), col("obj"),
        concat(lit("doc:"), col("doc_id").cast("string")).as("src_url"),
        lit(new java.sql.Timestamp(0L)).as("warc_ts"))
        .as(org.apache.spark.sql.Encoders.product[graft.pipeline.TripleRow])
      val dir = java.nio.file.Files.createTempDirectory("graft_kg32_").toString
      try {
        graft.pipeline.Materialize.write(rows(tri.filter(col("doc_id") % 3 =!= 0)), s"$dir/a")
        graft.pipeline.Materialize.write(rows(tri.filter(col("doc_id") % 2 =!= 0)), s"$dir/b")
        graft.pipeline.Materialize.graphDiff(s, s"$dir/a", s"$dir/b")
          .localCheckpoint() // eager — the scratch graph dirs are deleted below
      } finally
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }),

    // characteristic sets (Neumann & Moerkotte 2011): predicate-set
    // profiles over a heterogenized graph — %5 docs lose p:source, %7
    // docs lose p:label, so four distinct sets emerge with closed-form
    // counts; the star-join cardinality statistic
    "kg62_char_sets" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val tri = GraphOps.parseTurtle(t(s, d, "documents"))
        .filter(!(col("doc_id") % 5 === 0 && col("pred") === s"${P}source"))
        .filter(!(col("doc_id") % 7 === 0 && col("pred") === s"${P}label"))
        .select(col("subj"), col("pred"), col("obj"))
      GraphOps.characteristicSets(tri)
    }),

    // streaming trending terms: three document deliveries fold into the
    // state-store token-count aggregate, final state ranks to top-20 —
    // must equal the batch top-k exactly
    "q41_stream_trending" -> ((s, d) =>
      StreamingOps.streamingTrendingTerms(s, d, k = 20)),

    // TIME TRAVEL over the LSM delta log: base = docs %3≠0, batch 1 adds
    // the rest, batch 2 retracts the %5=0 docs' triples; readAsOf(0/1/2)
    // must reproduce each historical state (2 == readMerged "now")
    "kg60_time_travel" -> ((s, d) => {
      val tri = GraphOps.parseTurtle(t(s, d, "documents"))
      def rows(df: DataFrame) = df.select(
        col("subj"), col("pred"), col("obj"),
        concat(lit("doc:"), col("doc_id").cast("string")).as("src_url"),
        lit(new java.sql.Timestamp(0L)).as("warc_ts"))
        .as(org.apache.spark.sql.Encoders.product[graft.pipeline.TripleRow])
      val dir = java.nio.file.Files.createTempDirectory("graft_kg60_").toString
      try {
        val M = graft.pipeline.Materialize
        M.write(rows(tri.filter(col("doc_id") % 3 =!= 0)), s"$dir/g")
        M.appendDelta(s, s"$dir/g", rows(tri.filter(col("doc_id") % 3 === 0)))
        M.appendDeltaOps(s, s"$dir/g",
          rows(tri.filter(col("doc_id") % 5 === 0)).toDF()
            .withColumn("op", lit(TableLog.OpDel)))
        def view(seq: Long) = M.readAsOf(s, s"$dir/g", seq)
          .select(lit(seq).as("as_of"), col("subj"), col("pred"), col("obj"))
        view(0).unionByName(view(1)).unionByName(view(2))
          .localCheckpoint() // eager — the scratch graph dir is deleted below
      } finally
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }),

    // TOMBSTONE deletes through the LSM path: graph v1 (docs %3≠0) gets
    // the diff against a fresh v2 build (docs %2≠0) applied as ONE delta
    // batch (adds assert, dels RETRACT — the re-crawl path where a page's
    // new parse drops triples); the merged view must equal the v2 build
    "kg36_lsm_tombstones" -> ((s, d) => {
      val tri = GraphOps.parseTurtle(t(s, d, "documents"))
      def rows(df: DataFrame) = df.select(
        col("subj"), col("pred"), col("obj"),
        concat(lit("doc:"), col("doc_id").cast("string")).as("src_url"),
        lit(new java.sql.Timestamp(0L)).as("warc_ts"))
        .as(org.apache.spark.sql.Encoders.product[graft.pipeline.TripleRow])
      val dir = java.nio.file.Files.createTempDirectory("graft_kg36_").toString
      try {
        graft.pipeline.Materialize.write(rows(tri.filter(col("doc_id") % 3 =!= 0)), s"$dir/a")
        graft.pipeline.Materialize.write(rows(tri.filter(col("doc_id") % 2 =!= 0)), s"$dir/b")
        val diff = graft.pipeline.Materialize.graphDiffProv(s, s"$dir/a", s"$dir/b")
        graft.pipeline.Materialize.applyDiff(s, s"$dir/a", diff)
        graft.pipeline.Materialize.readMerged(s, s"$dir/a")
          .select(col("subj"), col("pred"), col("obj"))
          .localCheckpoint() // eager — the scratch graph dirs are deleted below
      } finally
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }),

    // INCREMENTAL VIEW MAINTENANCE (the IVM half of the standing-query
    // story): a materialized per-lang count view built over snapshot v1,
    // folded under the v1→v2 EFFECTIVE diff in O(diff) — the maintained
    // view must equal a fresh aggregate over v2 (kg36's two snapshots)
    "kg79_view_maintenance" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val tri = GraphOps.parseTurtle(t(s, d, "documents"))
      def rows(df: DataFrame) = df.select(
        col("subj"), col("pred"), col("obj"),
        concat(lit("doc:"), col("doc_id").cast("string")).as("src_url"),
        lit(new java.sql.Timestamp(0L)).as("warc_ts"))
        .as(org.apache.spark.sql.Encoders.product[graft.pipeline.TripleRow])
      val dir = java.nio.file.Files.createTempDirectory("graft_kg79_").toString
      try {
        val M = graft.pipeline.Materialize
        M.write(rows(tri.filter(col("doc_id") % 3 =!= 0)), s"$dir/a")
        M.write(rows(tri.filter(col("doc_id") % 2 =!= 0)), s"$dir/b")
        graft.pipeline.ViewStore.buildCountView(
          tri.filter(col("doc_id") % 3 =!= 0)
            .select(col("subj"), col("pred"), col("obj")),
          s"${P}lang", s"$dir/view")
        val diff = M.graphDiffProv(s, s"$dir/a", s"$dir/b")
        graft.pipeline.ViewStore.maintainCountView(s, s"$dir/view", diff, s"${P}lang")
        graft.pipeline.ViewStore.readView(s, s"$dir/view")
          .select(col("key").as("l"), col("n"))
          .localCheckpoint() // eager — the scratch dirs are deleted below
      } finally
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }),

    // SUM-view IVM (kg79's join-view sibling): SUM(nchars) per lang — a
    // key predicate JOINED to a value predicate — maintained under the
    // v1→v2 diff via the exact delta-join decomposition
    // Δ(K⋈V) = Knew⋈ΔV + ΔK⋈Vold; the maintained view must equal the
    // fresh aggregate over v2
    "kg81_sum_view_maintenance" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val tri = GraphOps.parseTurtle(t(s, d, "documents"))
      def rows(df: DataFrame) = df.select(
        col("subj"), col("pred"), col("obj"),
        concat(lit("doc:"), col("doc_id").cast("string")).as("src_url"),
        lit(new java.sql.Timestamp(0L)).as("warc_ts"))
        .as(org.apache.spark.sql.Encoders.product[graft.pipeline.TripleRow])
      val dir = java.nio.file.Files.createTempDirectory("graft_kg81_").toString
      try {
        val M = graft.pipeline.Materialize
        M.write(rows(tri.filter(col("doc_id") % 3 =!= 0)), s"$dir/a")
        M.write(rows(tri.filter(col("doc_id") % 2 =!= 0)), s"$dir/b")
        graft.pipeline.ViewStore.buildSumView(
          tri.filter(col("doc_id") % 3 =!= 0)
            .select(col("subj"), col("pred"), col("obj")),
          s"${P}lang", s"${P}nchars", s"$dir/view")
        val diff = M.graphDiffProv(s, s"$dir/a", s"$dir/b")
        M.applyDiff(s, s"$dir/a", diff) // bring the store to v2 first
        graft.pipeline.ViewStore.maintainSumView(s, s"$dir/view",
          diff.localCheckpoint(), s"${P}lang", s"${P}nchars",
          (p: String) => M.readMergedPred(s, s"$dir/a", p))
        graft.pipeline.ViewStore.readView(s, s"$dir/view")
          .select(col("key").as("l"), col("n"))
          .localCheckpoint() // eager — the scratch dirs are deleted below
      } finally
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }),

    // MAX-view IVM (kg82) — the NON-INVERTIBLE aggregate: deletes of a
    // key's extremum can't be undone from the summary, so the fold
    // recomputes exactly the affected keys from post-state pred-pruned
    // scans (broadcast-semi-joined to the diff's key/subject sets);
    // maintained view == fresh MAX(nchars) per lang over v2
    "kg82_max_view_maintenance" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val tri = GraphOps.parseTurtle(t(s, d, "documents"))
      def rows(df: DataFrame) = df.select(
        col("subj"), col("pred"), col("obj"),
        concat(lit("doc:"), col("doc_id").cast("string")).as("src_url"),
        lit(new java.sql.Timestamp(0L)).as("warc_ts"))
        .as(org.apache.spark.sql.Encoders.product[graft.pipeline.TripleRow])
      val dir = java.nio.file.Files.createTempDirectory("graft_kg82_").toString
      try {
        val M = graft.pipeline.Materialize
        M.write(rows(tri.filter(col("doc_id") % 3 =!= 0)), s"$dir/a")
        M.write(rows(tri.filter(col("doc_id") % 2 =!= 0)), s"$dir/b")
        graft.pipeline.ViewStore.buildMaxView(
          tri.filter(col("doc_id") % 3 =!= 0)
            .select(col("subj"), col("pred"), col("obj")),
          s"${P}lang", s"${P}nchars", s"$dir/view")
        val diff = M.graphDiffProv(s, s"$dir/a", s"$dir/b")
        M.applyDiff(s, s"$dir/a", diff) // bring the store to v2 first
        graft.pipeline.ViewStore.maintainMaxView(s, s"$dir/view",
          diff.localCheckpoint(), s"${P}lang", s"${P}nchars",
          (p: String) => M.readMergedPred(s, s"$dir/a", p))
        graft.pipeline.ViewStore.readView(s, s"$dir/view")
          .select(col("key").as("l"), col("n"))
          .localCheckpoint() // eager — the scratch dirs are deleted below
      } finally
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }),

    // SPARQL 1.1 UPDATE over the LSM graph: DELETE { ?d p:source ?src }
    // INSERT { ?d p:archived ?src } WHERE { ?d p:source ?src .
    // ?d p:lang "en" } — English docs' source triples move to p:archived
    // via ONE tombstone delta batch; merged view == closed-form rewrite
    "kg63_sparql_update" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val tri = GraphOps.parseTurtle(t(s, d, "documents"))
      val rows = tri.select(
        col("subj"), col("pred"), col("obj"),
        concat(lit("doc:"), col("doc_id").cast("string")).as("src_url"),
        lit(new java.sql.Timestamp(0L)).as("warc_ts"))
        .as(org.apache.spark.sql.Encoders.product[graft.pipeline.TripleRow])
      val dir = java.nio.file.Files.createTempDirectory("graft_kg63_").toString
      try {
        val M = graft.pipeline.Materialize
        M.write(rows, s"$dir/g")
        val counts = M.sketchPredCounts(
          tri.select(col("subj"), col("pred"), col("obj")))
        GraphOps.updateWhere(s, s"$dir/g",
          delete = Seq(GraphOps.ConstructTemplate("d", s"${P}source", "src")),
          insert = Seq(GraphOps.ConstructTemplate("d", s"${P}archived", "src")),
          where = Seq(
            GraphOps.ChainPattern("d", s"${P}source", oVar = Some("src")),
            GraphOps.ChainPattern("d", s"${P}lang", oConst = Some("\"en\""))),
          predCounts = counts,
          srcUrl = "sparql:update", ts = new java.sql.Timestamp(0L))
        M.readMerged(s, s"$dir/g")
          .select(col("subj"), col("pred"), col("obj"))
          .localCheckpoint() // eager — the scratch graph dir is deleted below
      } finally
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }),

    // QUAD-scoped SPARQL Update: the kg63 rewrite confined to ONE named
    // graph of a quad LSM table (WITH <graph/3> DELETE/INSERT WHERE) —
    // graph 3's English source triples re-predicate, EVERY sibling
    // graph's identical-shaped triples stay untouched (tombstones key on
    // (graph, s, p, o))
    "kg69_graph_update" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val quads = GraphOps.nquadsRoundTrip(t(s, d, "documents"))
        .withColumn("src_url", col("graph"))
        .withColumn("warc_ts", lit(new java.sql.Timestamp(0L)))
      val dir = java.nio.file.Files.createTempDirectory("graft_kg69_").toString
      try {
        val M = graft.pipeline.Materialize
        M.writeQuads(quads, s"$dir/g")
        val counts = M.sketchPredCounts(quads)
        GraphOps.updateWhereGraph(s, s"$dir/g",
          graph = "<http://graft.example/graph/3>",
          delete = Seq(GraphOps.ConstructTemplate("d", s"${P}source", "src")),
          insert = Seq(GraphOps.ConstructTemplate("d", s"${P}archived", "src")),
          where = Seq(
            GraphOps.ChainPattern("d", s"${P}source", oVar = Some("src")),
            GraphOps.ChainPattern("d", s"${P}lang", oConst = Some("\"en\""))),
          predCounts = counts,
          srcUrl = "sparql:update", ts = new java.sql.Timestamp(0L))
        M.readMergedQuads(s, s"$dir/g")
          .select(col("graph"), col("subj"), col("pred"), col("obj"))
          .localCheckpoint() // eager — the scratch graph dir is deleted below
      } finally
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }),

    // SPARQL as TEXT (the kg66 front-end): the full grammar→algebra
    // pipeline — graft.sparql lexes/parses the query STRING and lowers it
    // onto the same bgpChain/bgpAggregate/bgpSelect plans the typed API
    // produces (pred-pruned scans, one map-side-combined group exchange).
    // Chain sugar, a numeric + STRSTARTS FILTER, GROUP BY with the
    // aggregate family, ORDER BY — one query exercising the whole surface
    "kg66_sparql_text" -> ((s, d) => {
      val triples = GraphOps.parseTurtle(t(s, d, "documents"))
        .select(col("subj"), col("pred"), col("obj"))
      val counts = graft.pipeline.Materialize.sketchPredCounts(triples)
      graft.sparql.SparqlExec.query(s,
        s"""PREFIX p: <${GraphOps.PropPrefix}>
           |SELECT ?l (COUNT(*) AS ?n_docs) (SUM(?n) AS ?sum_nchars)
           |       (MAX(?src) AS ?max_src)
           |WHERE {
           |  ?d p:lang ?l ;
           |     p:nchars ?n ;
           |     p:source ?src .
           |  FILTER (?n >= 120 && STRSTARTS(STR(?d), "${GraphOps.DocPrefix}"))
           |}
           |GROUP BY ?l
           |ORDER BY ?l""".stripMargin,
        (_: String) => triples, counts)
    }),

    // SPARQL CONSTRUCT as TEXT: template instantiation from a parsed
    // string — the graph-producing half of the front-end (zero joins:
    // per-template projections of one solution set, final distinct)
    "kg70_sparql_construct" -> ((s, d) => {
      val triples = GraphOps.parseTurtle(t(s, d, "documents"))
        .select(col("subj"), col("pred"), col("obj"))
      val counts = graft.pipeline.Materialize.sketchPredCounts(triples)
      graft.sparql.SparqlExec.query(s,
        s"""PREFIX p: <${GraphOps.PropPrefix}>
           |CONSTRUCT { ?d p:tongue ?l . ?d p:origin ?src }
           |WHERE { ?d p:lang ?l ; p:source ?src }""".stripMargin,
        (_: String) => triples, counts)
    }),

    // SPARQL ASK as TEXT: kg54's two probes (satisfiable "fr", empty
    // "zz") parsed from strings — each lowers to the short-circuiting
    // CollectLimit(1) plan
    "kg71_sparql_ask" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val triples = GraphOps.parseTurtle(t(s, d, "documents"))
        .select(col("subj"), col("pred"), col("obj"))
      val counts = graft.pipeline.Materialize.sketchPredCounts(triples)
      def ask(lang: String) = graft.sparql.SparqlExec.query(s,
        s"""PREFIX p: <$P>
           |ASK { ?d p:lang "$lang" ; p:nchars ?n }""".stripMargin,
        (_: String) => triples, counts)
        .select(lit(lang).as("probe"), col("result"))
      ask("fr").unionByName(ask("zz"))
    }),

    // SPARQL GRAPH as TEXT: kg56's quad-scoped aggregate from a string —
    // the GRAPH ?g group lowers onto bgpChainGraph (graph var rides every
    // pattern and join key; no extra exchange vs the triple plan)
    "kg73_sparql_graph" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val quads = GraphOps.parseTurtle(t(s, d, "documents"))
        .withColumn("graph",
          concat(lit("<http://graft.example/graph/"), col("doc_id") % 10, lit(">")))
        .select(col("graph"), col("subj"), col("pred"), col("obj"))
      val counts = graft.pipeline.Materialize.sketchPredCounts(quads)
      graft.sparql.SparqlExec.query(s,
        s"""PREFIX p: <$P>
           |SELECT ?g (COUNT(*) AS ?n_matches)
           |WHERE { GRAPH ?g { ?d p:lang "en" . ?d p:nchars ?n } }
           |GROUP BY ?g""".stripMargin,
        (_: String) => quads.select(col("subj"), col("pred"), col("obj")),
        counts, quadSource = Some(() => quads))
    }),

    // SPARQL BIND + HAVING as TEXT: BIND(STR(?l)) feeds the GROUP BY key
    // (value calculus), HAVING prunes aggregated groups — both lower to
    // plain projections/filters around the one group exchange
    "kg74_sparql_bind_having" -> ((s, d) => {
      val triples = GraphOps.parseTurtle(t(s, d, "documents"))
        .select(col("subj"), col("pred"), col("obj"))
      val counts = graft.pipeline.Materialize.sketchPredCounts(triples)
      graft.sparql.SparqlExec.query(s,
        s"""PREFIX p: <${GraphOps.PropPrefix}>
           |SELECT ?lex (COUNT(*) AS ?n_docs) (SUM(?n) AS ?sum_nchars)
           |WHERE {
           |  ?d p:lang ?l ;
           |     p:nchars ?n .
           |  BIND(STR(?l) AS ?lex)
           |}
           |GROUP BY ?lex
           |HAVING (?n_docs >= 5)
           |ORDER BY ?lex""".stripMargin,
        (_: String) => triples, counts)
    }),

    // DESCRIBE from TEXT: kg55's outgoing-arc CBD driven through the
    // parsed string — one semi-join against the WHERE-bound resource set
    "kg77_sparql_describe" -> ((s, d) => {
      val triples = GraphOps.parseTurtle(t(s, d, "documents"))
        .select(col("subj"), col("pred"), col("obj"))
      val counts = graft.pipeline.Materialize.sketchPredCounts(triples)
      graft.sparql.SparqlExec.query(s,
        s"""PREFIX p: <${GraphOps.PropPrefix}>
           |DESCRIBE ?d WHERE { ?d p:lang "fr" }""".stripMargin,
        (_: String) => triples, counts,
        fullSource = Some(() => triples))
    }),

    // CONTINUOUS SPARQL (the standing-query composition): three crawl
    // deliveries stream into the LSM graph; after each micro-batch the
    // registered text query re-evaluates over the merged view and its
    // snapshot appends keyed by batch_seq — the answer's evolution
    "kg78_stream_sparql" -> ((s, d) =>
      graft.streaming.StreamingOps.continuousSparql(s, d,
        s"""PREFIX p: <${GraphOps.PropPrefix}>
           |SELECT ?l (COUNT(*) AS ?n_docs)
           |WHERE { ?d p:lang ?l }
           |GROUP BY ?l""".stripMargin)),

    // the COMPLETED standing-query loop: ingest → view maintenance →
    // serve — per batch the delivery folds into the materialized count
    // view (O(batch), never a re-evaluation) and the VIEW is snapshot;
    // same closed form as kg78 (per-lang counts per delivery prefix)
    "kg83_stream_view_serve" -> ((s, d) =>
      graft.streaming.StreamingOps.continuousViewMaintenance(
        s, d, s"${GraphOps.PropPrefix}lang")
        .select(col("batch_seq").cast("long").as("batch_seq"),
          col("key").as("l"), col("n"))),

    // SPARQL Update from TEXT (kg63's rewrite driven through the parsed
    // string): DELETE/INSERT WHERE lowered by SparqlExec.update onto the
    // same tombstone delta path — the oracle is kg63's, verbatim
    "kg75_sparql_update_text" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val tri = GraphOps.parseTurtle(t(s, d, "documents"))
      val rows = tri.select(
        col("subj"), col("pred"), col("obj"),
        concat(lit("doc:"), col("doc_id").cast("string")).as("src_url"),
        lit(new java.sql.Timestamp(0L)).as("warc_ts"))
        .as(org.apache.spark.sql.Encoders.product[graft.pipeline.TripleRow])
      val dir = java.nio.file.Files.createTempDirectory("graft_kg75_").toString
      try {
        val M = graft.pipeline.Materialize
        M.write(rows, s"$dir/g")
        val counts = M.sketchPredCounts(
          tri.select(col("subj"), col("pred"), col("obj")))
        graft.sparql.SparqlExec.update(s,
          s"""PREFIX p: <$P>
             |DELETE { ?d p:source ?src }
             |INSERT { ?d p:archived ?src }
             |WHERE { ?d p:source ?src . ?d p:lang "en" }""".stripMargin,
          s"$dir/g", counts, "sparql:update", new java.sql.Timestamp(0L))
        M.readMerged(s, s"$dir/g")
          .select(col("subj"), col("pred"), col("obj"))
          .localCheckpoint() // eager — the scratch graph dir is deleted below
      } finally
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }),

    // INSERT DATA / DELETE DATA from text: two ground batches appended to
    // the delta log (bytes ∝ the literal triples, no WHERE evaluation);
    // the later DELETE DATA tombstone retracts one of the inserted rows
    // (latest-batch-wins), so exactly one survives the merged read
    "kg76_sparql_insert_data" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val tri = GraphOps.parseTurtle(t(s, d, "documents"))
      val rows = tri.select(
        col("subj"), col("pred"), col("obj"),
        concat(lit("doc:"), col("doc_id").cast("string")).as("src_url"),
        lit(new java.sql.Timestamp(0L)).as("warc_ts"))
        .as(org.apache.spark.sql.Encoders.product[graft.pipeline.TripleRow])
      val dir = java.nio.file.Files.createTempDirectory("graft_kg76_").toString
      try {
        val M = graft.pipeline.Materialize
        M.write(rows, s"$dir/g")
        val counts = M.sketchPredCounts(
          tri.select(col("subj"), col("pred"), col("obj")))
        val ts0 = new java.sql.Timestamp(0L)
        graft.sparql.SparqlExec.update(s,
          s"""PREFIX p: <$P>
             |INSERT DATA {
             |  <${GraphOps.DocPrefix}seed> p:lang "en" ; p:source "manual" .
             |}""".stripMargin,
          s"$dir/g", counts, "sparql:data", ts0)
        graft.sparql.SparqlExec.update(s,
          s"""PREFIX p: <$P>
             |DELETE DATA { <${GraphOps.DocPrefix}seed> p:source "manual" }""".stripMargin,
          s"$dir/g", counts, "sparql:data", ts0)
        M.readMerged(s, s"$dir/g")
          .select(col("subj"), col("pred"), col("obj"))
          .localCheckpoint() // eager — the scratch graph dir is deleted below
      } finally
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }),

    // SHACL-lite validation: per-property cardinality/datatype/enum rules
    // over the constructed graph, one violation row per breach; four
    // corruption classes planted by doc-id arithmetic so every rule fires
    "kg25_validate" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val tri = GraphOps.parseTurtle(t(s, d, "documents"))
      val corrupted = tri
        .filter(!(col("doc_id") % 37 === 0 && col("pred") === s"${P}source"))
        .withColumn("obj",
          when(col("doc_id") % 37 === 0 && col("pred") === s"${P}lang", lit("\"xx\""))
            .when(col("doc_id") % 43 === 0 && col("pred") === s"${P}nchars",
              lit("\"NaN\"^^<http://www.w3.org/2001/XMLSchema#integer>"))
            .otherwise(col("obj")))
        .unionByName(
          tri.filter(col("doc_id") % 41 === 0 && col("pred") === s"${P}label")
            .withColumn("obj", lit("\"dup\"")))
      GraphOps.validateGraph(corrupted, Seq(
        GraphOps.PropRule(s"${P}lang",
          oneOf = Some(Seq("\"de\"", "\"en\"", "\"es\"", "\"fr\"", "\"zh\""))),
        GraphOps.PropRule(s"${P}label"),
        GraphOps.PropRule(s"${P}source"),
        GraphOps.PropRule(s"${P}nchars", integerTyped = true)))
    }),

    // n-pattern star BGP with SKETCH-DRIVEN join order: the predicate
    // frequency sketch ranks the two object-bound patterns first (their
    // estimated cardinality is decimated), then the binding patterns join
    // into the shrunken subject set
    "kg21_bgp_n" -> ((s, d) => {
      val tri = GraphOps.parseTurtle(t(s, d, "documents"))
      val counts = graft.pipeline.Materialize.sketchPredCounts(tri)
      GraphOps.bgp(tri, Seq(
        GraphOps.TriplePattern(s"${GraphOps.PropPrefix}lang", obj = Some("\"en\"")),
        GraphOps.TriplePattern(s"${GraphOps.PropPrefix}source", obj = Some("\"src1\"")),
        GraphOps.TriplePattern(s"${GraphOps.PropPrefix}nchars", bind = Some("nchars_lex")),
        GraphOps.TriplePattern(s"${GraphOps.PropPrefix}label", bind = Some("label"))),
        counts)
        .select(col("subj"),
          regexp_extract(col("nchars_lex"), "^\"(\\d+)\"", 1).cast("long").as("n_chars"),
          col("label"))
        .filter(col("n_chars") >= 200)
    }),

    // CHAIN-shaped BGP with inferred join variables — the path query a
    // star-only BGP cannot express: ?d p:lang "en" . ?d p:mentions ?e .
    // ?e p:elabel ?lbl over doc-metadata ∪ mention ∪ entity-label triples
    // (the KG's own bipartite structure); join order greedy sketch-driven
    "kg26_bgp_chain" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val docs = t(s, d, "documents")
      val mentions = GraphOps.mentionCounts(docs)
      val mentionTriples = mentions.select(
        concat(lit(s"<${GraphOps.DocPrefix}"), col("doc_id"), lit(">")).as("subj"),
        lit(s"${P}mentions").as("pred"),
        concat(lit("<http://graft.example/entity/"), col("term"), lit(">")).as("obj"))
      val labelTriples = mentions.select(col("term")).distinct().select(
        concat(lit("<http://graft.example/entity/"), col("term"), lit(">")).as("subj"),
        lit(s"${P}elabel").as("pred"),
        concat(lit("\""), col("term"), lit("\"")).as("obj"))
      val triples = GraphOps.parseTurtle(docs).select(col("subj"), col("pred"), col("obj"))
        .unionByName(mentionTriples).unionByName(labelTriples)
      val counts = graft.pipeline.Materialize.sketchPredCounts(triples)
      GraphOps.bgpChain(triples, Seq(
        GraphOps.ChainPattern("d", s"${P}lang", oConst = Some("\"en\"")),
        GraphOps.ChainPattern("d", s"${P}mentions", oVar = Some("e")),
        GraphOps.ChainPattern("e", s"${P}elabel", oVar = Some("lbl"))),
        counts)
        .select(col("d"), col("e"), col("lbl"))
    }),

    // SPARQL OPTIONAL: ?d p:lang ?lang . OPTIONAL { ?d p:mentions3x ?e }
    // — solutions keep their row with "-" where the (sparse: n ≥ 3
    // occurrences) optional pattern has no match; LEFT join lowering
    "kg29_bgp_optional" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val docs = t(s, d, "documents")
      val m3 = GraphOps.mentionCounts(docs).filter(col("n") >= 3).select(
        concat(lit(s"<${GraphOps.DocPrefix}"), col("doc_id"), lit(">")).as("subj"),
        lit(s"${P}mentions3x").as("pred"),
        concat(lit("<http://graft.example/entity/"), col("term"), lit(">")).as("obj"))
      val triples = GraphOps.parseTurtle(docs).select(col("subj"), col("pred"), col("obj"))
        .unionByName(m3)
      val counts = graft.pipeline.Materialize.sketchPredCounts(triples)
      GraphOps.bgpChainOptional((_: String) => triples,
        Seq(GraphOps.ChainPattern("d", s"${P}lang", oVar = Some("lang"))),
        Seq(GraphOps.ChainPattern("d", s"${P}mentions3x", oVar = Some("e"))),
        counts)
        .select(col("d"), col("lang"), coalesce(col("e"), lit("-")).as("e"))
    }),

    // SPARQL FILTER NOT EXISTS: en docs with NO mention of the "stream"
    // entity — left-anti lowering over the shared variable
    "kg30_bgp_notexists" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val docs = t(s, d, "documents")
      val mentionTriples = GraphOps.mentionCounts(docs).select(
        concat(lit(s"<${GraphOps.DocPrefix}"), col("doc_id"), lit(">")).as("subj"),
        lit(s"${P}mentions").as("pred"),
        concat(lit("<http://graft.example/entity/"), col("term"), lit(">")).as("obj"))
      val triples = GraphOps.parseTurtle(docs).select(col("subj"), col("pred"), col("obj"))
        .unionByName(mentionTriples)
      val counts = graft.pipeline.Materialize.sketchPredCounts(triples)
      GraphOps.bgpChainNotExists((_: String) => triples,
        Seq(GraphOps.ChainPattern("d", s"${P}lang", oConst = Some("\"en\""))),
        GraphOps.ChainPattern("d", s"${P}mentions",
          oConst = Some("<http://graft.example/entity/stream>")),
        counts)
        .select(col("d"))
    }),

    // SPARQL UNION (bag semantics): { ?d lang "en" . ?d nchars ?n } UNION
    // { ?d lang "fr" . ?d label ?lbl } — each branch keeps its own plan,
    // the variable universes merge with nulls for the unshared bindings
    "kg37_bgp_union" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val triples = GraphOps.parseTurtle(t(s, d, "documents"))
        .select(col("subj"), col("pred"), col("obj"))
      val counts = graft.pipeline.Materialize.sketchPredCounts(triples)
      val en = GraphOps.bgpChain(triples, Seq(
        GraphOps.ChainPattern("d", s"${P}lang", oConst = Some("\"en\"")),
        GraphOps.ChainPattern("d", s"${P}nchars", oVar = Some("n"))), counts)
      val fr = GraphOps.bgpChain(triples, Seq(
        GraphOps.ChainPattern("d", s"${P}lang", oConst = Some("\"fr\"")),
        GraphOps.ChainPattern("d", s"${P}label", oVar = Some("lbl"))), counts)
      GraphOps.bgpUnion(en, fr).select(col("d"), col("n"), col("lbl"))
    }),

    // SPARQL aggregates over BGP solutions: GROUP BY ?l with COUNT + SUM
    // over { ?d lang ?l . ?d nchars ?n } — the groupBy lowering
    "kg38_bgp_aggregate" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val triples = GraphOps.parseTurtle(t(s, d, "documents"))
        .select(col("subj"), col("pred"), col("obj"))
      val counts = graft.pipeline.Materialize.sketchPredCounts(triples)
      val sol = GraphOps.bgpChain(triples, Seq(
        GraphOps.ChainPattern("d", s"${P}lang", oVar = Some("l")),
        GraphOps.ChainPattern("d", s"${P}nchars", oVar = Some("n"))), counts)
      GraphOps.bgpAggregate(sol, Seq("l"), Seq(
        count(lit(1)).as("n_docs"),
        sum(regexp_extract(col("n"), "^\"(\\d+)\"", 1).cast("long")).as("sum_nchars")))
    }),

    // SPARQL 1.1 GROUP_CONCAT / MIN / MAX over BGP solutions (kg38's
    // grouping with the full aggregate-function family): per-language
    // doc count, lexicographic min/max source literal, and GROUP_CONCAT
    // of the DISTINCT sources (sorted, ';' separator — SPARQL leaves the
    // order undefined, so the engine pins the deterministic one)
    "kg65_bgp_group_concat" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val triples = GraphOps.parseTurtle(t(s, d, "documents"))
        .select(col("subj"), col("pred"), col("obj"))
      val counts = graft.pipeline.Materialize.sketchPredCounts(triples)
      val sol = GraphOps.bgpChain(triples, Seq(
        GraphOps.ChainPattern("d", s"${P}lang", oVar = Some("l")),
        GraphOps.ChainPattern("d", s"${P}source", oVar = Some("src"))), counts)
      GraphOps.bgpAggregate(sol, Seq("l"), Seq(
        count(lit(1)).as("n_docs"),
        min(col("src")).as("min_src"),
        max(col("src")).as("max_src"),
        array_join(array_sort(collect_set(col("src"))), ";").as("sources")))
    }),

    // SPARQL VALUES: the inline binding table (?l ?tier) joins the
    // solutions on the shared ?l (broadcast) and extends them with ?tier
    "kg39_bgp_values" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val triples = GraphOps.parseTurtle(t(s, d, "documents"))
        .select(col("subj"), col("pred"), col("obj"))
      val counts = graft.pipeline.Materialize.sketchPredCounts(triples)
      val sol = GraphOps.bgpChain(triples, Seq(
        GraphOps.ChainPattern("d", s"${P}lang", oVar = Some("l")),
        GraphOps.ChainPattern("d", s"${P}nchars", oVar = Some("n"))), counts)
      import s.implicits._
      val values = Seq(("\"en\"", "west"), ("\"fr\"", "west"), ("\"zh\"", "east"))
        .toDF("l", "tier")
      GraphOps.bgpValues(sol, values)
        .select(col("d"), col("l"), col("tier"),
          regexp_extract(col("n"), "^\"(\\d+)\"", 1).cast("long").as("n_chars"))
    }),

    // SPARQL property path: { ?a coocc+ ?b . ?a elabel ?la } with the
    // transitive pattern bounded at 3 hops (min-hops) over the REAL KG's
    // entity co-occurrence edges — the path frame joins the label pattern
    // on the shared variable like any other BGP part
    "kg41_bgp_path" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val docs = t(s, d, "documents")
      def eiri(c: org.apache.spark.sql.Column) =
        concat(lit("<http://graft.example/entity/"), c, lit(">"))
      val co = GraphOps.entityCooccurrence(docs)
      val coTriples = co.select(eiri(col("a")).as("subj"),
        lit(s"${P}coocc").as("pred"), eiri(col("b")).as("obj"))
        .unionByName(co.select(eiri(col("b")).as("subj"),
          lit(s"${P}coocc").as("pred"), eiri(col("a")).as("obj")))
      val labelTriples = GraphOps.mentionCounts(docs).select(col("term")).distinct()
        .select(eiri(col("term")).as("subj"), lit(s"${P}elabel").as("pred"),
          concat(lit("\""), col("term"), lit("\"")).as("obj"))
      val triples = coTriples.unionByName(labelTriples)
      val counts = graft.pipeline.Materialize.sketchPredCounts(triples)
      val paths = GraphOps.bgpPath((_: String) => triples, s"${P}coocc",
        "a", "b", maxHops = 3)
      val labels = GraphOps.bgpChain(triples,
        Seq(GraphOps.ChainPattern("a", s"${P}elabel", oVar = Some("la"))), counts)
      paths.join(labels, Seq("a")).select(col("a"), col("b"), col("hops"), col("la"))
    }),

    // INCREMENTAL PageRank under an edge diff (the kg67 discipline applied
    // to kg15's rank table): v1's per-iteration rank history + the diff
    // must equal a fresh fixed-T PageRank on v2 — the iterative loop
    // touches only the affected neighbourhood (pageRankAffected), ranks
    // outside it carry forward from history through one anti-join
    "kg72_incr_pagerank" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val ids = docs.select(col("doc_id").as("id"))
      val v1 = GraphAnalytics.syntheticEdges(docs)
      val dels = v1.filter(col("src") % 101 === 0)
      val adds = ids.filter(col("id") % 103 === 0)
        .select(col("id").as("src"), (col("id") + 5).as("dst"))
        .join(ids.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
      val diff = dels.select(lit("del").as("op"), col("src"), col("dst"))
        .unionByName(adds.select(lit("add").as("op"), col("src"), col("dst")))
      val v2 = v1.filter(col("src") % 101 =!= 0).unionByName(adds)
      val hist = GraphAnalytics.pageRankHistory(v1, ids, iterations = 3)
      GraphAnalytics.pageRankDelta(hist, v2, diff, ids, iterations = 3)
        .select(col("id").as("doc_id"), col("rank"))
    }),

    // INCREMENTAL degree maintenance: out-degrees of graph v1 folded with
    // the v1→v2 tombstone diff must equal a fresh degree computation on
    // v2 — work ∝ degree table + diff, never ∝ graph
    "kg42_degrees_delta" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val docs = t(s, d, "documents")
      def tri(f: DataFrame) =
        GraphOps.parseTurtle(f).select(col("subj"), col("pred"), col("obj"))
          .unionByName(GraphOps.mentionCounts(f).select(
            concat(lit(s"<${GraphOps.DocPrefix}"), col("doc_id"), lit(">")).as("subj"),
            lit(s"${P}mentions").as("pred"),
            concat(lit("<http://graft.example/entity/"), col("term"), lit(">")).as("obj")))
      val v1 = tri(docs.filter(col("doc_id") % 3 =!= 0))
      val v2 = tri(docs.filter(col("doc_id") % 2 =!= 0))
      val keys = Seq("subj", "pred", "obj")
      val kc = keys.map(col)
      val diff = v2.join(v1.select(kc: _*), keys, "left_anti")
        .withColumn("op", lit(TableLog.OpAdd))
        .unionByName(v1.join(v2.select(kc: _*), keys, "left_anti")
          .withColumn("op", lit(TableLog.OpDel)))
      GraphAnalytics.degreesDelta(GraphAnalytics.outDegrees(v1), diff)
    }),

    // INCREMENTAL validation: only diff-touched subjects re-validate;
    // untouched subjects carry their old violation rows — result must
    // equal a full validate of v2 (planted enum + bad-integer corruption)
    "kg43_validate_delta" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val docs = t(s, d, "documents")
      def corrupted(f: DataFrame) = GraphOps.parseTurtle(f)
        .withColumn("obj",
          when(col("doc_id") % 37 === 0 && col("pred") === s"${P}lang", lit("\"xx\""))
            .when(col("doc_id") % 43 === 0 && col("pred") === s"${P}nchars",
              lit("\"NaN\"^^<http://www.w3.org/2001/XMLSchema#integer>"))
            .otherwise(col("obj")))
        .select(col("subj"), col("pred"), col("obj"))
      val rules = Seq(
        GraphOps.PropRule(s"${P}lang",
          oneOf = Some(Seq("\"de\"", "\"en\"", "\"es\"", "\"fr\"", "\"zh\""))),
        GraphOps.PropRule(s"${P}nchars", integerTyped = true))
      val v1 = corrupted(docs.filter(col("doc_id") % 3 =!= 0))
      val v2 = corrupted(docs.filter(col("doc_id") % 2 =!= 0))
      val keys = Seq("subj", "pred", "obj")
      val kc = keys.map(col)
      val diff = v2.join(v1.select(kc: _*), keys, "left_anti")
        .withColumn("op", lit(TableLog.OpAdd))
        .unionByName(v1.join(v2.select(kc: _*), keys, "left_anti")
          .withColumn("op", lit(TableLog.OpDel)))
      GraphOps.validateGraphDelta(v2, diff, GraphOps.validateGraph(v1, rules), rules)
    }),

    // SPARQL CONSTRUCT: template triples instantiated from the 2-hop
    // co-occurrence path solutions (graph → graph, set semantics)
    "kg44_construct" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val docs = t(s, d, "documents")
      def eiri(c: org.apache.spark.sql.Column) =
        concat(lit("<http://graft.example/entity/"), c, lit(">"))
      val co = GraphOps.entityCooccurrence(docs)
      val coTriples = co.select(eiri(col("a")).as("subj"),
        lit(s"${P}coocc").as("pred"), eiri(col("b")).as("obj"))
        .unionByName(co.select(eiri(col("b")).as("subj"),
          lit(s"${P}coocc").as("pred"), eiri(col("a")).as("obj")))
      val paths = GraphOps.bgpPath((_: String) => coTriples, s"${P}coocc",
        "a", "b", maxHops = 2)
      GraphOps.construct(paths, Seq(
        GraphOps.ConstructTemplate("a", s"${P}near", "b"),
        GraphOps.ConstructTemplate("b", s"${P}near", "a")))
    }),

    // CONSTRUCT → .ttl EXPORT → dir-source INGEST: the derived graph kg44
    // builds round-trips through the serializer and comes back value-exact
    // — query surface, writer, and source composed end-to-end
    "kg45_construct_export" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val docs = t(s, d, "documents")
      def eiri(c: org.apache.spark.sql.Column) =
        concat(lit("<http://graft.example/entity/"), c, lit(">"))
      val co = GraphOps.entityCooccurrence(docs)
      val coTriples = co.select(eiri(col("a")).as("subj"),
        lit(s"${P}coocc").as("pred"), eiri(col("b")).as("obj"))
        .unionByName(co.select(eiri(col("b")).as("subj"),
          lit(s"${P}coocc").as("pred"), eiri(col("a")).as("obj")))
      val paths = GraphOps.bgpPath((_: String) => coTriples, s"${P}coocc",
        "a", "b", maxHops = 2)
      val derived = GraphOps.construct(paths, Seq(
        GraphOps.ConstructTemplate("a", s"${P}near", "b"),
        GraphOps.ConstructTemplate("b", s"${P}near", "a")))
      val dir = java.nio.file.Files.createTempDirectory("graft_kg45_").toString
      try {
        GraphOps.exportTurtleDir(derived, s"$dir/ttl",
          Map("p" -> P, "e" -> "http://graft.example/entity/"))
        val (rows, rejects) = GraphOps.readTurtleDir(s, s"$dir/ttl")
        if (rejects.count() > 0)
          throw new IllegalStateException("export produced unparseable files")
        rows.toDF().select(col("subj"), col("pred"), col("obj"))
          .localCheckpoint() // eager — the scratch dir is deleted below
      } finally
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }),

    // RDFS inference materialization: TBox (subClassOf/subPropertyOf
    // transitive closure, domain, range) closed on the DRIVER
    // (ontology-sized, require-bounded) and BROADCAST; ABox extended by
    // rdfs2/3/5/7/9/11 in ONE pass — the WebPIE split. The only exchange
    // in the whole plan is the final set-semantics distinct (plan-guarded
    // in OpsSpec); rdfs7 property aliases feed the domain rule, the range
    // rule fires on the IRI-object sameSite edges, and both derived type
    // sets lift through the 2-level class hierarchy
    "kg46_rdfs_closure" -> ((s, d) => {
      import s.implicits._
      val P = GraphOps.PropPrefix
      val docs = t(s, d, "documents")
      val instance = GraphOps.parseTurtle(docs)
        .select(col("subj"), col("pred"), col("obj"))
        .unionByName(GraphOps.siteTriples(docs))
      val schema = Seq(
        (s"${P}lang", RdfsOps.RdfsSubPropertyOf, s"${P}attr"),
        (s"${P}attr", RdfsOps.RdfsSubPropertyOf, s"${P}meta"),
        (s"${P}nchars", RdfsOps.RdfsDomain, s"${P}Sized"),
        (s"${P}attr", RdfsOps.RdfsDomain, s"${P}Attributed"),
        (s"${P}sameSite", RdfsOps.RdfsDomain, s"${P}Doc"),
        (s"${P}sameSite", RdfsOps.RdfsRange, s"${P}Doc"),
        (s"${P}Sized", RdfsOps.RdfsSubClassOf, s"${P}Thing"),
        (s"${P}Doc", RdfsOps.RdfsSubClassOf, s"${P}Resource"),
        (s"${P}Resource", RdfsOps.RdfsSubClassOf, s"${P}Thing"))
        .toDF("subj", "pred", "obj")
      RdfsOps.rdfsClosure(instance, schema)
    }),

    // SPARQL MINUS: { ?d lang ?l } MINUS { ?d source "src1" . ?d nchars ?n }
    // — the minus side is a full 2-pattern BGP solved independently and
    // anti-joined on the SHARED variables only (?d); the spec's
    // disjoint-domain rule (MINUS removes nothing) is OpsSpec-pinned
    "kg47_bgp_minus" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val triples = GraphOps.parseTurtle(t(s, d, "documents"))
        .select(col("subj"), col("pred"), col("obj"))
      val counts = graft.pipeline.Materialize.sketchPredCounts(triples)
      GraphOps.bgpChainMinus((_: String) => triples,
        Seq(GraphOps.ChainPattern("d", s"${P}lang", oVar = Some("l"))),
        Seq(GraphOps.ChainPattern("d", s"${P}source", oConst = Some("\"src1\"")),
          GraphOps.ChainPattern("d", s"${P}nchars", oVar = Some("n"))),
        counts)
        .select(col("d"), col("l"))
    }),

    // SPARQL property-path ALGEBRA: (link/link) | ^link | link+≤2 over the
    // synthetic edge predicate — sequence, inverse, alternative and the
    // bounded closure composed in one expression; overlapping branches make
    // the set-semantics distinct observable
    "kg48_path_algebra" -> ((s, d) => {
      val link = s"${GraphOps.PropPrefix}link"
      val D = GraphOps.DocPrefix
      val linkTriples = GraphAnalytics.syntheticEdges(t(s, d, "documents"))
        .select(concat(lit(s"<$D"), col("src"), lit(">")).as("subj"),
          lit(link).as("pred"),
          concat(lit(s"<$D"), col("dst"), lit(">")).as("obj"))
      import GraphOps.PathExpr._
      GraphOps.evalPath((_: String) => linkTriples,
        Alt(Sequence(Pred(link), Pred(link)),
          Alt(Inv(Pred(link)), Plus(Pred(link), maxHops = 2))))
    }),

    // p* (zero-or-more: bounded closure + the reflexive row per node of
    // the path's edge set) COMPOSED with a negated property set !(…) —
    // ?a sameSite* ?b . ?b !(lang|label|source|sameSite) ?n: every doc
    // pairs with itself (hop 0) and, for doc_id ≥ 10, with its hub
    // (hop 1; hub self-loops close the chain), then b's complement scan
    // leaves exactly the nchars triple
    "kg68_path_star_neg" -> ((s, d) => {
      val P = GraphOps.PropPrefix
      val docs = t(s, d, "documents")
      val tri = GraphOps.parseTurtle(docs)
        .select(col("subj"), col("pred"), col("obj"))
        .unionByName(GraphOps.siteTriples(docs))
      import GraphOps.PathExpr._
      val star = GraphOps.evalPath((_: String) => tri,
        Star(Pred(s"${P}sameSite"), maxHops = 4))
        .select(col("src").as("a"), col("dst").as("b"))
      val neg = GraphOps.evalPath((_: String) => tri,
        Neg(Seq(s"${P}lang", s"${P}label", s"${P}source", s"${P}sameSite")),
        fullSource = Some(() => tri))
        .select(col("src").as("b"), col("dst").as("n"))
      star.join(neg, Seq("b")).select(col("a"), col("b"), col("n"))
    }),

    // graph → table round-trip: one wide row per entity via explicit-values
    // pivot over its triples
    "kg19_assemble" -> ((s, d) => GraphOps.assembleEntities(t(s, d, "documents"))),

    // bipartite → unipartite fold: weighted entity–entity co-occurrence
    // edges from the real mention table (the graph kg12–kg15 style
    // analytics would consume in production)
    "kg16_entity_cooccur" -> ((s, d) => GraphOps.entityCooccurrence(t(s, d, "documents"))),

    // analytics on the REAL constructed graph (not the synthetic forest):
    // degree per entity over kg16's co-occurrence edges, value-checked
    // against a mention-derived closed-form oracle
    "kg27_cooccur_degree" -> ((s, d) => {
      val edges = GraphOps.entityCooccurrence(t(s, d, "documents"))
        .select(col("a").as("src"), col("b").as("dst"))
      GraphAnalytics.degrees(edges).select(col("id").as("term"), col("degree"))
    }),

    // incremental KG construction: the conformance parser under Structured
    // Streaming — triples emitted per micro-batch, per-doc counts aggregated
    "kg17_stream_parse" -> ((s, d) => StreamingOps.streamingParse(s, d)),

    // co-located join: both sides bucketed on the key, joined with ZERO
    // exchanges (plan-guarded in OpsSpec) — the repeated-join amortization
    // at 100 TB
    "q34_bucketed_join" -> ((s, d) => {
      val cust = t(s, d, "customer")
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      val ords = t(s, d, "orders")
        .select(col("o_custkey").as("custkey"), col("o_totalprice"))
      graft.ops.RelationalOps.withBucketed(cust, ords, "custkey") { (c, o) =>
        c.join(o, Seq("custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
      }
    }),

    // lenient SQL surface: planted malformed docs (doc_id % 37 == 0) route
    // to error rows via parse_turtle_safe; the job survives and every doc
    // is accounted for
    "kg07_parse_lenient" -> ((s, d) => {
      graft.expr.TurtleFunctions.register(s)
      t(s, d, "documents").createOrReplaceTempView("graft_docs")
      s.sql(
        s"""SELECT doc_id, count(t.subj) AS n_triples, count(t.err) = 0 AS ok
           |FROM (
           |  SELECT doc_id, CASE WHEN doc_id % 37 = 0 THEN '<doc> <p> "x" .'
           |    ELSE concat(
           |      '@prefix d: <${GraphOps.DocPrefix}> .\n',
           |      '@prefix p: <${GraphOps.PropPrefix}> .\n',
           |      'd:', doc_id, ' p:lang "', lang, '" ;\n',
           |      '  p:label "doc ', doc_id, '"@', lang, ' ;\n',
           |      '  p:source "', source, '" ;\n',
           |      '  p:nchars ', n_chars, ' .\n') END AS ttl
           |  FROM graft_docs) x
           |LATERAL VIEW parse_turtle_safe(ttl) t AS subj, pred, obj, err
           |GROUP BY doc_id""".stripMargin)
    })
  )

  // -------------------------------------------------------------- oracles

  private val langidOracle: String = {
    val unions = TextOps.LangProfiles.map { case (l, markers) =>
      val list = markers.map(m => s"'$m'").mkString("[", ", ", "]")
      s"SELECT doc_id, '$l' AS lang, len(list_filter(tk, x -> list_contains($list, x))) AS score FROM toks"
    }.mkString("\nUNION ALL\n")
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[\\p{L}]+') AS tk FROM documents
       |), scores AS (
       |$unions
       |)
       |SELECT doc_id, lang AS lang_pred, CAST(score AS BIGINT) AS top_score
       |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) rn
       |      FROM scores)
       |WHERE rn = 1""".stripMargin
  }

  private val stopwordList: String = TextOps.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  private val mentionTermValues: String =
    GraphOps.MentionDict.map(w => s"('$w')").mkString(", ")

  /** DuckDB twin of [[TextOps.simHashes]] — shared by the td07 oracle and
    * td12's band-join oracle.
    */
  private val simhashSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tok FROM documents
      |), h AS (
      |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
      |), bits AS (
      |  SELECT doc_id, b.b AS b,
      |    SUM(CASE WHEN (h >> CAST(b.b AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM h, generate_series(0, 59) b(b) GROUP BY 1, 2)
      |SELECT doc_id,
      |  CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << CAST(b AS INTEGER)) ELSE 0 END) AS BIGINT) AS simhash
      |FROM bits GROUP BY 1""".stripMargin

  /** DuckDB twin of [[TextOps.rollingFingerprints]]: window hashes as
    * Σ h·B^j over the same literal power table; HUGEINT sums mod P.
    */
  private val rollingOracle: String = {
    val pows = TextOps.RollPows.mkString("[", ", ", "]")
    val W = TextOps.RollWindow
    val P = TextOps.RollMod
    s"""WITH toks AS (
       |  SELECT doc_id, list_transform(regexp_extract_all(text, '\\S+'),
       |    t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % $P) AS hs
       |  FROM documents
       |), wins AS (
       |  SELECT doc_id,
       |    CAST(list_sum(list_transform(generate_series(1, $W),
       |      j -> hs[CAST(i + j - 1 AS INTEGER)] * ($pows)[CAST(j AS INTEGER)]))
       |      % $P AS BIGINT) AS h
       |  FROM toks, unnest(generate_series(1, len(hs) - ${W - 1})) u(i)
       |  WHERE len(hs) >= $W
       |)
       |SELECT d.doc_id,
       |  CAST(coalesce(w.n_windows, 0) AS BIGINT) AS n_windows,
       |  CAST(coalesce(w.min_whash, -1) AS BIGINT) AS min_whash,
       |  CAST(coalesce(w.n_selected, 0) AS BIGINT) AS n_selected
       |FROM documents d
       |LEFT JOIN (
       |  SELECT doc_id, COUNT(*) AS n_windows, MIN(h) AS min_whash,
       |    SUM(CASE WHEN h % 64 = 0 THEN 1 ELSE 0 END) AS n_selected
       |  FROM wins GROUP BY 1) w ON w.doc_id = d.doc_id""".stripMargin
  }

  /** DuckDB twin of [[GraphOps.parseTurtleRich]]: the 14 triples per doc as
    * a UNION ALL, pinned against a scratch run of the conformance builder
    * (collection bnodes allocated in REVERSE — last element `_:0` — then
    * the anonymous property-list bnode `_:3`; lexical forms verbatim).
    */
  private val parseRichOracle: String = {
    val rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    val xsd = "http://www.w3.org/2001/XMLSchema#"
    val P = GraphOps.PropPrefix
    val rows = Seq(
      ("s", s"'${P}title'", s"""'"tést ' || doc_id || '"'"""),
      ("'_:0'", s"'${rdf}type'", s"'<${rdf}List>'"),
      ("'_:0'", s"'${rdf}rest'", s"'<${rdf}nil>'"),
      ("'_:0'", s"'${rdf}first'", s"""'"2.5"^^<${xsd}decimal>'"""),
      ("'_:1'", s"'${rdf}type'", s"'<${rdf}List>'"),
      ("'_:1'", s"'${rdf}rest'", "'_:0'"),
      ("'_:1'", s"'${rdf}first'", s"""'"' || doc_id || '"^^<${xsd}integer>'"""),
      ("'_:2'", s"'${rdf}type'", s"'<${rdf}List>'"),
      ("'_:2'", s"'${rdf}rest'", "'_:1'"),
      ("'_:2'", s"'${rdf}first'", """'"a"'"""),
      ("s", s"'${P}tags'", "'_:2'"),
      ("'_:3'", s"'${P}name'", s"""'"a' || doc_id || '"'"""),
      ("'_:3'", s"'${P}age'", s"""'"' || (doc_id % 90) || '"^^<${xsd}integer>'"""),
      ("s", s"'${P}author'", "'_:3'"))
    val selects = rows.map { case (subj, pred, obj) =>
      s"SELECT doc_id, $subj AS subj, $pred AS pred, $obj AS obj FROM d"
    }.mkString("\nUNION ALL\n")
    s"""WITH d AS (SELECT doc_id,
       |  '<${GraphOps.BaseIri}doc/' || doc_id || '>' AS s FROM documents)
       |$selects""".stripMargin
  }

  /** DuckDB twin of [[TextOps.bpeApply]] over [[TextOps.BpeMerges]],
    * GENERATED from the same merge table so impl and oracle cannot drift.
    * Each merged symbol is one private-use placeholder char, so every
    * symbol — original or merged — is exactly one char: a nested
    * `replace` chain in rank order IS the BPE apply (the table is
    * well-formed — see [[TextOps.BpeMerges]]), and `len()` counts tokens.
    * The corpus is ASCII, so placeholders cannot collide with document text.
    */
  private val bpeOracle: String = {
    val repr = scala.collection.mutable.Map.empty[String, String]
    val chain = TextOps.BpeMerges.zipWithIndex.foldLeft("w") {
      case (acc, ((l, r), i)) =>
        val pair = repr.getOrElse(l, l) + repr.getOrElse(r, r)
        val ph = (0xE000 + i).toChar.toString
        repr(l + r) = ph
        s"replace($acc, '$pair', '$ph')"
    }
    val pieces = """regexp_extract_all(text, '[\p{L}]+|[\p{N}]+|[^\s\p{L}\p{N}]+')"""
    s"""SELECT doc_id,
       |  CAST(coalesce(list_sum(list_transform($pieces, w -> len($chain))), 0) AS BIGINT)
       |    AS n_bpe_tokens,
       |  CAST(coalesce(list_sum(list_transform($pieces, w -> len(w))), 0)
       |    - coalesce(list_sum(list_transform($pieces, w -> len($chain))), 0) AS BIGINT)
       |    AS n_merges
       |FROM documents""".stripMargin
  }

  /** Number of merges the td22/td23 BPE-training queries learn — small
    * enough that the DuckDB oracle can unroll every training iteration
    * exactly (the kg15 PageRank unrolling discipline).
    */
  val BpeTrainK = 8

  /** td26/td27's planted vocabulary: 560 two-letter words (k → letters
    * (k div 26, k mod 26)) with strictly decreasing corpus-derived
    * frequencies f_k = (600−k)·|documents|. Each word IS its own pair, no
    * two words share a pair, and a merged word has no further pairs, so
    * the full 560-rule training run has a closed form — the trainer
    * runs hundreds of merges while the oracle stays one generate_series.
    */
  private def plantedBpeVocab(documents: DataFrame): DataFrame =
    documents.select(explode(sequence(lit(0), lit(559))).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("nd"))
      .select(expr("char(97 + k div 26) || char(97 + k % 26)").as("w"),
        ((lit(600L) - col("k")) * col("nd")).as("f"))

  private val BpePiecesSql =
    """regexp_extract_all(text, '[\p{L}]+|[\p{N}]+|[^\s\p{L}\p{N}]+')"""

  /** Shared CTE chain of the BPE-training oracles: the same vocabulary →
    * pair-count → arg-max → re-segment loop as [[TextOps.bpeTrainLocal]],
    * unrolled `k` times in placeholder-symbol space (merged symbol `i` =
    * `chr(0xE000 + i)`, the oracle's own one-char encoding). CTEs are
    * MATERIALIZED: each level is referenced by every later level and
    * DuckDB would otherwise inline the chain exponentially.
    */
  private def bpeTrainCtes(k: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""v0 AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS f
       |  FROM (SELECT unnest($BpePiecesSql) AS w FROM documents) GROUP BY 1)""".stripMargin
    for (i <- 0 until k) {
      sb ++= s""",
         |p$i AS (
         |  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, SUM(f) AS n
         |  FROM v$i, unnest(generate_series(1, len(w) - 1)) u(i) GROUP BY 1),
         |b$i AS MATERIALIZED (
         |  SELECT pair, CAST(n AS BIGINT) AS n FROM p$i ORDER BY n DESC, pair ASC LIMIT 1)""".stripMargin
      if (i < k - 1)
        sb ++= s""",
           |v${i + 1} AS MATERIALIZED (
           |  SELECT replace(v$i.w, b$i.pair, chr(${0xE000 + i})) AS w, f FROM v$i, b$i)""".stripMargin
    }
    sb.toString
  }

  /** DuckDB twin of [[TextOps.bpeTrainTable]]: the learned (rank, lhs,
    * rhs, n) table with placeholder symbols decoded back to original
    * characters (`d$i` = rank i's full expansion; a rank's sides decode
    * through the expansions of every earlier rank, latest first).
    */
  private val bpeTrainOracle: String = {
    val k = BpeTrainK
    def dec(e: String, upto: Int): String =
      (upto - 1 to 0 by -1).foldLeft(e)((acc, j) =>
        s"replace($acc, chr(${0xE000 + j}), d$j.fp)")
    val decodes = (0 until k).map { i =>
      s"d$i AS (SELECT ${dec(s"b$i.pair", i)} AS fp FROM " +
        (s"b$i" +: (0 until i).map(j => s"d$j")).mkString(", ") + ")"
    }.mkString(",\n")
    val branches = (0 until k).map { i =>
      val from = (s"b$i" +: (0 until i).map(j => s"d$j")).mkString(", ")
      s"""SELECT CAST($i AS BIGINT) AS rank,
         |  ${dec(s"substr(b$i.pair, 1, 1)", i)} AS lhs,
         |  ${dec(s"substr(b$i.pair, 2, 1)", i)} AS rhs,
         |  b$i.n AS n
         |FROM $from""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${bpeTrainCtes(k)},
       |$decodes
       |$branches""".stripMargin
  }

  /** DuckDB twin of [[TextOps.bpeApply]] over the table the
    * training CTEs just learned: per-doc token counts via the same
    * symbol-space replace chain in rank order (the 1-row `b$i` CTEs cross
    * join in as literal columns the list lambda captures).
    */
  private val bpeTrainApplyOracle: String = {
    val k = BpeTrainK
    val chain = (0 until k).foldLeft("w")((acc, i) =>
      s"replace($acc, b$i.pair, chr(${0xE000 + i}))")
    val from = ("documents" +: (0 until k).map(j => s"b$j")).mkString(", ")
    s"""WITH ${bpeTrainCtes(k)}
       |SELECT doc_id,
       |  CAST(coalesce(list_sum(list_transform($BpePiecesSql, w -> len($chain))), 0) AS BIGINT)
       |    AS n_bpe_tokens
       |FROM $from""".stripMargin
  }

  /** td24's fixed query — corpus-vocabulary terms with distinct df. */
  val Bm25QueryTerms: Seq[String] = Seq("join", "scan", "merge", "stream")

  /** DuckDB twin of [[TextOps.bm25Search]] — same token class, same
    * rational-idf expression textual shape (identical IEEE association),
    * avgdl recomputed from the same exact integer sums, decimal cross-term
    * sum, exact-decimal ordering. Constants interpolate the SAME Scala
    * doubles (shortest-round-trip printing ⇒ DuckDB parses back the
    * identical bits).
    */
  private val bm25Oracle: String = {
    val terms = Bm25QueryTerms.map(t => s"('$t')").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS token FROM documents
       |), lens AS (
       |  -- from documents, not toks: zero-token docs count into avgdl
       |  -- exactly as the Spark side's size() projection does
       |  SELECT doc_id, CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) AS len
       |  FROM documents
       |), stats AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(len) / COUNT(*) AS avgdl FROM lens
       |), tf AS (
       |  SELECT doc_id, token, CAST(COUNT(*) AS DOUBLE) AS tf
       |  FROM toks WHERE token IN (SELECT term FROM (VALUES $terms) q(term))
       |  GROUP BY 1, 2
       |), df AS (
       |  SELECT token, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1
       |), contrib AS (
       |  SELECT tf.doc_id,
       |    CAST(round(
       |      (stats.n - df.df + 0.5) / (df.df + 0.5) * (tf.tf * ${TextOps.Bm25K1 + 1}) /
       |        (tf.tf + ${TextOps.Bm25K1} * (${1 - TextOps.Bm25B} + ${TextOps.Bm25B} * lens.len / stats.avgdl)),
       |      6) AS DECIMAL(18,6)) AS c6
       |  FROM tf JOIN df ON df.token = tf.token
       |  JOIN lens ON lens.doc_id = tf.doc_id
       |  CROSS JOIN stats
       |), scored AS (
       |  SELECT doc_id, SUM(c6) AS score_dec FROM contrib GROUP BY 1
       |)
       |SELECT doc_id, CAST(rn AS BIGINT) AS rank,
       |  round(CAST(score_dec AS DOUBLE), 4) AS score
       |FROM (SELECT *, row_number() OVER (ORDER BY score_dec DESC, doc_id ASC) rn
       |      FROM scored)
       |WHERE rn <= 20""".stripMargin
  }

  /** DuckDB twin of [[TextOps.minHashBandPairs]], generated from the same
    * (BandedSeeds, Bands) constants so impl and oracle cannot drift.
    */
  private val minhashBandOracle: String = {
    val mins = (0 until TextOps.BandedSeeds).map(s =>
      s"CAST(MIN(('0x' || substr(md5('$s:' || g), 1, 15))::BIGINT) AS BIGINT) AS mh$s")
      .mkString(",\n    ")
    val bandSelects = (0 until TextOps.Bands).map(b =>
      s"SELECT doc_id, md5('$b:' || mh${2 * b}::VARCHAR || '_' || mh${2 * b + 1}::VARCHAR) AS band FROM sig")
      .mkString("\nUNION ALL\n")
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(text) - 4, 1)),
       |    i -> substr(text, CAST(i AS INTEGER), 5))) AS g
       |  FROM documents
       |), sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM sh GROUP BY 1
       |), bands AS (
       |$bandSelects
       |)
       |SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_bands
       |FROM bands x JOIN bands y ON x.band = y.band AND x.doc_id < y.doc_id
       |GROUP BY 1, 2""".stripMargin
  }

  /** DuckDB twin of [[TextOps.dedupClusters]]: the same band-pair CTE, then
    * a recursive transitive closure over the undirected edges — each doc's
    * representative is the min id among itself and everything reachable.
    */
  private val dedupClustersOracle: String =
    s"""WITH RECURSIVE p AS (
       |$minhashBandOracle
       |), edges AS (
       |  SELECT a AS src, b AS dst FROM p UNION SELECT b AS src, a AS dst FROM p
       |), reach(id, r) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
       |)
       |SELECT d.doc_id,
       |  CAST(least(coalesce(MIN(r.r), d.doc_id), d.doc_id) AS BIGINT) AS cluster_rep
       |FROM documents d LEFT JOIN reach r ON r.id = d.doc_id
       |GROUP BY d.doc_id""".stripMargin

  /** DuckDB twin of [[TextOps.curate]]: the dedup closure, the language
    * argmax, and the token-count gate re-composed from the same fragments
    * as their standalone oracles.
    */
  private val curationOracle: String =
    s"""WITH RECURSIVE p AS (
       |$minhashBandOracle
       |), edges AS (
       |  SELECT a AS src, b AS dst FROM p WHERE n_bands >= 2
       |  UNION SELECT b AS src, a AS dst FROM p WHERE n_bands >= 2
       |), reach(id, r) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
       |), rep AS (
       |  SELECT d.doc_id,
       |    least(coalesce(MIN(r.r), d.doc_id), d.doc_id) AS cluster_rep
       |  FROM documents d LEFT JOIN reach r ON r.id = d.doc_id
       |  GROUP BY d.doc_id
       |), lang AS (
       |$langidOracle
       |), quality AS (
       |  SELECT doc_id, len(regexp_extract_all(text, '\\S+')) AS n_tokens FROM documents
       |)
       |SELECT l.lang_pred,
       |  CASE WHEN q.n_tokens >= 70 THEN 'long' ELSE 'std' END AS tier,
       |  COUNT(*) AS n_docs, CAST(SUM(q.n_tokens) AS BIGINT) AS sum_tokens
       |FROM rep
       |JOIN lang l ON l.doc_id = rep.doc_id
       |JOIN quality q ON q.doc_id = rep.doc_id
       |WHERE rep.doc_id = rep.cluster_rep AND q.n_tokens >= 40
       |GROUP BY 1, 2""".stripMargin

  /** DuckDB twin of [[EmbeddingOps.annIvf]]: centroid list literals are
    * generated from the same [[EmbeddingOps.ivfCentroid]] spec; assignment
    * and scoring are exact integer arithmetic on the grid.
    */
  private val ivfOracle: String = ivfOracleWhere("TRUE")

  /** DuckDB twin of [[graft.ops.IvfStore.readEvolution]] (emb20): the three
    * as-of states in closed form — base (%3≠0), +appends (all), +delete
    * tombstones (%5≠0) — with the same grid cell assignment the store
    * computes (exact integer argmin, ties to the lowest k).
    */
  private val emb20Oracle: String = {
    val cents = (0 until EmbeddingOps.IvfCells).map { k =>
      val c = EmbeddingOps.ivfCentroid(k, 64)
      val norm = c.map(x => x * x).sum
      s"SELECT $k AS k, ${c.mkString("[", ", ", "]")} AS c, CAST($norm AS BIGINT) AS cnorm"
    }.mkString("\nUNION ALL\n")
    s"""WITH g AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS g
       |  FROM embeddings
       |), cent AS (
       |$cents
       |), assign AS (
       |  SELECT vec_id, k,
       |    cnorm - 2 * CAST(list_sum(list_transform(list_zip(g, c), p -> p[1] * p[2])) AS BIGINT) AS d
       |  FROM g CROSS JOIN cent
       |), cell AS (
       |  SELECT vec_id, CAST(k AS BIGINT) AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, k ASC) rn FROM assign)
       |  WHERE rn = 1
       |)
       |SELECT CAST(a.as_of AS BIGINT) AS as_of, c.vec_id, c.cell
       |FROM (VALUES (0), (1), (2)) a(as_of) JOIN cell c ON
       |  (a.as_of = 0 AND c.vec_id % 3 <> 0) OR a.as_of = 1
       |  OR (a.as_of = 2 AND c.vec_id % 5 <> 0)""".stripMargin
  }

  /** [[ivfOracle]] restricted to a live-vector predicate — the emb19 twin
    * (an IVF delta store's merged search equals the fresh rebuild over the
    * live set, which is exactly this filter).
    */
  private def ivfOracleWhere(where: String): String = {
    val cents = (0 until EmbeddingOps.IvfCells).map { k =>
      val c = EmbeddingOps.ivfCentroid(k, 64)
      val norm = c.map(x => x * x).sum
      s"SELECT $k AS k, ${c.mkString("[", ", ", "]")} AS c, CAST($norm AS BIGINT) AS cnorm"
    }.mkString("\nUNION ALL\n")
    s"""WITH g AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS g
       |  FROM embeddings
       |  WHERE $where
       |), cent AS (
       |$cents
       |), assign AS (
       |  SELECT vec_id, g, k,
       |    cnorm - 2 * CAST(list_sum(list_transform(list_zip(g, c), p -> p[1] * p[2])) AS BIGINT) AS d
       |  FROM g CROSS JOIN cent
       |), cell AS (
       |  SELECT vec_id, g, k AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, k ASC) rn FROM assign)
       |  WHERE rn = 1
       |), n AS (
       |  SELECT vec_id, g, cell, CAST(list_sum(list_transform(g, x -> x * x)) AS BIGINT) AS nn FROM cell
       |), scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    CAST(CAST(list_sum(list_transform(list_zip(q.g, c.g), p -> p[1] * p[2])) AS BIGINT) AS DOUBLE)
       |      / sqrt(CAST(q.nn * c.nn AS DOUBLE)) AS cos
       |  FROM n q JOIN n c ON c.cell = q.cell AND c.vec_id <> q.vec_id)
       |SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id, round(cos, 6) AS cos
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos DESC, neighbor_id ASC) rn FROM scored)
       |WHERE rn <= 5""".stripMargin
  }

  /** DuckDB twin of [[EmbeddingOps.annMultiProbe]] (4 planes, Hamming ≤ 1):
    * brute force restricted to candidate pairs whose SRP buckets differ in
    * at most one bit.
    */
  private val multiProbeOracle: String = {
    val nPlanes = 4
    val hamming = (1 to nPlanes).map(i =>
      s"CASE WHEN substr(q.bucket, $i, 1) <> substr(c.bucket, $i, 1) THEN 1 ELSE 0 END")
      .mkString("(", " + ", ")")
    s"""WITH g AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS g
       |  FROM embeddings
       |), n AS (
       |  SELECT vec_id, g, CAST(list_sum(list_transform(g, x -> x * x)) AS BIGINT) AS nn,
       |    ${srpBucketSql(nPlanes)} AS bucket
       |  FROM g
       |), scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    CAST(CAST(list_sum(list_transform(list_zip(q.g, c.g), p -> p[1] * p[2])) AS BIGINT) AS DOUBLE)
       |      / sqrt(CAST(q.nn * c.nn AS DOUBLE)) AS cos
       |  FROM n q JOIN n c ON c.vec_id <> q.vec_id AND $hamming <= 1)
       |SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id, round(cos, 6) AS cos
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos DESC, neighbor_id ASC) rn FROM scored)
       |WHERE rn <= 5""".stripMargin
  }

  /** DuckDB twin of [[EmbeddingOps.annIvfMultiProbe]] (nprobe = 2): query
    * side takes its two nearest cells, corpus side its single nearest.
    */
  private val ivfNprobeOracle: String = {
    val cents = (0 until EmbeddingOps.IvfCells).map { k =>
      val c = EmbeddingOps.ivfCentroid(k, 64)
      val norm = c.map(x => x * x).sum
      s"SELECT $k AS k, ${c.mkString("[", ", ", "]")} AS c, CAST($norm AS BIGINT) AS cnorm"
    }.mkString("\nUNION ALL\n")
    s"""WITH g AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS g
       |  FROM embeddings
       |), cent AS (
       |$cents
       |), assign AS (
       |  SELECT vec_id, g, k,
       |    cnorm - 2 * CAST(list_sum(list_transform(list_zip(g, c), p -> p[1] * p[2])) AS BIGINT) AS d
       |  FROM g CROSS JOIN cent
       |), ranked AS (
       |  SELECT vec_id, g, k AS cell, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY d ASC, k ASC) AS rn
       |  FROM assign
       |), n AS (
       |  SELECT vec_id, g, cell, rn,
       |    CAST(list_sum(list_transform(g, x -> x * x)) AS BIGINT) AS nn
       |  FROM ranked WHERE rn <= 2
       |), scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    CAST(CAST(list_sum(list_transform(list_zip(q.g, c.g), p -> p[1] * p[2])) AS BIGINT) AS DOUBLE)
       |      / sqrt(CAST(q.nn * c.nn AS DOUBLE)) AS cos
       |  FROM n q JOIN n c ON c.cell = q.cell AND c.rn = 1 AND c.vec_id <> q.vec_id)
       |SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id, round(cos, 6) AS cos
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos DESC, neighbor_id ASC) rn FROM scored)
       |WHERE rn <= 5""".stripMargin
  }

  /** SRP bucket expression over a grid-vector column `g` — the DuckDB twin
    * of [[EmbeddingOps.srpBuckets]] (plane sign = md5-parity of "p:i").
    */
  private def srpBucketSql(nPlanes: Int): String = {
    def planeSum(p: Int): String =
      s"""list_sum(list_transform(generate_series(1, len(g)),
         |  i -> CASE WHEN ('0x' || substr(md5('$p:' || (i - 1)), 1, 15))::BIGINT % 2 = 1
         |       THEN g[CAST(i AS INTEGER)] ELSE -g[CAST(i AS INTEGER)] END))""".stripMargin
    (0 until nPlanes)
      .map(p => s"CASE WHEN ${planeSum(p)} > 0 THEN '1' ELSE '0' END")
      .mkString("(", " ||\n   ", ")")
  }

  /** DuckDB twin of [[EmbeddingOps.kmeansRefine]] (8 cells, 1 Lloyd
    * iteration): seed assignment by exact integer argmin, per-(cell, dim)
    * integer sums, HALF_UP quantization to the 1000× grid, exact integer
    * re-assignment. Empty cells keep their (quantized) seed centroid.
    */
  private val kmeansOracle: String = {
    val cents = (0 until EmbeddingOps.IvfCells).map { k =>
      val c = EmbeddingOps.ivfCentroid(k, 64)
      val norm = c.map(x => x * x).sum
      s"SELECT $k AS k, ${c.mkString("[", ", ", "]")} AS c, CAST($norm AS BIGINT) AS cnorm"
    }.mkString("\nUNION ALL\n")
    s"""WITH g AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS g
       |  FROM embeddings
       |), cent AS (
       |$cents
       |), assign0 AS (
       |  SELECT vec_id, g, k,
       |    cnorm - 2 * CAST(list_sum(list_transform(list_zip(g, c), p -> p[1] * p[2])) AS BIGINT) AS d
       |  FROM g CROSS JOIN cent
       |), a0 AS (
       |  SELECT vec_id, g, CAST(k AS BIGINT) AS cell0 FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, k ASC) rn
       |    FROM assign0)
       |  WHERE rn = 1
       |), ex AS (
       |  -- parallel unnests zip element-wise (DuckDB 1.0 forbids lateral
       |  -- generate_series on a column, so no per-row table function here);
       |  -- g sliced to the 64-dim centroid basis, mirroring the impl's
       |  -- posexplode(slice(g, 1, dims)) over-length guard
       |  SELECT cell0, unnest(generate_series(1, len(g[1:64]))) AS i,
       |    unnest(g[1:64]) AS x FROM a0
       |), sums AS (
       |  SELECT cell0, i,
       |    CAST(round(1000.0 * SUM(x) / COUNT(*)) AS BIGINT) AS m
       |  FROM ex GROUP BY 1, 2
       |), learned AS (
       |  SELECT cell0 AS k, list(m ORDER BY i) AS m FROM sums GROUP BY 1
       |), cent1 AS (
       |  SELECT c0.k, coalesce(l.m, list_transform(c0.c, x -> x * 1000)) AS m
       |  FROM cent c0 LEFT JOIN learned l ON l.k = c0.k
       |), assign1 AS (
       |  SELECT a.vec_id, a.cell0, c1.k,
       |    CAST(list_sum(list_transform(
       |      list_zip(list_transform(a.g, x -> x * 1000), c1.m),
       |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
       |  FROM a0 a CROSS JOIN cent1 c1)
       |SELECT vec_id, cell0, CAST(k AS BIGINT) AS cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, k ASC) rn
       |  FROM assign1)
       |WHERE rn = 1""".stripMargin
  }

  /** DuckDB twin of [[EmbeddingOps.annPq]], codeword literals generated
    * from the same [[EmbeddingOps.pqCodeword]] seeds so impl and oracle
    * cannot drift; every (vector, subspace, codeword) distance, the argmin
    * codes, and the ADC sums are exact integers.
    */
  private val pqOracle: String = {
    val cwRows = (for {
      m <- 0 until EmbeddingOps.PqM
      k <- 0 until EmbeddingOps.PqK
    } yield {
      val c = EmbeddingOps.pqCodeword(m, k)
      s"SELECT $m AS m, $k AS k, ${c.mkString("[", ", ", "]")} AS c"
    }).mkString("\nUNION ALL\n")
    s"""WITH g AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS g
       |  FROM embeddings
       |), cw AS (
       |$cwRows
       |), sd AS (
       |  SELECT g.vec_id, cw.m, cw.k,
       |    CAST(list_sum(list_transform(
       |      list_zip(list_slice(g.g, cw.m * ${EmbeddingOps.PqSubDim} + 1,
       |                          cw.m * ${EmbeddingOps.PqSubDim} + ${EmbeddingOps.PqSubDim}), cw.c),
       |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
       |  FROM g CROSS JOIN cw
       |), codes AS (
       |  SELECT vec_id, m, k AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d ASC, k ASC) rn
       |    FROM sd)
       |  WHERE rn = 1
       |), qd AS (
       |  SELECT vec_id AS qid, m, k, d FROM sd WHERE vec_id < 10
       |), adc AS (
       |  SELECT qd.qid, c.vec_id AS vid, CAST(SUM(qd.d) AS BIGINT) AS adc_dist
       |  FROM codes c JOIN qd ON qd.m = c.m AND qd.k = c.code
       |  WHERE c.vec_id <> qd.qid
       |  GROUP BY 1, 2
       |)
       |SELECT qid AS query_id, CAST(rn AS BIGINT) AS rank, vid AS neighbor_id, adc_dist
       |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc_dist ASC, vid ASC) rn
       |      FROM adc)
       |WHERE rn <= 5""".stripMargin
  }

  /** DuckDB twin of [[EmbeddingOps.annSq8]]: per-dim (min, span) from the
    * exploded grid, 8-bit levels by the same floor division, dequantized
    * reconstruction and the asymmetric distance on the ×255 scale — every
    * value an exact integer, ranking reproduced verbatim.
    */
  private val sq8Oracle: String =
    """WITH g AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS g
      |  FROM embeddings
      |), ex AS (
      |  SELECT vec_id, unnest(generate_series(1, len(g[1:64]))) AS i,
      |    unnest(g[1:64]) AS x FROM g
      |), st AS (
      |  SELECT i, MIN(x) AS mn, MAX(x) - MIN(x) AS span FROM ex GROUP BY 1
      |), recon AS (
      |  SELECT e.vec_id, e.i,
      |    st.mn * 255 + (CASE WHEN st.span = 0 THEN 0
      |      ELSE CAST(floor(CAST((e.x - st.mn) * 255 AS DOUBLE) / st.span) AS BIGINT)
      |      END) * st.span AS r
      |  FROM ex e JOIN st USING (i)
      |), q AS (
      |  SELECT vec_id AS qid, i, x * 255 AS q255 FROM ex WHERE vec_id < 10
      |), d AS (
      |  SELECT q.qid, r.vec_id AS vid,
      |    CAST(SUM((q.q255 - r.r) * (q.q255 - r.r)) AS BIGINT) AS sq_dist
      |  FROM q JOIN recon r ON r.i = q.i AND r.vec_id <> q.qid
      |  GROUP BY 1, 2
      |)
      |SELECT qid AS query_id, CAST(rn AS BIGINT) AS rank, vid AS neighbor_id, sq_dist
      |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sq_dist ASC, vid ASC) rn
      |      FROM d)
      |WHERE rn <= 5""".stripMargin

  /** DuckDB twin of [[EmbeddingOps.annIvfPq]] — the ivfNprobe cell-ranking
    * CTEs composed with the PQ code/ADC CTEs; candidates restricted to the
    * query's nprobe=2 nearest cells, ranked by exact-integer ADC.
    */
  private val ivfPqOracle: String = {
    val cents = (0 until EmbeddingOps.IvfCells).map { k =>
      val c = EmbeddingOps.ivfCentroid(k, 64)
      val norm = c.map(x => x * x).sum
      s"SELECT $k AS k, ${c.mkString("[", ", ", "]")} AS c, CAST($norm AS BIGINT) AS cnorm"
    }.mkString("\nUNION ALL\n")
    val cwRows = (for {
      m <- 0 until EmbeddingOps.PqM
      k <- 0 until EmbeddingOps.PqK
    } yield {
      val c = EmbeddingOps.pqCodeword(m, k)
      s"SELECT $m AS m, $k AS k, ${c.mkString("[", ", ", "]")} AS c"
    }).mkString("\nUNION ALL\n")
    s"""WITH g AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS g
       |  FROM embeddings
       |), cent AS (
       |$cents
       |), assignc AS (
       |  SELECT vec_id, g, k,
       |    cnorm - 2 * CAST(list_sum(list_transform(list_zip(g, c), p -> p[1] * p[2])) AS BIGINT) AS d
       |  FROM g CROSS JOIN cent
       |), rankedc AS (
       |  SELECT vec_id, k AS cell, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY d ASC, k ASC) AS rn
       |  FROM assignc
       |), corpcell AS (
       |  SELECT vec_id, cell FROM rankedc WHERE rn = 1
       |), qcells AS (
       |  SELECT vec_id AS qid, cell FROM rankedc WHERE rn <= 2 AND vec_id < 10
       |), cw AS (
       |$cwRows
       |), sd AS (
       |  SELECT g.vec_id, cw.m, cw.k,
       |    CAST(list_sum(list_transform(
       |      list_zip(list_slice(g.g, cw.m * ${EmbeddingOps.PqSubDim} + 1,
       |                          cw.m * ${EmbeddingOps.PqSubDim} + ${EmbeddingOps.PqSubDim}), cw.c),
       |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
       |  FROM g CROSS JOIN cw
       |), codes AS (
       |  SELECT vec_id, m, k AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d ASC, k ASC) rn
       |    FROM sd)
       |  WHERE rn = 1
       |), qd AS (
       |  SELECT vec_id AS qid, m, k, d FROM sd WHERE vec_id < 10
       |), adc AS (
       |  SELECT qd.qid, c.vec_id AS vid, CAST(SUM(qd.d) AS BIGINT) AS adc_dist
       |  FROM codes c
       |  JOIN qd ON qd.m = c.m AND qd.k = c.code
       |  JOIN corpcell cc ON cc.vec_id = c.vec_id
       |  JOIN qcells qc ON qc.qid = qd.qid AND qc.cell = cc.cell
       |  WHERE c.vec_id <> qd.qid
       |  GROUP BY 1, 2
       |)
       |SELECT qid AS query_id, CAST(rn AS BIGINT) AS rank, vid AS neighbor_id, adc_dist
       |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc_dist ASC, vid ASC) rn
       |      FROM adc)
       |WHERE rn <= 5""".stripMargin
  }

  /** DuckDB twin of [[EmbeddingOps.annIvfPqRerank]] — the ivfPq ADC CTEs,
    * a top-`rerank` shortlist per query, then an exact integer-L2 rerank
    * of only those rows.
    */
  private val ivfPqRerankOracle: String = {
    val cents = (0 until EmbeddingOps.IvfCells).map { k =>
      val c = EmbeddingOps.ivfCentroid(k, 64)
      val norm = c.map(x => x * x).sum
      s"SELECT $k AS k, ${c.mkString("[", ", ", "]")} AS c, CAST($norm AS BIGINT) AS cnorm"
    }.mkString("\nUNION ALL\n")
    val cwRows = (for {
      m <- 0 until EmbeddingOps.PqM
      k <- 0 until EmbeddingOps.PqK
    } yield {
      val c = EmbeddingOps.pqCodeword(m, k)
      s"SELECT $m AS m, $k AS k, ${c.mkString("[", ", ", "]")} AS c"
    }).mkString("\nUNION ALL\n")
    val sub = EmbeddingOps.PqSubDim
    s"""WITH g AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS g
       |  FROM embeddings
       |), cent AS (
       |$cents
       |), assignc AS (
       |  SELECT vec_id, g, k,
       |    cnorm - 2 * CAST(list_sum(list_transform(list_zip(g, c), p -> p[1] * p[2])) AS BIGINT) AS d
       |  FROM g CROSS JOIN cent
       |), rankedc AS (
       |  SELECT vec_id, k AS cell, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY d ASC, k ASC) AS rn
       |  FROM assignc
       |), corpcell AS (
       |  SELECT vec_id, cell FROM rankedc WHERE rn = 1
       |), qcells AS (
       |  SELECT vec_id AS qid, cell FROM rankedc WHERE rn <= 2 AND vec_id < 10
       |), cw AS (
       |$cwRows
       |), sd AS (
       |  SELECT g.vec_id, cw.m, cw.k,
       |    CAST(list_sum(list_transform(
       |      list_zip(list_slice(g.g, cw.m * $sub + 1, cw.m * $sub + $sub), cw.c),
       |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
       |  FROM g CROSS JOIN cw
       |), codes AS (
       |  SELECT vec_id, m, k AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d ASC, k ASC) rn
       |    FROM sd)
       |  WHERE rn = 1
       |), qd AS (
       |  SELECT vec_id AS qid, m, k, d FROM sd WHERE vec_id < 10
       |), adc AS (
       |  SELECT qd.qid, c.vec_id AS vid, CAST(SUM(qd.d) AS BIGINT) AS adc_dist
       |  FROM codes c
       |  JOIN qd ON qd.m = c.m AND qd.k = c.code
       |  JOIN corpcell cc ON cc.vec_id = c.vec_id
       |  JOIN qcells qc ON qc.qid = qd.qid AND qc.cell = cc.cell
       |  WHERE c.vec_id <> qd.qid
       |  GROUP BY 1, 2
       |), short AS (
       |  SELECT qid, vid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc_dist ASC, vid ASC) rn
       |    FROM adc)
       |  WHERE rn <= 20
       |), ex AS (
       |  SELECT s.qid, s.vid,
       |    CAST(list_sum(list_transform(list_zip(gq.g, gv.g),
       |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d_exact
       |  FROM short s
       |  JOIN g gq ON gq.vec_id = s.qid
       |  JOIN g gv ON gv.vec_id = s.vid
       |)
       |SELECT qid AS query_id, CAST(rn AS BIGINT) AS rank, vid AS neighbor_id, d_exact
       |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d_exact ASC, vid ASC) rn
       |      FROM ex)
       |WHERE rn <= 5""".stripMargin
  }

  /** DuckDB twin of [[EmbeddingOps.annIvfPqResidual]] — the FULL trained
    * IVFADC unrolled: one coarse Lloyd step (seed-assign → per-(cell, dim)
    * rounded mean, empty cells keep their seed — the emb08 discipline),
    * residual grids against the LEARNED centroids, one codebook Lloyd
    * step on those residuals (seed codes → per-(m, code, dim) rounded
    * mean), then residual codes / per-probed-cell query tables / ADC
    * ranking, all integer-exact.
    */
  private val ivfPqResidualOracle: String = {
    val cents = (0 until EmbeddingOps.IvfCells).map { k =>
      val c = EmbeddingOps.ivfCentroid(k, 64)
      val norm = c.map(x => x * x).sum
      s"SELECT $k AS k, ${c.mkString("[", ", ", "]")} AS c, CAST($norm AS BIGINT) AS cnorm"
    }.mkString("\nUNION ALL\n")
    val cwRows = (for {
      m <- 0 until EmbeddingOps.PqM
      k <- 0 until EmbeddingOps.PqK
    } yield {
      val c = EmbeddingOps.pqCodeword(m, k)
      s"SELECT $m AS m, $k AS k, ${c.mkString("[", ", ", "]")} AS c"
    }).mkString("\nUNION ALL\n")
    val sub = EmbeddingOps.PqSubDim
    s"""WITH g AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS g
       |  FROM embeddings
       |), cent AS (
       |$cents
       |), assign0 AS (
       |  SELECT vec_id, k,
       |    cnorm - 2 * CAST(list_sum(list_transform(list_zip(g, c), p -> p[1] * p[2])) AS BIGINT) AS d
       |  FROM g CROSS JOIN cent
       |), cell0 AS (
       |  SELECT vec_id, k AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, k ASC) rn
       |    FROM assign0)
       |  WHERE rn = 1
       |), m1 AS (
       |  -- coarse Lloyd step: rounded per-(cell, dim) means
       |  SELECT a.cell AS k, i.i AS i,
       |    CAST(round(AVG(g.g[CAST(i.i AS INTEGER)])) AS BIGINT) AS v
       |  FROM cell0 a JOIN g ON g.vec_id = a.vec_id
       |  CROSS JOIN generate_series(1, 64) i(i)
       |  GROUP BY 1, 2
       |), cent1 AS MATERIALIZED (
       |  -- learned centroids; empty cells keep the seed
       |  SELECT s.k, list(coalesce(m1.v, s.c[CAST(i.i AS INTEGER)]) ORDER BY i.i) AS c
       |  FROM cent s CROSS JOIN generate_series(1, 64) i(i)
       |  LEFT JOIN m1 ON m1.k = s.k AND m1.i = i.i
       |  GROUP BY s.k
       |), assign1 AS (
       |  SELECT g.vec_id, c1.k,
       |    CAST(list_sum(list_transform(c1.c, x -> x * x)) AS BIGINT)
       |      - 2 * CAST(list_sum(list_transform(list_zip(g.g, c1.c), p -> p[1] * p[2])) AS BIGINT) AS d
       |  FROM g CROSS JOIN cent1 c1
       |), ranked1 AS (
       |  SELECT vec_id, k AS cell, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY d ASC, k ASC) AS rn
       |  FROM assign1
       |), corpcell AS MATERIALIZED (
       |  SELECT vec_id, cell FROM ranked1 WHERE rn = 1
       |), qcells AS (
       |  SELECT vec_id AS qid, cell FROM ranked1 WHERE rn <= 2 AND vec_id < 10
       |), cw AS (
       |$cwRows
       |), rg AS MATERIALIZED (
       |  SELECT g.vec_id, list_transform(list_zip(g.g, c1.c), p -> p[1] - p[2]) AS r
       |  FROM g JOIN corpcell cc ON cc.vec_id = g.vec_id JOIN cent1 c1 ON c1.k = cc.cell
       |), sd0 AS (
       |  -- seed-codebook assignment of the residual subvectors
       |  SELECT rg.vec_id, cw.m, cw.k,
       |    CAST(list_sum(list_transform(
       |      list_zip(list_slice(rg.r, cw.m * $sub + 1, cw.m * $sub + $sub), cw.c),
       |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
       |  FROM rg CROSS JOIN cw
       |), codes0 AS (
       |  SELECT vec_id, m, k AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d ASC, k ASC) rn
       |    FROM sd0)
       |  WHERE rn = 1
       |), cbm AS (
       |  -- codebook Lloyd step: rounded per-(m, code, dim) residual means
       |  SELECT c.m, c.code AS k, i.i AS i,
       |    CAST(round(AVG(rg.r[c.m * $sub + CAST(i.i AS INTEGER)])) AS BIGINT) AS v
       |  FROM codes0 c JOIN rg ON rg.vec_id = c.vec_id
       |  CROSS JOIN generate_series(1, $sub) i(i)
       |  GROUP BY 1, 2, 3
       |), cw1 AS MATERIALIZED (
       |  -- trained codewords; empty codes keep the seed
       |  SELECT w.m, w.k, list(coalesce(cbm.v, w.c[CAST(i.i AS INTEGER)]) ORDER BY i.i) AS c
       |  FROM cw w CROSS JOIN generate_series(1, $sub) i(i)
       |  LEFT JOIN cbm ON cbm.m = w.m AND cbm.k = w.k AND cbm.i = i.i
       |  GROUP BY w.m, w.k
       |), sd AS (
       |  SELECT rg.vec_id, cw1.m, cw1.k,
       |    CAST(list_sum(list_transform(
       |      list_zip(list_slice(rg.r, cw1.m * $sub + 1, cw1.m * $sub + $sub), cw1.c),
       |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
       |  FROM rg CROSS JOIN cw1
       |), codes AS (
       |  SELECT vec_id, m, k AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d ASC, k ASC) rn
       |    FROM sd)
       |  WHERE rn = 1
       |), qrg AS (
       |  SELECT qc.qid, qc.cell, list_transform(list_zip(g.g, c1.c), p -> p[1] - p[2]) AS r
       |  FROM qcells qc JOIN g ON g.vec_id = qc.qid JOIN cent1 c1 ON c1.k = qc.cell
       |), qd AS (
       |  SELECT qrg.qid, qrg.cell, cw1.m, cw1.k,
       |    CAST(list_sum(list_transform(
       |      list_zip(list_slice(qrg.r, cw1.m * $sub + 1, cw1.m * $sub + $sub), cw1.c),
       |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
       |  FROM qrg CROSS JOIN cw1
       |), adc AS (
       |  SELECT qd.qid, c.vec_id AS vid, CAST(SUM(qd.d) AS BIGINT) AS adc_dist
       |  FROM codes c
       |  JOIN corpcell cc ON cc.vec_id = c.vec_id
       |  JOIN qd ON qd.m = c.m AND qd.k = c.code AND qd.cell = cc.cell
       |  WHERE c.vec_id <> qd.qid
       |  GROUP BY 1, 2
       |)
       |SELECT qid AS query_id, CAST(rn AS BIGINT) AS rank, vid AS neighbor_id, adc_dist
       |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc_dist ASC, vid ASC) rn
       |      FROM adc)
       |WHERE rn <= 5""".stripMargin
  }

  /** Shared CTE prefix of the graph-analytics oracles — the SQL twin of
    * [[GraphAnalytics.syntheticEdges]] (tree d → d⌊/2⌋ + chord triangles at
    * every multiple of 4, endpoints closed over the id set) plus the
    * canonical undirected projection.
    */
  private val graphEdgesCte: String =
    """ids AS (SELECT doc_id AS id FROM documents),
      |raw AS (
      |  SELECT id AS src, id // 2 AS dst FROM ids WHERE id > 0
      |  UNION ALL SELECT id, id + 1 FROM ids WHERE id % 4 = 0
      |  UNION ALL SELECT id, id + 2 FROM ids WHERE id % 4 = 0
      |  UNION ALL SELECT id + 1, id + 2 FROM ids WHERE id % 4 = 0),
      |edges AS (
      |  SELECT src, dst FROM raw
      |  WHERE src <> dst AND src IN (SELECT id FROM ids) AND dst IN (SELECT id FROM ids)),
      |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM edges)""".stripMargin

  /** Two label-propagation rounds unrolled — term-for-term the update of
    * [[GraphAnalytics.labelPropagation]] (mode of neighbour labels,
    * count-DESC-then-label-ASC argmax, coalesce keeps isolated nodes).
    */
  private val labelPropOracle: String = {
    val iters = (1 to 2).map { t =>
      s"""b$t AS (
         |  SELECT v AS id, lbl FROM (
         |    SELECT a.v, l.lbl, COUNT(*) AS c,
         |      row_number() OVER (PARTITION BY a.v ORDER BY COUNT(*) DESC, l.lbl ASC) AS rn
         |    FROM adj a JOIN l${t - 1} l ON l.id = a.w
         |    GROUP BY a.v, l.lbl) WHERE rn = 1),
         |l$t AS (
         |  SELECT p.id, coalesce(b$t.lbl, p.lbl) AS lbl
         |  FROM l${t - 1} p LEFT JOIN b$t ON b$t.id = p.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $graphEdgesCte,
       |adj AS (SELECT u AS v, v AS w FROM und UNION ALL SELECT v AS v, u AS w FROM und),
       |l0 AS (SELECT id, id AS lbl FROM ids),
       |$iters
       |SELECT id AS doc_id, CAST(lbl AS BIGINT) AS label FROM l2""".stripMargin
  }

  private val degreeOracle: String =
    s"""WITH $graphEdgesCte
       |SELECT i.id AS doc_id, CAST(coalesce(d.degree, 0) AS BIGINT) AS degree
       |FROM ids i LEFT JOIN (
       |  SELECT id, COUNT(*) AS degree
       |  FROM (SELECT u AS id FROM und UNION ALL SELECT v AS id FROM und)
       |  GROUP BY 1) d ON d.id = i.id""".stripMargin

  // a < b < c enumeration — same triangle set the degree-oriented Spark
  // plan finds (orientation changes the join shape, never the result)
  private val triangleOracle: String =
    s"""WITH $graphEdgesCte,
       |tri AS (
       |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM und e1
       |  JOIN und e2 ON e2.u = e1.v
       |  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v)
       |SELECT id AS doc_id, COUNT(*) AS n_triangles
       |FROM (SELECT a AS id FROM tri UNION ALL SELECT b AS id FROM tri
       |      UNION ALL SELECT c AS id FROM tri)
       |GROUP BY 1""".stripMargin

  private val bfsOracle: String =
    s"""WITH RECURSIVE $graphEdgesCte,
       |adj AS (SELECT src AS a, dst AS b FROM edges
       |        UNION SELECT dst AS a, src AS b FROM edges),
       |walk(id, hop) AS (
       |  SELECT (SELECT MIN(id) FROM ids), 0
       |  UNION
       |  SELECT adj.b, w.hop + 1 FROM walk w JOIN adj ON adj.a = w.id
       |  WHERE w.hop < 25)
       |SELECT id AS doc_id, CAST(MIN(hop) AS BIGINT) AS hop
       |FROM walk GROUP BY 1""".stripMargin

  /** Three power-method iterations unrolled as CTEs — term-for-term the
    * arithmetic of [[GraphAnalytics.pageRank]] (same double literals, same
    * coalesce-to-0 for rankless-in-degree nodes, dangling mass dropped).
    */
  private val pageRankOracle: String = {
    def iter(prev: String, t: Int): String =
      s"""c$t AS (
         |  SELECT e.dst AS id, SUM(r.rank / od.deg) AS c
         |  FROM edges e JOIN $prev r ON r.id = e.src
         |  JOIN outdeg od ON od.id = e.src
         |  GROUP BY 1),
         |r$t AS (
         |  SELECT i.id, 0.15 / cnt.n + 0.85 * coalesce(c$t.c, 0) AS rank
         |  FROM ids i CROSS JOIN cnt LEFT JOIN c$t ON c$t.id = i.id)""".stripMargin
    s"""WITH $graphEdgesCte,
       |cnt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM ids),
       |outdeg AS (SELECT src AS id, COUNT(*) AS deg FROM edges GROUP BY 1),
       |r0 AS (SELECT id, 1.0 / cnt.n AS rank FROM ids CROSS JOIN cnt),
       |${iter("r0", 1)},
       |${iter("r1", 2)},
       |${iter("r2", 3)}
       |SELECT id AS doc_id, round(rank, 6) AS rank FROM r3""".stripMargin
  }

  /** kg72: a FRESH 3-iteration PageRank over the diffed edge set v2 — the
    * incremental path must land on exactly these values.
    */
  private val kg72Oracle: String = {
    def iter(prev: String, t: Int): String =
      s"""c$t AS (
         |  SELECT e.dst AS id, SUM(r.rank / od.deg) AS c
         |  FROM e2 e JOIN $prev r ON r.id = e.src
         |  JOIN outdeg od ON od.id = e.src
         |  GROUP BY 1),
         |r$t AS (
         |  SELECT i.id, 0.15 / cnt.n + 0.85 * coalesce(c$t.c, 0) AS rank
         |  FROM ids i CROSS JOIN cnt LEFT JOIN c$t ON c$t.id = i.id)""".stripMargin
    s"""WITH $graphEdgesCte,
       |adds AS (
       |  SELECT id AS src, id + 5 AS dst FROM ids
       |  WHERE id % 103 = 0 AND id + 5 IN (SELECT id FROM ids)),
       |e2 AS (
       |  SELECT src, dst FROM edges WHERE src % 101 <> 0
       |  UNION ALL SELECT src, dst FROM adds),
       |cnt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM ids),
       |outdeg AS (SELECT src AS id, COUNT(*) AS deg FROM e2 GROUP BY 1),
       |r0 AS (SELECT id, 1.0 / cnt.n AS rank FROM ids CROSS JOIN cnt),
       |${iter("r0", 1)},
       |${iter("r1", 2)},
       |${iter("r2", 3)}
       |SELECT id AS doc_id, round(rank, 6) AS rank FROM r3""".stripMargin
  }

  /** DuckDB twin of [[GraphOps.parseTurtleWithSpans]]: all four triples
    * come from ONE statement whose span is closed-form — start right after
    * the two prefix directives, end after the terminating `.` (the
    * reference's statement-span convention: the period is part of the
    * span, only what follows it is not — see the fixture-pinned test in
    * ConformanceSpec). The constants are computed from the same literal
    * fragments [[GraphOps.turtleForDoc]] concatenates, so impl and oracle
    * cannot drift; the corpus is ASCII so char lengths equal byte lengths.
    */
  private val spanOracle: String = {
    val head = (s"@prefix d: <${GraphOps.DocPrefix}> .\n" +
      s"@prefix p: <${GraphOps.PropPrefix}> .\n").length
    val fixed = "d:".length + " p:lang \"".length + "\" ;\n".length +
      "  p:label \"doc ".length + "\"@".length + " ;\n".length +
      "  p:source \"".length + "\" ;\n".length + "  p:nchars ".length +
      " .".length
    s"""WITH d AS (SELECT doc_id, lang, source, n_chars,
       |  '<${GraphOps.DocPrefix}' || doc_id || '>' AS subj,
       |  CAST($head AS BIGINT) AS span_start,
       |  CAST($head + $fixed
       |    + 2 * len(CAST(doc_id AS VARCHAR)) + 2 * len(lang)
       |    + len(source) + len(CAST(n_chars AS VARCHAR)) AS BIGINT) AS span_end
       |  FROM documents)
       |SELECT doc_id, subj, '${GraphOps.PropPrefix}lang' AS pred,
       |  '"' || lang || '"' AS obj, span_start, span_end FROM d
       |UNION ALL
       |SELECT doc_id, subj, '${GraphOps.PropPrefix}label' AS pred,
       |  '"doc ' || doc_id || '"@' || lang AS obj, span_start, span_end FROM d
       |UNION ALL
       |SELECT doc_id, subj, '${GraphOps.PropPrefix}source' AS pred,
       |  '"' || source || '"' AS obj, span_start, span_end FROM d
       |UNION ALL
       |SELECT doc_id, subj, '${GraphOps.PropPrefix}nchars' AS pred,
       |  '"' || n_chars || '"^^<http://www.w3.org/2001/XMLSchema#integer>' AS obj,
       |  span_start, span_end FROM d""".stripMargin
  }

  private val kg01Oracle: String =
    s"""WITH d AS (SELECT doc_id, lang, source, n_chars,
       |  '<${GraphOps.DocPrefix}' || doc_id || '>' AS subj FROM documents)
       |SELECT doc_id, subj, '${GraphOps.PropPrefix}lang' AS pred,
       |  '"' || lang || '"' AS obj FROM d
       |UNION ALL
       |SELECT doc_id, subj, '${GraphOps.PropPrefix}label' AS pred,
       |  '"doc ' || doc_id || '"@' || lang AS obj FROM d
       |UNION ALL
       |SELECT doc_id, subj, '${GraphOps.PropPrefix}source' AS pred,
       |  '"' || source || '"' AS obj FROM d
       |UNION ALL
       |SELECT doc_id, subj, '${GraphOps.PropPrefix}nchars' AS pred,
       |  '"' || n_chars || '"^^<http://www.w3.org/2001/XMLSchema#integer>' AS obj FROM d""".stripMargin

  /** DuckDB twin of kg20: undirected distinct (subj, obj) degree per term
    * over the kg01-derived triples, term ids re-derived with the same
    * md5-prefix interning. Canonicalizing pairs by STRING order instead of
    * tid order yields the same unordered-pair set, so degrees agree.
    */
  private val kg20Oracle: String =
    s"""WITH tr AS (
       |  SELECT subj, obj FROM (
       |$kg01Oracle
       |  )
       |), e AS (
       |  SELECT DISTINCT least(subj, obj) AS u, greatest(subj, obj) AS v
       |  FROM tr WHERE subj <> obj
       |), ends AS (
       |  SELECT u AS term FROM e UNION ALL SELECT v AS term FROM e
       |), deg AS (
       |  SELECT term, COUNT(*) AS degree FROM ends GROUP BY 1
       |)
       |SELECT ('0x' || substr(md5(term), 1, 15))::BIGINT AS tid, term,
       |  CAST(degree AS BIGINT) AS degree
       |FROM deg""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "kg20_interned_degree" -> kg20Oracle,

    // merge(base(even), delta(odd)) must equal the full-corpus build
    "kg22_delta_merge" ->
      s"""SELECT subj, pred, obj FROM (
         |$kg01Oracle
         |)""".stripMargin,

    // incremental (3-delivery) streaming merge must ALSO equal it
    "kg23_stream_graph_merge" ->
      s"""SELECT subj, pred, obj FROM (
         |$kg01Oracle
         |)""".stripMargin,

    // and the LSM append→compact path must ALSO equal it
    "kg28_lsm_merge" ->
      s"""SELECT subj, pred, obj FROM (
         |$kg01Oracle
         |)""".stripMargin,

    // as must streaming ingest over the LSM path
    "kg33_stream_lsm_merge" ->
      s"""SELECT subj, pred, obj FROM (
         |$kg01Oracle
         |)""".stripMargin,

    // streamed re-crawl (initial crawl + diff-derived tombstone deltas for
    // the even pages whose n_chars grew by 1) == fresh updated-corpus build
    "kg40_stream_recrawl" ->
      s"""WITH d AS (SELECT doc_id, lang, source,
         |  n_chars + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS n_chars,
         |  '<${GraphOps.DocPrefix}' || doc_id || '>' AS subj FROM documents)
         |SELECT subj, '${GraphOps.PropPrefix}lang' AS pred,
         |  '"' || lang || '"' AS obj FROM d
         |UNION ALL
         |SELECT subj, '${GraphOps.PropPrefix}label' AS pred,
         |  '"doc ' || doc_id || '"@' || lang AS obj FROM d
         |UNION ALL
         |SELECT subj, '${GraphOps.PropPrefix}source' AS pred,
         |  '"' || source || '"' AS obj FROM d
         |UNION ALL
         |SELECT subj, '${GraphOps.PropPrefix}nchars' AS pred,
         |  '"' || n_chars || '"^^<http://www.w3.org/2001/XMLSchema#integer>' AS obj
         |FROM d""".stripMargin,

    // v1 + applied diff(v1→v2) must equal the fresh v2 build exactly —
    // retractions actually removed, assertions present, provenance v2's
    "kg36_lsm_tombstones" ->
      s"""SELECT subj, pred, obj FROM (
         |$kg01Oracle
         |) WHERE doc_id % 2 <> 0""".stripMargin,

    // the maintained view == the fresh per-lang aggregate over snapshot v2
    "kg79_view_maintenance" ->
      """SELECT '"' || lang || '"' AS l, CAST(COUNT(*) AS BIGINT) AS n
        |FROM documents WHERE doc_id % 2 <> 0 GROUP BY 1""".stripMargin,

    // the maintained SUM view == the fresh per-lang char sum over v2
    "kg81_sum_view_maintenance" ->
      """SELECT '"' || lang || '"' AS l, CAST(SUM(n_chars) AS BIGINT) AS n
        |FROM documents WHERE doc_id % 2 <> 0 GROUP BY 1""".stripMargin,

    // the maintained MAX view == the fresh per-lang char max over v2
    "kg82_max_view_maintenance" ->
      """SELECT '"' || lang || '"' AS l, CAST(MAX(n_chars) AS BIGINT) AS n
        |FROM documents WHERE doc_id % 2 <> 0 GROUP BY 1""".stripMargin,

    // snapshot diff: set difference of the two builds, in closed form
    "kg32_graph_diff" ->
      s"""WITH t AS (
         |$kg01Oracle
         |)
         |SELECT 'add' AS op, subj, pred, obj FROM t
         |WHERE doc_id % 2 <> 0 AND doc_id % 3 = 0
         |UNION ALL
         |SELECT 'del' AS op, subj, pred, obj FROM t
         |WHERE doc_id % 2 = 0 AND doc_id % 3 <> 0""".stripMargin,

    // the modifier pipeline in closed form: distinct rendered pairs,
    // lexicographic (n DESC, l ASC) on the ASCII literals, top-20 + rank
    "kg50_bgp_select" ->
      s"""WITH p AS (
         |  SELECT DISTINCT '"' || lang || '"' AS l,
         |    '"' || n_chars || '"^^<http://www.w3.org/2001/XMLSchema#integer>' AS n
         |  FROM documents)
         |SELECT l, n, CAST(row_number() OVER (ORDER BY n DESC, l ASC) AS BIGINT) AS rk
         |FROM p ORDER BY n DESC, l ASC LIMIT 20""".stripMargin,

    // personalized teleport: p = 1/|S| on the seed set, 0 elsewhere;
    // three power iterations unrolled over the same edge CTEs as kg15
    "kg51_ppr" -> {
      def iter(prev: String, t: Int): String =
        s"""c$t AS (
           |  SELECT e.dst AS id, SUM(r.rank / od.deg) AS c
           |  FROM edges e JOIN $prev r ON r.id = e.src
           |  JOIN outdeg od ON od.id = e.src
           |  GROUP BY 1),
           |r$t AS (
           |  SELECT b.id, 0.15 * b.p + 0.85 * coalesce(c$t.c, 0) AS rank
           |  FROM base b LEFT JOIN c$t ON c$t.id = b.id)""".stripMargin
      s"""WITH $graphEdgesCte,
         |src AS (SELECT id FROM ids WHERE id % 50 = 0),
         |scnt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM src),
         |base AS (
         |  SELECT i.id, CASE WHEN s.id IS NOT NULL THEN 1.0 / scnt.n ELSE 0 END AS p
         |  FROM ids i CROSS JOIN scnt LEFT JOIN src s ON s.id = i.id),
         |outdeg AS (SELECT src AS id, COUNT(*) AS deg FROM edges GROUP BY 1),
         |r0 AS (SELECT id, p AS rank FROM base),
         |${iter("r0", 1)},
         |${iter("r1", 2)},
         |${iter("r2", 3)}
         |SELECT id AS doc_id, round(rank, 6) AS rank FROM r3""".stripMargin
    },

    // term accessors in closed form over the planted corpus: label lexical
    // form 'doc N', its lang tag, nchars' integer datatype IRI
    "kg58_term_fns" ->
      s"""SELECT '<${GraphOps.DocPrefix}' || doc_id || '>' AS d,
         |  'doc ' || doc_id AS s, lang AS lang_tag,
         |  'http://www.w3.org/2001/XMLSchema#integer' AS dt,
         |  CAST(1 AS BIGINT) AS d_is_iri
         |FROM documents WHERE starts_with('doc ' || doc_id, 'doc 1')""".stripMargin,

    // the quad table in closed form: kg01's triples + the shard graph
    "kg59_nquads_roundtrip" ->
      s"""SELECT '<http://graft.example/graph/' || (doc_id % 10) || '>' AS graph,
         |  subj, pred, obj FROM (
         |$kg01Oracle
         |)""".stripMargin,

    // the four predicate sets in closed form from the removal arithmetic
    // (sorted IRI order: label < lang < nchars < source)
    "kg62_char_sets" -> {
      val P = GraphOps.PropPrefix
      s"""WITH d AS (SELECT doc_id,
         |  CASE WHEN doc_id % 35 = 0 THEN '${P}lang ${P}nchars'
         |       WHEN doc_id % 5 = 0 THEN '${P}label ${P}lang ${P}nchars'
         |       WHEN doc_id % 7 = 0 THEN '${P}lang ${P}nchars ${P}source'
         |       ELSE '${P}label ${P}lang ${P}nchars ${P}source' END AS char_set
         |  FROM documents)
         |SELECT char_set, COUNT(*) AS n_subjects FROM d GROUP BY 1""".stripMargin
    },

    // the streamed running aggregate must equal the batch top-k
    "q41_stream_trending" ->
      """WITH tk AS (
        |  SELECT unnest(regexp_extract_all(text, '[^ \t\n\f\r]+')) AS token
        |  FROM documents
        |), c AS (SELECT token, COUNT(*) AS n FROM tk GROUP BY 1)
        |SELECT token, CAST(n AS BIGINT) AS n,
        |  CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS BIGINT) AS rk
        |FROM c ORDER BY n DESC, token ASC LIMIT 20""".stripMargin,

    // the delete-then-insert rewrite in closed form: English docs' source
    // triples re-predicate to p:archived, everything else unchanged
    "kg63_sparql_update" ->
      s"""WITH tri AS (
         |$kg01Oracle
         |)
         |SELECT t.subj,
         |  CASE WHEN t.pred = '${GraphOps.PropPrefix}source' AND dd.lang = 'en'
         |       THEN '${GraphOps.PropPrefix}archived' ELSE t.pred END AS pred,
         |  t.obj
         |FROM tri t JOIN documents dd USING (doc_id)""".stripMargin,

    // the same rewrite CONFINED to shard graph 3; siblings unchanged
    "kg69_graph_update" ->
      s"""WITH tri AS (
         |$kg01Oracle
         |)
         |SELECT '<http://graft.example/graph/' || (t.doc_id % 10) || '>' AS graph,
         |  t.subj,
         |  CASE WHEN t.doc_id % 10 = 3 AND t.pred = '${GraphOps.PropPrefix}source'
         |            AND dd.lang = 'en'
         |       THEN '${GraphOps.PropPrefix}archived' ELSE t.pred END AS pred,
         |  t.obj
         |FROM tri t JOIN documents dd USING (doc_id)""".stripMargin,

    // the TEXT front-end's flagship: the SPARQL string's algebra in SQL —
    // group by lang over docs with ≥120 chars (every doc IRI trivially
    // passes the STRSTARTS probe), BIGINT-exact integer sum (kg38 rule),
    // lexicographic MAX over rendered source literals (kg65 rule)
    "kg66_sparql_text" ->
      s"""SELECT '"' || lang || '"' AS l,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_nchars,
         |  MAX('"' || source || '"') AS max_src
         |FROM documents WHERE n_chars >= 120
         |GROUP BY 1""".stripMargin,

    // CONSTRUCT from text: two template projections, set semantics
    "kg70_sparql_construct" ->
      s"""SELECT '<${GraphOps.DocPrefix}' || doc_id || '>' AS subj,
         |  '${GraphOps.PropPrefix}tongue' AS pred, '"' || lang || '"' AS obj
         |FROM documents
         |UNION
         |SELECT '<${GraphOps.DocPrefix}' || doc_id || '>' AS subj,
         |  '${GraphOps.PropPrefix}origin' AS pred, '"' || source || '"' AS obj
         |FROM documents""".stripMargin,

    // GRAPH from text: kg56's oracle shape (BIGINT count per shard graph)
    "kg73_sparql_graph" ->
      """SELECT '<http://graft.example/graph/' || (doc_id % 10) || '>' AS g,
        |  COUNT(*) AS n_matches
        |FROM documents WHERE lang = 'en' GROUP BY 1""".stripMargin,

    // BIND + HAVING from text: the lexical lang as group key, groups
    // below 5 docs pruned post-aggregation
    "kg74_sparql_bind_having" ->
      """SELECT lang AS lex,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_nchars
        |FROM documents GROUP BY 1 HAVING COUNT(*) >= 5""".stripMargin,

    // the retraction-aware standing query in closed form: after batch b
    // the pages covered by deliveries 0..b carry n_chars+1 (batch 0 =
    // doc_id%4=0, batch 1 = all even); n_docs is CONSTANT per lang —
    // the retraction of each old nchars literal is what keeps it so
    "kg80_stream_sparql_retract" ->
      """SELECT CAST(b.seq AS BIGINT) AS batch_seq,
        |  '"' || d.lang || '"' AS l,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(d.n_chars + CASE
        |    WHEN b.seq = 0 AND d.doc_id % 4 = 0 THEN 1
        |    WHEN b.seq = 1 AND d.doc_id % 2 = 0 THEN 1
        |    ELSE 0 END) AS BIGINT) AS sum_nchars
        |FROM (VALUES (0), (1)) b(seq) CROSS JOIN documents d
        |GROUP BY 1, 2""".stripMargin,

    // the maintained view's evolution == kg78's closed form (the loop is
    // served from the view, so the answers must coincide)
    "kg83_stream_view_serve" ->
      """SELECT CAST(b.seq AS BIGINT) AS batch_seq,
        |  '"' || d.lang || '"' AS l,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM (VALUES (0), (1), (2)) AS b(seq)
        |JOIN documents d ON d.doc_id % 3 <= b.seq
        |GROUP BY 1, 2""".stripMargin,

    // the standing query's evolution in closed form: after batch b the
    // graph holds docs with doc_id % 3 <= b, so each snapshot is the
    // per-lang doc count over that prefix
    "kg78_stream_sparql" ->
      """SELECT CAST(b.seq AS BIGINT) AS batch_seq,
        |  '"' || d.lang || '"' AS l,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM (VALUES (0), (1), (2)) AS b(seq)
        |JOIN documents d ON d.doc_id % 3 <= b.seq
        |GROUP BY 1, 2""".stripMargin,

    // DESCRIBE from text: kg55's oracle verbatim
    "kg77_sparql_describe" ->
      s"""SELECT subj, pred, obj FROM (
         |$kg01Oracle
         |) WHERE doc_id IN (SELECT doc_id FROM documents WHERE lang = 'fr')""".stripMargin,

    // Update from text: kg63's oracle verbatim — the parsed string must
    // land on exactly the rows the typed API produced
    "kg75_sparql_update_text" ->
      s"""WITH tri AS (
         |$kg01Oracle
         |)
         |SELECT t.subj,
         |  CASE WHEN t.pred = '${GraphOps.PropPrefix}source' AND dd.lang = 'en'
         |       THEN '${GraphOps.PropPrefix}archived' ELSE t.pred END AS pred,
         |  t.obj
         |FROM tri t JOIN documents dd USING (doc_id)""".stripMargin,

    // ground DATA batches: base graph plus the ONE insert surviving the
    // later DELETE DATA tombstone
    "kg76_sparql_insert_data" ->
      s"""WITH tri AS (
         |$kg01Oracle
         |)
         |SELECT subj, pred, obj FROM tri
         |UNION ALL
         |SELECT '<${GraphOps.DocPrefix}seed>' AS subj,
         |  '${GraphOps.PropPrefix}lang' AS pred, '"en"' AS obj""".stripMargin,

    // ASK from text: kg54's two-probe oracle verbatim
    "kg71_sparql_ask" ->
      """SELECT 'fr' AS probe,
        |  CAST(CASE WHEN EXISTS (SELECT 1 FROM documents WHERE lang = 'fr')
        |    THEN 1 ELSE 0 END AS BIGINT) AS result
        |UNION ALL
        |SELECT 'zz' AS probe,
        |  CAST(CASE WHEN EXISTS (SELECT 1 FROM documents WHERE lang = 'zz')
        |    THEN 1 ELSE 0 END AS BIGINT) AS result""".stripMargin,

    // the three historical states in closed form: base (%3≠0), +batch-1
    // adds (all), +batch-2 retractions (%5≠0 survives)
    "kg60_time_travel" ->
      s"""WITH tr AS (
         |$kg01Oracle
         |)
         |SELECT CAST(0 AS BIGINT) AS as_of, subj, pred, obj FROM tr WHERE doc_id % 3 <> 0
         |UNION ALL
         |SELECT CAST(1 AS BIGINT) AS as_of, subj, pred, obj FROM tr
         |UNION ALL
         |SELECT CAST(2 AS BIGINT) AS as_of, subj, pred, obj FROM tr WHERE doc_id % 5 <> 0""".stripMargin,

    // per-lang numeric argmax over the rendered solutions, ties kept
    "kg57_bgp_subquery" ->
      s"""WITH s AS (SELECT '"' || lang || '"' AS l,
         |  '<${GraphOps.DocPrefix}' || doc_id || '>' AS d,
         |  CAST(n_chars AS BIGINT) AS nv FROM documents),
         |m AS (SELECT l, MAX(nv) AS mx FROM s GROUP BY 1)
         |SELECT s.l, s.d, s.nv FROM s JOIN m ON m.l = s.l AND s.nv = m.mx""".stripMargin,

    // boolean probes in closed form: "fr" docs exist (and every doc binds
    // nchars), "zz" docs never do
    "kg54_bgp_ask" ->
      """SELECT 'fr' AS probe,
        |  CAST(CASE WHEN EXISTS (SELECT 1 FROM documents WHERE lang = 'fr')
        |    THEN 1 ELSE 0 END AS BIGINT) AS result
        |UNION ALL
        |SELECT 'zz' AS probe,
        |  CAST(CASE WHEN EXISTS (SELECT 1 FROM documents WHERE lang = 'zz')
        |    THEN 1 ELSE 0 END AS BIGINT) AS result""".stripMargin,

    // the full 4-triple description of every lang='fr' doc
    "kg55_describe" ->
      s"""SELECT subj, pred, obj FROM (
         |$kg01Oracle
         |) WHERE doc_id IN (SELECT doc_id FROM documents WHERE lang = 'fr')""".stripMargin,

    // per-named-graph match counts: both patterns of a doc live in the
    // doc's graph (doc_id % 10), so matches per graph = en docs per shard
    "kg56_bgp_graph" ->
      """SELECT '<http://graft.example/graph/' || (doc_id % 10) || '>' AS g,
        |  COUNT(*) AS n_matches
        |FROM documents WHERE lang = 'en' GROUP BY 1""".stripMargin,

    // two unnormalized HITS rounds unrolled: a(v) = Σ h(u) over in-edges,
    // then h(u) = Σ a(v) over out-edges with the FRESH authorities; sums
    // cast back to BIGINT (DuckDB SUM(BIGINT) widens to HUGEINT)
    "kg52_hits" -> {
      def half(inScores: String, t: Int): String =
        s"""a$t AS (
           |  SELECT e.dst AS id, CAST(SUM(s.v) AS BIGINT) AS v
           |  FROM edges e JOIN $inScores s ON s.id = e.src GROUP BY 1),
           |af$t AS (SELECT i.id, coalesce(a$t.v, 0) AS v
           |  FROM ids i LEFT JOIN a$t ON a$t.id = i.id),
           |h$t AS (
           |  SELECT e.src AS id, CAST(SUM(s.v) AS BIGINT) AS v
           |  FROM edges e JOIN af$t s ON s.id = e.dst GROUP BY 1),
           |hf$t AS (SELECT i.id, coalesce(h$t.v, 0) AS v
           |  FROM ids i LEFT JOIN h$t ON h$t.id = i.id)""".stripMargin
      s"""WITH $graphEdgesCte,
         |hf0 AS (SELECT id, CAST(1 AS BIGINT) AS v FROM ids),
         |${half("hf0", 1)},
         |${half("hf1", 2)}
         |SELECT i.id AS doc_id, hf2.v AS hub, af2.v AS auth
         |FROM ids i JOIN hf2 ON hf2.id = i.id JOIN af2 ON af2.id = i.id""".stripMargin
    },

    // closed form: doc_ids are contiguous 0..N-1 (TESTDATA invariant), so
    // the d ~ d-1 chains broken at multiples of 7 partition ids into
    // classes doc_id // 7; the CC representative is the MIN IRI STRING of
    // the class and each member contributes its 4 parsed triples
    "kg53_sameas_canon" ->
      s"""WITH d AS (SELECT doc_id, doc_id // 7 AS g,
         |  '<${GraphOps.DocPrefix}' || doc_id || '>' AS subj FROM documents),
         |c AS (SELECT g, MIN(subj) AS canon FROM d GROUP BY 1)
         |SELECT c.canon AS canon_subj, CAST(4 * COUNT(*) AS BIGINT) AS n_facts
         |FROM d JOIN c ON c.g = d.g GROUP BY 1""".stripMargin,

    // v2 components in closed form per r = doc_id % 21: {21k, 21k+7..13}
    // (the add bridges the split-off singleton to group 3k+1 — only when
    // the bridging doc 21k+8 exists; a truncated tail group keeps its own
    // min 21k+7), {21k+1..6} (split remainder), {21k+14..20} (untouched)
    // CC labels are STRING-min IRIs — group by the numeric component key,
    // then take the string MIN of the members' rendered IRIs
    "kg67_sameas_canon_delta" ->
      s"""WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
         |d AS (SELECT doc_id, doc_id % 21 AS r FROM documents),
         |c AS (SELECT doc_id,
         |  CASE WHEN r BETWEEN 1 AND 6 THEN doc_id - r + 1
         |       WHEN r BETWEEN 7 AND 13 THEN
         |         CASE WHEN doc_id - r + 8 <= mx.m THEN doc_id - r
         |              ELSE doc_id - r + 7 END
         |       WHEN r >= 14 THEN doc_id - r + 14
         |       ELSE doc_id END AS comp
         |  FROM d CROSS JOIN mx)
         |SELECT MIN('<${GraphOps.DocPrefix}' || doc_id || '>') AS canon_subj,
         |  CAST(4 * COUNT(*) AS BIGINT) AS n_facts
         |FROM c GROUP BY comp""".stripMargin,

    // four min-plus relaxation rounds unrolled over the weighted
    // undirected adjacency; sums cast back to BIGINT
    "kg61_sssp" -> {
      def relax(prev: String, t: Int): String =
        s"""d$t AS (
           |  SELECT id, CAST(MIN(dist) AS BIGINT) AS dist FROM (
           |    SELECT id, dist FROM $prev
           |    UNION ALL
           |    SELECT adj.b AS id, p.dist + adj.w AS dist
           |    FROM $prev p JOIN adj ON adj.a = p.id)
           |  GROUP BY 1)""".stripMargin
      s"""WITH $graphEdgesCte,
         |wt AS (SELECT u, v, (u % 7) + 1 AS w FROM und),
         |adj AS (SELECT u AS a, v AS b, w FROM wt
         |  UNION ALL SELECT v AS a, u AS b, w FROM wt),
         |d0 AS (SELECT id, CAST(0 AS BIGINT) AS dist FROM ids WHERE id % 97 = 0),
         |${relax("d0", 1)},
         |${relax("d1", 2)},
         |${relax("d2", 3)},
         |${relax("d3", 4)}
         |SELECT id AS doc_id, dist FROM d4""".stripMargin
    },

    // bounded mutual-reachability closure twin: ring + leader edges
    // re-derived, reach within 8 hops both ways, min per vertex
    "kg64_scc" ->
      """WITH RECURSIVE ids AS (SELECT doc_id AS id FROM documents),
        |e AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT id AS src, id - (id % 8) + ((id + 1) % 8) AS dst FROM ids
        |    UNION ALL
        |    SELECT id AS src, id // 2 AS dst FROM ids WHERE id % 8 = 0 AND id > 0
        |  ) WHERE src <> dst AND dst IN (SELECT id FROM ids)
        |),
        |reach(src, dst, hops) AS (
        |  SELECT src, dst, 1 FROM e
        |  UNION
        |  SELECT r.src, e.dst, r.hops + 1
        |  FROM reach r JOIN e ON e.src = r.dst
        |  WHERE r.hops < 8 AND r.src <> e.dst
        |),
        |rp AS (SELECT DISTINCT src, dst FROM reach),
        |m AS (SELECT a.src AS id, MIN(a.dst) AS mm
        |      FROM rp a JOIN rp b ON b.src = a.dst AND b.dst = a.src
        |      GROUP BY 1)
        |SELECT i.id AS doc_id, CAST(least(i.id, coalesce(m.mm, i.id)) AS BIGINT) AS scc
        |FROM ids i LEFT JOIN m USING (id)""".stripMargin,

    // three peel rounds unrolled term-for-term (degree → survivors →
    // restricted edges), final degrees over the surviving subgraph
    "kg49_kcore" -> {
      val iters = (1 to 3).map { t =>
        s"""d$t AS (
           |  SELECT id, COUNT(*) AS c FROM (
           |    SELECT u AS id FROM e${t - 1} UNION ALL SELECT v AS id FROM e${t - 1})
           |  GROUP BY 1),
           |e$t AS (
           |  SELECT e.u, e.v FROM e${t - 1} e
           |  JOIN (SELECT id FROM d$t WHERE c >= 2) a ON a.id = e.u
           |  JOIN (SELECT id FROM d$t WHERE c >= 2) b ON b.id = e.v)""".stripMargin
      }.mkString(",\n")
      s"""WITH $graphEdgesCte,
         |e0 AS (SELECT u, v FROM und),
         |$iters
         |SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
         |  SELECT u AS id FROM e3 UNION ALL SELECT v AS id FROM e3)
         |GROUP BY 1""".stripMargin
    },

    // bounded-depth closure with min path length: recursive CTE twin
    "kg24_path_closure" ->
      s"""WITH RECURSIVE $graphEdgesCte,
         |e AS (SELECT DISTINCT src, dst FROM edges),
         |p(src, dst, hops) AS (
         |  SELECT src, dst, 1 FROM e
         |  UNION ALL
         |  SELECT p.src, e.dst, p.hops + 1 FROM p JOIN e ON e.src = p.dst
         |  WHERE p.hops < 3)
         |SELECT src, dst, CAST(MIN(hops) AS BIGINT) AS hops
         |FROM p WHERE src <> dst GROUP BY 1, 2""".stripMargin,

    "td20_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\f\r]+') AS tk FROM documents
        |), g AS (
        |  SELECT doc_id, list_transform(generate_series(1, greatest(len(tk) - 1, 0)),
        |    i -> tk[CAST(i AS INTEGER)] || ' ' || tk[CAST(i AS INTEGER) + 1]) AS gs
        |  FROM t)
        |SELECT doc_id,
        |  CAST(len(gs) AS BIGINT) AS n_2grams,
        |  CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct_2grams,
        |  round(CAST(len(gs) - len(list_distinct(gs)) AS DOUBLE) / greatest(len(gs), 1), 4)
        |    AS dup_ratio
        |FROM g""".stripMargin,

    "q40_bloom_prejoin" -> graft.ops.SketchOps.bloomSemiJoinSql("l_returnflag"),

    "td21_oov" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[^ \t\n\f\r]+')) AS token
        |  FROM documents
        |), voc AS (
        |  SELECT token FROM (
        |    SELECT token, COUNT(*) AS n FROM tk GROUP BY 1
        |    ORDER BY n DESC, token ASC LIMIT 16)
        |)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  round(CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 4) AS oov_ratio
        |FROM tk LEFT JOIN voc v ON v.token = tk.token
        |GROUP BY 1""".stripMargin,

    // violations derivable in closed form from the planting arithmetic —
    // an INDEPENDENT oracle path (never re-runs the validator)
    "kg25_validate" -> {
      val P = GraphOps.PropPrefix
      s"""WITH d AS (SELECT doc_id,
         |  '<${GraphOps.DocPrefix}' || doc_id || '>' AS subj FROM documents)
         |SELECT subj, 'missing:${P}source' AS violation FROM d WHERE doc_id % 37 = 0
         |UNION ALL SELECT subj, 'enum:${P}lang' FROM d WHERE doc_id % 37 = 0
         |UNION ALL SELECT subj, 'cardinality:${P}label' FROM d WHERE doc_id % 41 = 0
         |UNION ALL SELECT subj, 'bad_integer:${P}nchars' FROM d WHERE doc_id % 43 = 0""".stripMargin
    },

    "td19_redaction" ->
      """WITH p AS (SELECT doc_id,
        |  text || ' contact doc' || doc_id || '@example.com via https://ex.org/p/' || doc_id AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, 'https?://[^ \t\n\f\r]+')) AS BIGINT) AS n_urls,
        |  md5(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^ \t\n\f\r]+', '<URL>', 'g')) AS redacted_md5
        |FROM p""".stripMargin,

    // the BGP is semantically a conjunctive filter on the doc table — the
    // oracle derives it from documents directly (independent path)
    "kg21_bgp_n" ->
      s"""SELECT '<${GraphOps.DocPrefix}' || doc_id || '>' AS subj,
         |  CAST(n_chars AS BIGINT) AS n_chars,
         |  '"doc ' || doc_id || '"@' || lang AS label
         |FROM documents
         |WHERE lang = 'en' AND source = 'src1' AND n_chars >= 200""".stripMargin,

    "kg10_parse_spans" -> spanOracle,
    "q01_agg_lineitem" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "q02_join_revenue" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin,

    "q03_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "q04_first_order" ->
      """SELECT o_custkey, o_orderkey AS first_orderkey, o_orderdate AS first_orderdate
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate ASC, o_orderkey ASC) rn FROM orders)
        |WHERE rn = 1""".stripMargin,

    "q05_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1994-01-01' AND l_shipdate < TIMESTAMP '1994-04-01'
        |  AND l_discount > 0.05 AND l_quantity < 10""".stripMargin,

    "q06_semijoin" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1""".stripMargin,

    "q07_antijoin" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1""".stripMargin,

    "q08_distinct_parts" ->
      "SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS n_parts FROM lineitem GROUP BY 1",

    "q09_rollup" ->
      """SELECT r_name, n_name, COUNT(*) AS n_cust
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin,

    "q10_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q11_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev
        |  FROM events)
        |SELECT user_id,
        |  CAST(SUM(CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  COUNT(*) AS n_events
        |FROM x GROUP BY 1""".stripMargin,

    "q12_stream_window" ->
      """SELECT date_trunc('hour', ts) + to_minutes((minute(ts) // 5) * 5) AS w,
        |  event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,

    "td01_tokens" ->
      "SELECT doc_id, CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens FROM documents",

    "td02_quality" ->
      s"""SELECT doc_id,
         |  CAST(len(text) AS BIGINT) AS n_chars_actual,
         |  CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
         |  round(CAST(len(text) AS DOUBLE) / len(regexp_extract_all(text, '\\S+')), 4) AS avg_token_len,
         |  round(CAST(len(list_filter(regexp_extract_all(text, '\\S+'),
         |      x -> list_contains($stopwordList, x))) AS DOUBLE)
         |    / len(regexp_extract_all(text, '\\S+')), 4) AS stopword_ratio,
         |  CAST(len(text) - len(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS n_punct
         |FROM documents""".stripMargin,

    "td03_langid" -> langidOracle,

    "td04_fingerprint" ->
      "SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint FROM documents",

    "td05_dedup_exact" ->
      """SELECT md5(text) AS text_hash, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
        |FROM documents GROUP BY 1""".stripMargin,

    "td06_minhash" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(text) - 4, 1)),
        |    i -> substr(text, CAST(i AS INTEGER), 5))) AS g
        |  FROM documents
        |), sig AS (
        |  SELECT doc_id,
        |    CAST(MIN(('0x' || substr(md5('0:' || g), 1, 15))::BIGINT) AS BIGINT) AS mh0,
        |    CAST(MIN(('0x' || substr(md5('1:' || g), 1, 15))::BIGINT) AS BIGINT) AS mh1,
        |    CAST(MIN(('0x' || substr(md5('2:' || g), 1, 15))::BIGINT) AS BIGINT) AS mh2,
        |    CAST(MIN(('0x' || substr(md5('3:' || g), 1, 15))::BIGINT) AS BIGINT) AS mh3
        |  FROM sh GROUP BY 1)
        |SELECT doc_id, mh0, mh1, mh2, mh3,
        |  md5(mh0::VARCHAR || '_' || mh1::VARCHAR || '_' || mh2::VARCHAR || '_' || mh3::VARCHAR) AS bucket
        |FROM sig""".stripMargin,

    "td07_simhash" -> simhashSql,

    "td12_simhash_pairs" ->
      s"""WITH sh AS (
         |$simhashSql
         |), bands AS (
         |  SELECT doc_id, simhash, b.b AS band_id,
         |    (simhash >> (15 * CAST(b.b AS INTEGER))) & 32767 AS band_val
         |  FROM sh, generate_series(0, 3) b(b))
         |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
         |  CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
         |FROM bands x
         |JOIN bands y ON x.band_id = y.band_id AND x.band_val = y.band_val
         |  AND x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 6""".stripMargin,

    "td09_minhash_pairs" -> minhashBandOracle,

    // rare-shingle (df ∈ [2, 16]) inverted-index candidates, exact
    // distinct-shingle intersection, integer cross-multiplied ½ cut,
    // ratios rounded 4
    "td32_containment" ->
      s"""WITH shd AS (
         |  SELECT DISTINCT doc_id, g FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(text) - 4, 1)),
         |      i -> substr(text, CAST(i AS INTEGER), 5))) AS g
         |    FROM documents)
         |), dfreq AS (
         |  SELECT g, COUNT(*) AS df FROM shd GROUP BY 1
         |), p AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM dfreq f JOIN shd x ON x.g = f.g
         |              JOIN shd y ON y.g = f.g AND x.doc_id < y.doc_id
         |  WHERE f.df BETWEEN 2 AND 16
         |), sz AS (
         |  SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY 1
         |), inter AS (
         |  SELECT p.a, p.b, COUNT(*) AS ninter
         |  FROM p JOIN shd x ON x.doc_id = p.a
         |         JOIN shd y ON y.doc_id = p.b AND y.g = x.g
         |  GROUP BY 1, 2
         |)
         |SELECT i.a, i.b, CAST(i.ninter AS BIGINT) AS n_shared,
         |  round(CAST(i.ninter AS DOUBLE) / sa.n, 4) AS containment_a,
         |  round(CAST(i.ninter AS DOUBLE) / sb.n, 4) AS containment_b
         |FROM inter i JOIN sz sa ON sa.doc_id = i.a JOIN sz sb ON sb.doc_id = i.b
         |WHERE 2 * i.ninter >= least(sa.n, sb.n)""".stripMargin,

    "td10_tokens_bpe" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[\p{L}]+|[\p{N}]+|[^\s\p{L}\p{N}]+')) AS BIGINT) AS n_pieces,
        |  CAST(len(regexp_extract_all(text, '[\p{L}]+')) AS BIGINT) AS n_word_pieces,
        |  CAST(len(regexp_extract_all(text, '[\p{N}]+')) AS BIGINT) AS n_num_pieces,
        |  CAST(len(regexp_extract_all(text, '[^\s\p{L}\p{N}]+')) AS BIGINT) AS n_sym_pieces
        |FROM documents""".stripMargin,

    "td11_rolling_fingerprint" -> rollingOracle,

    "td13_bpe_merges" -> bpeOracle,
    "td22_bpe_train" -> bpeTrainOracle,
    "td23_bpe_train_apply" -> bpeTrainApplyOracle,

    // the planted 560-word vocabulary's training run in closed form: rank
    // k merges word k's two letters with count (600−k)·|documents|
    // mean bigram conditional probability per doc: per-distinct-gram
    // probability rounded to 6, weighted decimal sum, mean rounded to 4
    // segment explosion via parallel unnests (position + segment zip),
    // first-occurrence window, and the surviving text re-joined in doc
    // order — md5 pins the reconstruction, not just the counts
    // top-5 per source by (n_chars DESC, doc_id ASC)
    "td31_domain_quota" ->
      """SELECT source, doc_id, CAST(rk AS BIGINT) AS rk,
        |  CAST(n_chars AS BIGINT) AS n_chars
        |FROM (SELECT source, doc_id, n_chars, row_number() OVER (
        |        PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rk
        |      FROM documents)
        |WHERE rk <= 5""".stripMargin,

    // 1-based DuckDB window starts (tk[s : s+w-1] inclusive slices) vs
    // the engine's 0-based positions — only counts surface, both engines
    // are internally consistent
    "td30_dup_spans" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\f\r]+') AS tk FROM documents
        |), w AS (
        |  SELECT doc_id, CAST(s AS BIGINT) AS pos,
        |    array_to_string(tk[CAST(s AS INTEGER):CAST(s + 4 AS INTEGER)], ' ') AS gram
        |  FROM (SELECT doc_id, tk,
        |          unnest(generate_series(1, greatest(len(tk) - 4, 0))) AS s
        |        FROM t)
        |), d AS (
        |  SELECT *, COUNT(*) OVER (PARTITION BY gram) AS n FROM w
        |), dup AS (
        |  SELECT doc_id, pos FROM d WHERE n > 1
        |), cov AS (
        |  SELECT DISTINCT doc_id, pos + o AS p FROM dup, generate_series(0, 4) q(o)
        |), base AS (
        |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM t)
        |SELECT b.doc_id, b.n_tokens,
        |  CAST(coalesce(dw.c, 0) AS BIGINT) AS n_dup_windows,
        |  CAST(coalesce(cv.c, 0) AS BIGINT) AS n_covered,
        |  round(CAST(coalesce(cv.c, 0) AS DOUBLE) / greatest(b.n_tokens, 1), 4) AS dup_ratio
        |FROM base b
        |LEFT JOIN (SELECT doc_id, COUNT(*) AS c FROM dup GROUP BY 1) dw ON dw.doc_id = b.doc_id
        |LEFT JOIN (SELECT doc_id, COUNT(*) AS c FROM cov GROUP BY 1) cv ON cv.doc_id = b.doc_id""".stripMargin,

    "td29_segment_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\f\r]+') AS tk FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, CAST(ceil(len(tk) / 3.0) AS BIGINT)),
        |      i -> array_to_string(tk[CAST((i - 1) * 3 + 1 AS INTEGER):CAST(i * 3 AS INTEGER)], ' ')) AS segs
        |  FROM t
        |), e AS (
        |  SELECT doc_id,
        |    unnest(generate_series(1, len(segs))) AS pos,
        |    unnest(segs) AS seg
        |  FROM g
        |), k AS (
        |  SELECT doc_id, pos, seg,
        |    CASE WHEN row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) = 1
        |         THEN 1 ELSE 0 END AS keep
        |  FROM e
        |)
        |SELECT doc_id, COUNT(*) AS n_segs, CAST(SUM(keep) AS BIGINT) AS n_kept,
        |  round(CAST(SUM(keep) AS DOUBLE) / COUNT(*), 4) AS kept_ratio,
        |  md5(coalesce(string_agg(CASE WHEN keep = 1 THEN seg END, ' ' ORDER BY pos), ''))
        |    AS kept_md5
        |FROM k GROUP BY 1""".stripMargin,

    "td28_lm_score" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\f\r]+') AS tk FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(tk) - 1, 0)),
        |    i -> tk[CAST(i AS INTEGER)] || ' ' || tk[CAST(i AS INTEGER) + 1])) AS g
        |  FROM t
        |), dg AS (
        |  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS k FROM g GROUP BY 1, 2
        |), pc AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_pair FROM g GROUP BY 1
        |), uc AS (
        |  SELECT unnest(tk) AS a FROM t
        |), ua AS (
        |  SELECT a, CAST(COUNT(*) AS BIGINT) AS c_a FROM uc GROUP BY 1
        |), scored AS (
        |  SELECT dg.doc_id,
        |    SUM(dg.k * CAST(round(CAST(pc.n_pair AS DOUBLE) / ua.c_a, 6) AS DECIMAL(18,6)))
        |      AS sum_dec,
        |    CAST(SUM(dg.k) AS BIGINT) AS n_grams
        |  FROM dg JOIN pc ON pc.g = dg.g
        |  JOIN ua ON ua.a = split_part(dg.g, ' ', 1)
        |  GROUP BY 1
        |)
        |SELECT d.doc_id,
        |  COALESCE(s.n_grams, 0) AS n_grams,
        |  COALESCE(round(CAST(s.sum_dec AS DOUBLE) / s.n_grams, 4), 0.0) AS lm_score
        |FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id""".stripMargin,

    "td26_bpe_train_512" ->
      """WITH nd AS (SELECT COUNT(*) AS nd FROM documents)
        |SELECT CAST(k AS BIGINT) AS rank,
        |  chr(CAST(97 + (k // 26) AS INTEGER)) AS lhs,
        |  chr(CAST(97 + (k % 26) AS INTEGER)) AS rhs,
        |  CAST((600 - k) * nd AS BIGINT) AS n
        |FROM generate_series(0, 559) t(k), nd""".stripMargin,

    // planted apply: words 0..559 merge to one token, the (doc_id % 90)
    // tail words have no rule and stay two symbols
    "td27_bpe_apply_512" ->
      """SELECT doc_id, CAST(560 + 2 * (doc_id % 90) AS BIGINT) AS n_bpe_tokens
        |FROM documents""".stripMargin,
    "td24_bm25_search" -> bm25Oracle,

    // same expression shape: c_ab·T·T / (P·c_a·c_b), counts exact
    "td25_pmi_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS tks FROM documents
        |), grams AS (
        |  SELECT unnest(list_transform(generate_series(1, len(tks) - 1),
        |    i -> tks[CAST(i AS INTEGER)] || ' ' || tks[CAST(i + 1 AS INTEGER)])) AS g
        |  FROM toks WHERE len(tks) >= 2
        |), pc AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_pair FROM grams GROUP BY 1
        |), tc AS (
        |  SELECT t, CAST(COUNT(*) AS BIGINT) AS n_tok
        |  FROM (SELECT unnest(tks) AS t FROM toks) GROUP BY 1
        |), tot AS (
        |  SELECT CAST(SUM(len(tks)) AS DOUBLE) AS n_tokens,
        |    CAST(SUM(greatest(len(tks) - 1, 0)) AS DOUBLE) AS n_pairs
        |  FROM toks
        |)
        |SELECT split_part(g, ' ', 1) AS a, split_part(g, ' ', 2) AS b, n_pair,
        |  round(CAST(n_pair AS DOUBLE) * tot.n_tokens * tot.n_tokens /
        |    (tot.n_pairs * CAST(ca.n_tok AS DOUBLE) * CAST(cb.n_tok AS DOUBLE)), 4)
        |    AS pmi_ratio
        |FROM pc
        |JOIN tc ca ON ca.t = split_part(g, ' ', 1)
        |JOIN tc cb ON cb.t = split_part(g, ' ', 2)
        |CROSS JOIN tot
        |WHERE n_pair >= 5""".stripMargin,

    "td14_dedup_clusters" -> dedupClustersOracle,

    "td15_curation" -> curationOracle,

    "td18_contamination" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, greatest(len(substr(text, 1, 120)) - 4, 1)),
        |      i -> substr(substr(text, 1, 120), CAST(i AS INTEGER), 5))) AS shingle
        |  FROM documents
        |), ev AS (
        |  SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0)
        |SELECT s.doc_id, COUNT(*) AS n_shingles,
        |  CAST(SUM(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |  round(CAST(SUM(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 4) AS ratio
        |FROM sh s LEFT JOIN ev e ON e.shingle = s.shingle
        |WHERE s.doc_id % 50 <> 0
        |GROUP BY 1""".stripMargin,

    "td16_split" ->
      """SELECT doc_id, lang,
        |  CASE WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 < 80 THEN 'train'
        |       WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,

    "td17_stratified_sample" ->
      """SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY ('0x' || substr(md5('sample:' || doc_id), 1, 15))::BIGINT ASC, doc_id ASC) AS rn
        |  FROM documents)
        |WHERE rn <= 40""".stripMargin,

    "td08_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, source,
        |    unnest(list_transform(generate_series(1, greatest(len(substr(text, 1, 120)) - 4, 1)),
        |      i -> substr(substr(text, 1, 120), CAST(i AS INTEGER), 5))) AS shingle
        |  FROM documents
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1
        |), shared AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS shared
        |  FROM sh x JOIN sh y ON x.source = y.source AND x.shingle = y.shingle
        |  WHERE x.doc_id < y.doc_id GROUP BY 1, 2)
        |SELECT a, b, shared,
        |  round(CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared), 4) AS jaccard
        |FROM shared
        |JOIN sizes sa ON sa.doc_id = a
        |JOIN sizes sb ON sb.doc_id = b
        |WHERE CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared) >= 0.10""".stripMargin,

    "emb01_ann_topk" ->
      """WITH g AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS g
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, g, CAST(list_sum(list_transform(g, x -> x * x)) AS BIGINT) AS nn FROM g
        |), scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(CAST(list_sum(list_transform(list_zip(q.g, c.g), p -> p[1] * p[2])) AS BIGINT) AS DOUBLE)
        |      / sqrt(CAST(q.nn * c.nn AS DOUBLE)) AS cos
        |  FROM n q JOIN n c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10)
        |SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id, round(cos, 6) AS cos
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY cos DESC, neighbor_id ASC) rn FROM scored)
        |WHERE rn <= 5""".stripMargin,

    "emb02_neardup" ->
      """WITH g AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS g
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, g, CAST(list_sum(list_transform(g, x -> x * x)) AS BIGINT) AS nn FROM g
        |)
        |SELECT a.vec_id AS a, b.vec_id AS b,
        |  round(CAST(CAST(list_sum(list_transform(list_zip(a.g, b.g), p -> p[1] * p[2])) AS BIGINT) AS DOUBLE)
        |    / sqrt(CAST(a.nn * b.nn AS DOUBLE)), 6) AS cos
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE CAST(CAST(list_sum(list_transform(list_zip(a.g, b.g), p -> p[1] * p[2])) AS BIGINT) AS DOUBLE)
        |    / sqrt(CAST(a.nn * b.nn AS DOUBLE)) >= 0.30""".stripMargin,

    "emb03_srp_buckets" ->
      s"""WITH g AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS g
         |  FROM embeddings
         |)
         |SELECT vec_id, ${srpBucketSql(4)} AS bucket
         |FROM g""".stripMargin,

    // brute-force SQL restricted to equal 8-plane SRP buckets — the exact
    // specification annBucketed implements
    "emb04_ann_bucketed" ->
      s"""WITH g AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS g
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, g, CAST(list_sum(list_transform(g, x -> x * x)) AS BIGINT) AS nn,
         |    ${srpBucketSql(8)} AS bucket
         |  FROM g
         |), scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    CAST(CAST(list_sum(list_transform(list_zip(q.g, c.g), p -> p[1] * p[2])) AS BIGINT) AS DOUBLE)
         |      / sqrt(CAST(q.nn * c.nn AS DOUBLE)) AS cos
         |  FROM n q JOIN n c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id)
         |SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id, round(cos, 6) AS cos
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, neighbor_id ASC) rn FROM scored)
         |WHERE rn <= 5""".stripMargin,

    "emb05_ann_ivf" -> ivfOracle,

    // the delta store's merged search == fresh IVF over the live set
    "emb19_ann_ivf_delta" -> ivfOracleWhere("vec_id % 5 <> 0"),

    // the delta log's three historical states with cell assignment
    "emb20_ann_time_travel" -> emb20Oracle,

    "emb06_ann_multiprobe" -> multiProbeOracle,

    "emb07_ann_ivf_nprobe" -> ivfNprobeOracle,

    "emb08_kmeans" -> kmeansOracle,

    // SemDeDup: the kmeans assignment CTEs (emb08), the exact-cosine pair
    // kernel restricted to equal cells (emb02's expression), then the
    // recursive closure + min-rep of the td14 dedup oracle
    "emb13_semdedup" ->
      s"""WITH RECURSIVE a13 AS (
         |$kmeansOracle
         |), gg AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS g
         |  FROM embeddings
         |), nn AS (
         |  SELECT gg.vec_id, gg.g,
         |    CAST(list_sum(list_transform(gg.g, x -> x * x)) AS BIGINT) AS nn, a13.cell
         |  FROM gg JOIN a13 ON a13.vec_id = gg.vec_id
         |), pr AS (
         |  SELECT a.vec_id AS a, b.vec_id AS b
         |  FROM nn a JOIN nn b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE CAST(CAST(list_sum(list_transform(list_zip(a.g, b.g), z -> z[1] * z[2])) AS BIGINT) AS DOUBLE)
         |      / sqrt(CAST(a.nn * b.nn AS DOUBLE)) >= 0.30
         |), edges AS (
         |  SELECT a AS src, b AS dst FROM pr UNION SELECT b AS src, a AS dst FROM pr
         |), reach(id, r) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
         |)
         |SELECT v.vec_id,
         |  CAST(least(coalesce(MIN(r.r), v.vec_id), v.vec_id) AS BIGINT) AS cluster_rep
         |FROM embeddings v LEFT JOIN reach r ON r.id = v.vec_id
         |GROUP BY v.vec_id""".stripMargin,

    // kNN graph: the kmeans assignment CTEs, then every same-cell directed
    // pair's integer ‖a‖²+‖b‖²−2ab, ranked (dist2 ASC, neighbor ASC)
    "emb18_knn_graph" ->
      s"""WITH a18 AS (
         |$kmeansOracle
         |), gg AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS g
         |  FROM embeddings
         |), nn AS (
         |  SELECT gg.vec_id, gg.g,
         |    CAST(list_sum(list_transform(gg.g, x -> x * x)) AS BIGINT) AS nn, a18.cell
         |  FROM gg JOIN a18 ON a18.vec_id = gg.vec_id
         |), pr AS (
         |  SELECT a.vec_id, b.vec_id AS neighbor_id,
         |    a.nn + b.nn
         |      - 2 * CAST(list_sum(list_transform(list_zip(a.g, b.g), z -> z[1] * z[2])) AS BIGINT)
         |      AS dist2
         |  FROM nn a JOIN nn b ON a.cell = b.cell AND a.vec_id <> b.vec_id
         |)
         |SELECT vec_id, CAST(rn AS BIGINT) AS rank, neighbor_id,
         |  CAST(dist2 AS BIGINT) AS dist2
         |FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY dist2 ASC, neighbor_id ASC) rn
         |  FROM pr)
         |WHERE rn <= 5""".stripMargin,

    "emb09_ann_pq" -> pqOracle,
    "emb14_ann_sq8" -> sq8Oracle,

    // emb01's brute-force cosine restricted to label-equal pairs
    "emb17_ann_filtered" ->
      """WITH g AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS g
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, label, g,
        |    CAST(list_sum(list_transform(g, x -> x * x)) AS BIGINT) AS nn FROM g
        |), scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(CAST(list_sum(list_transform(list_zip(q.g, c.g), p -> p[1] * p[2])) AS BIGINT) AS DOUBLE)
        |      / sqrt(CAST(q.nn * c.nn AS DOUBLE)) AS cos
        |  FROM n q JOIN n c ON c.vec_id <> q.vec_id AND c.label = q.label
        |  WHERE q.vec_id < 8)
        |SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id, round(cos, 6) AS cos
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY cos DESC, neighbor_id ASC) rn FROM scored)
        |WHERE rn <= 5""".stripMargin,

    // per-token 16-dim slices via list slicing, max-of-dots per query
    // token then summed — the whole score stays BIGINT
    "emb15_ann_maxsim" ->
      """WITH g AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS g
        |  FROM embeddings
        |), tok AS (
        |  SELECT vec_id, CAST(i AS INTEGER) AS i,
        |    g[CAST(i * 16 + 1 AS INTEGER):CAST(i * 16 + 16 AS INTEGER)] AS s
        |  FROM g, generate_series(0, 3) t(i)
        |), dots AS (
        |  SELECT qt.vec_id AS query_id, ct.vec_id AS neighbor_id, qt.i AS qi,
        |    CAST(list_sum(list_transform(list_zip(qt.s, ct.s), p -> p[1] * p[2])) AS BIGINT) AS dot
        |  FROM tok qt JOIN tok ct ON ct.vec_id <> qt.vec_id
        |  WHERE qt.vec_id < 8
        |), mx AS (
        |  SELECT query_id, neighbor_id, qi, MAX(dot) AS m FROM dots GROUP BY 1, 2, 3
        |), scored AS (
        |  SELECT query_id, neighbor_id, CAST(SUM(m) AS BIGINT) AS score
        |  FROM mx GROUP BY 1, 2)
        |SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id, score
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY score DESC, neighbor_id ASC) rn FROM scored)
        |WHERE rn <= 5""".stripMargin,

    // stage 1 on g[1:16] prefix cosine (top-20 shortlist, neighbor-id
    // tiebreak), stage 2 full-width exact cosine over the shortlist
    "emb16_ann_matryoshka" ->
      """WITH g AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS g
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, g, CAST(list_sum(list_transform(g, x -> x * x)) AS BIGINT) AS nn FROM g
        |), p AS (
        |  SELECT vec_id, g[1:16] AS pg FROM g
        |), pn AS (
        |  SELECT vec_id, pg, CAST(list_sum(list_transform(pg, x -> x * x)) AS BIGINT) AS pnn FROM p
        |), coarse AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(CAST(list_sum(list_transform(list_zip(q.pg, c.pg), z -> z[1] * z[2])) AS BIGINT) AS DOUBLE)
        |      / sqrt(CAST(q.pnn * c.pnn AS DOUBLE)) AS ccos
        |  FROM pn q JOIN pn c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 8
        |), short AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY ccos DESC, neighbor_id ASC) rn FROM coarse)
        |  WHERE rn <= 20
        |), rr AS (
        |  SELECT s.query_id, s.neighbor_id,
        |    CAST(CAST(list_sum(list_transform(list_zip(q.g, c.g), z -> z[1] * z[2])) AS BIGINT) AS DOUBLE)
        |      / sqrt(CAST(q.nn * c.nn AS DOUBLE)) AS cos
        |  FROM short s
        |  JOIN n q ON q.vec_id = s.query_id
        |  JOIN n c ON c.vec_id = s.neighbor_id)
        |SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id, round(cos, 6) AS cos
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY cos DESC, neighbor_id ASC) rn FROM rr)
        |WHERE rn <= 5""".stripMargin,

    "emb10_ann_ivfpq" -> ivfPqOracle,

    "emb11_ann_ivfadc" -> ivfPqResidualOracle,

    "emb12_ann_rerank" -> ivfPqRerankOracle,

    "mm01_image_meta" ->
      """SELECT doc_id,
        |  CAST(64 + (doc_id % 512) AS BIGINT) AS width,
        |  CAST(64 + ((doc_id * 7) % 512) AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS channels,
        |  md5(CAST(doc_id AS VARCHAR)) AS payload_md5
        |FROM documents""".stripMargin,

    "mm02_audio_energy" ->
      """SELECT doc_id,
        |  (SELECT CAST(SUM(s * s) AS BIGINT) FROM (
        |     SELECT ((doc_id * 31 + i.i * 17) % 65536) - 32768 AS s
        |     FROM generate_series(0, 255) i(i)) q) AS energy_sq
        |FROM documents""".stripMargin,

    "mm04_image_resize" ->
      """SELECT doc_id,
        |  CAST(greatest((64 + doc_id % 512) // 2, 1) AS BIGINT) AS width,
        |  CAST(greatest((64 + (doc_id * 7) % 512) // 2, 1) AS BIGINT) AS height,
        |  md5(md5(CAST(doc_id AS VARCHAR)) || 'x'
        |    || CAST(greatest((64 + doc_id % 512) // 2, 1) AS VARCHAR) || 'x'
        |    || CAST(greatest((64 + (doc_id * 7) % 512) // 2, 1) AS VARCHAR)) AS payload_md5
        |FROM documents""".stripMargin,

    "mm03_frame_sample" ->
      """SELECT doc_id, CAST(s.s AS BIGINT) AS sample_no,
        |  CAST((s.s * (16 + doc_id % 16)) // 4 AS BIGINT) AS frame_no,
        |  CAST(((s.s * (16 + doc_id % 16)) // 4) * 40 AS BIGINT) AS frame_ts_ms
        |FROM documents, generate_series(0, 3) s(s)""".stripMargin,

    // dHash bits re-derived from the grid arithmetic; banding is exact at
    // radius 3, so the oracle is EVERY pair within Hamming distance 3
    "mm05_phash_neardup" ->
      """WITH bits AS (
        |  SELECT d.doc_id, g.i,
        |    CASE WHEN (CASE WHEN ((d.doc_id % 16) * 31 + g.i * 17) % 5 < 2
        |                    THEN 1 ELSE 0 END)
        |           <> (CASE WHEN d.doc_id % 3 = 0 AND g.i = (d.doc_id * 7) % 64
        |                    THEN 1 ELSE 0 END)
        |         THEN 1 ELSE 0 END AS bit
        |  FROM documents d, generate_series(0, 63) AS g(i)
        |)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS BIGINT) AS hamming
        |FROM bits a JOIN bits b ON a.i = b.i AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |HAVING SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) <= 3""".stripMargin,

    "kg01_parse_turtle" -> kg01Oracle,

    // serialize → re-parse must reproduce the direct parse exactly
    "kg34_ttl_roundtrip" -> kg01Oracle,

    // export → dir-ingest loses doc ids (provenance = filename) but must
    // reproduce the triple set exactly
    "kg35_ttl_export" ->
      s"""SELECT subj, pred, obj FROM (
         |$kg01Oracle
         |)""".stripMargin,

    // the round-trip must be the identity, so the oracle is kg01's
    "kg11_nt_roundtrip" -> kg01Oracle,

    "kg12_degree" -> degreeOracle,

    "kg13_triangles" -> triangleOracle,

    "kg14_bfs" -> bfsOracle,

    "kg15_pagerank" -> pageRankOracle,

    "kg72_incr_pagerank" -> kg72Oracle,

    "kg31_label_prop" -> labelPropOracle,

    "kg18_bgp_star" ->
      s"""SELECT '<${GraphOps.DocPrefix}' || doc_id || '>' AS subj,
         |  CAST(n_chars AS BIGINT) AS n_chars
         |FROM documents WHERE lang = 'en' AND n_chars >= 300""".stripMargin,

    "kg19_assemble" ->
      s"""SELECT '<${GraphOps.DocPrefix}' || doc_id || '>' AS subj,
         |  lang, source, CAST(n_chars AS BIGINT) AS n_chars
         |FROM documents""".stripMargin,

    "kg16_entity_cooccur" ->
      s"""WITH m AS (
         |  SELECT DISTINCT doc_id, term
         |  FROM documents, (VALUES $mentionTermValues) terms(term)
         |  WHERE len(text) - len(replace(text, term, '')) > 0)
         |SELECT a.term AS a, b.term AS b, COUNT(*) AS n_docs
         |FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
         |GROUP BY 1, 2""".stripMargin,

    // every generated doc parses to exactly 4 triples; the STREAMING parse
    // must land on the same closed form
    "kg17_stream_parse" ->
      "SELECT doc_id, CAST(4 AS BIGINT) AS n_triples FROM documents",

    "q34_bucketed_join" ->
      """SELECT c_mktsegment,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,

    "kg02_extract" ->
      "SELECT doc_id, md5(text) AS extracted_md5 FROM documents",

    "kg06_parse_rich" -> parseRichOracle,

    "kg09_emit_pipeline" ->
      s"""WITH m AS (
         |  SELECT doc_id, COUNT(*) AS e FROM (
         |    SELECT doc_id, term FROM documents, (VALUES $mentionTermValues) terms(term)
         |    WHERE len(text) - len(replace(text, term, '')) > 0)
         |  GROUP BY 1)
         |SELECT d.doc_id, CAST(3 + 2 * coalesce(m.e, 0) AS BIGINT) AS n_triples
         |FROM documents d LEFT JOIN m ON m.doc_id = d.doc_id""".stripMargin,

    "kg07_parse_lenient" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 37 = 0 THEN 0 ELSE 4 END AS BIGINT) AS n_triples,
        |  doc_id % 37 <> 0 AS ok
        |FROM documents""".stripMargin,

    "kg03_mentions" ->
      s"""SELECT doc_id, term,
         |  CAST((len(text) - len(replace(text, term, ''))) // len(term) AS BIGINT) AS n
         |FROM documents, (VALUES $mentionTermValues) terms(term)
         |WHERE len(text) - len(replace(text, term, '')) > 0""".stripMargin,

    // co-occurrence degree: distinct co-mentioned partners per entity
    "kg27_cooccur_degree" ->
      s"""WITH m AS (
         |  SELECT doc_id, term
         |  FROM documents, (VALUES $mentionTermValues) terms(term)
         |  WHERE len(text) - len(replace(text, term, '')) > 0
         |), pairs AS (
         |  SELECT DISTINCT x.term AS a, y.term AS b
         |  FROM m x JOIN m y ON x.doc_id = y.doc_id AND x.term < y.term
         |)
         |SELECT t AS term, CAST(COUNT(*) AS BIGINT) AS degree
         |FROM (SELECT a AS t FROM pairs UNION ALL SELECT b AS t FROM pairs)
         |GROUP BY 1""".stripMargin,

    // OPTIONAL lowering: every doc row, mention columns null→"-" where
    // the sparse (n ≥ 3) pattern has no match
    "kg29_bgp_optional" ->
      s"""WITH m AS (
         |  SELECT doc_id, term
         |  FROM documents, (VALUES $mentionTermValues) terms(term)
         |  WHERE (len(text) - len(replace(text, term, ''))) // len(term) >= 3
         |)
         |SELECT '<${GraphOps.DocPrefix}' || d.doc_id || '>' AS d,
         |  '"' || d.lang || '"' AS lang,
         |  coalesce('<http://graft.example/entity/' || m.term || '>', '-') AS e
         |FROM documents d LEFT JOIN m ON m.doc_id = d.doc_id""".stripMargin,

    // NOT EXISTS lowering: en docs that never mention 'stream'
    "kg30_bgp_notexists" ->
      s"""WITH m AS (
         |  SELECT doc_id FROM documents
         |  WHERE len(text) - len(replace(text, 'stream', '')) > 0
         |)
         |SELECT '<${GraphOps.DocPrefix}' || d.doc_id || '>' AS d
         |FROM documents d
         |WHERE d.lang = 'en'
         |  AND NOT EXISTS (SELECT 1 FROM m WHERE m.doc_id = d.doc_id)""".stripMargin,

    // UNION lowering: each branch's solution rows, nulls for the other
    // branch's variables (bag semantics — UNION ALL)
    "kg37_bgp_union" ->
      s"""WITH t AS (
         |$kg01Oracle
         |)
         |SELECT l.subj AS d, n.obj AS n, CAST(NULL AS VARCHAR) AS lbl
         |FROM t l JOIN t n ON n.subj = l.subj AND n.pred = '${GraphOps.PropPrefix}nchars'
         |WHERE l.pred = '${GraphOps.PropPrefix}lang' AND l.obj = '"en"'
         |UNION ALL
         |SELECT l.subj AS d, CAST(NULL AS VARCHAR) AS n, lb.obj AS lbl
         |FROM t l JOIN t lb ON lb.subj = l.subj AND lb.pred = '${GraphOps.PropPrefix}label'
         |WHERE l.pred = '${GraphOps.PropPrefix}lang' AND l.obj = '"fr"'""".stripMargin,

    // GROUP BY over solution bindings: per-language doc count + summed
    // integer objects (lexical forms peeled identically on both engines)
    "kg38_bgp_aggregate" ->
      s"""WITH t AS (
         |$kg01Oracle
         |)
         |SELECT l.obj AS l, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CAST(regexp_extract(n.obj, '^"(\\d+)"', 1) AS BIGINT)) AS BIGINT)
         |    AS sum_nchars
         |FROM t l JOIN t n ON n.subj = l.subj AND n.pred = '${GraphOps.PropPrefix}nchars'
         |WHERE l.pred = '${GraphOps.PropPrefix}lang'
         |GROUP BY 1""".stripMargin,

    // the aggregate family twin: list(DISTINCT) sorted then joined avoids
    // relying on ORDER BY inside string_agg (DuckDB 1.0 dialect safety)
    "kg65_bgp_group_concat" ->
      s"""WITH t AS (
         |$kg01Oracle
         |), sol AS (
         |  SELECT l.obj AS l, s.obj AS src
         |  FROM t l JOIN t s ON s.subj = l.subj AND s.pred = '${GraphOps.PropPrefix}source'
         |  WHERE l.pred = '${GraphOps.PropPrefix}lang'
         |)
         |SELECT l, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  MIN(src) AS min_src, MAX(src) AS max_src,
         |  array_to_string(list_sort(list(DISTINCT src)), ';') AS sources
         |FROM sol GROUP BY 1""".stripMargin,

    // VALUES lowering: the inline (?l ?tier) table restricts and extends
    "kg39_bgp_values" ->
      s"""WITH t AS (
         |$kg01Oracle
         |), v(l, tier) AS (
         |  VALUES ('"en"', 'west'), ('"fr"', 'west'), ('"zh"', 'east')
         |)
         |SELECT l.subj AS d, l.obj AS l, v.tier,
         |  CAST(regexp_extract(n.obj, '^"(\\d+)"', 1) AS BIGINT) AS n_chars
         |FROM t l
         |JOIN t n ON n.subj = l.subj AND n.pred = '${GraphOps.PropPrefix}nchars'
         |JOIN v ON v.l = l.obj
         |WHERE l.pred = '${GraphOps.PropPrefix}lang'""".stripMargin,

    // property path over the co-occurrence projection: bounded min-hops
    // closure (kg24's recursive-CTE shape) joined with the label pattern
    "kg41_bgp_path" ->
      s"""WITH RECURSIVE m AS (
         |  SELECT doc_id, term
         |  FROM documents, (VALUES $mentionTermValues) terms(term)
         |  WHERE len(text) - len(replace(text, term, '')) > 0
         |), e AS (
         |  SELECT DISTINCT '<http://graft.example/entity/' || x.term || '>' AS src,
         |                  '<http://graft.example/entity/' || y.term || '>' AS dst
         |  FROM m x JOIN m y ON x.doc_id = y.doc_id AND x.term <> y.term
         |), p(src, dst, hops) AS (
         |  SELECT src, dst, 1 FROM e
         |  UNION ALL
         |  SELECT p.src, e.dst, p.hops + 1 FROM p JOIN e ON e.src = p.dst
         |  WHERE p.hops < 3
         |), cl AS (
         |  SELECT src, dst, CAST(MIN(hops) AS BIGINT) AS hops
         |  FROM p WHERE src <> dst GROUP BY 1, 2
         |)
         |SELECT cl.src AS a, cl.dst AS b, cl.hops, '"' || t.term || '"' AS la
         |FROM cl JOIN (SELECT DISTINCT term FROM m) t
         |  ON cl.src = '<http://graft.example/entity/' || t.term || '>'""".stripMargin,

    // v1 degrees + diff fold == fresh v2 degrees: 4 parse triples + one
    // mention triple per distinct mentioned term, per odd doc
    "kg42_degrees_delta" ->
      s"""WITH m AS (
         |  SELECT doc_id, term
         |  FROM documents, (VALUES $mentionTermValues) terms(term)
         |  WHERE len(text) - len(replace(text, term, '')) > 0
         |), c AS (SELECT doc_id, COUNT(*) AS nm FROM m GROUP BY 1)
         |SELECT '<${GraphOps.DocPrefix}' || d.doc_id || '>' AS subj,
         |  CAST(4 + COALESCE(c.nm, 0) AS BIGINT) AS degree
         |FROM documents d LEFT JOIN c ON c.doc_id = d.doc_id
         |WHERE d.doc_id % 2 <> 0""".stripMargin,

    // delta-scoped validation == full v2 validation, in closed form
    "kg43_validate_delta" ->
      s"""SELECT '<${GraphOps.DocPrefix}' || doc_id || '>' AS subj,
         |  'enum:${GraphOps.PropPrefix}lang' AS violation
         |FROM documents WHERE doc_id % 2 <> 0 AND doc_id % 37 = 0
         |UNION ALL
         |SELECT '<${GraphOps.DocPrefix}' || doc_id || '>' AS subj,
         |  'bad_integer:${GraphOps.PropPrefix}nchars' AS violation
         |FROM documents WHERE doc_id % 2 <> 0 AND doc_id % 43 = 0""".stripMargin,

    // CONSTRUCT from the 2-hop closure: near-edges both directions
    // (symmetric input ⇒ the closure already contains both, set dedup)
    "kg44_construct" ->
      s"""WITH RECURSIVE m AS (
         |  SELECT doc_id, term
         |  FROM documents, (VALUES $mentionTermValues) terms(term)
         |  WHERE len(text) - len(replace(text, term, '')) > 0
         |), e AS (
         |  SELECT DISTINCT '<http://graft.example/entity/' || x.term || '>' AS src,
         |                  '<http://graft.example/entity/' || y.term || '>' AS dst
         |  FROM m x JOIN m y ON x.doc_id = y.doc_id AND x.term <> y.term
         |), p(src, dst, hops) AS (
         |  SELECT src, dst, 1 FROM e
         |  UNION ALL
         |  SELECT p.src, e.dst, p.hops + 1 FROM p JOIN e ON e.src = p.dst
         |  WHERE p.hops < 2
         |)
         |SELECT DISTINCT subj, '${GraphOps.PropPrefix}near' AS pred, obj FROM (
         |  SELECT src AS subj, dst AS obj FROM p WHERE src <> dst
         |  UNION
         |  SELECT dst AS subj, src AS obj FROM p WHERE src <> dst)""".stripMargin,

    // the derived CONSTRUCT graph survives export + re-ingest verbatim
    "kg45_construct_export" ->
      s"""WITH RECURSIVE m AS (
         |  SELECT doc_id, term
         |  FROM documents, (VALUES $mentionTermValues) terms(term)
         |  WHERE len(text) - len(replace(text, term, '')) > 0
         |), e AS (
         |  SELECT DISTINCT '<http://graft.example/entity/' || x.term || '>' AS src,
         |                  '<http://graft.example/entity/' || y.term || '>' AS dst
         |  FROM m x JOIN m y ON x.doc_id = y.doc_id AND x.term <> y.term
         |), p(src, dst, hops) AS (
         |  SELECT src, dst, 1 FROM e
         |  UNION ALL
         |  SELECT p.src, e.dst, p.hops + 1 FROM p JOIN e ON e.src = p.dst
         |  WHERE p.hops < 2
         |)
         |SELECT DISTINCT subj, '${GraphOps.PropPrefix}near' AS pred, obj FROM (
         |  SELECT src AS subj, dst AS obj FROM p WHERE src <> dst
         |  UNION
         |  SELECT dst AS subj, src AS obj FROM p WHERE src <> dst)""".stripMargin,

    // RDFS entailment re-derived rule-by-rule: recursive CTEs close the
    // VALUES TBox, joins apply rdfs7 → rdfs2/3 → rdfs9, DISTINCT seals
    // set semantics — term-for-term the staged closure of RdfsOps
    "kg46_rdfs_closure" -> {
      val P = GraphOps.PropPrefix
      val D = GraphOps.DocPrefix
      s"""WITH base AS (
         |$kg01Oracle
         |), inst AS (
         |  SELECT subj, pred, obj FROM base
         |  UNION ALL
         |  SELECT '<$D' || doc_id || '>' AS subj,
         |    '${P}sameSite' AS pred,
         |    '<$D' || (doc_id % 10) || '>' AS obj
         |  FROM documents
         |), spc0(sub, sup) AS (
         |  VALUES ('${P}lang', '${P}attr'), ('${P}attr', '${P}meta')
         |), spc(sub, sup) AS (
         |  -- one squaring step closes the depth-2 planted hierarchy exactly
         |  -- (nested-WITH inside WITH RECURSIVE trips DuckDB 1.0, so the
         |  -- closure is unrolled instead of recursive)
         |  SELECT sub, sup FROM spc0
         |  UNION
         |  SELECT s.sub, e.sup FROM spc0 s JOIN spc0 e ON s.sup = e.sub
         |), scc0(sub, sup) AS (
         |  VALUES ('${P}Sized', '${P}Thing'), ('${P}Doc', '${P}Resource'),
         |         ('${P}Resource', '${P}Thing')
         |), scc(sub, sup) AS (
         |  SELECT sub, sup FROM scc0
         |  UNION
         |  SELECT s.sub, e.sup FROM scc0 s JOIN scc0 e ON s.sup = e.sub
         |), dm(prop, cls) AS (
         |  VALUES ('${P}nchars', '${P}Sized'), ('${P}attr', '${P}Attributed'),
         |         ('${P}sameSite', '${P}Doc')
         |), rng(prop, cls) AS (
         |  VALUES ('${P}sameSite', '${P}Doc')
         |), d7 AS (
         |  SELECT i.subj, s.sup AS pred, i.obj FROM inst i JOIN spc s ON i.pred = s.sub
         |), alltr AS (
         |  SELECT * FROM inst UNION ALL SELECT * FROM d7
         |), t0 AS (
         |  SELECT a.subj, dm.cls FROM alltr a JOIN dm ON a.pred = dm.prop
         |  UNION ALL
         |  SELECT a.obj AS subj, r.cls FROM alltr a JOIN rng r ON a.pred = r.prop
         |  WHERE a.obj LIKE '<%'
         |  UNION ALL
         |  SELECT subj, substring(obj, 2, length(obj) - 2) AS cls FROM alltr
         |  WHERE pred = '${RdfsOps.RdfType}' AND obj LIKE '<%'
         |), tall AS (
         |  SELECT * FROM t0
         |  UNION ALL
         |  SELECT t.subj, s.sup AS cls FROM t0 t JOIN scc s ON t.cls = s.sub
         |)
         |SELECT DISTINCT subj, pred, obj FROM (
         |  SELECT * FROM alltr
         |  UNION ALL
         |  SELECT subj, '${RdfsOps.RdfType}' AS pred, '<' || cls || '>' AS obj
         |  FROM tall)""".stripMargin
    },

    // MINUS is a conjunctive anti-filter on the doc table here: a doc
    // survives iff its source is not src1 (every doc binds nchars)
    "kg47_bgp_minus" ->
      s"""SELECT '<${GraphOps.DocPrefix}' || doc_id || '>' AS d,
         |  '"' || lang || '"' AS l
         |FROM documents
         |WHERE source <> 'src1'""".stripMargin,

    // the three path branches in closed form over the synthetic edges:
    // link² (midpoint join, self-pairs kept), reversed link, and the
    // ≤2-hop closure (⊆ link ∪ link²) — the outer DISTINCT is the
    // algebra's set semantics
    "kg48_path_algebra" ->
      s"""WITH $graphEdgesCte,
         |e AS (SELECT DISTINCT src, dst FROM edges),
         |e2 AS (SELECT DISTINCT a.src, b.dst FROM e a JOIN e b ON a.dst = b.src)
         |SELECT DISTINCT '<${GraphOps.DocPrefix}' || x.src || '>' AS src,
         |  '<${GraphOps.DocPrefix}' || x.dst || '>' AS dst
         |FROM (
         |  SELECT src, dst FROM e
         |  UNION ALL SELECT src, dst FROM e2
         |  UNION ALL SELECT dst AS src, src AS dst FROM e) x""".stripMargin,

    // zero-or-more in closed form: the reflexive row per doc plus the
    // 1-hop doc→hub edge (hub self-loops are the only deeper steps and
    // loops never extend a closure); the negated set leaves nchars
    "kg68_path_star_neg" ->
      s"""WITH p AS (
         |  SELECT doc_id AS ai, doc_id AS bi FROM documents
         |  UNION ALL
         |  SELECT doc_id AS ai, doc_id % 10 AS bi FROM documents WHERE doc_id >= 10
         |)
         |SELECT '<${GraphOps.DocPrefix}' || p.ai || '>' AS a,
         |  '<${GraphOps.DocPrefix}' || p.bi || '>' AS b,
         |  '"' || d.n_chars || '"^^<http://www.w3.org/2001/XMLSchema#integer>' AS n
         |FROM p JOIN documents d ON d.doc_id = p.bi""".stripMargin,

    // 2-hop chain: en docs → mentioned entities → entity labels; the
    // mention CTE is kg03's oracle re-derivation
    "kg26_bgp_chain" ->
      s"""WITH m AS (
         |  SELECT doc_id, term
         |  FROM documents, (VALUES $mentionTermValues) terms(term)
         |  WHERE len(text) - len(replace(text, term, '')) > 0
         |)
         |SELECT '<${GraphOps.DocPrefix}' || d.doc_id || '>' AS d,
         |  '<http://graft.example/entity/' || m.term || '>' AS e,
         |  '"' || m.term || '"' AS lbl
         |FROM documents d JOIN m ON m.doc_id = d.doc_id
         |WHERE d.lang = 'en'""".stripMargin,

    "kg04_cc" ->
      """WITH RECURSIVE walk(id, cur) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION ALL
        |  SELECT id, cur // 2 FROM walk WHERE cur > 0 AND cur % 3 <> 0
        |)
        |SELECT id AS doc_id, CAST(MIN(cur) AS BIGINT) AS component FROM walk GROUP BY 1""".stripMargin,

    "q14_setops" ->
      """WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
        |     w AS (SELECT o_custkey AS c_custkey FROM orders)
        |SELECT 'both' AS tag, c_custkey FROM (SELECT c_custkey FROM building INTERSECT SELECT c_custkey FROM w)
        |UNION ALL
        |SELECT 'only_cust' AS tag, c_custkey FROM (SELECT c_custkey FROM building EXCEPT SELECT c_custkey FROM w)""".stripMargin,

    "q15_corr_subquery" ->
      """SELECT o_custkey, o_orderkey FROM orders o
        |WHERE o_totalprice = (SELECT MAX(o2.o_totalprice) FROM orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)""".stripMargin,

    "q16_conditional_pivot" ->
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(SUM(CASE WHEN event_type NOT IN ('click','view','purchase') THEN 1 ELSE 0 END) AS BIGINT) AS n_other
        |FROM events GROUP BY 1""".stripMargin,

    "q17_having" ->
      """SELECT l_partkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY 1 HAVING COUNT(*) >= 5""".stripMargin,

    "q18_brand_revenue" ->
      """SELECT p_brand,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size < 20 GROUP BY 1""".stripMargin,

    "q13_stream_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev
        |  FROM events)
        |SELECT user_id,
        |  CAST(SUM(CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  COUNT(*) AS n_events
        |FROM x GROUP BY 1""".stripMargin,

    "q23_stream_watermark" ->
      """SELECT date_trunc('hour', ts) + to_minutes((minute(ts) // 10) * 10) AS w,
        |  event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q24_stream_dedup" ->
      "SELECT event_type, COUNT(DISTINCT user_id) AS n_users FROM events GROUP BY 1",

    // re-deliveries removed ⇒ the deduped stream equals the original table
    "q29_stream_dedup_watermark" ->
      "SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1",

    "q27_asof_join" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, event_id AS click_id FROM events WHERE event_type = 'click'
        |), purch AS (
        |  SELECT user_id, ts, MAX(event_id) AS purchase_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        |)
        |SELECT c.user_id, c.click_id, p.purchase_id AS last_purchase_id
        |FROM clicks c ASOF LEFT JOIN purch p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin,

    "q30_asof_skew" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, event_id AS click_id FROM events WHERE event_type = 'click'
        |), purch AS (
        |  SELECT user_id, ts, MAX(event_id) AS purchase_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        |)
        |SELECT c.user_id, c.click_id, p.purchase_id AS last_purchase_id
        |FROM clicks c ASOF LEFT JOIN purch p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin,

    "q28_range_join" ->
      """WITH clicks AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_id AS click_id
        |  FROM events WHERE event_type = 'click'
        |), purch AS (
        |  SELECT user_id, epoch_us(ts) AS t FROM events WHERE event_type = 'purchase'
        |)
        |SELECT c.user_id, c.click_id, CAST(COUNT(p.t) AS BIGINT) AS n_recent
        |FROM clicks c LEFT JOIN purch p
        |  ON p.user_id = c.user_id AND p.t BETWEEN c.t - 1800000000 AND c.t
        |GROUP BY 1, 2""".stripMargin,

    // inner interval join: clicks with zero recent purchases don't appear
    "q31_stream_stream_join" ->
      """WITH clicks AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_id AS click_id
        |  FROM events WHERE event_type = 'click'
        |), purch AS (
        |  SELECT user_id, epoch_us(ts) AS t FROM events WHERE event_type = 'purchase'
        |)
        |SELECT c.user_id, c.click_id, CAST(COUNT(*) AS BIGINT) AS n_recent
        |FROM clicks c JOIN purch p
        |  ON p.user_id = c.user_id AND p.t BETWEEN c.t - 1800000000 AND c.t
        |GROUP BY 1, 2""".stripMargin,

    // session_window boundary: an event at exactly last_ts + gap still
    // MERGES into the session (Spark merges when next.start <= prev.end —
    // pinned by the OpsSpec boundary test), hence the strict `>` break;
    // session_end = last event + gap
    "q32_session_window" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |), y AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        |  COUNT(*) AS n_events
        |FROM y GROUP BY user_id, sid""".stripMargin,

    "q35_hll_distinct" ->
      graft.ops.SketchOps.hllDistinctSql("events", "event_type", "user_id"),

    "q38_quantile_sketch" ->
      graft.ops.SketchOps.quantileSketchSql("lineitem", "l_returnflag",
        "CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)", Seq(50, 95)),

    "q39_countmin" ->
      graft.ops.SketchOps.cmFrequenciesSql("events", "user_id", "user_id % 20 = 0"),

    // exactly-once across the restart ⇒ the stream equals the batch table
    "q37_stream_restart" ->
      "SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1",

    "q36_json_extract" ->
      """SELECT event_type,
        |  CAST(SUM(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
        |  CAST(MAX(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS max_k,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1""".stripMargin,

    "q33_transform_with_state" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
        |FROM events GROUP BY 1""".stripMargin,

    "q25_full_outer" ->
      """SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey, c.c_mktsegment, o.n_orders
        |FROM (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey < 100) c
        |FULL OUTER JOIN (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY 1) o
        |ON c.c_custkey = o.o_custkey""".stripMargin,

    "q26_string_funcs" ->
      """SELECT doc_id, substr(text, 1, 12) AS head12,
        |  CAST(len(replace(text, ' ', '')) AS BIGINT) AS n_nonspace,
        |  CAST(position('the' IN text) AS BIGINT) AS first_the
        |FROM documents""".stripMargin,

    "q19_cube" ->
      """SELECT n_name, c_mktsegment, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY CUBE (n_name, c_mktsegment)""".stripMargin,

    "q20_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.25), 4) AS p25,
        |  round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 4) AS p50,
        |  round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.75), 4) AS p75,
        |  round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.95), 4) AS p95
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q21_lateral_words" ->
      """SELECT doc_id, CAST(g.p AS BIGINT) AS pos, regexp_extract_all(text, '\S+')[CAST(g.p AS INTEGER)] AS word
        |FROM documents, generate_series(1, 3) g(p)
        |WHERE len(regexp_extract_all(text, '\S+')) >= g.p""".stripMargin,

    "q22_moving_avg" ->
      """SELECT user_id, event_id,
        |  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) / COUNT(*) OVER w, 4) AS mavg
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin,

    "kg05_parse_turtle_sql" ->
      s"""WITH d AS (SELECT doc_id, lang, source, n_chars,
         |  '<${GraphOps.DocPrefix}' || doc_id || '>' AS subj FROM documents)
         |SELECT doc_id, subj, '${GraphOps.PropPrefix}lang' AS pred,
         |  '"' || lang || '"' AS obj FROM d
         |UNION ALL
         |SELECT doc_id, subj, '${GraphOps.PropPrefix}label' AS pred,
         |  '"doc ' || doc_id || '"@' || lang AS obj FROM d
         |UNION ALL
         |SELECT doc_id, subj, '${GraphOps.PropPrefix}source' AS pred,
         |  '"' || source || '"' AS obj FROM d
         |UNION ALL
         |SELECT doc_id, subj, '${GraphOps.PropPrefix}nchars' AS pred,
         |  '"' || n_chars || '"^^<http://www.w3.org/2001/XMLSchema#integer>' AS obj FROM d""".stripMargin
  )
}
