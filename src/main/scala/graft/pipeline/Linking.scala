package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Candidate entity linking:
  *   1. BLOCKING — MinHash-LSH over character 3-gram shingles of surface
  *      forms vs dictionary aliases, expressed as a band-key equi-join
  *      (dictionary side broadcast when small). Identical strings share all
  *      bands, so exact matches have recall 1; near-duplicate surfaces
  *      (case/spacing variants) collide in ≥1 band with high probability.
  *   2. SCORING — TF-IDF cosine between the mention's paragraph tokens and
  *      the entity profile (name + topic tokens), expressed entirely as
  *      DataFrame joins/aggregations (Catalyst-optimizable, no UDF in the
  *      shuffle path).
  *   3. TOP-1 — argmax per mention: score desc, then an exact alias
  *      match (surface == one of the entity's aliases) before a fuzzy
  *      band candidate, then entity IRI asc. The exact-match key decides
  *      when a no-space alias (`NimbusCorp13`), whose name words never
  *      reach the context, ties with a look-alike entity of the same
  *      topics (`NimbusCorp1053`): IRI order alone would pick the latter.
  *
  * The alias-quarantine audit ([[auditQuarantine]]) is not part of
  * [[link]]: `Pipeline.run` runs it on its dictionary branch, beside the
  * page chain.
  */
object Linking {

  // 2 bands × 8 rows: P(candidate) = 1-(1-s^8)^2 — steep around s≈0.8.
  // Identical strings still share every band (exact recall guaranteed);
  // loose banding (4×4) floods the join with near-name collisions when the
  // alias universe is self-similar, creating hot band-hash keys.
  val NumHashes = 16
  val Bands = 2
  val RowsPerBand: Int = NumHashes / Bands

  /** Seeded 64-bit hash for minhashing (seed-mixed FNV). */
  def seededHash(s: String, seed: Int): Long = {
    var h = 0xcbf29ce484222325L ^ (seed.toLong * 0x9E3779B97F4A7C15L)
    var k = 0
    while (k < s.length) {
      h ^= s.charAt(k).toLong
      h *= 0x100000001b3L
      k += 1
    }
    // final avalanche (splitmix64 tail)
    h ^= h >>> 30; h *= 0xbf58476d1ce4e5b9L
    h ^= h >>> 27; h *= 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  /** Character 3-gram shingles of the case/space-normalized string. */
  def shingles(s: String): Seq[String] = {
    val n = ("^^" + s.toLowerCase(java.util.Locale.ROOT).replace(" ", "") + "$$")
    (0 to n.length - 3).map(i => n.substring(i, i + 3)).distinct
  }

  /** MinHash signature → per-band keys `(bandId, bandHash)`. */
  def bandKeys(s: String): Seq[(Int, Long)] = {
    val sh = shingles(s)
    val sig = Array.tabulate(NumHashes) { i =>
      var min = Long.MaxValue
      sh.foreach { g => val h = seededHash(g, i); if (h < min) min = h }
      min
    }
    (0 until Bands).map { b =>
      var h = 0xcbf29ce484222325L
      var r = 0
      while (r < RowsPerBand) {
        h ^= sig(b * RowsPerBand + r)
        h *= 0x100000001b3L
        r += 1
      }
      (b, h)
    }
  }

  def tokenize(s: String): Seq[String] =
    s.toLowerCase(java.util.Locale.ROOT).split("[^\\p{L}\\p{N}&]+").toSeq.filter(_.nonEmpty)

  /** Entity profile tokens: name words + planted topic tokens. */
  def entityProfile(entityIri: String, name: String, topics: Seq[String]): Seq[String] =
    (tokenize(name) ++ topics.map(_.toLowerCase(java.util.Locale.ROOT))).distinct

  /** Alias band-buckets above this size are quarantined from the band join
    * (a self-similar alias universe floods a band; candidates from such a
    * bucket fan out |surfaces∩bucket| × |aliases∩bucket| in one task). The
    * exact-match union in [[block]] keeps recall 1.0 for identical strings
    * regardless of quarantining, so only near-miss (fuzzy) recall inside
    * the flooded bucket is traded — the bucket is, by construction, noise.
    */
  val MaxAliasBandBucket = 1024

  /** AUDIT surface for the [[block]] quarantine (no silent caps — the
    * td09/td12 `*HotBands` discipline): alias band-buckets larger than the
    * cap, with sizes. [[auditQuarantine]] evaluates it on the (small,
    * broadcastable) dictionary side and WARNS when any bucket is
    * quarantined; callers inspecting a recall regression read this table
    * offline.
    */
  def aliasHotBands(dict: Dataset[EntityAlias]): DataFrame = {
    val spark = dict.sparkSession
    import spark.implicits._
    dict.flatMap(ea => bandKeys(ea.alias).map { case (b, h) => (b, h) })
      .toDF("band_id", "band_hash")
      .groupBy($"band_id", $"band_hash").agg(count(lit(1)).as("n_aliases"))
      .filter($"n_aliases" > MaxAliasBandBucket)
  }

  private val logger = org.slf4j.LoggerFactory.getLogger("graft.pipeline.Linking")

  /** Runs the quarantine audit (a dictionary-sized Spark action) and
    * warns when any alias band-bucket is quarantined.
    */
  def auditQuarantine(dict: Dataset[EntityAlias]): Unit = {
    val nHotBuckets = aliasHotBands(dict).count()
    if (nHotBuckets > 0)
      logger.warn(s"Linking: quarantined $nHotBuckets alias band-bucket(s) " +
        s"larger than $MaxAliasBandBucket from the LSH band join " +
        "(exact-match recall unaffected; see Linking.aliasHotBands)")
  }

  /** Stage 1: blocking. `mentions` needs (mention_id, surface) columns.
    * Output: (mention_id, entity_iri, exact) candidate pairs, where
    * `exact` says the surface is one of the entity's aliases verbatim. */
  def block(mentions: DataFrame, dict: Dataset[EntityAlias]): DataFrame = {
    val spark = mentions.sparkSession
    import spark.implicits._

    // distinct surfaces only — the band fan-out runs once per unique string,
    // not once per occurrence (mentions of hot entities are heavily skewed).
    // ONE distinct over the (widest) mention table, persisted: both the
    // band fan-out and the exact-match union read it — two independent
    // distincts would scan + shuffle the big table twice
    val distinctSurfaces = mentions.select($"surface").distinct().persist()
    val surfaceBands = distinctSurfaces
      .flatMap { r =>
        val s = r.getString(0)
        bandKeys(s).map { case (b, h) => (s, b, h) }
      }.toDF("surface", "band_id", "band_hash")

    val aliasBands = dict
      .flatMap { ea => bandKeys(ea.alias).map { case (b, h) => (ea.alias, ea.entity_iri, b, h) } }
      .toDF("alias", "entity_iri", "band_id", "band_hash")

    // hot-bucket cap on the alias side (see MaxAliasBandBucket)
    val wBand = Window.partitionBy($"band_id", $"band_hash")
    val aliasCapped = aliasBands
      .withColumn("_bucket_n", count(lit(1)).over(wBand))
      .filter($"_bucket_n" <= MaxAliasBandBucket)
      .drop("_bucket_n")

    // dictionary side is the small side → broadcast hash join, no shuffle
    // of the (large) mention-surface table beyond its own distinct.
    // Exact surface==alias matches are unioned in directly: identical
    // strings must be candidates even when their band bucket is capped.
    // They carry exact = true, band candidates false, and max(exact) per
    // pair keeps the flag through the union — the ranker's tie-break.
    val exactPairs = distinctSurfaces
      .join(broadcast(dict.toDF().select($"alias".as("surface"), $"entity_iri")), "surface")
      .select($"surface", $"entity_iri", lit(true).as("exact"))
    // pairs ≤ |surfaces| × few candidates — eagerly checkpoint the SMALL
    // result so the distinct-surfaces cache can be released before
    // returning (the lazy return value must not pin it)
    val pairs = surfaceBands
      .join(broadcast(aliasCapped), Seq("band_id", "band_hash"))
      .select($"surface", $"entity_iri", lit(false).as("exact"))
      .unionByName(exactPairs)
      .groupBy($"surface", $"entity_iri").agg(max($"exact").as("exact"))
      .localCheckpoint()
    // blocking: the default async removal races any storage accounting the
    // caller does right after return (surfaced as PipelineSpec flakiness
    // once the quarantine audit stopped adding a job between persist and
    // here)
    distinctSurfaces.unpersist(blocking = true)

    // broadcast so the (big, skewed) mention table never shuffles on the
    // hot surface strings
    mentions.select($"mention_id", $"surface")
      .join(broadcast(pairs), "surface")
      .select($"mention_id", $"entity_iri", $"exact")
  }

  /** Stage 2+3: TF-IDF cosine scoring + top-1 argmax.
    * `candidates`: [[block]]'s (mention_id, entity_iri, exact) pairs;
    * `profiles`: (entity_iri, token) exploded entity profiles;
    * `nMentions`: |mentions|, the IDF's document count (the orchestrator
    * knows it from its stage manifest, so it costs no scan here).
    */
  def scoreAndRank(
      mentions: DataFrame,
      candidates: DataFrame,
      profiles: DataFrame,
      nMentions: Long): Dataset[Candidate] = {
    val spark = mentions.sparkSession
    import spark.implicits._

    // ONE shuffle by mention_id up front: HashPartitioning(mention_id)
    // satisfies the clustering of every downstream keyed op — the tf
    // groupBy (mention_id, token), the norm groupBy, the dot groupBy and
    // the final argmax all reuse this exchange instead of re-shuffling the
    // exploded token table (the widest data in the stage).
    val mentionsPart = mentions.repartition($"mention_id")

    // `tid` dictionary-encodes the token AT THE EXPLODE (vocabulary
    // interning, reference `src/build.rs:75-91`): every aggregation and
    // join downstream — the widest data in the stage — carries an 8-byte
    // key; token strings never enter a hash table. (xxhash64 collisions
    // would merge two vocabulary terms; at 2^64 over a web vocabulary the
    // expected collision count is ~0, and any collision is deterministic.)
    val mentionTokens = mentionsPart
      .select($"mention_id", explode(split(lower($"context"), "[^\\p{L}\\p{N}&]+")).as("token"))
      .filter(length($"token") > 0)
      .select($"mention_id", xxhash64($"token").as("tid"))

    // ONE pass over the exploded token table (the widest data in the
    // stage): pre-aggregate (mention_id, tid) → tf, then derive BOTH the
    // per-mention weights and the document frequencies from it. Before,
    // idf ran its own `distinct()` over the full explode — a second wide
    // aggregation of the same rows; tf's key set IS the distinct set, so
    // df = count per tid over tf. Cached: tf feeds idf, the norm
    // aggregation and the dot-product join.
    val tf = mentionTokens
      .groupBy($"mention_id", $"tid").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // document frequency over mention contexts → IDF. Cached: it feeds two
    // broadcasts (mention weights + entity weights) and is tiny.
    val idf = tf
      .groupBy($"tid").agg(count(lit(1)).as("df"))
      .withColumn("idf", log(lit(1.0) + lit(nMentions.toDouble) / $"df"))
      .cache()

    // cheap projection over the cached tf (broadcast join) — recomputing it
    // per consumer no longer re-runs the explode
    val mentionVec = tf
      .join(broadcast(idf), "tid") // idf ≈ |vocabulary| rows — tiny
      .select($"mention_id", $"tid", ($"tf" * $"idf").as("w"))

    val mentionNorm = mentionVec.groupBy($"mention_id")
      .agg(sqrt(sum($"w" * $"w")).as("m_norm"))

    val entityVec = profiles
      .withColumn("tid", xxhash64($"token"))
      .join(broadcast(idf), "tid") // tokens absent from the corpus can't contribute
      .select($"entity_iri", $"tid", $"idf".as("w"))

    val entityNorm = entityVec.groupBy($"entity_iri")
      .agg(sqrt(sum($"w" * $"w")).as("e_norm"))

    val dots = candidates
      .join(mentionVec, "mention_id")
      .join(broadcast(entityVec.withColumnRenamed("w", "ew")), Seq("entity_iri", "tid"))
      .groupBy($"mention_id", $"entity_iri", $"exact") // exact is per (mention, entity)
      .agg(sum($"w" * $"ew").as("dot"))

    val scored = dots
      .join(mentionNorm, "mention_id")
      .join(broadcast(entityNorm), "entity_iri")
      .select($"mention_id", $"entity_iri", $"exact",
        ($"dot" / ($"m_norm" * $"e_norm")).as("score"))

    // top-1 as a hash-aggregate argmax rather than a ranking window: the
    // (score desc, exact first, entity asc) order via min_by on
    // (-score, !exact, entity), but no whole-partition sort — and the
    // groupBy rides the mention_id partitioning established above.
    // Deterministic: the ordering struct is unique per (mention, entity).
    val top1 = scored.groupBy($"mention_id")
      .agg(min_by(struct($"entity_iri", $"score"),
        struct(($"score" * -1).as("neg"), (!$"exact").as("fuzzy"), $"entity_iri")).as("best"))
      .select($"mention_id", $"best.entity_iri".as("entity_iri"), $"best.score".as("score"))
      .as[Candidate]

    // materialize the (small) per-mention result eagerly so the stage's
    // working caches can be RELEASED before returning — a long-lived
    // session running many link jobs must not accumulate storage blocks
    val result = top1.localCheckpoint(eager = true)
    idf.unpersist(blocking = false)
    tf.unpersist(blocking = false)
    result
  }

  /** Full linking stage: blocking, scoring and top-1. It runs no
    * quarantine audit: the audit reads only the dictionary, so
    * `Pipeline.run` runs [[auditQuarantine]] on its dictionary branch,
    * off the page chain's critical path.
    */
  def link(
      mentions: DataFrame,
      dict: Dataset[EntityAlias],
      profiles: DataFrame,
      nMentions: Long): Dataset[Candidate] =
    scoreAndRank(mentions, block(mentions, dict), profiles, nMentions)
}
