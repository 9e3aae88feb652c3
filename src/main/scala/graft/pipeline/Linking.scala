package graft.pipeline

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** Candidate entity linking:
  *   1. BLOCKING — MinHash-LSH over character 3-gram shingles of surface
  *      forms vs dictionary aliases, expressed as a band-key equi-join
  *      against the broadcast dictionary side. Identical strings share all
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
  * The dictionary side — the blocking keys of every alias (band keys with
  * the quarantine applied, and the exact-alias keys) and the entity
  * profile token ids — reads only the dictionary, so it is built once per
  * run, on the driver, by [[prepare]], which also runs the
  * alias-quarantine audit; `Pipeline.run` calls it on its dictionary
  * branch, beside the page chain. [[link]] is then ONE plan whose only
  * action is the caller's write, with no cache or checkpoint: the mention
  * table is shuffled once by mention_id, every mention-side join and
  * aggregation rides that partitioning, and the dictionary tables and the
  * IDF are broadcast. Under adaptive execution each exchange and
  * broadcast is a job of its own, so `links` runs 7: the mention_id
  * exchange (the optimizer splits it by column, surfaces and contexts),
  * the document-frequency exchange and the two dictionary broadcasts side
  * by side, then the IDF broadcast, then the snapshot write.
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

  /** MinHash signature → one key per band, indexed by band id. */
  def bandKeys(s: String): Seq[Long] = {
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
      h
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
    * exact keys in [[block]] keep recall 1.0 for identical strings
    * regardless of quarantining, so only near-miss (fuzzy) recall inside
    * the flooded bucket is traded — the bucket is, by construction, noise.
    */
  val MaxAliasBandBucket = 1024

  /** A quarantined alias band-bucket and the number of aliases in it. */
  final case class HotBucket(band_id: Int, band_hash: Long, n_aliases: Long)

  /** The linker's dictionary side, prepared once by [[prepare]]. Both
    * tables are driver-held rows in one partition, joined by broadcast:
    *   - `keys`: (band_id, band_hash, alias, entity_iri, exact), each
    *     alias's [[blockingKeys]] with the quarantine applied to its band
    *     keys;
    *   - `profile`: (entity_iri, tid), the entity profile token ids.
    * `quarantined` is the AUDIT surface of the cap (no silent caps — the
    * td09/td12 `*HotBands` discipline): the band buckets cut from `keys`.
    */
  final case class Dictionary(keys: DataFrame, profile: DataFrame, quarantined: Seq[HotBucket])

  /** Blocking keys of a string: one per band bucket (alias ""), then one
    * exact key (band [[Bands]], hash 0) holding the string itself. A
    * surface and an alias share a key when they share a band bucket or
    * are identical.
    */
  private def blockingKeys(s: String): Seq[(Int, Long, String)] =
    bandKeys(s).zipWithIndex.map { case (h, b) => (b, h, "") } :+ ((Bands, 0L, s))

  private val blockingKeysOf = udf((s: String) => blockingKeys(s))

  private val logger = org.slf4j.LoggerFactory.getLogger("graft.pipeline.Linking")

  /** One driver-side pass over the alias rows and the (entity_iri, token)
    * profile rows: keys every alias, counts each band bucket, quarantines
    * the buckets over [[MaxAliasBandBucket]] (and warns when there are
    * any), and lays out the profile, whose token ids the same `xxhash64`
    * as the mention side's computes when the profile is broadcast. It runs
    * no Spark job.
    */
  def prepare(
      spark: SparkSession,
      aliases: Seq[EntityAlias],
      profiles: Seq[(String, String)]): Dictionary = {
    import spark.implicits._
    val keyed = aliases.flatMap { ea =>
      blockingKeys(ea.alias).map { case (b, h, a) => (b, h, a, ea.entity_iri) }
    }
    val bucketSize = keyed.filter(_._1 < Bands).groupMapReduce(k => (k._1, k._2))(_ => 1L)(_ + _)
    val quarantined = bucketSize.collect {
      case ((b, h), n) if n > MaxAliasBandBucket => HotBucket(b, h, n)
    }.toSeq
    if (quarantined.nonEmpty)
      logger.warn(s"Linking: quarantined ${quarantined.size} alias band-bucket(s) " +
        s"larger than $MaxAliasBandBucket from the LSH band join " +
        "(exact-match recall unaffected; see Linking.Dictionary.quarantined)")
    // parallelized, not local relations: a plan that holds the rows
    // inline revisits every row in each analyzer and optimizer pass
    def table[T <: Product: Encoder: ClassTag](rows: Seq[T]) =
      spark.sparkContext.parallelize(rows, 1).toDF()
    Dictionary(
      table(keyed.filter(k => bucketSize.getOrElse((k._1, k._2), 0L) <= MaxAliasBandBucket).distinct
        .map { case (b, h, a, e) => (b, h, a, e, b == Bands) })
        .toDF("band_id", "band_hash", "alias", "entity_iri", "exact"),
      table(profiles).select($"_1".as("entity_iri"), xxhash64($"_2").as("tid")),
      quarantined)
  }

  /** Stage 1: blocking. `mentions` needs (mention_id, surface) columns.
    * Output: (mention_id, entity_iri, exact) candidate pairs, where
    * `exact` says the surface is one of the entity's aliases verbatim:
    * an exact key matched, so identical strings are candidates even when
    * their band bucket is quarantined, and max(exact) per pair is the
    * ranker's tie-break. The key table is broadcast, so the output keeps
    * the mention side's partitioning.
    */
  def block(mentions: DataFrame, dict: Dictionary): DataFrame = {
    val spark = mentions.sparkSession
    import spark.implicits._
    mentions
      .select($"mention_id", explode(blockingKeysOf($"surface")).as("k"))
      .select($"mention_id", $"k._1".as("band_id"), $"k._2".as("band_hash"), $"k._3".as("alias"))
      .join(broadcast(dict.keys), Seq("band_id", "band_hash", "alias"))
      .groupBy($"mention_id", $"entity_iri").agg(max($"exact").as("exact"))
  }

  /** A mention context's tokens, as [[tokenize]] splits them; empty
    * strings are filtered where they are exploded. Each token is hashed
    * to its `tid` there: `tid` dictionary-encodes the token AT THE
    * EXPLODE (vocabulary interning, reference `src/build.rs:75-91`):
    * every aggregation and join downstream — the widest data in the stage
    * — carries an 8-byte key; token strings never enter a hash table.
    * (xxhash64 collisions would merge two vocabulary terms; at 2^64 over a
    * web vocabulary the expected collision count is ~0, and any collision
    * is deterministic.)
    */
  private def tokens(context: Column): Column = split(lower(context), "[^\\p{L}\\p{N}&]+")

  /** (tid, idf) over the mention contexts: a mention is one row, so its
    * distinct tokens are its document-frequency terms. It reads the
    * mention table as it comes, not its mention_id exchange, so its own
    * exchange (by tid) runs beside that one.
    */
  private def idf(mentions: DataFrame, nMentions: Long): DataFrame =
    mentions
      .select(explode(array_distinct(tokens(col("context")))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(xxhash64(col("token")).as("tid")).agg(count(lit(1)).as("df"))
      .select(col("tid"), log(lit(1.0) + lit(nMentions.toDouble) / col("df")).as("idf"))

  /** Stage 2+3: TF-IDF cosine scoring + top-1 argmax.
    * `candidates`: [[block]]'s (mention_id, entity_iri, exact) pairs;
    * `profile`: (entity_iri, tid) entity profile token ids;
    * `idf`: (tid, idf), ≈ |vocabulary| rows, broadcast.
    * Every keyed operation on the mention side groups or joins by
    * mention_id first, so all of them ride the caller's one mention_id
    * exchange; the entity side and the IDF are broadcast.
    */
  private def scoreAndRank(
      mentions: DataFrame,
      candidates: DataFrame,
      profile: DataFrame,
      idf: DataFrame): Dataset[Candidate] = {
    val spark = mentions.sparkSession
    import spark.implicits._

    // per mention, one row: its token weights as a (tid → w) map, and
    // its norm
    val mentionVec = mentions
      .select($"mention_id", explode(tokens($"context")).as("token"))
      .filter(length($"token") > 0)
      .groupBy($"mention_id", xxhash64($"token").as("tid")).agg(count(lit(1)).as("tf"))
      .join(broadcast(idf), "tid")
      .select($"mention_id", $"tid", ($"tf" * $"idf").as("w"))
      .groupBy($"mention_id")
      .agg(map_from_entries(collect_list(struct($"tid", $"w"))).as("wv"),
        sqrt(sum($"w" * $"w")).as("m_norm"))

    // per candidate, one row per profile token found in the corpus: its
    // idf is the entity's weight, so the candidate's dot is the sum of
    // w × idf over the tokens its context shares (those in `wv`) and the
    // entity norm is the root of the sum of idf². The join with the
    // mention side is co-partitioned by mention_id: hinted as a shuffled
    // hash join, it runs in place instead of being planned as a
    // broadcast of a mention-sized side.
    val scored = candidates.hint("shuffle_hash")
      .join(mentionVec, "mention_id")
      .join(broadcast(profile), "entity_iri")
      .join(broadcast(idf), "tid")
      .groupBy($"mention_id", $"entity_iri", $"exact", $"m_norm") // exact is per (mention, entity)
      .agg(sum(coalesce(try_element_at($"wv", $"tid"), lit(0.0)) * $"idf").as("dot"),
        sqrt(sum($"idf" * $"idf")).as("e_norm"))
      .filter($"dot" > 0) // a candidate that shares no token is not scored
      .select($"mention_id", $"entity_iri", $"exact",
        ($"dot" / ($"m_norm" * $"e_norm")).as("score"))

    // top-1 as a hash-aggregate argmax rather than a ranking window: the
    // (score desc, exact first, entity asc) order via min_by on
    // (-score, !exact, entity), but no whole-partition sort — and the
    // groupBy rides the mention_id partitioning.
    // Deterministic: the ordering struct is unique per (mention, entity).
    scored.groupBy($"mention_id")
      .agg(min_by(struct($"entity_iri", $"score"),
        struct(($"score" * -1).as("neg"), (!$"exact").as("fuzzy"), $"entity_iri")).as("best"))
      .select($"mention_id", $"best.entity_iri".as("entity_iri"), $"best.score".as("score"))
      .as[Candidate]
  }

  /** Full linking stage: blocking, scoring and top-1, as one lazy plan
    * over a [[prepare]]d dictionary side. `mentions` needs (mention_id,
    * surface, context) columns, one row per mention; `nMentions` is
    * |mentions|, the IDF's document count (the orchestrator knows it from
    * its stage manifest, so it costs no scan here). The mention table is
    * shuffled once, by mention_id; the plan holds no cache or checkpoint,
    * so the caller's one action (the `links` snapshot write) runs it all.
    */
  def link(mentions: DataFrame, dict: Dictionary, nMentions: Long): Dataset[Candidate] = {
    val byMention = mentions.repartition(col("mention_id"))
    scoreAndRank(byMention, block(byMention, dict), dict.profile, idf(mentions, nMentions))
  }
}
