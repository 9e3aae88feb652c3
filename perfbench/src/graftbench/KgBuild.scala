package graftbench

import java.io.File
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.{PageGen, Pipeline}

object KgBuild {
  val Pages = 2000
  val Entities = 2000

  /** Pipeline stage names as `Pipeline.run` labels them. */
  val Stages = Seq("pages", "extracted", "mentions", "links", "canonical", "linked", "emit+materialize")
  def metricName(stage: String): String = stage.replace('+', '_')

  val Kg = "http://kg.example/ontology#"
  val RdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
  val XsdDateTime = "http://www.w3.org/2001/XMLSchema#dateTime"

  /** What the checks read back from one op's output directory. */
  final case class Outputs(
      inputText: Map[String, String],
      extracted: Map[String, String],
      triples: Seq[(String, String, String)],
      canonical: Map[String, String])

  /** Connected components of the alias-collision graph, made here with a
    * union-find over the dictionary: entity → min IRI of its component, for
    * entities whose component has more than one member.
    */
  def aliasComponents(nEntities: Int): Map[String, String] = {
    val dict = PageGen.entityDictionary(nEntities)
    val parent = mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    dict.groupBy(_.alias).values.foreach { group =>
      val ids = group.map(_.entity_iri).distinct
      ids.tail.foreach { b =>
        val (ra, rb) = (find(ids.head), find(b))
        if (ra != rb) parent(ra) = rb
      }
    }
    val members = parent.keys.toSeq.groupBy(find)
    members.values.filter(_.size > 1).flatMap(ms => ms.map(_ -> ms.min)).toMap
  }
}

/** `kg_build`: one op is one `Pipeline.run` over a seeded PageGen page table
  * into a fresh output directory.
  */
final class KgBuild(spark: SparkSession, seed: Long, work: String) extends Workload {
  import KgBuild._

  val warmup = 1
  val minTimed = 2

  /** Page ids of this seed: one contiguous block, so every 10th page names
    * the hot entity 0 whatever the seed.
    */
  private val first = Math.floorMod(seed, 10000L) * 100000L
  private val ids = first until first + Pages
  private val pagesDir = s"$work/input/pages"
  private var input: DataFrame = _
  private var linking = (0L, 0L)

  def setup(): Unit = {
    import spark.implicits._
    val (lo, e) = (first, Entities)
    spark.range(lo, lo + Pages, 1, 8).as[Long]
      .mapPartitions(_.map(n => PageGen.page(n, e)))
      .write.parquet(pagesDir)
    // held in memory in 8 partitions, so every op starts from the same
    // committed table without re-reading or re-planning the file scan
    input = spark.read.parquet(pagesDir).repartition(8).localCheckpoint()
  }

  def op(out: String): OpOut = {
    val s = Pipeline.run(spark, Pages.toLong, Entities, out, inputPages = Some(input))
    val extra =
      s.stageWallMs.map { case (k, v) => s"wall.${metricName(k)}" -> v / 1000.0 } ++
        s.stageRows.map { case (k, v) => s"rows.${metricName(k)}" -> v.toDouble } ++
        Map("rows.emit_materialize" -> s.graphRows.toDouble)
    OpOut(s.graphRows, extra)
  }

  private def read(out: String): Outputs = {
    def pairs(df: DataFrame) = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    Outputs(
      pairs(spark.read.parquet(pagesDir).select("url", "text")),
      pairs(spark.read.parquet(s"$out/_stages/extracted").select("url", "text")),
      spark.read.parquet(s"$out/graph").select("subj", "pred", "obj").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq,
      pairs(spark.read.parquet(s"$out/_stages/canonical").select("entity_iri", "canonical_iri")))
  }

  /** The planted truth: each page's mentioned entities (PageGen's plan plus
    * the hot entity 0 on every 10th page), mapped to their component's
    * representative.
    */
  private def plantedMentions(comp: Map[String, String]): Set[(String, String)] =
    ids.flatMap { n =>
      val ks = PageGen.plannedMentions(n, Entities).map(_._1) ++ (if (n % 10 == 0) Seq(0) else Nil)
      ks.map { k =>
        val iri = PageGen.entityIri(k)
        (s"<${PageGen.pageUrl(n)}>", s"<${comp.getOrElse(iri, iri)}>")
      }
    }.toSet

  /** The checks, and the linking counts (correct, wrong) they found. */
  private def checks(o: Outputs): (Seq[Check], (Long, Long)) = {
    val textProblems =
      (o.inputText.keySet ++ o.extracted.keySet).toSeq.sorted.flatMap { url =>
        (o.inputText.get(url), o.extracted.get(url)) match {
          case (Some(a), Some(b)) if a == b => None
          case (a, b) => Some(s"$url: input ${a.map(_.length)} chars, extracted ${b.map(_.length)}")
        }
      }

    val metaPreds = Set(RdfType, s"${Kg}lang", s"${Kg}fetchedAt")
    val meta = o.triples.filter(t => metaPreds(t._2)).groupBy(_._1)
    val expectedMeta = ids.map { n =>
      val s = s"<${PageGen.pageUrl(n)}>"
      val ts = java.time.Instant.ofEpochMilli(PageGen.BaseTs + n * 1000L).toString
      s -> Set((s, RdfType, s"<${Kg}Page>"), (s, s"${Kg}lang", "\"" + PageGen.pageLang(n) + "\""),
        (s, s"${Kg}fetchedAt", "\"" + ts + "\"^^<" + XsdDateTime + ">"))
    }.toMap
    val metaProblems = (expectedMeta.keySet ++ meta.keySet).toSeq.sorted.flatMap { s =>
      val got = meta.getOrElse(s, Nil)
      val want = expectedMeta.getOrElse(s, Set.empty)
      if (got.size == 3 && got.toSet == want) None
      else Some(s"$s: ${got.size} metadata triples, ${(want -- got).size} expected ones missing")
    }

    val comp = aliasComponents(Entities)
    val canonProblems = (comp.keySet ++ o.canonical.keySet).toSeq.sorted.flatMap { e =>
      if (comp.get(e) == o.canonical.get(e)) None
      else Some(s"$e: expected ${comp.get(e)}, got ${o.canonical.get(e)}")
    }

    val truth = plantedMentions(comp)
    val got = o.triples.filter(_._2 == s"${Kg}mentions").map(t => (t._1, t._3)).toSet
    val correct = (got intersect truth).size
    val wrong = (got -- truth).size
    val precision = correct.toDouble / math.max(1, got.size)
    val recall = correct.toDouble / math.max(1, truth.size)
    (Seq(
      Check.of("extracted_text_byte_identical", textProblems, o.inputText.size),
      Check.of("three_metadata_triples_per_page", metaProblems, expectedMeta.size),
      Check.of("canonical_map_is_alias_components", canonProblems, comp.size),
      Check("mentions_precision_recall_ge_0.95", precision >= 0.95 && recall >= 0.95,
        f"precision $precision%.4f, recall $recall%.4f, $correct correct, $wrong wrong " +
          s"of ${got.size} kg:mentions, ${truth.size} planted")), (correct.toLong, wrong.toLong))
  }

  def check(out: String): Seq[Check] = {
    val (cs, counts) = checks(read(out))
    linking = counts
    cs
  }

  def selftest(out: String): Seq[Check] = {
    val o = read(out)
    val url = o.extracted.keys.min
    val text = o.extracted(url)
    val flipped = text.updated(text.length / 2, if (text(text.length / 2) == 'x') 'y' else 'x')
    val meta = o.triples.find(_._2 == s"${Kg}lang").get
    val entity = o.canonical.keys.min
    val mentions = o.triples.filter(_._2 == s"${Kg}mentions")
    val misdirected = mentions.zipWithIndex.collect { case (t, i) if i % 10 == 0 => t }.toSet
    val corruptions = Seq(
      "extracted_text_byte_identical" -> o.copy(extracted = o.extracted.updated(url, flipped)),
      "three_metadata_triples_per_page" -> o.copy(triples = o.triples.filterNot(_ == meta)),
      "canonical_map_is_alias_components" -> o.copy(canonical = o.canonical.updated(entity, entity + "x")),
      "mentions_precision_recall_ge_0.95" -> o.copy(triples = o.triples.map(t =>
        if (misdirected(t)) (t._1, t._2, "<http://kg.example/entity/none>") else t)))
    corruptions.map { case (name, bad) =>
      val c = checks(bad)._1.find(_.name == name).get
      Check(name, !c.ok, c.detail)
    }
  }

  /** Stage figures are medians over the timed ops; the linking counts come
    * from the check of the last op, which runs before this.
    */
  def layers(timed: Seq[OpRecord], trace: Trace, out: String): Map[String, Double] = {
    val perOp = timed.map { r =>
      val lm = trace.labelMetrics(r.index)
      Stages.map(metricName).flatMap { m =>
        val l = lm.getOrElse(m, Map.empty[String, Double])
        val figures = Map("wall_s" -> r.extra.getOrElse(s"wall.$m", 0.0),
          "rows_out" -> r.extra.getOrElse(s"rows.$m", 0.0)) ++
          Trace.LabelKeys.map(k => k -> l.getOrElse(k, 0.0))
        figures.map { case (k, v) => s"pipeline.$m.$k" -> v }
      }.toMap
    }
    perOp.head.keys.map(k => k -> Stats.medianOf(perOp, k)).toMap ++ Map(
      "snapshots.written_mb" -> Main.du(new File(s"$out/_stages")) / 1e6,
      "linking.correct" -> linking._1.toDouble,
      "linking.wrong" -> linking._2.toDouble)
  }
}
