package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.Paths
import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.pipeline.{Materialize, Reject, TripleEmit, TripleRow}
import graft.turtle.{BlankGenerator, Builder, Lexer, NTriples, Parser}

object TurtleIngest {
  val GeneratedDocs = 3000
  val Partitions = 8
  val FixtureDir = "src/test/resources/turtle/positive"
  val SyntaxError = "src/test/resources/turtle/syntax_error.ttl"
}

/** `turtle_ingest`: one op is `TripleEmit.ingestTurtle` over the seeded
  * corpus, then `Materialize.writeAdaptive` of its triples.
  */
final class TurtleIngest(spark: SparkSession, seed: Long, work: String) extends Workload {
  import TurtleIngest._
  import spark.implicits._

  val warmup = 8
  val minTimed = 6

  private var docs: Seq[TurtleCorpus.Doc] = Nil
  private var last: (Dataset[TripleRow], Dataset[Reject]) = _

  private def corpus(partitions: Int): Dataset[(String, Timestamp, String)] =
    spark.sparkContext.parallelize(
      docs.zipWithIndex.map { case (d, i) => (d.url, new Timestamp(i * 1000L), d.text) }, partitions).toDS()

  private lazy val corpusBytes: Long = docs.map(_.text.getBytes(StandardCharsets.UTF_8).length.toLong).sum

  def setup(): Unit =
    docs = TurtleCorpus.build(seed, GeneratedDocs, Paths.get(FixtureDir),
      Main.readText(Paths.get(SyntaxError)))

  def op(out: String): OpOut = {
    val sc = spark.sparkContext
    val input = corpus(Partitions)
    sc.setJobGroup("ingest", "TripleEmit.ingestTurtle")
    val t0 = System.nanoTime()
    last = TripleEmit.ingestTurtle(input)
    val t1 = System.nanoTime()
    sc.setJobGroup("materialize", "Materialize.writeAdaptive")
    Materialize.writeAdaptive(last._1, s"$out/graph")
    val t2 = System.nanoTime()
    sc.clearJobGroup()
    OpOut(-1, Map("ingest_s" -> (t1 - t0) / 1e9, "materialize_s" -> (t2 - t1) / 1e9))
  }

  private final case class Outputs(
      triples: Map[String, Set[Iso.T]], rejects: Seq[String], graph: Set[Iso.T], distinct: Set[Iso.T])

  private def read(out: String): Outputs = {
    val rows = last._1.collect()
    Outputs(
      rows.groupBy(_.src_url).map { case (u, ts) => u -> ts.map(t => (t.subj, t.pred, t.obj)).toSet },
      last._2.collect().map(_.url).toSeq,
      spark.read.parquet(s"$out/graph").select("subj", "pred", "obj").as[(String, String, String)].collect().toSet,
      rows.map(t => (t.subj, t.pred, t.obj)).toSet)
  }

  private def checks(o: Outputs): Seq[Check] = {
    def docCheck(name: String, ds: Seq[TurtleCorpus.Doc]) = Check.of(name,
      ds.flatMap { d =>
        val got = o.triples.getOrElse(d.url, Set.empty)
        if (Iso.isomorphic(got, d.expected.get)) None
        else Some(s"${d.url}: ${got.size} triples, ${d.expected.get.size} expected")
      }, ds.size)
    val (fixtures, rest) = docs.filter(_.expected.isDefined).partition(_.url.startsWith("urn:fixture:"))
    val planted = docs.filter(_.expected.isEmpty).map(_.url)
    val strays = o.triples.keySet -- docs.filter(_.expected.isDefined).map(_.url)
    val rejectProblems =
      (if (o.rejects.sorted == planted.sorted) Nil
       else Seq(s"rejects ${o.rejects.sorted.mkString(",")} != planted ${planted.sorted.mkString(",")}")) ++
        strays.toSeq.map(u => s"$u has triples but is not a well-formed corpus document")
    val graphProblems =
      ((o.graph -- o.distinct).toSeq.map(t => s"extra graph row $t") ++
        (o.distinct -- o.graph).toSeq.map(t => s"missing graph row $t")).sorted
    Seq(
      docCheck("fixtures_match_golden_nq", fixtures),
      docCheck("generated_docs_match_generator", rest),
      Check.of("rejects_are_the_planted_malformed_docs", rejectProblems, planted.size),
      Check.of("graph_table_is_distinct_ingested_triples", graphProblems, o.distinct.size))
  }

  def check(out: String): Seq[Check] = checks(read(out))

  def selftest(out: String): Seq[Check] = {
    val o = read(out)
    val fixture = o.triples.keys.filter(_.startsWith("urn:fixture:")).toSeq.sorted
      .find(u => o.triples(u).size > 1).get
    val gen = o.triples.keys.filter(_.startsWith("http://gen.example/")).min
    val lit = o.triples(gen).find(_._3.startsWith("\"")).get
    val changed = (lit._1, lit._2, lit._3.updated(1, if (lit._3(1) == 'x') 'y' else 'x'))
    val corruptions = Seq(
      "fixtures_match_golden_nq" -> o.copy(triples = o.triples.updated(fixture, o.triples(fixture).tail)),
      "generated_docs_match_generator" -> o.copy(triples = o.triples.updated(gen, o.triples(gen) - lit + changed)),
      "rejects_are_the_planted_malformed_docs" -> o.copy(rejects = o.rejects.tail),
      "graph_table_is_distinct_ingested_triples" -> o.copy(graph = o.graph.tail))
    corruptions.map { case (name, bad) =>
      val c = checks(bad).find(_.name == name).get
      Check(name, !c.ok, c.detail)
    }
  }

  /** Single-thread kernel figures on the well-formed corpus documents, then
    * the binding (`ingestTurtle`) on one partition and on all of them.
    */
  def layers(timed: Seq[OpRecord], trace: Trace, out: String): Map[String, Double] = {
    val texts = docs.filter(_.expected.isDefined).map(_.text)
    val mb = texts.map(_.getBytes(StandardCharsets.UTF_8).length.toLong).sum / 1e6
    val lexRate = rate(1, 1.5) {
      texts.foreach { t => val lx = new Lexer(t); while (lx.next() != null) () }
      1
    } * mb
    val parseRate = rate(1, 1.5) { texts.foreach(t => new Parser(new Lexer(t)).parseDocument()); 1 } * mb
    val parsed = texts.map(t => new Parser(new Lexer(t)).parseDocument().value)
    val buildRate = rate(1, 1.5) {
      parsed.map(d => new Builder(None, BlankGenerator.numeric()).build(d).size.toLong).sum
    }
    val built = parsed.map(d => new Builder(None, BlankGenerator.numeric()).build(d))
    val renderRate = rate(1, 1.5) { built.foreach(NTriples.render); built.map(_.size.toLong).sum }

    def bindingMbPerS(partitions: Int): Double = Stats.median((1 to 3).map { _ =>
      val input = corpus(partitions)
      val t0 = System.nanoTime()
      TripleEmit.ingestTurtle(input)
      corpusBytes / 1e6 / ((System.nanoTime() - t0) / 1e9)
    })

    val perOp = timed.map(r => trace.labelMetrics(r.index).getOrElse("materialize", Map.empty[String, Double]))
    Map(
      "turtle.lex_mb_per_s" -> lexRate,
      "turtle.parse_mb_per_s" -> parseRate,
      "turtle.build_triples_per_s" -> buildRate,
      "turtle.render_triples_per_s" -> renderRate,
      "binding.ingest_1core_mb_per_s" -> bindingMbPerS(1),
      "binding.ingest_4core_mb_per_s" -> bindingMbPerS(Partitions),
      "materialize.write_s" -> Stats.median(timed.map(_.extra("materialize_s"))),
      "materialize.shuffle_write_mb" -> Stats.medianOf(perOp, "shuffle_write_mb"))
  }

  /** Rate helper for the single-thread kernel figures: runs `body`
    * for `warmS` seconds untimed, then for `timeS` seconds, and returns units
    * of work per second (the body returns the units it did).
    */
  private def rate(warmS: Double, timeS: Double)(body: => Long): Double = {
    val w = System.nanoTime() + (warmS * 1e9).toLong
    while (System.nanoTime() < w) body
    val t0 = System.nanoTime()
    var units = 0L
    while (System.nanoTime() - t0 < (timeS * 1e9).toLong) units += body
    units / ((System.nanoTime() - t0) / 1e9)
  }
}
