package graftbench

import java.nio.file.{Files, Path}
import scala.util.Random

import graft.turtle.NTriples

/** The `turtle_ingest` corpus: the positive golden fixtures, generated
  * documents whose triples the generator writes down itself, and planted
  * malformed documents.
  */
object TurtleCorpus {
  type T = Iso.T

  /** One corpus document; `expected` is None for a planted malformed one. */
  final case class Doc(url: String, text: String, expected: Option[Set[T]])

  val Rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  val Xsd = "http://www.w3.org/2001/XMLSchema#"
  val Foaf = "http://xmlns.com/foaf/0.1/"

  /** Golden pairs `pNN.ttl` / `pNN.nq`; the expected triples are read from
    * the `.nq` file with the N-Quads reader, not the Turtle parser.
    */
  def fixtures(dir: Path): Seq[Doc] = {
    val ids = Files.list(dir).toArray.map(_.toString).filter(_.endsWith(".ttl")).sorted
    ids.toSeq.map { ttl =>
      val id = ttl.split('/').last.stripSuffix(".ttl")
      val golden = NTriples.parse(Main.readText(dir.resolve(s"$id.nq"))).fold(e => throw e, identity)
      Doc(s"urn:fixture:$id", Main.readText(dir.resolve(s"$id.ttl")),
        Some(golden.map(t => (t.subj.render, t.pred, t.obj.render)).toSet))
    }
  }

  /** Planted malformed documents: each fails in a different place. */
  def malformed(syntaxErrorFixture: String): Seq[String] = Seq(
    syntaxErrorFixture, // an IRI holding a space
    "<http://m.example/s> <http://m.example/p> \"unterminated .\n",
    "nope:s <http://m.example/p> <http://m.example/o> .\n",
    "<http://m.example/s> <http://m.example/p> <http://m.example/o>\n",
    "<s> <http://m.example/p> <http://m.example/o> .\n",
    "<http://m.example/s> <http://m.example/p> \"x\"^^ .\n",
    "[ <http://m.example/p> <http://m.example/o> .\n")

  // N-Triples rendering of terms, written here from the format's rules.
  private def iri(s: String) = s"<$s>"
  private def esc(s: String) = s.flatMap {
    case '"'  => "\\u0022"
    case '\\' => "\\u005c"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c    => c.toString
  }
  private def str(s: String) = "\"" + esc(s) + "\""
  private def lang(s: String, tag: String) = str(s) + "@" + tag
  private def typed(s: String, dt: String) = str(s) + "^^<" + dt + ">"

  private val Names = Array("Ada", "Brook", "Cyd", "Dara", "Emil", "Fern", "Gus", "Hale", "Ines", "Jude")
  private val Words = Array("alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa", "theta")

  /** Generated document `k`: uses the grammar's features — both prefix
    * and base directive forms, relative and compact IRIs, `a`,
    * `;` and `,` lists (with a trailing `;`), labelled and anonymous blank
    * nodes, nested blank property lists, a bare property-list statement,
    * collections (nested, empty, as subject), all four string quotings with
    * escapes, language tags, typed literals, integers, decimals, doubles,
    * booleans and comments (not: escapes and dots inside local names).
    * Returns the text and the triples it must yield.
    */
  def generated(seed: Long, k: Int): (String, Set[T]) = {
    val r = new Random(seed * 1000003L + k)
    def w = Words(r.nextInt(Words.length))
    val ns = "http://ex.example/ns/"
    val empty = "http://empty.example/"
    val base1 = s"http://base.example/d$k/"
    val base2 = s"http://base2.example/k$k/"
    val name = s"${Names(r.nextInt(Names.length))} ${w.capitalize}"
    val int = (r.nextInt(2001) - 1000).toString
    val int2 = s"+${r.nextInt(100)}"
    val dec = r.nextInt(3) match {
      case 0 => s"${r.nextInt(100)}.${r.nextInt(100)}"
      case 1 => s"-${r.nextInt(100)}.5"
      case _ => s".${r.nextInt(1000)}"
    }
    val dbl = r.nextInt(3) match {
      case 0 => s"${r.nextInt(10)}.${r.nextInt(10)}e${r.nextInt(20)}"
      case 1 => s"${r.nextInt(100)}E-${r.nextInt(9)}"
      case _ => s".${r.nextInt(10)}e+${r.nextInt(9)}"
    }
    val bool = r.nextBoolean().toString
    val day = f"${1 + r.nextInt(28)}%02d"
    val (w1, w2, w3) = (w, w, w)

    val text =
      s"""# generated document $k
         |@prefix ex: <$ns> .
         |PREFIX foaf: <$Foaf>
         |@prefix : <$empty> .
         |@base <$base1> .
         |<s$k> a foaf:Person ;
         |  foaf:name "$name" , 'O\\'$w1'@en ;
         |  ex:age $int ; ex:score $dec ; ex:ratio $dbl ; ex:flag $bool ;
         |  ex:note \"\"\"line one
         |line "two" $w2\"\"\" ;
         |  ex:esc "tab\\tq\\"b\\\\s\\u00e9\\U0001F600 nl\\n" ;
         |  ex:date "2021-01-$day"^^<${Xsd}date> ;
         |  ex:typed "$int"^^ex:myType ;
         |  ex:knows _:b$k , [ foaf:name "anon $w3" ; ex:inner [ ex:v $int2 ] ] ;
         |  ex:list ( $int2 "$w3" ex:item () ) ;
         |  :empty () ;
         |  ex:a-b ex:_x , ex:1a ;
         |  ex:rel <../up/$w1> , <#frag$k> , <?q=$k> ;
         |.
         |_:b$k ex:label '''it's $w2
         |here''' . # trailing comment
         |BASE <$base2>
         |<rel2> ex:p ex: .
         |[] ex:p 'single $w3' .
         |( "a" "b" ) ex:p [] .
         |[ ex:q "$w1" ] .
         |""".stripMargin

    val s = iri(s"${base1}s$k")
    def ex(l: String) = iri(ns + l)
    def p(l: String) = ns + l
    val (bk, anon, inner) = ("_:bk", "_:anon", "_:inner")
    val cells = Seq("_:c1", "_:c2", "_:c3", "_:c4")
    val items = Seq(typed(int2, Xsd + "integer"), str(w3), ex("item"), iri(Rdf + "nil"))
    val subjCells = Seq("_:d1", "_:d2")
    def list(cs: Seq[String], xs: Seq[String]): Seq[T] = cs.indices.flatMap { i =>
      Seq((cs(i), Rdf + "type", iri(Rdf + "List")), (cs(i), Rdf + "first", xs(i)),
        (cs(i), Rdf + "rest", if (i + 1 < cs.size) cs(i + 1) else iri(Rdf + "nil")))
    }
    val triples = Seq(
      (s, Rdf + "type", iri(Foaf + "Person")),
      (s, Foaf + "name", str(name)),
      (s, Foaf + "name", lang(s"O'$w1", "en")),
      (s, p("age"), typed(int, Xsd + "integer")),
      (s, p("score"), typed(dec, Xsd + "decimal")),
      (s, p("ratio"), typed(dbl, Xsd + "double")),
      (s, p("flag"), typed(bool, Xsd + "boolean")),
      (s, p("note"), str(s"line one\nline \"two\" $w2")),
      (s, p("esc"), str("tab\tq\"b\\sé😀 nl\n")),
      (s, p("date"), typed(s"2021-01-$day", Xsd + "date")),
      (s, p("typed"), typed(int, ns + "myType")),
      (s, p("knows"), bk),
      (s, p("knows"), anon),
      (anon, Foaf + "name", str(s"anon $w3")),
      (anon, p("inner"), inner),
      (inner, p("v"), typed(int2, Xsd + "integer")),
      (s, p("list"), cells.head),
      (s, empty + "empty", iri(Rdf + "nil")),
      (s, p("a-b"), ex("_x")),
      (s, p("a-b"), ex("1a")),
      (s, p("rel"), iri(s"http://base.example/up/$w1")),
      (s, p("rel"), iri(s"${base1}#frag$k")),
      (s, p("rel"), iri(s"$base1?q=$k")),
      (bk, p("label"), str(s"it's $w2\nhere")),
      (iri(s"${base2}rel2"), p("p"), iri(ns)),
      ("_:single", p("p"), str(s"single $w3")),
      (subjCells.head, p("p"), "_:obj"),
      ("_:bare", p("q"), str(w1))) ++
      list(cells, items) ++ list(subjCells, Seq(str("a"), str("b")))
    (text, triples.toSet)
  }

  /** The whole corpus of a seed, in a seeded order. */
  def build(seed: Long, generatedDocs: Int, fixtureDir: Path, syntaxError: String): Seq[Doc] = {
    val gen = (0 until generatedDocs).map { k =>
      val (text, exp) = generated(seed, k)
      Doc(s"http://gen.example/doc/$k", text, Some(exp))
    }
    val bad = malformed(syntaxError).zipWithIndex.map { case (t, j) => Doc(s"urn:malformed:$j", t, None) }
    new Random(seed).shuffle(fixtures(fixtureDir) ++ gen ++ bad)
  }
}
