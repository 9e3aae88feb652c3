package graft.sparql

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.GraphOps
import SparqlAst._

/** SPARQL text front-end: parse corpus (accepts + spanned rejects) and
  * end-to-end lowering equivalence against the typed algebra twins over a
  * planted mini-KG — the reference's grammar→algebra test discipline
  * (`/root/reference/tests/positive.rs` pairs inputs with expected algebra
  * output; `examples/simple.rs` pins the diagnostic channel).
  */
class SparqlSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val P = "http://g/p/"
  private val E = "http://g/e/"

  /** Planted mini-KG: 6 docs with lang/nchars/label, follows edges 1→2→3→4,
    * 5→6, a typed literal zoo on doc 1.
    */
  private lazy val triples: DataFrame = {
    val s = spark
    import s.implicits._
    def d(i: Int) = s"<$E$i>"
    val langs = Map(1 -> "en", 2 -> "en", 3 -> "fr", 4 -> "fr", 5 -> "zh", 6 -> "en")
    val rows =
      (1 to 6).map(i => (d(i), s"${P}lang", "\"" + langs(i) + "\"")) ++
      (1 to 6).map(i => (d(i), s"${P}nchars",
        s""""${i * 100}"^^<http://www.w3.org/2001/XMLSchema#integer>""")) ++
      (1 to 5).map(i => (d(i), s"${P}label", s""""doc $i"@en""")) ++
      Seq((d(1), s"${P}follows", d(2)), (d(2), s"${P}follows", d(3)),
        (d(3), s"${P}follows", d(4)), (d(5), s"${P}follows", d(6)),
        (d(1), s"${P}cites", d(4)))
    rows.toDF("subj", "pred", "obj")
  }
  private lazy val counts: Map[String, Long] =
    graft.pipeline.Materialize.sketchPredCounts(triples)

  private def run(q: String): DataFrame =
    SparqlExec.query(spark, q,
      (_: String) => triples, counts,
      fullSource = Some(() => triples),
      config = SparqlExec.Config(maxHops = 4))

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private val prologue = s"PREFIX p: <$P>\n"

  // ------------------------------------------------------------- parsing

  test("parse: prologue, chain sugar, FILTER, modifiers") {
    val q = SparqlParser.parse(prologue +
      """SELECT DISTINCT ?d ?n WHERE {
        |  ?d p:lang "en" ; p:nchars ?n .
        |  FILTER (?n >= 150)
        |} ORDER BY DESC(?n) LIMIT 5 OFFSET 1""".stripMargin)
    val s = q.asInstanceOf[Select]
    assert(s.distinct)
    assert(s.proj == Seq(Proj.PV("d"), Proj.PV("n")))
    assert(s.orderBy == Seq(OrderKey("n", ascending = false)))
    assert(s.limit.contains(5) && s.offset.contains(1))
    val pats = s.where.elems.collect { case GroupElem.Triples(ps) => ps }.flatten
    assert(pats.map(p => Path.simple(p.p).get) ==
      Seq(s"${P}lang", s"${P}nchars"))
    assert(pats.head.o == Term.L("\"en\""))
  }

  test("parse: paths, aggregates, VALUES, and query forms") {
    val s = SparqlParser.parse(prologue +
      "SELECT ?a ?b WHERE { ?a (p:follows|^p:cites)+ ?b . ?a !(p:lang) ?b }")
      .asInstanceOf[Select]
    val pats = s.where.elems.collect { case GroupElem.Triples(ps) => ps }.flatten
    assert(pats.head.p == Path.Plus(
      Path.Alt(Path.Pred(s"${P}follows"), Path.Inv(Path.Pred(s"${P}cites")))))
    assert(pats(1).p == Path.Neg(Seq(s"${P}lang")))

    val agg = SparqlParser.parse(prologue +
      """SELECT ?l (COUNT(*) AS ?n) (GROUP_CONCAT(DISTINCT ?s; SEPARATOR=";") AS ?cs)
        |WHERE { ?d p:lang ?l ; p:src ?s } GROUP BY ?l""".stripMargin)
      .asInstanceOf[Select]
    assert(agg.proj(1) == Proj.PAgg("COUNT", None, "n", None))
    assert(agg.proj(2) == Proj.PAgg("GROUP_CONCAT_DISTINCT", Some("s"), "cs", Some(";")))

    assert(SparqlParser.parse(prologue + "ASK { ?d p:lang \"zz\" }")
      .isInstanceOf[Ask])
    val c = SparqlParser.parse(prologue +
      "CONSTRUCT { ?d p:tongue ?l } WHERE { ?d p:lang ?l }")
      .asInstanceOf[Construct]
    assert(c.templates.map(t => Path.simple(t.p).get) == Seq(s"${P}tongue"))
  }

  test("parse: literal forms render to engine term syntax") {
    def objOf(q: String): Term = {
      val s = SparqlParser.parse(prologue + q).asInstanceOf[Select]
      s.where.elems.collect { case GroupElem.Triples(ps) => ps }.flatten.head.o
    }
    assert(objOf("SELECT ?d WHERE { ?d p:x \"a\\nb\" }") == Term.L("\"a\\nb\""))
    assert(objOf("SELECT ?d WHERE { ?d p:x \"say \\\"hi\\\"\" }") ==
      Term.L("\"say \\u0022hi\\u0022\""))
    assert(objOf("SELECT ?d WHERE { ?d p:x 120 }") ==
      Term.L("\"120\"^^<http://www.w3.org/2001/XMLSchema#integer>"))
    assert(objOf("SELECT ?d WHERE { ?d p:x 1.5 }") ==
      Term.L("\"1.5\"^^<http://www.w3.org/2001/XMLSchema#decimal>"))
    assert(objOf("SELECT ?d WHERE { ?d p:x true }") ==
      Term.L("\"true\"^^<http://www.w3.org/2001/XMLSchema#boolean>"))
    assert(objOf("SELECT ?d WHERE { ?d p:x \"hi\"@en }") == Term.L("\"hi\"@en"))
    assert(objOf(
      "SELECT ?d WHERE { ?d p:x \"s\"^^<http://www.w3.org/2001/XMLSchema#string> }") ==
      Term.L("\"s\""))
  }

  test("rejects carry message and span (the diagnostic-sink channel)") {
    def rej(q: String): (String, Int, Int) =
      SparqlExec.diagnose(q).getOrElse(fail(s"expected a reject for: $q"))

    val (m1, s1, _) = rej("SELECT ?d WHERE { ?d ?p ?o }")
    assert(m1.contains("variable predicates"))
    assert(s1 == "SELECT ?d WHERE { ?d ".length) // span points at ?p

    val (m2, _, _) = rej(prologue + "SELECT ?d WHERE { <http://g/e/1> p:lang ?l }")
    assert(m2.contains("constant subjects"))
    val (m3, _, _) = rej("SELECT ?d WHERE { ?d q:lang ?l }")
    assert(m3.contains("undeclared prefix 'q:'"))
    val (m4, _, _) = rej(prologue + "SELECT ?d WHERE { ?d p:x \"open }")
    assert(m4.contains("unterminated string"))
    val (m5, _, _) = rej(prologue +
      "SELECT ?d WHERE { SERVICE <http://remote/sparql> { ?d p:lang ?l } }")
    assert(m5.contains("SERVICE"))
    val (m7, _, _) = rej(prologue + "SELECT (SAMPLE(?n) AS ?a) WHERE { ?d p:nchars ?n }")
    assert(m7.contains("unsupported aggregate 'SAMPLE'"))

    // blank-node syntax gets a deliberate subset message, not a confusing
    // stray-char / undeclared-prefix error
    val (m8, _, _) = rej(prologue + "SELECT ?d WHERE { ?d p:knows [] }")
    assert(m8.contains("blank-node syntax"))
    val (m9, _, _) = rej(prologue + "SELECT ?d WHERE { ?d p:knows _:b }")
    assert(m9.contains("blank-node labels"))
    assert(SparqlExec.diagnose(prologue + "SELECT ?d WHERE { ?d p:lang ?l }").isEmpty)
  }

  test("lowering rejects: cartesian, duplicate object var, unbound filter") {
    def rejRun(q: String): String =
      intercept[Diag](run(q)).message

    assert(rejRun(prologue + "SELECT ?a ?b WHERE { ?a p:lang ?x . ?b p:nchars ?y }")
      .contains("disconnected"))
    assert(rejRun(prologue + "SELECT ?a WHERE { ?a p:lang ?x . ?b p:label ?x }")
      .contains("bound by two patterns"))
    assert(rejRun(prologue +
      "SELECT ?d WHERE { ?d p:lang ?l . FILTER (?missing = \"en\") }")
      .contains("unbound"))
    assert(rejRun(prologue +
      "SELECT ?l (COUNT(*) AS ?n) WHERE { ?d p:lang ?l }")
      .contains("GROUP BY"))
    // GRAPH needs a quad table; run() supplies only triples
    assert(rejRun(prologue +
      "SELECT ?g WHERE { GRAPH ?g { ?d p:lang ?l } }")
      .contains("quad table"))
    assert(rejRun(prologue +
      "SELECT ?d ?l WHERE { ?d p:lang ?l . BIND(STR(?l) AS ?l) }")
      .contains("already bound"))
    assert(rejRun(prologue +
      "SELECT ?d WHERE { ?d p:lang ?l } HAVING (?n > 1)")
      .contains("HAVING requires GROUP BY"))
  }

  test("BIND / HAVING / GRAPH lower onto the value calculus and quad algebra") {
    // BIND: lexical and boolean values extend solutions, usable downstream
    val b = run(prologue +
      """SELECT ?d ?lex ?isen WHERE {
        |  ?d p:lang ?l .
        |  BIND(STR(?l) AS ?lex)
        |  BIND(?l = "en" AS ?isen)
        |  FILTER (?lex != "zh")
        |}""".stripMargin)
    assert(b.columns.toSeq == Seq("d", "lex", "isen"))
    val bRows = b.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(bRows.count(_._3 == 1L) == 3 && bRows.forall(_._2 != "zh") && bRows.size == 5)

    // HAVING filters aggregated groups
    val h = run(prologue +
      """SELECT ?l (COUNT(*) AS ?n) WHERE { ?d p:lang ?l }
        |GROUP BY ?l HAVING (?n >= 2) ORDER BY ?l""".stripMargin)
    assert(h.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("\"en\"", 3L), ("\"fr\"", 2L)))

    // GRAPH ?g: quad algebra, graph var carried through every join;
    // GRAPH <iri>: pruned-scan recursion
    val quads = triples.withColumn("graph",
      when(col("subj") === s"<${E}1>" || col("subj") === s"<${E}2>",
        "<http://g/graph/a>").otherwise("<http://g/graph/b>"))
      .select(col("graph"), col("subj"), col("pred"), col("obj"))
    def runQ(q: String): DataFrame =
      SparqlExec.query(spark, q, (_: String) => triples, counts,
        quadSource = Some(() => quads))
    val gv = runQ(prologue +
      """SELECT ?g (COUNT(*) AS ?n) WHERE {
        |  GRAPH ?g { ?d p:lang "en" . ?d p:nchars ?x }
        |} GROUP BY ?g ORDER BY ?g""".stripMargin)
    assert(gv.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("<http://g/graph/a>", 2L), ("<http://g/graph/b>", 1L)))
    val gi = runQ(prologue +
      "SELECT ?d WHERE { GRAPH <http://g/graph/a> { ?d p:lang \"en\" } }")
    assert(rows(gi) == Set(Seq(s"<${E}1>"), Seq(s"<${E}2>")))
  }

  // ------------------------------------------------- lowering equivalence

  test("BGP + FILTER numeric matches the typed twin") {
    val got = run(prologue +
      "SELECT ?d ?n WHERE { ?d p:lang \"en\" ; p:nchars ?n . FILTER (?n >= 150) }")
    val twin = GraphOps.bgpChain(triples, Seq(
      GraphOps.ChainPattern("d", s"${P}lang", oConst = Some("\"en\"")),
      GraphOps.ChainPattern("d", s"${P}nchars", oVar = Some("n"))), counts)
      .filter(regexp_extract(col("n"), "^\"(\\d+)\"", 1).cast("long") >= 150)
      .select(col("d"), col("n"))
    assert(rows(got) == rows(twin))
    assert(rows(got).size == 2) // docs 2 (200) and 6 (600)
  }

  test("UNION / OPTIONAL / MINUS / NOT EXISTS match the typed twins") {
    val u = run(prologue +
      """SELECT ?d ?l WHERE {
        |  { ?d p:lang "en" . ?d p:label ?l } UNION { ?d p:lang "fr" . ?d p:label ?l }
        |}""".stripMargin)
    val uTwin = GraphOps.bgpUnion(
      GraphOps.bgpChain(triples, Seq(
        GraphOps.ChainPattern("d", s"${P}lang", oConst = Some("\"en\"")),
        GraphOps.ChainPattern("d", s"${P}label", oVar = Some("l"))), counts),
      GraphOps.bgpChain(triples, Seq(
        GraphOps.ChainPattern("d", s"${P}lang", oConst = Some("\"fr\"")),
        GraphOps.ChainPattern("d", s"${P}label", oVar = Some("l"))), counts))
      .select(col("d"), col("l"))
    assert(rows(u) == rows(uTwin))

    val o = run(prologue +
      "SELECT ?d ?l WHERE { ?d p:nchars ?n . OPTIONAL { ?d p:label ?l } }")
    assert(o.count() == 6)
    assert(o.filter(col("l").isNull).count() == 1) // doc 6 has no label

    val m = run(prologue +
      "SELECT ?d WHERE { ?d p:lang \"en\" . MINUS { ?d p:cites ?x } }")
    assert(rows(m) == Set(Seq(s"<${E}2>"), Seq(s"<${E}6>"))) // doc 1 cites

    val ne = run(prologue +
      "SELECT ?d WHERE { ?d p:lang \"en\" . FILTER NOT EXISTS { ?d p:follows ?x } }")
    assert(rows(ne) == Set(Seq(s"<${E}6>"))) // 1 and 2 follow someone
  }

  test("property paths: +, *, sequence, alternative, inverse, negated set") {
    val plus = run(prologue + "SELECT ?b WHERE { ?a p:follows+ ?b . ?a p:lang \"en\" }")
    // from 1: 2,3,4; from 2: 3,4; from 6: none
    assert(rows(plus) == Set(2, 3, 4, 3, 4).map(i => Seq(s"<$E$i>")))

    val star = run(prologue +
      "SELECT ?a ?b WHERE { ?a p:follows* ?b . ?a p:lang \"zh\" }")
    // doc 5: reflexive (5,5) + closure (5,6)
    assert(rows(star) == Set(Seq(s"<${E}5>", s"<${E}5>"), Seq(s"<${E}5>", s"<${E}6>")))

    val seqAlt = run(prologue +
      "SELECT ?a ?b WHERE { ?a (p:cites|p:follows/p:follows) ?b . ?a p:lang \"en\" }")
    // 1: cites 4, follows/follows 3 ; 2: follows/follows 4
    assert(rows(seqAlt) == Set(
      Seq(s"<${E}1>", s"<${E}4>"), Seq(s"<${E}1>", s"<${E}3>"), Seq(s"<${E}2>", s"<${E}4>")))

    val inv = run(prologue + "SELECT ?b WHERE { ?a ^p:follows ?b . ?a p:lang \"fr\" }")
    // inverse follows arriving at fr docs 3,4: 3←2, 4←3
    assert(rows(inv) == Set(Seq(s"<${E}2>"), Seq(s"<${E}3>")))

    val neg = run(prologue +
      "SELECT ?a ?b WHERE { ?a !(p:lang|p:nchars|p:label) ?b . ?a p:lang \"zh\" }")
    assert(rows(neg) == Set(Seq(s"<${E}5>", s"<${E}6>"))) // only follows survives
  }

  test("VALUES and sub-SELECT lower to broadcast join / derived table") {
    val v = run(prologue +
      """SELECT ?d ?l ?tier WHERE {
        |  ?d p:lang ?l .
        |  VALUES (?l ?tier) { ("en" "west") ("zh" "east") }
        |}""".stripMargin)
    // VALUES cells are constants in the engine's TERM syntax — strings
    // render quoted, exactly like pattern constants
    assert(v.count() == 4 && rows(v).forall(r =>
      (r(1) == "\"en\"" && r(2) == "\"west\"") ||
        (r(1) == "\"zh\"" && r(2) == "\"east\"")))

    val sub = run(prologue +
      """SELECT ?d ?mx WHERE {
        |  ?d p:nchars ?mx .
        |  { SELECT (MAX(?n) AS ?mx) ?l WHERE { ?x p:nchars ?n ; p:lang ?l } GROUP BY ?l }
        |  ?d p:lang ?l .
        |}""".stripMargin)
    // per-lang max nchars: en→600 (doc 6), fr→400 (doc 4), zh→500 (doc 5)
    assert(rows(sub).map { case Seq(d, _) => d } ==
      Set(s"<${E}4>", s"<${E}5>", s"<${E}6>"))
  }

  test("aggregates + modifiers: GROUP BY / ORDER / LIMIT / OFFSET / DISTINCT") {
    val agg = run(prologue +
      """SELECT ?l (COUNT(*) AS ?n_docs) (SUM(?n) AS ?sum_nchars)
        |       (GROUP_CONCAT(DISTINCT ?d; SEPARATOR=",") AS ?ds)
        |WHERE { ?d p:lang ?l ; p:nchars ?n }
        |GROUP BY ?l ORDER BY ?l""".stripMargin)
    val got = agg.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("\"en\"", 3L, 900L), ("\"fr\"", 2L, 700L), ("\"zh\"", 1L, 500L)))
    assert(agg.columns.toSeq == Seq("l", "n_docs", "sum_nchars", "ds"))

    val page = run(prologue +
      "SELECT DISTINCT ?n WHERE { ?d p:nchars ?n } ORDER BY ?n LIMIT 2 OFFSET 1")
    assert(page.collect().map(_.getString(0)).toSeq ==
      Seq("\"200\"", "\"300\"").map(_ +
        "^^<http://www.w3.org/2001/XMLSchema#integer>"))
  }

  test("FILTER term calculus: STR/STRSTARTS/LANG/isIRI and boolean ops") {
    val f = run(prologue +
      """SELECT ?d WHERE {
        |  ?d p:label ?o ; p:nchars ?n .
        |  FILTER (STRSTARTS(STR(?o), "doc") && LANG(?o) = "en" && isIRI(?d)
        |          && (?n < 200 || ?n > 400))
        |}""".stripMargin)
    assert(rows(f) == Set(Seq(s"<${E}1>"), Seq(s"<${E}5>")))

    val eq = run(prologue +
      "SELECT ?d WHERE { ?d p:label ?o . FILTER (STR(?o) = \"doc 3\") }")
    assert(rows(eq) == Set(Seq(s"<${E}3>")))
  }

  test("BOUND / REGEX / IN in FILTER") {
    // BOUND over an OPTIONAL var — the left-anti idiom as a filter
    val unlabeled = run(prologue +
      "SELECT ?d WHERE { ?d p:nchars ?n . OPTIONAL { ?d p:label ?l } FILTER (!BOUND(?l)) }")
    assert(rows(unlabeled) == Set(Seq(s"<${E}6>")))
    val labeled = run(prologue +
      "SELECT ?d WHERE { ?d p:nchars ?n . OPTIONAL { ?d p:label ?l } FILTER BOUND(?l) }")
    assert(labeled.count() == 5)

    // REGEX on the lexical form, case-insensitive flag
    val re = run(prologue +
      "SELECT ?d WHERE { ?d p:label ?o . FILTER REGEX(STR(?o), \"^DOC [13]$\", \"i\") }")
    assert(rows(re) == Set(Seq(s"<${E}1>"), Seq(s"<${E}3>")))

    // IN / NOT IN over constant terms
    val in = run(prologue +
      "SELECT ?d WHERE { ?d p:lang ?l . FILTER (?l IN (\"fr\", \"zh\")) }")
    assert(in.count() == 3)
    val notin = run(prologue +
      "SELECT ?d WHERE { ?d p:lang ?l . FILTER (?l NOT IN (\"fr\", \"zh\")) }")
    assert(notin.count() == 3) // the en docs
  }

  test("ASK and CONSTRUCT forms") {
    assert(run(prologue + "ASK { ?d p:lang \"zh\" }")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(run(prologue + "ASK { ?d p:lang \"zz\" }")
      .collect().map(_.getLong(0)).toSeq == Seq(0L))

    val g = run(prologue +
      "CONSTRUCT { ?b p:followedBy ?a . ?a p:knows ?b } WHERE { ?a p:follows ?b }")
    assert(g.columns.toSeq == Seq("subj", "pred", "obj"))
    assert(g.count() == 8) // 4 edges × 2 templates, all distinct
    assert(g.filter(col("pred") === s"${P}followedBy").count() == 4)
  }

  test("maxHops bounds the closure (explicit depth contract)") {
    val hop1 = SparqlExec.query(spark,
      prologue + "SELECT ?b WHERE { ?a p:follows+ ?b . ?a p:lang \"en\" }",
      (_: String) => triples, counts, config = SparqlExec.Config(maxHops = 1))
    assert(rows(hop1) == Set(Seq(s"<${E}2>"), Seq(s"<${E}3>"))) // one hop only
  }

  test("CONSTRUCT WHERE shorthand: the pattern block doubles as templates") {
    val sugar = run(prologue + "CONSTRUCT WHERE { ?a p:follows ?b }")
    val full = run(prologue + "CONSTRUCT { ?a p:follows ?b } WHERE { ?a p:follows ?b }")
    assert(rows(sugar) == rows(full) && sugar.count() == 4)
    // constant-object patterns cannot double as templates — spanned reject
    assert(intercept[Diag](run(prologue + "CONSTRUCT WHERE { ?d p:lang \"en\" }"))
      .message.contains("objects must be variables"))
  }

  test("AVG: exact integer sum, one double division") {
    // nchars are i*100 — en docs are 1, 2, 6 → avg 300.0; fr 3,4 → 350.0;
    // zh 5 → 500.0
    val got = run(prologue +
      "SELECT ?l (AVG(?n) AS ?mean) WHERE { ?d p:lang ?l ; p:nchars ?n } GROUP BY ?l")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("\"en\"" -> 300.0, "\"fr\"" -> 350.0, "\"zh\"" -> 500.0))
  }

  test("FILTER EXISTS keeps exactly the solutions with a compatible row") {
    // docs that follow someone AND have an en label — semi-join, so the
    // two follows edges from doc 1 do not duplicate its lang row
    val got = run(prologue +
      "SELECT ?d ?l WHERE { ?d p:lang ?l . FILTER EXISTS { ?d p:follows ?x } }")
    val typed = triples.filter(col("pred") === s"${P}lang")
      .select(col("subj").as("d"), col("obj").as("l"))
      .join(triples.filter(col("pred") === s"${P}follows")
        .select(col("subj").as("d")), Seq("d"), "left_semi")
    assert(rows(got) == rows(typed))
    assert(got.count() == typed.count()) // multiplicity preserved
    // the dual pair partitions the base solutions
    val not = run(prologue +
      "SELECT ?d ?l WHERE { ?d p:lang ?l . FILTER NOT EXISTS { ?d p:follows ?x } }")
    assert(got.count() + not.count() == 6)
  }

  test("DESCRIBE: variables via WHERE, bare IRIs, and the mixed form") {
    // ?d bound to the two fr docs → all their outgoing arcs
    val byVar = run(prologue + "DESCRIBE ?d WHERE { ?d p:lang \"fr\" }")
    val typed = GraphOps.describe(triples,
      triples.filter(col("pred") === s"${P}lang" && col("obj") === "\"fr\"")
        .select(col("subj")))
    assert(rows(byVar) == rows(typed))

    // bare IRI, no WHERE
    assert(rows(run(s"DESCRIBE <${E}5>")) ==
      rows(triples.filter(col("subj") === s"<${E}5>")))

    // mixed: the IRI adds to the variable's matches, distinct
    val mixed = run(prologue + s"DESCRIBE ?d <${E}5> WHERE { ?d p:lang \"fr\" }")
    assert(rows(mixed) == rows(byVar) ++ rows(triples.filter(col("subj") === s"<${E}5>")))

    // vars without WHERE reject
    assert(SparqlExec.diagnose("DESCRIBE ?d")
      .exists(_._1.contains("needs a WHERE")))
  }

  // ------------------------------------------------------------- updates

  test("parse update: INSERT/DELETE DATA, Modify, DELETE WHERE, WITH") {
    val dd = SparqlParser.parseUpdate(prologue +
      """INSERT DATA { <http://g/e/9> p:lang "en" ; p:label "doc 9"@en .
        |  GRAPH <http://g/g/1> { <http://g/e/9> p:cites <http://g/e/1> } }"""
        .stripMargin).asInstanceOf[UpdateOp.Data]
    assert(dd.insert)
    assert(dd.triples == Seq(
      (None, s"<${E}9>", s"${P}lang", "\"en\""),
      (None, s"<${E}9>", s"${P}label", "\"doc 9\"@en"),
      (Some("http://g/g/1"), s"<${E}9>", s"${P}cites", s"<${E}1>")))
    assert(!SparqlParser.parseUpdate(prologue +
      "DELETE DATA { <http://g/e/9> p:lang \"en\" }")
      .asInstanceOf[UpdateOp.Data].insert)

    val m = SparqlParser.parseUpdate(prologue +
      "DELETE { ?d p:lang ?l } INSERT { ?d p:tongue ?l } WHERE { ?d p:lang ?l }")
      .asInstanceOf[UpdateOp.Modify]
    assert(m.withGraph.isEmpty && m.delete.size == 1 && m.insert.size == 1)

    val w = SparqlParser.parseUpdate(prologue +
      "WITH <http://g/g/1> INSERT { ?d p:seen ?l } WHERE { ?d p:lang ?l }")
      .asInstanceOf[UpdateOp.Modify]
    assert(w.withGraph.contains("http://g/g/1") && w.delete.isEmpty)

    val s = SparqlParser.parseUpdate(prologue + "DELETE WHERE { ?d p:cites ?o }")
      .asInstanceOf[UpdateOp.Modify]
    assert(s.delete.size == 1 && s.insert.isEmpty &&
      s.where.elems.size == 1) // the pattern block doubles as templates
  }

  test("update rejects: ground rule, graph management, layout and template shape") {
    def rej(u: String): String =
      SparqlExec.diagnoseUpdate(u).getOrElse(fail(s"expected a reject for: $u"))._1
    assert(rej(prologue + "INSERT DATA { ?d p:lang \"en\" }").contains("ground"))
    assert(rej(prologue + "INSERT DATA { <http://g/e/9> p:lang ?l }").contains("ground"))
    assert(rej("CLEAR GRAPH <http://g/g/1>").contains("graph-management"))
    assert(rej(prologue + "DELETE DATA { }").contains("at least one triple"))

    val ts0 = new java.sql.Timestamp(0L)
    def rejExec(u: String): String = // all reject BEFORE any table I/O
      intercept[Diag](SparqlExec.update(spark, u, "/nonexistent",
        Map.empty, "t", ts0)).message
    assert(rejExec(prologue + "DELETE WHERE { ?d p:lang \"en\" }")
      .contains("template objects must be variables"))
    assert(rejExec(prologue +
      "WITH <http://g/g/1> DELETE { ?d p:lang ?l } WHERE { ?d p:lang ?l }")
      .contains("needs a quad table"))
    assert(rejExec(prologue +
      "DELETE { ?d p:lang ?l } WHERE { ?d p:lang ?l . FILTER (?l = \"en\") }")
      .contains("plain triple patterns only"))
    assert(intercept[Diag](SparqlExec.update(spark,
      prologue + "INSERT DATA { GRAPH <http://g/g/1> { <http://g/e/9> p:lang \"en\" } }",
      "/nonexistent", Map.empty, "t", ts0)).message.contains("quad table"))
  }

  test("update end-to-end: text Modify == typed twin; DATA; WITH graph scoping") {
    val M = graft.pipeline.Materialize
    val s = spark
    val ts0 = new java.sql.Timestamp(0L)
    def r3(df: DataFrame): Set[Seq[Any]] =
      rows(df.select(col("subj"), col("pred"), col("obj")))
    val dir = java.nio.file.Files.createTempDirectory("graft_sparql_upd_").toString
    try {
      val rws = triples.select(col("subj"), col("pred"), col("obj"),
        lit("t:src").as("src_url"), lit(ts0).as("warc_ts"))
        .as(org.apache.spark.sql.Encoders.product[graft.pipeline.TripleRow])
      M.write(rws, s"$dir/a")
      M.write(rws, s"$dir/b")

      // text Modify == typed updateWhere, row for row
      SparqlExec.update(s, prologue +
        "DELETE { ?d p:lang ?l } INSERT { ?d p:tongue ?l } " +
        "WHERE { ?d p:lang ?l . ?d p:cites ?c }",
        s"$dir/a", counts, "u:1", ts0)
      GraphOps.updateWhere(s, s"$dir/b",
        delete = Seq(GraphOps.ConstructTemplate("d", s"${P}lang", "l")),
        insert = Seq(GraphOps.ConstructTemplate("d", s"${P}tongue", "l")),
        where = Seq(GraphOps.ChainPattern("d", s"${P}lang", oVar = Some("l")),
          GraphOps.ChainPattern("d", s"${P}cites", oVar = Some("c"))),
        predCounts = counts, srcUrl = "u:1", ts = ts0)
      val got = r3(M.readMerged(s, s"$dir/a"))
      assert(got == r3(M.readMerged(s, s"$dir/b")))

      // INSERT DATA then DELETE DATA: the later batch's tombstone wins
      SparqlExec.update(s, prologue +
        "INSERT DATA { <http://g/e/9> p:lang \"xx\" ; p:label \"nine\" }",
        s"$dir/a", counts, "u:2", ts0)
      SparqlExec.update(s, prologue +
        "DELETE DATA { <http://g/e/9> p:label \"nine\" }",
        s"$dir/a", counts, "u:3", ts0)
      assert(r3(M.readMerged(s, s"$dir/a")) ==
        got + Seq(s"<${E}9>", s"${P}lang", "\"xx\""))

      // quad store: WITH <g> confines the rewrite; the sibling graph and
      // a GRAPH-block INSERT DATA land in their own graphs only
      val quads = triples
        .withColumn("graph",
          concat(lit("<http://g/g/"),
            (xxhash64(col("subj")) % 2 + 2) % 2, lit(">")))
        .withColumn("src_url", lit("t:src")).withColumn("warc_ts", lit(ts0))
      M.writeQuads(quads, s"$dir/q")
      val before0 = rows(M.readMerged(s, s"$dir/q")
        .filter(col("graph") === "<http://g/g/0>")
        .select(col("subj"), col("pred"), col("obj")))
      SparqlExec.update(s, prologue +
        "WITH <http://g/g/1> DELETE { ?d p:lang ?l } INSERT { ?d p:tongue ?l } " +
        "WHERE { ?d p:lang ?l }",
        s"$dir/q", counts, "u:4", ts0, quadTable = true)
      SparqlExec.update(s, prologue +
        "INSERT DATA { GRAPH <http://g/g/0> { <http://g/e/9> p:lang \"xx\" } }",
        s"$dir/q", counts, "u:5", ts0, quadTable = true)
      val after = M.readMerged(s, s"$dir/q")
      // graph 1: no p:lang survives; its p:tongue rows replaced them
      assert(after.filter(col("graph") === "<http://g/g/1>" &&
        col("pred") === s"${P}lang").count() == 0)
      // graph 0: untouched by the WITH rewrite, plus exactly the DATA row
      assert(rows(after.filter(col("graph") === "<http://g/g/0>")
        .select(col("subj"), col("pred"), col("obj"))) ==
        before0 + Seq(s"<${E}9>", s"${P}lang", "\"xx\""))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
