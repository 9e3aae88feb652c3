package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import graft.pipeline.{Canonical, Extract, TableLog, TripleEmit}
import graft.turtle.NTriples

/** KG operators exposed over the shared test tables: Turtle parsing at
  * scale, boilerplate extraction, dictionary mentions, and distributed
  * connected components — each with a computable oracle.
  */
object GraphOps {

  val DocPrefix = "http://graft.example/doc/"
  val PropPrefix = "http://graft.example/prop/"

  /** Deterministic Turtle document for one `documents` row — exercises
    * directives, `;`-groups, plain/lang-tagged/typed literals.
    */
  def turtleForDoc(docId: Long, lang: String, source: String, nChars: Long): String =
    s"""@prefix d: <$DocPrefix> .
       |@prefix p: <$PropPrefix> .
       |d:$docId p:lang "$lang" ;
       |  p:label "doc $docId"@$lang ;
       |  p:source "$source" ;
       |  p:nchars $nChars .
       |""".stripMargin

  /** The skeleton every per-document Turtle op shares: one typed
    * `mapPartitions` in which `doc` builds each input row's `(doc_id,
    * text)` and `rows` turns that document into output rows, reading it
    * through the binding [[TripleEmit.turtleRows]].
    */
  private def perDoc[A, T: Encoder](in: Dataset[A])(doc: A => (Long, String))(
      rows: (Long, String) => Iterator[T]): Dataset[T] =
    in.mapPartitions(_.flatMap { a => val (id, ttl) = doc(a); rows(id, ttl) })

  /** The `documents` columns [[turtleForDoc]] reads; `forDoc` builds the document. */
  private def docColumns(documents: DataFrame): Dataset[(Long, String, String, Long)] = {
    import documents.sparkSession.implicits._
    documents.select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .as[(Long, String, String, Long)]
  }
  private val forDoc: ((Long, String, String, Long)) => (Long, String) = {
    case (id, lang, source, nChars) => (id, turtleForDoc(id, lang, source, nChars))
  }

  /** Strict (doc_id, subj, pred, obj) rows of one document. */
  private def triplesOf(id: Long, ttl: String): Iterator[(Long, String, String, String)] =
    TripleEmit.turtleRows(ttl, s"doc $id")((s, p, o, _, _) => (id, s, p, o))

  /** One document's triples as N-Triples text, re-parsed by the
    * independent N-Triples parser back into term space.
    */
  private def ntReparse(id: Long, ttl: String): Vector[graft.turtle.Triple] =
    NTriples.parse(TripleEmit.turtleRows(ttl, s"doc $id")((s, p, o, _, _) => s"$s <$p> $o .\n").mkString)
      .fold(e => throw new IllegalStateException(s"doc $id reparse: $e"), identity)

  /** Parse per-row Turtle into (doc_id, subj, pred, obj) triples with the
    * embedded conformance-tested parser — the scaled-up version of the
    * reference's `Document::parse_str` + `build_triples` lifecycle.
    */
  def parseTurtle(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    perDoc(docColumns(documents))(forDoc)(triplesOf).toDF("doc_id", "subj", "pred", "obj")
  }

  /** The documents' triples as graph-table rows: [[parseTurtle]] with
    * provenance `src_url = "doc:<doc_id>"` and `warc_ts` = epoch 0 — the
    * one binding of documents to [[graft.pipeline.TripleRow]] that the
    * graph-maintenance and streaming queries write, merge and diff.
    */
  def docTriples(documents: DataFrame): Dataset[graft.pipeline.TripleRow] =
    parseTurtle(documents).select(
      col("subj"), col("pred"), col("obj"),
      concat(lit("doc:"), col("doc_id").cast("string")).as("src_url"),
      lit(new java.sql.Timestamp(0L)).as("warc_ts"))
      .as(org.apache.spark.sql.Encoders.product[graft.pipeline.TripleRow])

  /** Graph → TURTLE → graph round trip at corpus scale (kg34): each doc's
    * parsed triples serialize through [[graft.turtle.TurtleWriter]]
    * (prefix compaction and `;`-grouping exercised on real namespaces)
    * and re-parse through the conformance parser inside the same task —
    * the EXPORT side of the engine, value-checked because the re-parsed
    * triples must equal the direct parse (kg01's oracle). The writer reads
    * the rendered rows back through the N-Triples parser, as
    * [[exportTurtleDir]] does.
    */
  def turtleRoundTrip(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    perDoc(docColumns(documents))(forDoc) { (id, ttl) =>
      triplesOf(id, graft.turtle.TurtleWriter.write(ntReparse(id, ttl),
        Map("p" -> PropPrefix, "d" -> DocPrefix)))
    }.toDF("doc_id", "subj", "pred", "obj")
  }

  /** [[parseTurtle]] carrying each triple's source BYTE span — the
    * reference's `Meta` lineage on every emitted triple
    * (`src/build.rs:279-287`: a triple gets the span of the statement that
    * emitted it; collection/anon-bnode triples the emitting object's span,
    * replicated by `graft.turtle.Builder`). All four triples per doc come
    * from one statement, so they share its span — start after the two
    * prefix directives, end after the terminating `.` (the reference
    * appends `last_span` at `src/parsing.rs:415` AFTER the period was
    * already consumed by the po-list's lookahead, so the period is inside
    * the span — pinned byte-exactly on p01/p12/p18 in ConformanceSpec).
    */
  def parseTurtleWithSpans(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    perDoc(docColumns(documents))(forDoc) { (id, ttl) =>
      TripleEmit.turtleRows(ttl, s"doc $id")((s, p, o, start, end) =>
        (id, s, p, o, start.toLong, end.toLong))
    }.toDF("doc_id", "subj", "pred", "obj", "span_start", "span_end")
  }

  /** Distributed Turtle FILE source — the reference's file-source entry
    * point (`examples/simple.rs:15-37`) at cluster scale: every `*.ttl`
    * under `dir` is one document (wholetext read, filename = provenance
    * url); parse failures route to the rejects table instead of failing
    * the job; blank-node labels are doc-scoped so documents merge into one
    * global graph without label collisions.
    */
  def readTurtleDir(spark: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.Dataset[graft.pipeline.TripleRow],
         org.apache.spark.sql.Dataset[graft.pipeline.Reject]) = {
    import spark.implicits._
    val docs = spark.read.option("wholetext", "true").text(s"$dir/*.ttl")
      .select(input_file_name().as("url"), col("value"))
      .as[(String, String)]
      .map { case (url, text) => (url, new java.sql.Timestamp(0L), text) }
    graft.pipeline.TripleEmit.ingestTurtle(docs)
  }

  /** Distributed Turtle FILE EXPORT — the inverse of [[readTurtleDir]]:
    * each partition of the (rendered) triple table becomes one `.ttl`
    * file of CHUNKED documents (prefix header + subject-grouped blocks via
    * [[graft.turtle.TurtleWriter]], one document per ≤ `rowsPerChunk`
    * rows — Turtle re-declares prefixes mid-file legally, so the
    * concatenation re-parses as one document), written through the text
    * sink and committed with a `.ttl` rename so the directory round-trips
    * through [[readTurtleDir]]. Rendered terms re-enter term space through
    * the N-Triples parser (the engine's own canonical term syntax), so the
    * export accepts any (subj, pred, obj) projection of a graph table.
    *
    * Memory: peak task allocation is bounded by `rowsPerChunk` (the chunk
    * rows + its NT text + the rendered document — a few × chunk bytes),
    * NEVER by partition size: a 1 GiB partition streams through as ~16
    * chunks. Subject grouping is per chunk; rows arriving pre-clustered by
    * subject (the materialized layout) keep their blocks intact.
    *
    * Blank nodes: the writer relabels per chunk with a chunk
    * discriminator, so labels never collide inside a file; PRECONDITION —
    * blank labels in the INPUT must be distinct per distinct node (true
    * for everything this engine materializes: [[readTurtleDir]]/
    * `TripleEmit.ingestTurtle` doc-scope labels on ingest). Two rows
    * spelling different nodes with the SAME label would conflate when they
    * land in one chunk — salt upstream, not here. The DUAL hazard: one
    * blank node whose rows STRADDLE a chunk (or partition) boundary
    * re-parses as two distinct nodes, because the relabeling namespaces
    * are disjoint per chunk — blank-node graphs must arrive CLUSTERED so
    * a node's rows share a chunk (repartition + sortWithinPartitions on
    * the blank subject before exporting; the materialized subj-clustered
    * layout already satisfies this for rowsPerChunk ≥ the node's row
    * count). IRI-subject graphs — everything the pipeline materializes —
    * are unaffected: an IRI row set splitting across chunks re-parses to
    * the same IRIs. The rename pass is
    * driver-side but bounded by the PARTITION COUNT, never by data; text
    * compression is pinned OFF (a `.txt.gz` part would survive the rename
    * as unreadable-as-Turtle bytes).
    */
  def exportTurtleDir(
      triples: DataFrame, out: String,
      prefixes: Map[String, String] = Map.empty,
      rowsPerChunk: Int = 65536): Unit = {
    require(rowsPerChunk >= 1, s"rowsPerChunk=$rowsPerChunk")
    val spark = triples.sparkSession
    import spark.implicits._
    triples.select(col("subj"), col("pred"), col("obj")).as[(String, String, String)]
      .mapPartitions { it =>
        it.grouped(rowsPerChunk).zipWithIndex.map { case (chunk, ci) =>
          val lines = chunk.iterator
            .map { case (s, p, o) => s"$s <$p> $o ." }.mkString("\n")
          val ts = graft.turtle.NTriples.parse(lines)
            .fold(e => throw new IllegalStateException(s"unrenderable triple: $e"), identity)
          graft.turtle.TurtleWriter.write(ts, prefixes, blankPrefix = s"c${ci}x")
        }
      }
      .write.mode("overwrite").option("compression", "none").text(out)
    val dir = new org.apache.hadoop.fs.Path(out)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(dir).filter(_.getPath.getName.startsWith("part-")).foreach { st =>
      val name = st.getPath.getName
      fs.rename(st.getPath, new org.apache.hadoop.fs.Path(dir,
        name.replaceAll("\\.txt(\\..*)?$", "") + ".ttl"))
    }
  }

  /** Rich-grammar Turtle document: `@base`-relative subject IRI, a
    * `\\u`-escaped literal, an RDF collection (numeric integer + decimal
    * lexical forms preserved verbatim), and an anonymous blank-node
    * property list — the reference's hard conformance paths
    * (`tests/positive/p18,p23,p25`) exercised per-row at scale. Blank-node
    * numbering is observable: collections allocate in REVERSE (last
    * element gets `_:0`), the anon bnode after the list gets `_:3`.
    */
  val BaseIri = "http://graft.example/base/"

  def richTurtleForDoc(docId: Long): String =
    s"""@base <$BaseIri> .
       |@prefix p: <$PropPrefix> .
       |<doc/$docId> p:title "t\\u00E9st $docId" ;
       |  p:tags ( "a" $docId 2.5 ) ;
       |  p:author [ p:name "a$docId" ; p:age ${docId % 90} ] .
       |""".stripMargin

  /** (doc_id, subj, pred, obj) from [[richTurtleForDoc]] per row. */
  def parseTurtleRich(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    perDoc(documents.select(col("doc_id")).as[Long])(id => (id, richTurtleForDoc(id)))(triplesOf)
      .toDF("doc_id", "subj", "pred", "obj")
  }

  /** Serializer round-trip at scale (kg11): parse each doc's Turtle, render
    * with the N-Triples serializer, re-parse the rendered document with the
    * independent NT parser — output the REPARSED triples. Identity with
    * kg01's oracle proves serialize ∘ parse ∘ serialize is lossless on
    * every row of the corpus, not just the 29 fixtures.
    */
  def parseTurtleNtRoundTrip(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    perDoc(docColumns(documents))(forDoc) { (id, ttl) =>
      ntReparse(id, ttl).iterator.map(t => (id, t.subj.render, t.pred, t.obj.render))
    }.toDF("doc_id", "subj", "pred", "obj")
  }

  /** Wrap each document in the synthetic page HTML and re-extract —
    * verifiable because extraction must be the identity on the original
    * text (md5(extracted) == md5(text)).
    */
  def extractFromHtml(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val enc = text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
          val html =
            s"""<html><head><title>doc $id</title><script>var x=1;</script></head><body>""" +
              s"""<nav><a href="/">home</a></nav><article><p>$enc</p></article>""" +
              s"""<footer>footer</footer></body></html>"""
          (id, Extract.extractText(html))
        }
      }.toDF("doc_id", "extracted")
      .select(col("doc_id"), md5(col("extracted")).as("extracted_md5"))
  }

  /** Fixed mention dictionary over the shared corpus vocabulary. */
  val MentionDict: Seq[String] =
    Seq("join", "hash", "window", "filter", "scan", "sort", "merge", "stream")

  /** Word-bounded dictionary mention counts per (doc, term) via the
    * broadcast Aho-Corasick automaton (n > 0 rows only).
    */
  def mentionCounts(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val acBc = spark.sparkContext.broadcast(
      graft.pipeline.AhoCorasick.build(MentionDict.sorted))
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val ac = acBc.value
        it.flatMap { case (id, text) =>
          val counts = new scala.collection.mutable.HashMap[String, Long]()
          ac.findWordBounded(text).foreach { case (p, _, _) =>
            val t = ac.patterns(p)
            counts.update(t, counts.getOrElse(t, 0L) + 1L)
          }
          counts.iterator.map { case (t, n) => (id, t, n) }
        }
      }.toDF("doc_id", "term", "n")
  }

  /** The PIPELINE's triple-emission path on the shared corpus: mention
    * detection (broadcast Aho-Corasick) → per-doc entity set → the real
    * emitter ([[graft.pipeline.TripleEmit.turtleForPage]]) writes each
    * page's Turtle document → the embedded conformance parser re-parses it.
    * Output (doc_id, n_triples) has a closed form the DuckDB oracle checks:
    * 3 metadata triples + 2 per mentioned entity (kg:mentions + kg:label).
    */
  def emitFromDocs(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    val mentionsPerDoc = mentionCounts(documents)
      .groupBy(col("doc_id")).agg(collect_set(col("term")).as("terms"))
    val pages = documents.select(col("doc_id"), col("lang"))
      .join(mentionsPerDoc, Seq("doc_id"), "left")
      .as[(Long, String, Option[Seq[String]])]
    perDoc(pages) { case (id, lang, terms) =>
      val ents = terms.getOrElse(Seq.empty).sorted
        .map(t => (s"http://graft.example/entity/$t", t))
      (id, TripleEmit.turtleForPage(s"$DocPrefix$id", 0L, lang, ents))
    }((id, ttl) => Iterator.single((id, triplesOf(id, ttl).size.toLong)))
      .toDF("doc_id", "n_triples")
  }

  /** SPARQL-style basic graph pattern as DataFrame joins — QUERYING the
    * graph this engine constructs: { ?s p:lang "en" . ?s p:nchars ?n .
    * FILTER(?n >= minChars) }. Each triple pattern is a pushed-down
    * filter over the triple table; the shared subject variable is an
    * equi-join. On a pred_hash-partitioned materialized graph
    * ([[graft.pipeline.Materialize]]) each pattern reads ONLY its
    * predicate's partitions — the property that makes BGPs cheap at
    * 100 TB.
    */
  def bgpStar(documents: DataFrame, minChars: Long = 300L): DataFrame = {
    val t = parseTurtle(documents)
    val langPat = t.filter(col("pred") === s"${PropPrefix}lang" && col("obj") === "\"en\"")
      .select(col("subj"))
    val ncharsPat = t.filter(col("pred") === s"${PropPrefix}nchars")
      .select(col("subj"),
        regexp_extract(col("obj"), "^\"(\\d+)\"", 1).cast("long").as("n_chars"))
    langPat.join(ncharsPat, Seq("subj"))
      .filter(col("n_chars") >= minChars)
      .select(col("subj"), col("n_chars"))
  }

  /** Vocabulary INTERNING (the reference's `build_triples_with(vocabulary)`
    * surface, `src/build.rs:75-91`, distributed): dictionary-encode every
    * term of a (doc_id, subj, pred, obj) triple table to a 60-bit md5 id,
    * returning (interned(doc_id, sid, pid, oid), dict(tid, term)). Every
    * downstream join/shuffle/aggregation then carries 8-byte keys instead
    * of full IRI/literal strings — the shuffle-width win that matters for
    * graph analytics at 100 TB (kg12–kg15 join on whole IRIs otherwise).
    * The md5-prefix id is cross-engine (the DuckDB oracle re-derives it),
    * deterministic, and auditable: a collision is visible as two dict rows
    * sharing a tid (≈0 expected at 2^60 over a web vocabulary). The caller
    * owns materialization of `triples` (persist/snapshot) — both outputs
    * plan over it, and the dict derivation is the one unavoidable distinct
    * over the term vocabulary.
    */
  def internTriples(triples: DataFrame): (DataFrame, DataFrame) = {
    import graft.ops.TextOps.md5Hash60Col
    val interned = triples.select(
      col("doc_id"),
      md5Hash60Col(col("subj")).as("sid"),
      md5Hash60Col(col("pred")).as("pid"),
      md5Hash60Col(col("obj")).as("oid"))
    val dict = triples
      .select(explode(array(col("subj"), col("pred"), col("obj"))).as("term"))
      .distinct()
      .select(md5Hash60Col(col("term")).as("tid"), col("term"))
    (interned, dict)
  }

  /** One triple pattern of a star BGP (all patterns share the subject
    * variable ?s): `pred` is always bound; `obj` is either a constant
    * (selective — N-Triples term syntax) or a variable projected under
    * `bind`.
    */
  final case class TriplePattern(
      pred: String, obj: Option[String] = None, bind: Option[String] = None)

  /** Sketch-driven join order for [[bgp]]: ascending estimated pattern
    * cardinality, so the left-deep join starts from the most selective
    * pattern and intermediate results stay minimal. The estimate is the
    * predicate count from [[graft.pipeline.Materialize.sketchPredCounts]]
    * (unknown predicates rank last), decimated ×10 for object-bound
    * patterns (an equality on obj selects a fraction of the predicate's
    * rows); ties break on pred for determinism.
    */
  def patternOrder(
      patterns: Seq[TriplePattern], predCounts: Map[String, Long]): Seq[TriplePattern] =
    patterns.sortBy { p =>
      val n = predCounts.getOrElse(p.pred, Long.MaxValue / 16)
      (if (p.obj.isDefined) n / 10 else n, p.pred)
    }

  /** Generalized n-pattern star BGP — [[bgpStar]] beyond two patterns,
    * with the join order picked from the predicate-count sketch
    * ([[patternOrder]]). `patternSource(pred)` supplies each pattern's
    * triple rows: on a raw triple DataFrame that is a pushed-down pred
    * filter; on a [[graft.pipeline.Materialize]] graph table pass
    * `Materialize.readPred(...)` so each pattern reads ONLY its
    * predicate's pred_hash partitions (PartitionFilters — the property
    * that makes n-pattern BGPs cheap at 100 TB).
    */
  def bgp(
      patternSource: String => DataFrame,
      patterns: Seq[TriplePattern],
      predCounts: Map[String, Long]): DataFrame = {
    require(patterns.nonEmpty, "bgp needs at least one pattern")
    val binds = patterns.flatMap(_.bind)
    require(binds.distinct.size == binds.size, s"duplicate binds: $binds")
    require(!binds.exists(Set("subj", "pred", "obj")),
      s"bind names collide with triple columns: $binds")
    val parts = patternOrder(patterns, predCounts).map { p =>
      val base = patternSource(p.pred).filter(col("pred") === p.pred)
      val filtered = p.obj.map(o => base.filter(col("obj") === o)).getOrElse(base)
      p.bind match {
        case Some(v) => filtered.select(col("subj"), col("obj").as(v))
        case None    => filtered.select(col("subj"))
      }
    }
    parts.reduce((acc, next) => acc.join(next, Seq("subj")))
  }

  /** [[bgp]] over an in-plan triple DataFrame. */
  def bgp(
      triples: DataFrame,
      patterns: Seq[TriplePattern],
      predCounts: Map[String, Long]): DataFrame =
    bgp((_: String) => triples, patterns, predCounts)

  /** One pattern of a GENERAL basic graph pattern: the subject is a named
    * variable, the predicate is bound, the object is a constant term, a
    * named variable, or unconstrained-and-unprojected. Unlike
    * [[TriplePattern]] the subject variable is explicit, so patterns can
    * CHAIN (`?s p ?o . ?o q ?x` — `o` is pattern 1's object and pattern
    * 2's subject), the second-most-common SPARQL shape a star-only BGP
    * cannot express.
    */
  final case class ChainPattern(
      sVar: String, pred: String,
      oConst: Option[String] = None, oVar: Option[String] = None) {
    require(oConst.isEmpty || oVar.isEmpty,
      s"pattern on $pred binds the object both ways")
    require(!oVar.contains(sVar), s"?$sVar p ?$sVar self-loops are not supported")
    def vars: Set[String] = Set(sVar) ++ oVar
    /** Same selectivity estimate as [[patternOrder]]. */
    def estimate(predCounts: Map[String, Long]): (Long, String, String) = {
      val n = predCounts.getOrElse(pred, Long.MaxValue / 16)
      (if (oConst.isDefined) n / 10 else n, pred, sVar)
    }
  }

  /** One [[ChainPattern]] as a DataFrame of its variable columns. */
  private def patternFrame(
      patternSource: String => DataFrame, p: ChainPattern): DataFrame = {
    val base = patternSource(p.pred).filter(col("pred") === p.pred)
    val filtered = p.oConst.map(o => base.filter(col("obj") === o)).getOrElse(base)
    val cols = col("subj").as(p.sVar) +: p.oVar.map(v => col("obj").as(v)).toSeq
    filtered.select(cols: _*)
  }

  /** GENERAL n-pattern BGP with join variables INFERRED — chains, stars,
    * and any connected mix. Join order is greedy sketch-driven: seed with
    * the globally most selective pattern, then repeatedly join the most
    * selective remaining pattern that SHARES a variable with the bound set
    * (so the plan is always equi-joins on inferred variables — a
    * disconnected pattern set is rejected rather than planned as a
    * cartesian product). Each pattern's rows come from
    * `patternSource(pred)` exactly as in [[bgp]]: on a
    * [[graft.pipeline.Materialize]] graph table pass `readPred` so every
    * pattern scans only its predicate's pred_hash partitions.
    */
  def bgpChain(
      patternSource: String => DataFrame,
      patterns: Seq[ChainPattern],
      predCounts: Map[String, Long]): DataFrame = {
    require(patterns.nonEmpty, "bgpChain needs at least one pattern")
    val oVars = patterns.flatMap(_.oVar)
    require(oVars.distinct.size == oVars.size,
      s"duplicate object-variable binds: $oVars (join through the subject side)")
    require(!patterns.flatMap(_.vars).exists(Set("subj", "pred", "obj")),
      "variable names collide with triple columns")

    def frame(p: ChainPattern): DataFrame = patternFrame(patternSource, p)

    val remaining = scala.collection.mutable.ArrayBuffer(patterns: _*)
    val seed = remaining.minBy(_.estimate(predCounts))
    remaining -= seed
    var acc = frame(seed)
    var bound = seed.vars
    while (remaining.nonEmpty) {
      val connected = remaining.filter(p => (p.vars & bound).nonEmpty)
      require(connected.nonEmpty,
        s"disconnected BGP: ${remaining.map(_.pred)} share no variable with $bound")
      val next = connected.minBy(_.estimate(predCounts))
      remaining -= next
      val shared = (next.vars & bound).toSeq.sorted // deterministic join keys
      acc = acc.join(frame(next), shared)
      bound ++= next.vars
    }
    acc
  }

  /** [[bgpChain]] over an in-plan triple DataFrame. */
  def bgpChain(
      triples: DataFrame,
      patterns: Seq[ChainPattern],
      predCounts: Map[String, Long]): DataFrame =
    bgpChain((_: String) => triples, patterns, predCounts)

  /** SPARQL OPTIONAL: the required BGP solved by [[bgpChain]], then each
    * optional pattern LEFT-joined on its shared variables — solutions
    * keep their row with nulls where the optional pattern has no match
    * (exactly `LeftOuterJoin` semantics, which is what SPARQL's OPTIONAL
    * algebra lowers to for well-designed patterns). Each optional pattern
    * must share a variable with the required part (same no-cartesian rule
    * as the required side); optional patterns are joined in the given
    * order, each seeing the variables bound so far.
    */
  def bgpChainOptional(
      patternSource: String => DataFrame,
      required: Seq[ChainPattern],
      optional: Seq[ChainPattern],
      predCounts: Map[String, Long]): DataFrame = {
    val base = bgpChain(patternSource, required, predCounts)
    val baseVars = required.flatMap(_.vars).toSet
    val optVars = optional.flatMap(_.oVar)
    require((optVars.toSet & baseVars).isEmpty && optVars.distinct.size == optVars.size,
      s"optional object variables must be fresh: $optVars")
    optional.foldLeft((base, baseVars)) { case ((acc, bound), p) =>
      val shared = (p.vars & bound).toSeq.sorted
      require(shared.nonEmpty,
        s"optional pattern on ${p.pred} shares no variable with $bound")
      (acc.join(patternFrame(patternSource, p), shared, "left"), bound ++ p.vars)
    }._1
  }

  /** SPARQL FILTER NOT EXISTS: solutions of the required BGP with NO match
    * for `anti` — a LEFT ANTI join on the shared variables (the classic
    * lowering; the anti side is only probed, never projected).
    */
  def bgpChainNotExists(
      patternSource: String => DataFrame,
      required: Seq[ChainPattern],
      anti: ChainPattern,
      predCounts: Map[String, Long]): DataFrame = {
    val base = bgpChain(patternSource, required, predCounts)
    val shared = (anti.vars & required.flatMap(_.vars).toSet).toSeq.sorted
    require(shared.nonEmpty,
      s"NOT EXISTS pattern on ${anti.pred} shares no variable with the required BGP")
    base.join(patternFrame(patternSource, anti).select(shared.map(col): _*),
      shared, "left_anti")
  }

  /** SPARQL property path `pred+` (bounded depth) as a BGP pattern: the
    * solution frame (sVar, oVar, hops) is the transitive closure of the
    * predicate's edge set up to `maxHops`, with min-hops semantics
    * (shorter paths win) — joinable with [[bgpChain]] solutions on shared
    * variables like any other pattern frame. Lowered through the
    * checkpointed frontier closure ([[GraphAnalytics.pathClosure]]): each
    * round expands only last round's NEW pairs, anti-joins the reached
    * set, and truncates lineage via the CheckpointPolicy — an unbounded
    * `p+` over a web KG is a full closure, so callers opt into depth
    * explicitly. On a materialized graph pass `Materialize.readPred` as
    * `patternSource` and the edge scan prunes to one pred_hash partition.
    */
  def bgpPath(
      patternSource: String => DataFrame,
      pred: String, sVar: String, oVar: String, maxHops: Int,
      checkpoint: graft.pipeline.CheckpointPolicy =
        graft.pipeline.CheckpointPolicy.Local): DataFrame = {
    require(sVar != oVar, s"?$sVar $pred+ ?$sVar self-paths are not supported")
    require(!Set("subj", "pred", "obj")(sVar) && !Set("subj", "pred", "obj")(oVar),
      "path variable names collide with triple columns")
    val edges = patternSource(pred).filter(col("pred") === pred)
      .select(col("subj").as("src"), col("obj").as("dst"))
    GraphAnalytics.pathClosure(edges, maxHops, checkpoint)
      .select(col("src").as(sVar), col("dst").as(oVar), col("hops"))
  }

  /** One SPARQL ORDER BY key over a solution variable. */
  final case class OrderKey(variable: String, ascending: Boolean = true)

  /** SPARQL SELECT solution modifiers — the algebra's Project / Distinct /
    * OrderBy / Slice pipeline over a solution set, applied in the spec's
    * order. `rankVar` (optional) appends the 1-based position under the
    * given total order — it requires BOTH an order and a limit, because
    * the rank window runs AFTER the slice on a parameter-bounded row set
    * (a global rank over unbounded solutions would serialize the corpus
    * through one task; the top-k path lowers to TakeOrderedAndProject, so
    * no full sort or single-partition exchange ever sees the full data —
    * plan-guarded in OpsSpec).
    */
  def bgpSelect(
      sol: DataFrame, project: Seq[String], distinct: Boolean = false,
      orderBy: Seq[OrderKey] = Nil, limit: Option[Int] = None,
      rankVar: Option[String] = None, offset: Option[Int] = None): DataFrame = {
    require(project.nonEmpty, "SELECT needs at least one variable")
    val missing = project.filterNot(sol.columns.contains)
    require(missing.isEmpty, s"projected variables not bound: $missing")
    val badKeys = orderBy.map(_.variable).filterNot(project.contains)
    require(badKeys.isEmpty, s"order keys must be projected: $badKeys")
    var out = sol.select(project.map(col): _*)
    if (distinct) out = out.distinct()
    val sortCols = orderBy.map(o =>
      if (o.ascending) col(o.variable).asc else col(o.variable).desc)
    if (sortCols.nonEmpty) out = out.orderBy(sortCols: _*)
    // SPARQL slice order: OFFSET skips, then LIMIT caps what remains
    offset.foreach { n =>
      require(orderBy.nonEmpty, "OFFSET needs a total order to be deterministic")
      out = out.offset(n)
    }
    limit.foreach(n => out = out.limit(n))
    rankVar.foreach { rv =>
      require(orderBy.nonEmpty && limit.isDefined,
        s"rank variable $rv needs a total order and a bounded slice")
      require(!project.contains(rv), s"rank variable $rv collides with a projection")
      out = out.withColumn(rv, row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(sortCols: _*)).cast("long"))
    }
    out
  }

  /** SPARQL MINUS: remove required-BGP solutions COMPATIBLE with some
    * solution of the minus-side BGP. Differs from FILTER NOT EXISTS
    * ([[bgpChainNotExists]]) exactly where the SPARQL algebra does: the
    * minus side is a full multi-pattern BGP solved independently, and if
    * its variable domain is DISJOINT from the required side's, MINUS
    * removes NOTHING (the spec's incompatibility rule) — where NOT EXISTS
    * would empty the result whenever the anti pattern has any match.
    * Lowered to a LEFT ANTI join on the shared variables; the minus-side
    * plan keeps its own pred-pruned scans and sketch-driven join order.
    */
  def bgpChainMinus(
      patternSource: String => DataFrame,
      required: Seq[ChainPattern],
      minus: Seq[ChainPattern],
      predCounts: Map[String, Long]): DataFrame = {
    val base = bgpChain(patternSource, required, predCounts)
    val shared = (required.flatMap(_.vars).toSet & minus.flatMap(_.vars).toSet)
      .toSeq.sorted
    if (shared.isEmpty) base // disjoint domains: every solution survives
    else {
      val minusSol = bgpChain(patternSource, minus, predCounts)
      base.join(minusSol.select(shared.map(col): _*), shared, "left_anti")
    }
  }

  /** SPARQL property-path ALGEBRA — the composable path expressions beyond
    * the bare `pred+` of [[bgpPath]]: `^p` (inverse), `p1/p2` (sequence),
    * `p1|p2` (alternative), `p+` bounded (via the checkpointed frontier
    * closure). Every expression evaluates to a distinct (src, dst) frame —
    * SET semantics throughout (SPARQL's bag duplicates for closure-free
    * paths are deliberately collapsed so any subexpression can feed a `+`
    * closure, whose semantics the spec itself defines as distinct).
    *
    * Scale shapes: `Pred` is a pred-pruned scan (on a Materialize table
    * pass `readPred` and it reads one pred_hash partition); `Inv` is a
    * free projection; `Sequence` is one equi-join on the midpoint;
    * `Alt` a union + distinct; `Plus` the per-round-bounded closure of
    * [[GraphAnalytics.pathClosure]] with its explicit depth opt-in.
    */
  sealed trait PathExpr
  object PathExpr {
    final case class Pred(pred: String) extends PathExpr
    final case class Inv(p: PathExpr) extends PathExpr
    final case class Sequence(a: PathExpr, b: PathExpr) extends PathExpr
    final case class Alt(a: PathExpr, b: PathExpr) extends PathExpr
    final case class Plus(p: PathExpr, maxHops: Int) extends PathExpr
    /** `p*` (zero-or-more, bounded like [[Plus]]): the closure PLUS one
      * reflexive (n, n) row per node of the subexpression's edge set
      * (src ∪ dst — the common store evaluation of SPARQL's
      * ZeroOrMorePath node universe, restricted to the path's own graph
      * so the frame stays joinable and finite).
      */
    final case class Star(p: PathExpr, maxHops: Int) extends PathExpr
    /** `!(p1|…|pk)` — negated property set: every triple whose predicate
      * is NOT enumerated. By nature this cannot predicate-prune (it is
      * the complement) — it scans the full triple table with a row-level
      * NOT IN filter, which is why [[evalPath]] requires the explicit
      * `fullSource` opt-in for it.
      */
    final case class Neg(preds: Seq[String]) extends PathExpr
  }

  /** Evaluate a [[PathExpr]] to its distinct (src, dst) endpoint frame.
    * `fullSource` supplies the WHOLE triple table (all predicates) and is
    * required only by [[PathExpr.Neg]] — every enumerated-predicate
    * expression keeps its pred-pruned scans.
    */
  def evalPath(
      patternSource: String => DataFrame, path: PathExpr,
      checkpoint: graft.pipeline.CheckpointPolicy =
        graft.pipeline.CheckpointPolicy.Local,
      fullSource: Option[() => DataFrame] = None): DataFrame = path match {
    case PathExpr.Pred(p) =>
      patternSource(p).filter(col("pred") === p)
        .select(col("subj").as("src"), col("obj").as("dst")).distinct()
    case PathExpr.Inv(p) =>
      evalPath(patternSource, p, checkpoint, fullSource)
        .select(col("dst").as("src"), col("src").as("dst"))
    case PathExpr.Sequence(a, b) =>
      evalPath(patternSource, a, checkpoint, fullSource)
        .select(col("src"), col("dst").as("_mid"))
        .join(evalPath(patternSource, b, checkpoint, fullSource)
          .select(col("src").as("_mid"), col("dst")), Seq("_mid"))
        .select(col("src"), col("dst")).distinct()
    case PathExpr.Alt(a, b) =>
      evalPath(patternSource, a, checkpoint, fullSource)
        .unionByName(evalPath(patternSource, b, checkpoint, fullSource)).distinct()
    case PathExpr.Plus(p, maxHops) =>
      GraphAnalytics.pathClosure(
        evalPath(patternSource, p, checkpoint, fullSource), maxHops, checkpoint)
        .select(col("src"), col("dst"))
    case PathExpr.Star(p, maxHops) =>
      // closure rows never carry src == dst (pathClosure filters loops) and
      // reflexive rows always do — the union is disjoint, no extra distinct
      val base = evalPath(patternSource, p, checkpoint, fullSource)
      val nodes = base.select(col("src"))
        .unionByName(base.select(col("dst").as("src"))).distinct()
      GraphAnalytics.pathClosure(base, maxHops, checkpoint)
        .select(col("src"), col("dst"))
        .unionByName(nodes.select(col("src"), col("src").as("dst")))
    case PathExpr.Neg(preds) =>
      require(preds.nonEmpty, "negated property set needs at least one predicate")
      val full = fullSource.getOrElse(throw new IllegalArgumentException(
        "PathExpr.Neg needs evalPath's fullSource (the complement cannot " +
          "predicate-prune; pass the whole triple table explicitly)"))
      full().filter(!col("pred").isin(preds: _*))
        .select(col("subj").as("src"), col("obj").as("dst")).distinct()
  }

  /** SPARQL UNION over two solution sets: BAG union (no dedup — SPARQL's
    * UNION is multiset) with the variable universe = the union of both
    * sides' variables; a variable unbound on one side is null there
    * (SPARQL's unbound). Lowered to `unionByName(allowMissingColumns)` —
    * a zero-shuffle concatenation of the two solution plans, each of which
    * keeps its own pred-pruned scans and join order.
    */
  def bgpUnion(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b, allowMissingColumns = true)

  /** SPARQL VALUES: an inline binding table joined into the solution set —
    * shared variables must match (equi-join), fresh variables extend each
    * surviving solution. The inline table is literal-sized by construction,
    * so it BROADCASTS; a VALUES sharing no variable would be a cartesian
    * extension and is rejected (same no-cartesian rule as [[bgpChain]]).
    * UNDEF cells are not supported — every inline row binds every listed
    * variable.
    */
  def bgpValues(sol: DataFrame, values: DataFrame): DataFrame = {
    val shared = sol.columns.toSeq.intersect(values.columns.toSeq)
    require(shared.nonEmpty,
      s"VALUES(${values.columns.mkString(",")}) shares no variable with " +
        s"solutions(${sol.columns.mkString(",")})")
    sol.join(broadcast(values), shared, "inner")
  }

  /** SPARQL aggregates over BGP solutions (GROUP BY + COUNT/SUM/…): the
    * direct `groupBy` lowering — one map-side-combined exchange on the
    * grouping variables, exactly what the SPARQL algebra's Group/Aggregate
    * pair means on a solution multiset.
    */
  def bgpAggregate(
      sol: DataFrame, groupVars: Seq[String],
      aggs: Seq[org.apache.spark.sql.Column]): DataFrame = {
    require(groupVars.nonEmpty && aggs.nonEmpty, "need group vars and aggregates")
    val missing = groupVars.filterNot(sol.columns.contains)
    require(missing.isEmpty, s"group variables not bound by the solutions: $missing")
    sol.groupBy(groupVars.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** SPARQL ASK — "does any solution exist": the BGP solved by
    * [[bgpChain]] with a `limit(1)` on top, so the physical plan is a
    * CollectLimit that SHORT-CIRCUITS — tasks stop as soon as one
    * solution surfaces, never materializing the full solution set (the
    * property that makes ASK cheap on 100 TB when the answer is yes
    * almost immediately, and bounded by the BGP's pruned scans when it
    * is no). Output is the SPARQL boolean as one row (result 0/1
    * BIGINT) so it flows through the same result machinery as SELECT.
    */
  def bgpAsk(
      patternSource: String => DataFrame,
      patterns: Seq[ChainPattern],
      predCounts: Map[String, Long]): DataFrame = {
    val any = bgpChain(patternSource, patterns, predCounts).limit(1)
      .select(lit(1L).as("result"))
    val spark = any.sparkSession
    import spark.implicits._
    Seq(0L).toDF("_z").join(any, lit(true), "left")
      .select(coalesce(col("result"), lit(0L)).as("result"))
  }

  /** SPARQL DESCRIBE — every triple about each resource in `subjects`
    * (Concise Bounded Description restricted to outgoing arcs, the
    * common store behaviour): ONE left-semi join of the triple table
    * against the resource set. On a materialized graph pass the
    * pred-partitioned table directly — the semi join build side is the
    * (small) resource set, so AQE broadcasts it and the scan stays a
    * single pruned pass; no exchange of the triple table itself.
    */
  def describe(triples: DataFrame, subjects: DataFrame): DataFrame =
    triples.join(subjects.select(col(subjects.columns.head).as("subj")),
      Seq("subj"), "left_semi")

  /** GRAPH-scoped BGP over a QUAD table (graph, subj, pred, obj) — SPARQL
    * `GRAPH ?g { … }`: identical algebra to [[bgpChain]] except every
    * pattern additionally binds the graph variable, and every join
    * carries it — patterns only combine WITHIN one named graph. The
    * graph column rides each pattern's projection (no extra join or
    * shuffle vs the triple-table plan; join keys grow by one column).
    * Pattern connectivity is still required on the non-graph variables:
    * `GRAPH ?g` alone does not license a per-graph cartesian product.
    */
  def bgpChainGraph(
      quads: DataFrame,
      patterns: Seq[ChainPattern],
      predCounts: Map[String, Long],
      gVar: String = "g"): DataFrame = {
    require(patterns.nonEmpty, "bgpChainGraph needs at least one pattern")
    val oVars = patterns.flatMap(_.oVar)
    require(oVars.distinct.size == oVars.size,
      s"duplicate object-variable binds: $oVars")
    val allVars = patterns.flatMap(_.vars).toSet
    require(!allVars.contains(gVar), s"graph variable ?$gVar collides with a pattern variable")
    require(!(allVars + gVar).exists(Set("graph", "subj", "pred", "obj")),
      "variable names collide with quad columns")

    def frame(p: ChainPattern): DataFrame = {
      val base = quads.filter(col("pred") === p.pred)
      val filtered = p.oConst.map(o => base.filter(col("obj") === o)).getOrElse(base)
      val cols = col("graph").as(gVar) +: col("subj").as(p.sVar) +:
        p.oVar.map(v => col("obj").as(v)).toSeq
      filtered.select(cols: _*)
    }

    val remaining = scala.collection.mutable.ArrayBuffer(patterns: _*)
    val seed = remaining.minBy(_.estimate(predCounts))
    remaining -= seed
    var acc = frame(seed)
    var bound = seed.vars
    while (remaining.nonEmpty) {
      val connected = remaining.filter(p => (p.vars & bound).nonEmpty)
      require(connected.nonEmpty,
        s"disconnected BGP: ${remaining.map(_.pred)} share no variable with $bound")
      val next = connected.minBy(_.estimate(predCounts))
      remaining -= next
      val shared = gVar +: (next.vars & bound).toSeq.sorted
      acc = acc.join(frame(next), shared)
      bound ++= next.vars
    }
    acc
  }

  /** Inverse of triple emission: re-assemble one wide row per entity from
    * its triples (graph → table round-trip) with an explicit-values pivot
    * — one shuffle on subj, no extra distinct-values pass, deterministic
    * because each (subj, pred) holds exactly one object here (`max`, not
    * `first`). Literal rendering is peeled per property type.
    */
  def assembleEntities(documents: DataFrame): DataFrame = {
    val t = parseTurtle(documents)
    val preds = Seq("lang", "source", "nchars").map(p => s"$PropPrefix$p")
    t.groupBy(col("subj"))
      .pivot("pred", preds)
      .agg(max(col("obj")))
      .select(
        col("subj"),
        regexp_extract(col(s"`${PropPrefix}lang`"), "^\"(.*)\"$", 1).as("lang"),
        regexp_extract(col(s"`${PropPrefix}source`"), "^\"(.*)\"$", 1).as("source"),
        regexp_extract(col(s"`${PropPrefix}nchars`"), "^\"(\\d+)\"", 1)
          .cast("long").as("n_chars"))
  }

  /** Entity co-occurrence projection of the KG: weighted entity–entity
    * edges (a < b, n_docs co-mentioning both) from the mention table — the
    * bipartite→unipartite fold that turns detected mentions into a graph
    * [[GraphAnalytics]] can analyze. The self-join is keyed on doc_id, so
    * fan-out per doc is (entities-per-doc choose 2) — bounded by the
    * mention dictionary, never by corpus size.
    */
  def entityCooccurrence(documents: DataFrame): DataFrame = {
    val m = mentionCounts(documents).select(col("doc_id"), col("term"))
    val a = m.withColumnRenamed("term", "a")
    val b = m.withColumnRenamed("term", "b")
    a.join(b, Seq("doc_id"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Deterministic IRI-object edge triples over the corpus — each doc
    * links to the `doc_id % 10` hub doc via `p:sameSite` (rendered terms,
    * closed over the id universe at every scale factor; the ≤10 self-loops
    * are legal RDF and kept). The IRI→IRI predicate the literal-only
    * [[turtleForDoc]] corpus lacks, used by the RDFS range rule (kg46)
    * and the property-path algebra (kg48).
    */
  def siteTriples(documents: DataFrame): DataFrame =
    documents.select(
      concat(lit(s"<$DocPrefix"), col("doc_id"), lit(">")).as("subj"),
      lit(s"${PropPrefix}sameSite").as("pred"),
      concat(lit(s"<$DocPrefix"), col("doc_id") % 10, lit(">")).as("obj"))

  /** One property rule of a SHACL-lite shape: cardinality bounds for
    * `pred` per subject, optionally a well-formed `xsd:integer` object
    * check and/or an allowed-value enumeration (object terms in rendered
    * N-Triples syntax).
    */
  final case class PropRule(
      pred: String, minCount: Int = 1, maxCount: Int = 1,
      integerTyped: Boolean = false, oneOf: Option[Seq[String]] = None)

  private val XsdIntegerRe =
    "^\"-?[0-9]+\"\\^\\^<http://www\\.w3\\.org/2001/XMLSchema#integer>$"

  /** SHACL-lite GRAPH VALIDATION — the QA gate a KG-construction pipeline
    * runs before publishing: every subject is checked against per-property
    * cardinality / datatype / enumeration rules, and each breach becomes
    * one (subj, violation) row (`missing:`/`cardinality:`/`bad_integer:`/
    * `enum:` + the predicate). ONE partial-aggregated pass over the triple
    * table — all rule counters ride a single groupBy(subj), map-side
    * combined, so the exchange carries one row per subject however many
    * rules are checked; conforming subjects emit nothing (explode of an
    * empty violation array).
    */
  def validateGraph(triples: DataFrame, rules: Seq[PropRule]): DataFrame = {
    require(rules.nonEmpty, "validateGraph needs at least one rule")
    require(rules.map(_.pred).distinct.size == rules.size,
      s"duplicate rule predicates: ${rules.map(_.pred)}")
    val aggExprs = rules.zipWithIndex.flatMap { case (r, i) =>
      val isP = col("pred") === r.pred
      Seq(
        sum(when(isP, 1L).otherwise(0L)).as(s"_c$i"),
        (if (r.integerTyped)
          sum(when(isP && !col("obj").rlike(XsdIntegerRe), 1L).otherwise(0L))
        else sum(lit(0L))).as(s"_bi$i"),
        (r.oneOf match {
          case Some(vals) =>
            sum(when(isP && !col("obj").isin(vals: _*), 1L).otherwise(0L))
          case None => sum(lit(0L))
        }).as(s"_be$i"))
    }
    val perSubj = triples.groupBy(col("subj")).agg(aggExprs.head, aggExprs.tail: _*)
    val vioCols = rules.zipWithIndex.flatMap { case (r, i) =>
      Seq(
        when(col(s"_c$i") < r.minCount, lit(s"missing:${r.pred}")),
        when(col(s"_c$i") > r.maxCount, lit(s"cardinality:${r.pred}")),
        when(col(s"_bi$i") > 0, lit(s"bad_integer:${r.pred}")),
        when(col(s"_be$i") > 0, lit(s"enum:${r.pred}")))
    }
    perSubj.select(col("subj"),
      explode(filter(array(vioCols: _*), v => v.isNotNull)).as("violation"))
  }

  /** INCREMENTAL graph validation under a tombstone diff: only subjects
    * the diff touches re-validate — untouched subjects carry their old
    * violation rows forward (anti-join on the diff's subject set), touched
    * ones re-run [[validateGraph]]'s one-pass rule aggregate over just
    * their rows (semi-join prune). The validate AGGREGATE — the expensive
    * per-subject rule machinery — runs on diff-sized input; the semi-join
    * is one pruned pass over the new graph (pred_hash/bucket layouts keep
    * it a scan, not a reshuffle-the-world). This is the nightly-QA shape:
    * a daily delta re-certifies its touched entities, not the KG.
    */
  def validateGraphDelta(
      newTriples: DataFrame,
      diff: DataFrame,
      oldViolations: DataFrame,
      rules: Seq[PropRule]): DataFrame = {
    val touched = diff.select(col("subj")).distinct()
    val keep = oldViolations.join(touched, Seq("subj"), "left_anti")
    val fresh = validateGraph(
      newTriples.join(touched, Seq("subj"), "left_semi"), rules)
    keep.unionByName(fresh)
  }

  /** One CONSTRUCT template triple: subject/object name solution
    * variables, the predicate is a constant IRI.
    */
  final case class ConstructTemplate(sVar: String, pred: String, oVar: String)

  /** SPARQL CONSTRUCT: instantiate template triples from a solution set —
    * each template is a projection of the solutions, the union dedups
    * because CONSTRUCT emits a GRAPH (set semantics). Zero joins: the
    * solution plan is reused per template and the only exchange is the
    * final distinct. Feed the result to [[exportTurtleDir]] or
    * [[graft.pipeline.Materialize]] like any other triple table.
    */
  def construct(sol: DataFrame, templates: Seq[ConstructTemplate]): DataFrame = {
    require(templates.nonEmpty, "CONSTRUCT needs at least one template")
    templates.foreach { t =>
      require(sol.columns.contains(t.sVar) && sol.columns.contains(t.oVar),
        s"template ?${t.sVar} <${t.pred}> ?${t.oVar} references unbound variables")
    }
    templates
      .map(t => sol.select(col(t.sVar).as("subj"), lit(t.pred).as("pred"),
        col(t.oVar).as("obj")))
      .reduce(_.unionByName(_))
      .distinct()
  }

  /** SPARQL 1.1 Update `DELETE { … } INSERT { … } WHERE { … }` against a
    * materialized LSM graph table — the WRITE half of the query surface,
    * lowered onto the tombstone delta path instead of a table rewrite.
    * The WHERE solutions are computed ONCE over the current merged view
    * (per the spec, both templates instantiate against the pre-update
    * state; each WHERE pattern scans through
    * [[graft.pipeline.Materialize.readMergedPred]], so even mid-log the
    * reads prune to each predicate's pred_hash partition). DELETE
    * templates lower to tombstone retractions, INSERT templates to
    * assertions, applied atomically as ONE delta batch — bytes written
    * ∝ instantiated templates, never ∝ graph; readMerged serves the
    * updated view immediately and compaction folds it in.
    *
    * SPARQL order is delete-THEN-insert from the same solutions: a triple
    * instantiated by both template sets ends up PRESENT. The delta batch
    * resolves del-wins within itself, so the overlap is subtracted from
    * the delete side here (a template-set-sized anti-join) to preserve
    * the spec's end state.
    */
  def updateWhere(
      spark: org.apache.spark.sql.SparkSession,
      out: String,
      delete: Seq[ConstructTemplate],
      insert: Seq[ConstructTemplate],
      where: Seq[ChainPattern],
      predCounts: Map[String, Long],
      srcUrl: String,
      ts: java.sql.Timestamp): Unit = {
    require(delete.nonEmpty || insert.nonEmpty,
      "DELETE/INSERT WHERE with no templates is a no-op")
    val M = graft.pipeline.Materialize
    val sol = bgpChain(
      (p: String) => M.readMergedPred(spark, out, p),
      where, predCounts)
    val adds = if (insert.isEmpty) None else Some(construct(sol, insert))
    val dels = (if (delete.isEmpty) None else Some(construct(sol, delete)))
      .map(d => adds.fold(d)(a => d.join(a, Seq("subj", "pred", "obj"), "left_anti")))
    // materialize the delta-sized batch ONCE: appendDeltaOps probes
    // isEmpty then writes (two actions), and the write must not re-run a
    // solution plan whose scans read the very delta log being appended to
    val batch = (dels.map(_.withColumn("op", lit(TableLog.OpDel))).toSeq ++
      adds.map(_.withColumn("op", lit(TableLog.OpAdd))))
      .reduce(_.unionByName(_))
      .withColumn("src_url", lit(srcUrl))
      .withColumn("warc_ts", lit(ts))
      .localCheckpoint()
    M.appendDeltaOps(spark, out, batch)
  }

  /** [[updateWhere]] scoped to ONE NAMED GRAPH of a quad LSM table —
    * SPARQL 1.1 `WITH <g> DELETE { … } INSERT { … } WHERE { … }`: the
    * WHERE patterns match only `graph`'s quads (the graph/pred filters
    * push below the merge-on-read resolution window — both are window
    * partition keys — so each pattern still prunes to its predicate's
    * rows), templates instantiate INTO the same graph, and the whole
    * update lands as one graph-scoped quad delta batch. Sibling graphs
    * are untouched BY CONSTRUCTION: the base is append-only under this
    * op, and tombstone resolution keys on (graph, s, p, o), so a
    * retraction in `graph` can never shadow a sibling's identical
    * triple.
    */
  def updateWhereGraph(
      spark: org.apache.spark.sql.SparkSession,
      out: String,
      graph: String,
      delete: Seq[ConstructTemplate],
      insert: Seq[ConstructTemplate],
      where: Seq[ChainPattern],
      predCounts: Map[String, Long],
      srcUrl: String,
      ts: java.sql.Timestamp): Unit = {
    require(delete.nonEmpty || insert.nonEmpty,
      "DELETE/INSERT WHERE with no templates is a no-op")
    val M = graft.pipeline.Materialize
    val merged = M.readMerged(spark, out)
    val sol = bgpChain(
      (p: String) => merged.filter(col("graph") === graph &&
        col("pred_hash") === M.predHash(lit(p))),
      where, predCounts)
    val adds = if (insert.isEmpty) None else Some(construct(sol, insert))
    val dels = (if (delete.isEmpty) None else Some(construct(sol, delete)))
      .map(d => adds.fold(d)(a => d.join(a, Seq("subj", "pred", "obj"), "left_anti")))
    val batch = (dels.map(_.withColumn("op", lit(TableLog.OpDel))).toSeq ++
      adds.map(_.withColumn("op", lit(TableLog.OpAdd))))
      .reduce(_.unionByName(_))
      .withColumn("graph", lit(graph))
      .withColumn("src_url", lit(srcUrl))
      .withColumn("warc_ts", lit(ts))
      .localCheckpoint()
    M.appendDeltaOps(spark, out, batch)
  }

  // -------------------------------------------- SPARQL term functions

  /** SPARQL 1.1 term accessor/filter functions over RENDERED term columns
    * — each one a plain Column expression (regexp_extract / when chains,
    * whole-stage-codegen'd, never a UDF), so FILTER and BIND clauses stay
    * inside the pruned scans. Term syntax: IRIs `<iri>`, plain literals
    * `"lex"`, language literals `"lex"@tag`, typed `"lex"^^<dt>`.
    */
  object TermFns {
    import org.apache.spark.sql.Column
    /** STR(): lexical form of a literal, the IRI text of an IRI.
      *
      * The literal branch captures escaped units (`(?:[^"\\]|\\.)*`) up to
      * the first UNESCAPED quote — the closing delimiter — then decodes
      * the engine's render-escape table ([[graft.turtle.NTriples]]
      * `escapeString`: `\n \r \t \b \f`, `"` → `"`, `\` → `\`).
      * The literal `replace` chain is unambiguous on that table because a
      * rendered lexical form contains no raw `"` or `\` — every backslash
      * starts exactly one escape — and `\` decodes LAST so decoded
      * backslashes are never rescanned. Contract: input is ENGINE-RENDERED
      * term syntax (everything this engine's parser/renderer emits);
      * foreign `\"`/`\\`-escaped NT text is normalized to this table by
      * the parsers before it ever becomes a rendered term column.
      */
    def termStr(c: Column): Column = {
      val lex = regexp_extract(c, "^\"((?:[^\"\\\\]|\\\\.)*)\"", 1)
      val decoded = Seq(
        "\\n" -> "\n", "\\r" -> "\r", "\\t" -> "\t", "\\b" -> "\b",
        "\\f" -> "\f", "\\u0022" -> "\"", "\\u005c" -> "\\")
        .foldLeft(lex) { case (acc, (esc, raw)) => replace(acc, lit(esc), lit(raw)) }
      when(c.startsWith("<"), regexp_extract(c, "^<(.*)>$", 1))
        .otherwise(decoded)
    }
    /** LANG(): the language tag, '' when none (SPARQL's behaviour). */
    def termLang(c: Column): Column =
      regexp_extract(c, "^\".*\"@([A-Za-z0-9-]+)$", 1)
    /** DATATYPE(): typed → its IRI; lang → rdf:langString; plain →
      * xsd:string; IRIs/blanks → '' (SPARQL errors there; '' keeps the
      * expression total).
      */
    def termDatatype(c: Column): Column =
      when(c.rlike("^\".*\"\\^\\^<.*>$"), regexp_extract(c, "\\^\\^<(.*)>$", 1))
        .when(c.rlike("^\".*\"@[A-Za-z0-9-]+$"),
          lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"))
        .when(c.startsWith("\""), lit("http://www.w3.org/2001/XMLSchema#string"))
        .otherwise(lit(""))
    /** isIRI() / isLiteral() / isBlank(). */
    def termIsIri(c: Column): Column = c.startsWith("<")
    def termIsLiteral(c: Column): Column = c.startsWith("\"")
    def termIsBlank(c: Column): Column = c.startsWith("_:")
    /** STRSTARTS(STR(term), prefix). */
    def strStarts(c: Column, prefix: String): Column = termStr(c).startsWith(prefix)
  }

  /** owl:sameAs ENTITY CANONICALIZATION — the KG-construction merge step:
    * given the triple table and a set of sameAs equivalence assertions
    * (src, dst) over entity IRIs, rewrite every subject AND every object
    * to its equivalence-class representative (the MIN IRI of the connected
    * component, [[graft.pipeline.Canonical.connectedComponents]]' label).
    * Facts asserted about any alias of an entity land on one canonical
    * node; IRIs outside the sameAs universe (and all literals) pass
    * through unchanged via the left-join coalesce.
    *
    * Scale shape: CC is the checkpointed hash-to-min loop shared with the
    * linking pipeline (rounds ∝ log component diameter); the rewrite is
    * two left joins against the ENTITY-SIZED representative map — at web
    * scale that map is still ~10⁹ rows, so the joins are plain shuffled
    * hash joins on the natural subj/obj keys (broadcast would not fit);
    * no other exchange is added. Output keeps the input schema, so it
    * feeds Materialize / export / BGP unchanged.
    */
  def sameAsCanonicalize(
      triples: DataFrame, sameAs: DataFrame,
      checkpoint: graft.pipeline.CheckpointPolicy =
        graft.pipeline.CheckpointPolicy.Local): DataFrame =
    rewriteWithReps(triples,
      Canonical.connectedComponents(sameAs, checkpoint = checkpoint))

  /** The rewrite half of [[sameAsCanonicalize]] against a PRECOMPUTED
    * representative map `rep` (id, component) — the entry point for
    * incrementally-maintained labels
    * ([[graft.pipeline.Canonical.connectedComponentsDelta]]): two left
    * joins against the entity-sized map, IRIs outside it and literals
    * pass through via the coalesce.
    */
  def rewriteWithReps(triples: DataFrame, rep: DataFrame): DataFrame =
    triples
      .join(rep.select(col("id").as("subj"), col("component").as("_cs")),
        Seq("subj"), "left")
      .join(rep.select(col("id").as("obj"), col("component").as("_co")),
        Seq("obj"), "left")
      .select(triples.columns.map {
        case "subj" => coalesce(col("_cs"), col("subj")).as("subj")
        case "obj"  => coalesce(col("_co"), col("obj")).as("obj")
        case c      => col(c)
      }.toSeq: _*)

  /** CHARACTERISTIC SETS (Neumann & Moerkotte, ICDE 2011): group subjects
    * by the exact SET of predicates asserted about them — the classic RDF
    * structure-discovery statistic, doubling as the cardinality-estimation
    * table star-join optimizers use (a BGP star's result size reads off
    * the matching sets' counts) and as an emergent-schema profile of a
    * heterogeneous web KG. Output: one row per distinct predicate set
    * (sorted, space-joined) with its subject count.
    *
    * Scale shape: TWO exchanges, no joins, no pre-distinct —
    * `collect_set` dedups inside the aggregate, so the subject exchange
    * carries one PARTIALLY-AGGREGATED set row per (task, subject) — never
    * more rows than the graph's S×P surface, and strictly fewer bytes
    * than a separate distinct pass (which would add a third, full-width
    * exchange on (subj, pred) for nothing). The second exchange is
    * map-side-combined on the (few thousand, even on the open web) set
    * keys. Plan-guarded in the spec.
    */
  def characteristicSets(triples: DataFrame): DataFrame =
    triples.select(col("subj"), col("pred"))
      .groupBy(col("subj"))
      .agg(array_sort(collect_set(col("pred"))).as("cs"))
      .groupBy(col("cs")).agg(count(lit(1)).as("n_subjects"))
      .select(array_join(col("cs"), " ").as("char_set"), col("n_subjects"))

  /** N-QUADS round trip of the parsed KG through the REAL quad parser:
    * each doc's triples serialize as N-Quads statements labeled with the
    * doc's shard graph (`…/graph/{doc_id % 10}`), partitions of lines
    * re-parse with [[graft.turtle.NTriples.parseQuads]] (graph labels
    * KEPT), and terms re-render — the quad-store ingest path
    * (graph, subj, pred, obj) ready for [[bgpChainGraph]]. Everything is
    * per-partition (serialize → parse → render inside one mapPartitions);
    * the only exchange is whatever the caller does next.
    */
  def nquadsRoundTrip(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val lines = parseTurtle(documents).select(
      concat(col("subj"), lit(" <"), col("pred"), lit("> "), col("obj"),
        lit(" <http://graft.example/graph/"), col("doc_id") % 10, lit("> ."))
        .as("line"))
    lines.as[String].mapPartitions { it =>
      val text = it.mkString("\n")
      graft.turtle.NTriples.parseQuads(text)
        .fold(e => throw e, identity).iterator.map { case (tr, g) =>
          (g.map(graft.turtle.NTriples.renderTerm).getOrElse(""),
            graft.turtle.NTriples.renderTerm(tr.subj), tr.pred,
            graft.turtle.NTriples.renderTerm(tr.obj))
        }
    }.toDF("graph", "subj", "pred", "obj")
  }

  /** Synthetic forest over doc ids: d (> 0, d % 3 ≠ 0) — edge to d / 2.
    * Distributed CC (hash-to-min self-joins) labels every doc with the min
    * id of its component; singletons keep their own id.
    */
  def docComponents(documents: DataFrame): DataFrame = {
    val ids = documents.select(col("doc_id").as("id"))
    val edges = ids.filter(col("id") > 0 && col("id") % 3 =!= 0)
      .select(col("id").as("src"), (col("id") / 2).cast("long").as("dst"))
    val cc = Canonical.connectedComponents(edges)
    ids.join(cc, Seq("id"), "left")
      .select(col("id").as("doc_id"), coalesce(col("component"), col("id")).as("component"))
  }
}
