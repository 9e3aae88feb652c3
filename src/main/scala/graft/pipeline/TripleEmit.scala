package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.turtle.{NTriples, Turtle, TurtleError}

/** Triple emission. The emitter EMBEDS the Turtle parser-serializer: each
  * page's statements are written as a Turtle document (prefixes, `a` sugar,
  * `;`/`,` groups, typed literals) and re-parsed with the conformance-tested
  * parser before landing in the graph table — the generated text is real
  * Turtle exercised on every page, not a side channel.
  */
object TripleEmit {

  val Kg = "http://kg.example/ontology#"
  val Xsd = "http://www.w3.org/2001/XMLSchema#"

  private def esc(s: String): String = NTriples.escapeString(s)

  /** Percent-encode the characters IRIREF forbids (controls, space, and
    * `<>"{}|^`\``) so a raw crawl URL can neither fail the embedded
    * re-parse of the whole partition nor INJECT extra triples by closing
    * the `<...>` early. All forbidden chars are ASCII ⇒ one %XX each;
    * clean IRIs (every synthetic url, every dictionary entity) pass
    * through untouched, keeping emission byte-identical for them.
    */
  private[pipeline] def iriSafe(s: String): String = {
    def forbidden(c: Char): Boolean = c <= ' ' || "<>\"{}|^`\\".indexOf(c.toInt) >= 0
    if (!s.exists(forbidden)) s
    else {
      val sb = new java.lang.StringBuilder(s.length + 8)
      s.foreach { c =>
        if (forbidden(c)) sb.append(f"%%${c.toInt}%02X") else sb.append(c)
      }
      sb.toString
    }
  }

  /** Turtle document for one page's emissions (deterministic layout). */
  def turtleForPage(
      url: String,
      warcTsMs: Long,
      lang: String,
      entities: Seq[(String, String)]): String = {
    val sb = new java.lang.StringBuilder(256)
    sb.append("@prefix kg: <").append(Kg).append("> .\n")
    sb.append("@prefix xsd: <").append(Xsd).append("> .\n")
    val ts = java.time.Instant.ofEpochMilli(warcTsMs).toString
    sb.append('<').append(iriSafe(url)).append("> a kg:Page ;\n")
    sb.append("  kg:lang \"").append(esc(lang)).append("\" ;\n")
    sb.append("  kg:fetchedAt \"").append(ts).append("\"^^xsd:dateTime")
    val distinctEnts = entities.map(_._1).distinct
    if (distinctEnts.nonEmpty) {
      sb.append(" ;\n  kg:mentions ")
      sb.append(distinctEnts.map(e => s"<${iriSafe(e)}>").mkString(", "))
    }
    sb.append(" .\n")
    entities.distinct.foreach { case (iri, label) =>
      sb.append('<').append(iriSafe(iri)).append("> kg:label \"").append(esc(label)).append("\" .\n")
    }
    sb.toString
  }

  /** The Turtle→rows binding: every Spark path reaches the kernel through
    * this one function, which decides how a kernel result becomes rows.
    *   - Row format: `row(subj, pred, obj, spanStart, spanEnd)` per triple,
    *     subject and object in N-Triples term syntax (the [[TripleRow]]
    *     encoding), the predicate a bare IRI, the byte span that of the
    *     emitting statement.
    *   - Blank labels: `scoped` rewrites them per document (`_:d<tag>l…`
    *     for the document's labels, `_:d<tag>-n` for anonymous nodes, tag =
    *     hex of `doc`'s hash) so documents merge into one graph without
    *     collisions; otherwise the kernel's fixture-parity `_:0, _:1, …`.
    *   - Failure policy: strict by default — a malformed document throws,
    *     naming `doc`; a lenient caller passes `reject`, and the document
    *     yields exactly one `reject(error)` row carrying its span and message
    *     (reference diagnostic sink, `examples/simple.rs:27-37`).
    */
  def turtleRows[R](text: String, doc: String, scoped: Boolean = false)(
      row: (String, String, String, Int, Int) => R,
      reject: TurtleError => R = (e: TurtleError) =>
        throw new IllegalStateException(s"$doc: ${e.message} at ${e.span}")): Iterator[R] = {
    val parsed =
      if (scoped) Turtle.parseToTriplesScoped(text, java.lang.Long.toHexString(Mentions.hash64(doc)))
      else Turtle.parseToTriples(text)
    parsed match {
      case Right(ts) =>
        ts.iterator.map(t => row(t.subj.render, t.pred, t.obj.render, t.span.start, t.span.end))
      case Left(e) => Iterator.single(reject(e))
    }
  }

  /** Emit stage.
    * `linked`: (url, canonical_iri, label) — one row per linked mention.
    * Output: TripleRow per emitted triple (src_url/warc_ts lineage columns).
    */
  def emit(pages: DataFrame, linked: DataFrame): Dataset[TripleRow] = {
    val spark = pages.sparkSession
    import spark.implicits._

    val grouped = linked
      .groupBy(col("url"))
      .agg(collect_list(struct(col("canonical_iri"), col("label"))).as("ents"))

    // left join: pages with zero linked mentions still emit their metadata
    pages.select(col("url"), col("warc_ts"), col("lang"))
      .join(grouped, Seq("url"), "left")
      .select(col("url"), col("warc_ts"), col("lang"), col("ents"))
      .as[(String, java.sql.Timestamp, String, Option[Seq[(String, String)]])]
      .mapPartitions { it =>
        it.flatMap { case (url, ts, lang, ents) =>
          // embedded parser: the emitted document must parse; a failure here
          // is a serializer bug and fails the job, naming the page
          turtleRows(turtleForPage(url, ts.getTime, lang, ents.getOrElse(Seq.empty)), url)(
            (s, p, o, _, _) => TripleRow(s, p, o, url, ts))
        }
      }
  }

  /** Turtle ingestion source: parse foreign .ttl documents into the graph,
    * routing parse failures to a rejects table instead of failing the job.
    * One pass over `docs` yields a triple-or-reject row per triple or
    * malformed document; it is materialized ONCE (the call's only job,
    * lineage truncated through [[CheckpointPolicy]]) and both outputs are
    * column projections of that one materialization, so no reader of
    * either re-runs the parse. Blank labels are document-scoped.
    */
  def ingestTurtle(
      docs: Dataset[(String, java.sql.Timestamp, String)]): // (url, ts, turtle_text)
      (Dataset[TripleRow], Dataset[Reject]) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = CheckpointPolicy.Local.truncate(docs.mapPartitions(_.flatMap { case (url, ts, text) =>
      turtleRows(text, url, scoped = true)(
        (s, p, o, start, end) => (s, p, o, url, ts, start, end, null: String),
        e => (null, null, null, url, ts, e.span.start, e.span.end, e.message))
    }).toDF("subj", "pred", "obj", "url", "warc_ts", "span_start", "span_end", "message"))
    val isReject = col("message").isNotNull
    (rows.where(!isReject)
       .select(col("subj"), col("pred"), col("obj"), col("url").as("src_url"), col("warc_ts"))
       .as[TripleRow],
     rows.where(isReject).select(col("url"), col("span_start"), col("span_end"), col("message")).as[Reject])
  }
}
