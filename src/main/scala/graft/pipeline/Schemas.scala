package graft.pipeline

import java.sql.Timestamp

/** Typed row models for every stage boundary (SURVEY.md §1.2).
  * `Dataset[T]` with these case classes at boundaries; DataFrame/Column ops
  * inside join-heavy stages so Catalyst can optimize.
  */

/** Input web page — schema fixed by the task's input contract:
  * `(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)`.
  * `text` is the ORACLE column: the extraction stage must reproduce it
  * byte-identically from `html` per url.
  */
final case class WebPage(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** Emitted triple row, N-Triples term syntax in each column so one string
  * column round-trips losslessly: subj `<iri>`/`_:label`, pred `<iri>`
  * content without brackets, obj `<iri>` / `_:label` / `"lex"` /
  * `"lex"@lang` / `"lex"^^<dt>`.
  */
final case class TripleRow(
    subj: String,
    pred: String,
    obj: String,
    src_url: String,
    warc_ts: Timestamp)

/** Parse/build failure routed to the rejects table instead of failing the
  * job (reference diagnostic sink, `examples/simple.rs:27-37`).
  */
final case class Reject(
    url: String,
    span_start: Int,
    span_end: Int,
    message: String)

/** Dictionary entry: alias surface form → entity IRI. */
final case class EntityAlias(entity_iri: String, alias: String, weight: Double)

/** Detected mention of a dictionary alias in a page. `context` is the
  * containing paragraph (scoring context for the linker).
  */
final case class Mention(
    url: String,
    mention_id: Long,
    surface: String,
    begin: Int,
    end: Int,
    context: String)

/** Scored candidate link (mention → entity). */
final case class Candidate(mention_id: Long, entity_iri: String, score: Double)

/** Per-partition lineage/metrics row (north_rule: per-partition lineage).
  * `attempt` records the task attempt that produced the row: accumulator
  * updates inside transformations are NOT exactly-once under task retries /
  * speculation, so readers must dedup per (stage, partition_id) keeping the
  * highest attempt — [[Lineage.Collector.rows]] does exactly that.
  */
final case class LineageRow(
    stage: String,
    partition_id: Int,
    attempt: Int,
    rows_in: Long,
    rows_out: Long,
    wall_ms: Long)
