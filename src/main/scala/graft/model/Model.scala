package graft.model

import java.sql.Timestamp

/** Core data model for the KG-construction pipeline.
  *
  * Shapes are fixed by /root/repo/BASELINE.json `input_hint`
  * (url, warc_ts, html, text, lang) and by the reference's quad model
  * (reference: src/cattle.py:308-309 parses N-Quads into a named-graph
  * aware ConjunctiveGraph — object terms are IRI or literal with
  * lexical form + datatype IRI + optional language tag).
  *
  * All case classes get Catalyst `Encoder`s via `spark.implicits._`;
  * Triple is deliberately FLAT (no nested struct) so the materialized
  * parquet is directly queryable by any SQL engine and column-prunable.
  */

/** One Common-Crawl-style web page (the generalized "row"). */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String
)

/** A detected gazetteer mention in a page's extracted text. */
final case class Mention(
    url: String,
    surface: String,
    begin: Int,
    end: Int,
    entity_id: String
)

/** One RDF statement in a named graph.
  *
  * o_kind ∈ {iri, literal}. For literals, o_lex carries the LEXICAL
  * form (RDF equality is lexical — see SURVEY.md §1.2); o_datatype is
  * the full datatype IRI or null (plain literal); o_lang only for
  * language-tagged strings. For IRIs, o_lex is the IRI and
  * o_datatype/o_lang are null.
  */
final case class Triple(
    s: String,
    p: String,
    o_kind: String,
    o_lex: String,
    o_datatype: String,
    o_lang: String,
    g: String
)

/** Per-bucket lineage row committed alongside the data — the
  * engine's resumability + monitoring record (replaces the reference's
  * destructive completion signal, src/cattle_process.py:18-29, and its
  * absent monitoring, druid.md:27-30). This is the row
  * `TripleEmitter.writeStage` appends to `lineage/`, and its encoder's
  * schema is the one every lineage reader reads with: `triples` counts
  * the bucket's rows before dedup, `subjects` its distinct subjects.
  */
final case class Lineage(
    bucket: Int,
    triples: Long,
    subjects: Long,
    rule_set_hash: String,
    run_id: String,
    status: String
)
