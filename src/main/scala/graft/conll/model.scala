package graft.conll

/** Core data model (SURVEY.md §1).
  *
  * The engine's external input is the Iceberg/parquet-shaped table from
  * BASELINE.json `input_hint`:
  *   (doc_id: string, spans: array<struct<kind, text, media_ref, offset>>)
  * Span kinds: "token" (one CoNLL TSV row), "comment" ("# ..."),
  * "sentence_break" (empty line), "markup" (single-line XML), "media"
  * (opaque payload reference; ignored by parsing, preserved by the
  * span-sequence invariant).
  */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

final case class InputDoc(doc_id: String, spans: Seq[Span])

/** One RDF triple inside a sentence graph. Subjects are always node ids
  * (":s{sent}_{tok}" scheme, following the reference's TIGER-style URIs —
  * /root/reference/src/main/java/org/acoli/conll/rdf/CoNLL2RDF.java:118).
  * `oUri=true` → `o` is a node/concept URI; false → string literal.
  */
final case class Triple(s: String, p: String, o: String, oUri: Boolean)

/** Unit of parallelism: one sentence graph (reference: one worker thread
  * per sentence, CoNLLRDFUpdater.java:104-195). All rewrite rules are
  * sentence-local, so a Dataset[Sentence] maps over partitions with zero
  * shuffles through the whole rewrite cascade.
  *
  * The readers and `Pipeline.rewrite` emit `triples` as the snapshot
  * `g.all` of the sentence's [[SentGraph]], so `SentGraph(s).all ==
  * s.triples`: the cascade starts from exactly the graph the reader
  * built. Comment lines are the `rdfs:comment` triple.
  */
final case class Sentence(
    docId: String,
    sent: Long,
    triples: Seq[Triple]
)

/** Long-format output row — the contract (subj, pred, obj) table
  * materialized at the pipeline boundary (SURVEY §7.1).
  */
final case class TripleRow(
    doc_id: String,
    sent: Long,
    subj: String,
    pred: String,
    obj: String,
    obj_is_uri: Boolean
)
