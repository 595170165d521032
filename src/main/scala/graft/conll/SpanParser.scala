package graft.conll

import scala.collection.mutable
import java.util.regex.Pattern

/** Span-sequence → per-sentence triple graphs, reproducing the reference's
  * TSV→RDF semantics (SURVEY §2.1 S1/S2/S5):
  *
  *  - empty-cell pattern `^(O|-|--|_|__)?$` skips the cell entirely
  *    (Format2RDF.java:61);
  *  - `ID` column overrides the positional token id and must be an integer
  *    (CoNLL2RDF.java:112-117);
  *  - `HEAD[n]` columns emit object properties `conll:HEADn :s{sent}_{v}`,
  *    `0` resolving to the sentence node (CoNLL2RDF.java:130-131);
  *  - if no HEAD column is declared, every token depends on the sentence
  *    node (CoNLL2RDF.java:154-155);
  *  - literal escaping: `&`→`&amp;`, `"`→`&quot;`, `\`→`\\`
  *    (CoNLL2RDF.java:138);
  *  - trailing `*-ARGs` columns emit SRL role triples `<pred_i> conll:<role>
  *    <word>` plus `rdfs:subPropertyOf` axioms (CoNLL2RDF.java:139-150);
  *  - sentence chaining `nif:nextSentence`, token chaining `nif:nextWord`
  *    in file order (CoNLL2RDF.java:102-104,120-123);
  *  - full-line comments become `rdfs:comment` on the sentence node, joined
  *    by newline (CoNLLStreamExtractor.java:153-165); the CoNLL-U Plus
  *    header `# global.columns = ...` overrides the column schema
  *    (CoNLLStreamExtractor.java:174-218);
  *  - `<s>`/`<p>` markup acts as a sentence break; other single-line XML
  *    markup is skipped (CoNLL2RDF.java:74-75).
  *
  * Sentence and token numbering, the ID-cell rule and sentence chaining
  * live in `Assembler`, which the XML-TSV (`XmlTsvParser`) and bracketing
  * (`BracketsParser`) readers share; each reader keeps its own span-kind
  * switch. The bracketing reader also reads its token and markup lines
  * with this reader's line rule, `coreLine`. Each sentence is built in
  * one `SentGraph`, the graph its rewrite cascade starts from, and is
  * emitted as that graph's snapshot.
  *
  * Parsing is per-document and runs inside Dataset[InputDoc].flatMap —
  * sequential within a doc (the format is inherently stateful), parallel
  * across docs.
  */
object SpanParser {

  private val GlobalColumns = Pattern.compile("^#\\s*global\\.columns\\s*=\\s*(.*)$")
  private val SPMarkup = Pattern.compile("<[\\/]?[psPS]( [^>]*>|>)")
  private val OtherMarkup = Pattern.compile("^<[^>]*>$")
  private val ArgsSuffix = "[\\-_]*[Aa][rR][gG][sS]$"

  def escapeLit(v: String): String =
    if (v.indexOf('&') < 0 && v.indexOf('"') < 0 && v.indexOf('\\') < 0) v
    else v.replace("&", "&amp;").replace("\"", "&quot;").replace("\\", "\\\\")

  /** `^(O|-|--|_|__)?$` without the regex engine (hot path). */
  def isEmptyCell(v: String): Boolean = v.length match {
    case 0 => true
    case 1 => v == "O" || v == "-" || v == "_"
    case 2 => v == "--" || v == "__"
    case _ => false
  }

  /** What the CoNLL core reads from a `token`, `markup` or
    * `sentence_break` span. */
  private[conll] sealed trait CoreLine
  /** A `sentence_break` span, an `<s>`/`<p>` line, or a token line with
    * nothing on it. */
  private[conll] case object Break extends CoreLine
  /** Other single-line markup, or a line that is all `#` comment. */
  private[conll] case object NoRow extends CoreLine
  /** A token row's cells, `<s>`/`<p>` tags and an inline `#…` stripped. */
  private[conll] final case class Row(cells: Array[String]) extends CoreLine

  /** The one line rule of the SpanParser and BracketsParser cores
    * (CoNLL2RDF.java:74-75): a `markup` span breaks the sentence iff it is
    * only `<s>`/`<p>` tags; any kind but these two is a token line. */
  private[conll] def coreLine(kind: String, raw: String): CoreLine =
    if (kind == "sentence_break") Break
    else if (kind == "markup") {
      if (SPMarkup.matcher(raw).replaceAll("").trim.isEmpty) Break else NoRow
    } else {
      // fast path: lines without '<' or '#' skip the regex machinery
      val tagged = raw.indexOf('<') >= 0
      val line = if (tagged) SPMarkup.matcher(raw).replaceAll("").trim else raw.trim
      if (tagged && OtherMarkup.matcher(line).matches()) NoRow
      else if (line.isEmpty) Break
      else {
        val row = if (line.indexOf('#') >= 0) line.replaceFirst("#.*", "").trim else line
        if (row.isEmpty) NoRow else Row(row.split("\t", -1))
      }
    }

  /** Per-schema metadata, computed once per columns vector (hot path:
    * avoids regex + string building per cell). */
  private[conll] final class SchemaMeta(val cs: Vector[String]) {
    val isHead: Array[Boolean] = cs.map(_.toUpperCase.matches("^HEAD[0-9]*$")).toArray
    val colPred: Array[String] = cs.map(c => s"conll:$c").toArray
    val hasHead: Boolean = isHead.exists(identity)
    val hasArgs: Boolean = cs.nonEmpty && cs.last.toLowerCase.matches(".*args$")
    // predicate-marker column: ARGs label with the whole -ARGs suffix
    // stripped (CoNLL2RDF.java:148); subPropertyOf target keeps -ARG,
    // dropping only the trailing s (CoNLL2RDF.java:146)
    val predColName: String = if (hasArgs) cs.last.replaceAll(ArgsSuffix, "") else ""
    val argBase: String =
      if (hasArgs) cs.last.replaceFirst("([\\-_]*[Aa][rR][gG])[sS]$", "$1") else ""
    val predCol: Int = if (hasArgs) cs.indexOf(predColName) else -1
    val idCol: Int = cs.indexWhere(_.equalsIgnoreCase("ID"))
  }

  /** One sentence's token rows `(id, cells)` → its CoNLL triples, added
    * to `g` (the S2 core, shared with the XML-TSV and bracketing sources
    * through `Assembler`). */
  private def buildSentence(
      g: SentGraph,
      sent: Long,
      rows: Iterable[(String, Array[String])],
      comments: Iterable[String],
      meta: SchemaMeta,
      linkPrev: Boolean
  ): Unit = {
    val cs = meta.cs
    val hasHead = meta.hasHead
    val hasArgs = meta.hasArgs
    val argBase = meta.argBase
    val predCol = meta.predCol

    val sentNode = s":s${sent}_0"
    if (linkPrev)
      g.add(s":s${sent - 1}_0", "nif:nextSentence", sentNode, oUri = true)
    g.add(sentNode, "rdf:type", "nif:Sentence", oUri = true)

    // SRL: the i-th ARGs column refers to the i-th predicate-marked row.
    val predicates = mutable.ArrayBuffer[String]()
    val argTriples = mutable.ArrayBuffer[(Int, String, String)]() // (predIdx, role, wordUri)

    var prevUri: String = null
    for ((idString, cells) <- rows) {
      val uri = s":s${sent}_$idString"
      if (prevUri != null)
        g.add(prevUri, "nif:nextWord", uri, oUri = true)
      prevUri = uri
      g.add(uri, "rdf:type", "nif:Word", oUri = true)
      var i = 0
      while (i < cells.length) {
        val v = cells(i).trim
        if (!isEmptyCell(v)) {
          if (i < cs.length && meta.isHead(i)) {
            g.add(uri, meta.colPred(i), s":s${sent}_$v", oUri = true)
          } else if (i < cs.length - 1 || (i == cs.length - 1 && !hasArgs)) {
            if (i < cs.length)
              g.add(uri, meta.colPred(i), escapeLit(v), oUri = false)
          } else if (hasArgs) {
            // i-th physical ARGs column (may overflow declared schema)
            argTriples += ((i + 1 - cs.length, v, uri))
          }
          if (predCol >= 0 && i == predCol) predicates += uri
        }
        i += 1
      }
      if (!hasHead)
        g.add(uri, "conll:HEAD", sentNode, oUri = true)
    }
    for ((pi, role, wordUri) <- argTriples; if pi >= 0 && pi < predicates.length)
      g.add(predicates(pi), s"conll:$role", wordUri, oUri = true)
    // one axiom per role, in order of first use: the graph drops repeats
    for ((_, role, _) <- argTriples)
      g.add(s"conll:$role", "rdfs:subPropertyOf", s"conll:$argBase", oUri = true)

    if (comments.nonEmpty)
      g.add(sentNode, "rdfs:comment", escapeLit(comments.mkString("\n")), oUri = false)
  }

  /** One document's sentence assembly: the sentence number (sentences
    * emitted + 1), the positional token number (pending rows + 1), the
    * pending rows and comments, the ID-cell rule and `nif:nextSentence`
    * chaining. Each emitted sentence is built in one [[SentGraph]], the
    * graph its rewrite cascade starts from: first the CoNLL triples, then
    * the reader's tree triples. A reader resets its own per-sentence tree
    * state when `flush` reports an emitted sentence. */
  private[conll] final class Assembler(docId: String, cols: Seq[String]) {
    /** Replaced mid-document by a `# global.columns = ...` comment. */
    var meta = new SchemaMeta(cols.toVector)
    val comments = mutable.ArrayBuffer[String]()
    private val rows = mutable.ArrayBuffer[(String, Array[String])]()
    private val out = mutable.ArrayBuffer[Sentence]()

    private def sent: Long = out.length + 1L

    /** Adds a token row to the pending sentence and returns its URI
      * `:s{sent}_{id}`. The cells are read again at `flush`, so a reader
      * may still blank cells it consumed itself.
      *
      * A declared ID column overrides the positional id, and its cell is
      * obligatory (CoNLL2RDF.java:112-117). NOTE: the reference declares
      * "ID must contain integers" but its check is dead code (the catch at
      * CoNLL2RDF.java:116 can never fire — nothing parses the int); IDs
      * pass through verbatim, e.g. CoNLL-U ranges "1-2" mint :s1_1-2. We
      * match the actual behavior, only failing on a missing cell. */
    def row(cells: Array[String]): String = {
      val idCol = meta.idCol
      val id =
        if (idCol < 0) (rows.length + 1).toString
        else if (idCol < cells.length) cells(idCol).trim
        else throw new ArrayIndexOutOfBoundsException(
          s"if defined as label, the ID column is obligatory " +
            s"(doc $docId, sentence $sent, row ${rows.length + 1})")
      rows += ((id, cells))
      s":s${sent}_$id"
    }

    /** Emits the pending sentence, if any row is pending: its graph gets
      * the CoNLL triples, then `tree` adds the reader's own; `tree` runs
      * only then. Returns whether a sentence was emitted (pending comments
      * carry over otherwise). */
    def flush(tree: SentGraph => Unit): Boolean = rows.nonEmpty && {
      val g = SentGraph.empty
      buildSentence(g, sent, rows, comments, meta, linkPrev = sent > 1L)
      tree(g)
      out += Sentence(docId, sent, g.all)
      rows.clear()
      comments.clear()
      true
    }

    def sentences: Seq[Sentence] = out.toSeq
  }

  /** Parse one document's span sequence into sentences.
    *
    * @param cols declared column labels (positional); overridden by a
    *             `# global.columns = ...` comment if present.
    */
  def parseDoc(doc: InputDoc, cols: Seq[String]): Seq[Sentence] = {
    val asm = new Assembler(doc.doc_id, cols)
    for (span <- doc.spans.sortBy(_.offset)) {
      span.kind match {
        case "media" => // opaque payload; preserved upstream, ignored here
        case "comment" =>
          val m = GlobalColumns.matcher(span.text.trim)
          // the reference PEEKS for global.columns and resets the stream
          // (CoNLLStreamExtractor.findFieldsFromComments), so the line
          // also flows through as an ordinary comment → rdfs:comment;
          // the formatter later re-discovers columns from it
          // (CoNLLRDFFormatter.findColumnNamesInRDFBuffer)
          if (m.matches()) asm.meta = new SchemaMeta(m.group(1).trim.split("\\s+").toVector)
          asm.comments += span.text.trim.replaceFirst("^#\\s?", "")
        case kind => coreLine(kind, span.text) match {
          case Break => asm.flush(_ => ())
          case Row(cells) => asm.row(cells)
          case NoRow =>
        }
      }
    }
    asm.flush(_ => ())
    asm.sentences
  }
}
