package graft.conll

import scala.collection.mutable

/** PTB-style bracketing source (SURVEY §2.1 S8), reproducing
  * CoNLLBrackets2RDF semantics
  * (/root/reference/src/main/java/org/acoli/conll/rdf/CoNLLBrackets2RDF.java):
  *
  *  - bracket columns are auto-detected: a column is bracketing iff some
  *    cell contains a round bracket and every cell is empty, `*`, or
  *    bracket-bearing (:50-73);
  *  - each bracket cell contributes (prefix, token URI, suffix) entries;
  *    the entry stream is re-split at parentheses and folded with a stack:
  *    `(LABEL` opens `:b{COL}_{k} a powla:Node, conll:{COL}; rdf:value
  *    "LABEL"; powla:hasParent <top>`, tokens attach with hasParent/next,
  *    `)` closes (:163-198);
  *  - node URIs use the default numbering strategy `:b{COL}_{k}` with a
  *    per-column, per-document counter
  *    (CoNLLBracketsWithDefaultURIs2RDF.java:32-40);
  *  - non-bracket columns are delegated to the CoNLL core with bracket
  *    cells blanked (:117-121): the sentence assembler
  *    (`SpanParser.Assembler`) numbers sentences and tokens, applies the
  *    ID-cell rule and builds each sentence's CoNLL triples, exactly as
  *    for plain TSV; this reader adds the bracket tree triples to the
  *    same sentence graph (`SentGraph`), column by column;
  *  - lines are read by SpanParser's line rule (`SpanParser.coreLine`):
  *    an `<s>`/`<p>` line breaks the sentence, other single-line markup
  *    is skipped, and an inline `#…` comment is cut from a token row
  *    before its cells are split, for bracket-column detection too.
  */
object BracketsParser {

  /** Detection pass over all token rows (CoNLLBrackets2RDF.java:50-73). */
  def detectBracketColumns(rows: Seq[Array[String]], nCols: Int): Array[Boolean] = {
    val maybe = Array.fill[Option[Boolean]](nCols)(None)
    for (cells <- rows; i <- cells.indices if i < nCols) {
      val v = cells(i).trim
      val hasBracket = v.contains("(") || v.contains(")")
      if (hasBracket && maybe(i).isEmpty) maybe(i) = Some(true)
      if (!SpanParser.isEmptyCell(v) && v != "*" && !hasBracket) maybe(i) = Some(false)
    }
    maybe.map(_.getOrElse(false))
  }

  /** Span-URI minting (CoNLLBracketsWithSpanURIs2RDF.java:32-53): a
    * node's URI is `{firstTokenURI}_{lastTokenURI-sans-colon}` — NIF
    * style, so co-extensional (non-branching) nodes MERGE into one URI
    * (the reference documents this as lossy). Faithfully reproduced
    * quirks: the `last` scan runs one line past the balancing ')' and
    * only walks back while that line is NOT a token URI — so when the
    * line right after the close is the next token, that token leaks
    * into the span (e.g. `(S w1 (NP w2 w3) w4)` gives NP the URI
    * `:s1_2_s1_4`, hand-traced). One divergence: a trailing token-less
    * bracket AIOOBEs the reference (`lines[first]` at length); we clamp
    * to the last line instead. */
  private def spanUri(lines: Array[String], i: Int): String = {
    var first = i
    while (first < lines.length && !lines(first).startsWith(":")) first += 1
    if (first == lines.length) first -= 1
    while (first > 0 && !lines(first).startsWith(":")) first -= 1
    var last = i + 1
    var open = 1
    while (last < lines.length && open > 0) {
      open += lines(last).count(_ == '(') - lines(last).count(_ == ')')
      last += 1
    }
    if (last == lines.length) last -= 1
    while (last > 0 && !lines(last).startsWith(":")) last -= 1
    lines(first) + "_" + lines(last).replaceAll(".*:", "")
  }

  /** getTTL (CoNLLBrackets2RDF.java:163-198), adding one column's tree
    * to the sentence graph `g`; URI minting selects the default counter
    * strategy or span URIs. */
  private def treeTriples(
      g: SentGraph,
      entries: Seq[String],
      col: String,
      counter: mutable.Map[String, Int],
      spanUris: Boolean
  ): Unit = {
    // re-split at parens: each '(' starts a line, each ')' ends one
    val lines = entries.mkString("\n")
      .replaceAll("\\(", "\n(").replaceAll("\\)", ")\n")
      .split("\n").map(_.trim).filter(_.nonEmpty)
    val nodes = mutable.Stack[String]()
    var lastSibling: String = null
    for (i <- lines.indices) {
      val n = lines(i)
      if (n.startsWith(":")) {
        if (nodes.nonEmpty) {
          if (lastSibling != null) g.add(lastSibling, "powla:next", n, oUri = true)
          g.add(n, "powla:hasParent", nodes.top, oUri = true)
          lastSibling = n
        }
      } else if (n.startsWith("(")) {
        val uri =
          if (spanUris) spanUri(lines, i)
          else {
            val k = counter.getOrElse(col, 0) + 1
            counter(col) = k
            s":b${col}_$k"
          }
        val v = n.replaceFirst("^\\(", "").trim
        if (lastSibling != null && nodes.nonEmpty)
          g.add(lastSibling, "powla:next", uri, oUri = true)
        g.add(uri, "rdf:type", "powla:Node", oUri = true)
        g.add(uri, "rdf:type", s"conll:$col", oUri = true)
        if (nodes.nonEmpty) g.add(uri, "powla:hasParent", nodes.top, oUri = true)
        if (v.nonEmpty) g.add(uri, "rdf:value", SpanParser.escapeLit(v), oUri = false)
        nodes.push(uri)
        lastSibling = null
      } else if (n.endsWith(")")) {
        lastSibling = if (nodes.nonEmpty) nodes.pop() else null
      }
    }
  }

  def parseDoc(doc: InputDoc, cols: Seq[String], spanUris: Boolean = false): Seq[Sentence] = {
    import SpanParser.{Break, Row}
    // "media" and "comment" spans have no tree or row effect
    val lines = doc.spans.sortBy(_.offset).collect {
      case s if s.kind != "media" && s.kind != "comment" => SpanParser.coreLine(s.kind, s.text)
    }
    val tokenRows = lines.collect { case Row(cells) => cells }
    val isBracket = detectBracketColumns(tokenRows, math.max(cols.length, tokenRows.map(_.length).maxOption.getOrElse(0)))

    val asm = new SpanParser.Assembler(doc.doc_id, cols)
    val colEntries = mutable.LinkedHashMap[Int, mutable.ArrayBuffer[String]]()
    val uriCounter = mutable.HashMap[String, Int]()

    def colLabel(i: Int): String = if (i < cols.length) cols(i) else cols.last
    def trees(g: SentGraph): Unit = colEntries.toSeq.sortBy(_._1).foreach { case (i, entries) =>
      treeTriples(g, entries.toSeq, colLabel(i), uriCounter, spanUris)
    }

    lines.foreach {
      case Break =>
        if (asm.flush(trees)) colEntries.clear()
      case Row(cells) =>
        val uri = asm.row(cells) // cells are read at flush: blanked below
        for (i <- cells.indices if i < isBracket.length && isBracket(i)) {
          val e = colEntries.getOrElseUpdate(i, mutable.ArrayBuffer())
          val v = cells(i).trim
          if (SpanParser.isEmptyCell(v)) e += uri
          else if (v.contains("*")) {
            e += v.replaceFirst("\\*[^\\*]*$", ""); e += uri
            e += v.replaceAll(".*\\*", "")
          } else if (v.contains(")")) {
            e += v.replaceFirst("\\).*", ""); e += uri
            e += v.replaceAll("^[\\)]*\\)", ")")
          } else {
            e += v; e += uri
          }
          cells(i) = "" // bracket annotation removed from the CoNLL row
        }
      case _ => // other markup, a '#' line: no row
    }
    asm.flush(trees)
    asm.sentences
  }
}
