package graft.conll

import scala.collection.mutable

/** Minimal Turtle reader for the CoNLL-RDF subset (SURVEY §2.1 S3):
  * prefixed names, `a` keyword, `;` property lists, `,` object lists,
  * quoted literals (no raw quotes inside — the pipeline escapes them to
  * `&quot;`, CoNLL2RDF.java:138). Used for conformance round-trips of the
  * K1 canonical TTL sink; production data stays in Datasets between
  * stages, so this is a test-surface reader, not a hot path — matching
  * the reference's own usage (the Updater's chunker,
  * CoNLLRDFUpdater.java:798-940).
  *
  * Chunking: sentences are separated by blank lines; `@prefix` and `#`
  * lines delimit/annotate chunks (CoNLLRDFUpdater.java:804-829).
  */
object TtlParser {

  /** Parse one TTL chunk (one or more statements) into triples: a
    * snapshot of the chunk's [[SentGraph]], in the graph's order
    * (predicates by first use), the order its rewrite cascade sees. */
  def parseChunk(text: String): Seq[Triple] = {
    val g = SentGraph.empty
    // join continuation lines into statements terminated by '.'
    val body = text.split("\n")
      .filterNot(l => l.trim.startsWith("@prefix") || l.trim.startsWith("#"))
      .mkString("\n")
    for (stmt <- splitTop(body, '.') if stmt.trim.nonEmpty) {
      var subj: String = null
      for (prop <- splitTop(stmt, ';')) {
        val toks = tokens(prop.trim)
        if (toks.nonEmpty) {
          var rest = toks
          if (subj == null) { subj = toks.head; rest = toks.tail }
          if (rest.nonEmpty) {
            val predRaw = rest.head
            val pred = if (predRaw == "a") "rdf:type" else predRaw
            for (obj <- rest.tail if obj != ",") {
              if (obj.startsWith("\""))
                g.add(subj, pred, obj.substring(1, obj.length - 1), oUri = false)
              else g.add(subj, pred, obj, oUri = true)
            }
          }
        }
      }
    }
    g.all
  }

  /** Parse a whole document of blank-line-separated sentence chunks. */
  def parseDocument(text: String): Seq[Seq[Triple]] =
    text.split("\n\\s*\n").toSeq.map(_.trim).filter(_.nonEmpty)
      .map(parseChunk).filter(_.nonEmpty)

  /** Split on `sep` outside quoted strings. A '.' only terminates a
    * statement when followed by whitespace/EOL (URIs may contain dots). */
  private def splitTop(s: String, sep: Char): Seq[String] = {
    val parts = mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var inQuote = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '"') { inQuote = !inQuote; cur += c }
      else if (!inQuote && c == sep &&
        (sep != '.' || i + 1 >= s.length || s.charAt(i + 1).isWhitespace)) {
        parts += cur.toString; cur.clear()
      } else cur += c
      i += 1
    }
    if (cur.nonEmpty) parts += cur.toString
    parts.toSeq
  }

  /** Tokenize one property fragment into terms (quoted literals kept). */
  private def tokens(s: String): Seq[String] = {
    val out = mutable.ArrayBuffer[String]()
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == ',') { out += ","; i += 1 }
      else if (c == '"') {
        val end = s.indexOf('"', i + 1)
        out += s.substring(i, end + 1)
        i = end + 1
      } else {
        var j = i
        while (j < s.length && !s.charAt(j).isWhitespace && s.charAt(j) != ',' && s.charAt(j) != '"') j += 1
        out += s.substring(i, j)
        i = j
      }
    }
    out.toSeq
  }
}
