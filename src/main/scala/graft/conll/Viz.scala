package graft.conll

import scala.collection.mutable

/** Console / GraphViz diagnostics (SURVEY §2.2 K5/K6), re-expressed over
  * SentGraph from the reference's Jena implementations:
  *
  *  - `colorTtl` — the DEBUG mode's ANSI colorizer over canonical TTL
  *    (CoNLLRDFFormatter.colorTTL, CoNLLRDFFormatter.java:118-123);
  *  - `asciiTree` — the GRAMMAR mode's ANSI dependency-tree rendering
  *    (CoNLLRDFFormatter.extractCoNLLGraph, :~560-700): one line per
  *    word in nif:nextWord order with depth dots, head direction,
  *    edge dashes, annotations (blue-underlined rel names, red OLiA
  *    concepts, yellow-background open-ie terms);
  *  - `termGraph` — the SEMANTICS mode's open-IE term graph
  *    (CoNLLRDFFormatter.extractTermGraph, :330-415): sentence line +
  *    per-subject degree headers + grouped predicate lines;
  *  - `toDot` — the GraphViz dump (CoNLLRDFViz.produceDot,
  *    CoNLLRDFViz.java:60-292): a CoNLLView cluster (words + their
  *    literal tables, HEAD edges labeled with conll:EDGE) and a
  *    GraphView cluster (every subject, color-coded word/sentence/
  *    other, invisible chain anchors, rank groups, optional SPARQL
  *    query box).
  *
  * These are per-sentence diagnostics: renderers run inside
  * Dataset[Sentence].map (narrow), typically behind a LIMIT — never a
  * corpus-scale sink.
  */
object Viz {

  // CoNLLRDFFormatter.java:36-55
  val RESET = "\u001b[0m"
  val BRIGHTER = "\u001b[1m"
  val ULINE = "\u001b[4m"
  val RED = "\u001b[31m"
  val BLUE = "\u001b[34m"
  val CYAN = "\u001b[36m"
  val WHITE = "\u001b[37m"
  val YLW_BK = "\u001b[43m"
  val CYAN_BK = "\u001b[46m"

  /** K6 DEBUG colorizer (CoNLLRDFFormatter.colorTTL): terms: on yellow
    * background, rdfs:label values cyan, nif:* yellow-ish, conll:*
    * bright blue on cyan background. */
  def colorTtl(buffer: String): String =
    buffer.replaceAll("(terms:[^ ]*)", YLW_BK + "$1" + RESET)
      .replaceAll("(rdfs:label +)(\"[^\"]*\")", "$1" + CYAN + "$2" + RESET)
      .replaceAll("(nif:[^ ]*)", "\u001b[33m$1" + RESET)
      .replaceAll("(conll:[^ \n]*)([^;\n]*[;]?)",
        CYAN_BK + BRIGHTER + BLUE + "$1" + RESET + CYAN_BK + BRIGHTER + "$2" + RESET)

  private def digits(s: String): String = s.replaceAll("[^0-9]", "")

  /** K6 GRAMMAR renderer (extractCoNLLGraph). Deterministic where the
    * reference leaves order to Jena (same-rel values, OLiA type order). */
  def asciiTree(sentence: Sentence, includeTermConcepts: Boolean = true): String = {
    val g = SentGraph(sentence)
    val order = g.wordOrder

    val ids = order.map(_.replaceAll(".*[\\\\/#:]", ""))
    val words = order.map(w => g.objects(w, "conll:WORD").headOption.getOrElse(""))
    val annos = order.map { w =>
      val sb = new StringBuilder
      // conll:* rels except HEAD/EDGE/WORD, rel underlined once per rel
      val rels = g.all.filter(t => t.s == w && t.p.startsWith("conll:") &&
        t.p != "conll:HEAD" && t.p != "conll:EDGE" && t.p != "conll:WORD")
        .sortBy(t => (t.p, t.o))
      var rel = ""
      for (t <- rels) {
        val local = t.p.replaceFirst(".*#", "").stripPrefix("conll:")
        if (rel != local) sb.append(BLUE).append(ULINE).append(local).append(RESET).append(" ")
        rel = local
        sb.append(t.o
          .replaceFirst("^http://purl.org/acoli/open-ie/(.*)$", YLW_BK + "$1" + RESET)
          .replaceFirst(".*#", "").stripPrefix("terms:")).append(" ")
      }
      // OLiA type concepts in red
      for (c <- g.objects(w, "rdf:type").filter(_.startsWith("olia:")).sorted)
        sb.append(RED).append(c).append(RESET).append(" ")
      // OLiA features (rel and concept both olia-namespaced)
      for {
        t <- g.all.filter(t => t.s == w && t.p.startsWith("olia:") && t.oUri)
          .sortBy(t => (t.p, t.o))
        c <- g.objects(t.o, "rdf:type").filter(_.startsWith("olia:")).sorted
      } sb.append(RED).append(ULINE).append(t.p).append(RESET).append(".")
        .append(RED).append(c).append(RESET).append(" ")
      sb.toString
    }
    val headDir = order.map { w =>
      g.objects(w, "conll:HEAD").headOption match {
        case Some(h) =>
          val (dh, dw) = (digits(h), digits(w))
          val before =
            try dh.toLong < dw.toLong
            catch { case _: NumberFormatException => h.compareTo(w) < 1 }
          if (before) " \\ " else " / "
        case None => "   "
      }
    }
    // COUNT(DISTINCT ?h) over conll:HEAD+, walked per sentence
    val depth = order.map(w => Rules.closure(w)(g.objects(_, "conll:HEAD")).size)
    val edges = order.map { w =>
      val es = g.objects(w, "conll:EDGE")
      if (es.isEmpty) "" else es.maxBy(e => (e.length, e))
    }
    val terms = order.map { w =>
      if (!includeTermConcepts) ""
      else g.objects(w, "rdf:type").filter(_.startsWith("terms:")).sorted
        .map(_.stripPrefix("terms:")).mkString(" ")
    }

    val maxId = (0 +: ids.map(_.length)).max
    val maxWord = (0 +: words.map(_.length)).max
    val maxEdge = (0 +: edges.map(_.length)).max
    val maxTerm = (0 +: terms.map(_.length)).max
    val maxDepth = (0 +: depth).max

    val sb = new StringBuilder
    for (i <- order.indices) {
      sb.append(ids(i)).append(" " * (maxId - ids(i).length))
      sb.append(WHITE).append(" ." * depth(i)).append(RESET)
      sb.append(headDir(i)).append(edges(i))
      sb.append((if (depth(i) > 1) "--" else "  ") * (maxDepth - depth(i)))
      sb.append((if (depth(i) > 1) "-" else " ") * (maxEdge - edges(i).length))
      sb.append(" ").append(words(i)).append(" " * (maxWord - words(i).length))
      sb.append(" ").append(YLW_BK).append(terms(i)).append(RESET)
      sb.append(" " * (maxTerm - terms(i).length))
      sb.append(" ").append(annos(i)).append("\n")
    }
    sb.toString
  }

  /** K6 SEMANTICS renderer (extractTermGraph,
    * CoNLLRDFFormatter.java:330-415): the open-IE term graph — the
    * original sentence, then one block per subject of a terms:-flavored
    * triple (`subject (in > node > out)`, degrees = distinct incoming/
    * outgoing terms:-predicate edges — the reference's two degree
    * subqueries become two hash maps per sentence), with predicate
    * lines `\t r o` grouped by subject, `; o2` continuation on a
    * repeated (s, r), rdf:type as `a` (suppressed entirely when
    * `includeTermConcepts` is false, state still advancing — faithful
    * to the reference's row loop), terms:* on yellow, rdfs:labels
    * cyan-quoted. Row order mirrors the reference's
    * `ORDER BY ?nr ?snr ?onr ?r ?s ?o` with nr/snr/onr the digit
    * concatenations of the subject/object ids (unbound-first; computed
    * on the local names, i.e. a digit-free base URI). */
  def termGraph(sentence: Sentence, includeTermConcepts: Boolean = true): String = {
    val g = SentGraph(sentence)
    val base = s"urn:graft:${sentence.docId}#"
    val sb = new StringBuilder
    for (w <- g.wordOrder; word <- g.objects(w, "conll:WORD").headOption)
      sb.append(word).append(" ")

    // ?s ?r ?o rows: open-IE content, non-conll predicate (:358-360)
    val rows = g.all.filter(t =>
      !t.p.startsWith("conll:") &&
        (t.p.startsWith("terms:") || (t.oUri && t.o.startsWith("terms:")))).distinct
    // degree subqueries (:367-372): terms:-predicate edges only
    val termTriples = g.all.filter(_.p.startsWith("terms:")).distinct
    val outDeg = termTriples.groupBy(_.s).map { case (k, v) => k -> v.size }
    val inDeg = termTriples.filter(_.oUri).groupBy(_.o).map { case (k, v) => k -> v.size }

    def nrOf(x: String): Option[BigInt] = {
      val d = x.replaceAll("[^0-9]", "")
      if (d.isEmpty) None else Some(BigInt(d))
    }
    val sorted = rows.sortBy { t =>
      val snr = nrOf(t.s)
      val onr = if (t.oUri) nrOf(t.o) else None
      val nr = if (snr.isEmpty) None else onr
      (nr, snr, onr, Serializers.expand(t.p, base), Serializers.expand(t.s, base),
        if (t.oUri) Serializers.expand(t.o, base) else t.o)
    }

    var s = ""; var r = ""; var o = ""
    for (t <- sorted) {
      var nextS = Serializers.expand(t.s, base).replaceAll(".*[#/]", "")
      for (l <- g.objects(t.s, "rdfs:label").headOption)
        nextS = nextS + " " + CYAN + "\"" + l + "\"" + RESET
      if (nextS != s)
        sb.append("\n").append(nextS).append(" (")
          .append(inDeg.getOrElse(t.s, 0)).append(" > node > ")
          .append(outDeg.getOrElse(t.s, 0)).append(")")
      val nextR =
        if (t.p == "rdf:type") "a"
        else if (t.p.startsWith("terms:")) YLW_BK + t.p + RESET
        else t.p
      var nextO =
        if (t.oUri && t.o.startsWith("terms:")) YLW_BK + t.o + RESET
        else if (t.oUri) Serializers.expand(t.o, base).replaceAll("[^ \t]*[#/]", "")
        else t.o.replaceAll("[^ \t]*[#/]", "")
      if (t.oUri)
        for (l <- g.objects(t.o, "rdfs:label").headOption)
          nextO = nextO + " " + CYAN + "\"" + l + "\"" + RESET
      if (nextR != "a" || includeTermConcepts) {
        if (nextS != s || nextR != r) sb.append("\n\t").append(nextR)
        else if (nextO != o) sb.append("; ")
        if (nextS != s || nextR != r || nextO != o) sb.append(" ").append(nextO)
      }
      s = nextS; r = nextR; o = nextO
    }
    sb.append("\n").toString
  }

  /** K5 DOT dump (CoNLLRDFViz.produceDot): CoNLLView + GraphView
    * clusters, optional SPARQL query box. One sentence per call, like
    * the reference ("should be run on a single sentence"). */
  def toDot(sentence: Sentence, query: Option[String] = None): String = {
    val g = SentGraph(sentence)
    val base = s"urn:graft:${sentence.docId}#"
    def dotId(t: String): String = "B" + Serializers.expand(t, base)
    val wordSet = g.words.toSet
    def isWord(t: String): Boolean = wordSet.contains(t)
    val subjects = g.all.map(_.s).distinct
    val hasProps = subjects.toSet

    def labelOf(s: String): String = {
      val sb = new StringBuilder("<table border='0' cellborder='0' cellspacing='0'>")
      sb.append(s"<tr><td colspan='2' align='center'>$s</td></tr>")
      val types = g.objects(s, "rdf:type")
      if (types.nonEmpty)
        sb.append("<tr><td colspan='2' align='center'>a ")
          .append(types.mkString(", ")).append("</td></tr>")
      for (t <- g.all if t.s == s && !t.oUri)
        sb.append(s"<tr><td align='left'>${t.o}</td><td align='right'><sub>${t.p}</sub></td></tr>")
      sb.append("</table>").toString
    }

    val out = new StringBuilder
    out.append("digraph {\ncharset=\"utf-8\";\n#rankdir=LR;\n\n")

    // CoNLLView: word nodes + word-to-word edges
    val sfx = "_conll"
    out.append("subgraph cluster_deps {\n")
      .append("graph [ label=<<b>CoNLLView</b>>, size=\"12,12\", color=\"white\" ];\n")
    for (w <- g.words)
      out.append("\"").append(dotId(w)).append(sfx)
        .append("\" [label=<").append(labelOf(w)).append(">,shape=box,color=gray];\n")
    g.foreachTriple { (s, p, o, u) =>
      if (u && isWord(s) && isWord(o)) {
        out.append("\"").append(dotId(s)).append(sfx).append("\" -> \"")
          .append(dotId(o)).append(sfx).append("\" ")
        if (p == "nif:nextWord")
          out.append("[label=\" \", color=\"gray\", weight=\"10\"];\n")
        else if (p == "conll:HEAD") {
          val edge = g.objects(s, "conll:EDGE").headOption.getOrElse("null")
          out.append(s"""[weight="0", constraint="false", label="$edge"];\n""")
        } else
          out.append(s"""[weight="0", constraint=false, color="blue", fontfolor="blue",label="$p"];\n""")
      }
    }
    out.append("}\n\n")

    // GraphView: every subject, colored by kind
    out.append("subgraph cluster_graph {\n")
      .append("graph [ label=<<b>GraphView</b>>, size=\"12,12\", color=\"white\" ];\n")
    for (s <- subjects) {
      val color =
        if (isWord(s)) "gray"
        else if (g.has(s, "rdf:type", "nif:Sentence") || g.has(s, "nif:nextSentence")) "black"
        else "blue"
      out.append("\"").append(dotId(s)).append("\" [label=<").append(labelOf(s))
        .append(s">,shape=box,color=$color];\n")
    }
    out.append("\"B0\" [label=\"\", shape=box, color=invis];\n")
    for (w <- g.words)
      out.append("\"B0\" -> \"").append(dotId(w)).append("\" [color=\"invis\"];\n")
    out.append("{ rank=same ")
    for (w <- g.words) out.append("\"").append(dotId(w)).append("\" ")
    out.append("};\n")

    val possibleRoots = mutable.LinkedHashSet[String]()
    g.foreachTriple { (s, p, o, u) =>
      if (u && hasProps.contains(o)) {
        possibleRoots += dotId(o)
        if (p != "rdf:type" && !(p == "conll:HEAD" && isWord(o))) {
          out.append("\"").append(dotId(s)).append("\" -> \"").append(dotId(o)).append("\" ")
          if (p == "nif:nextWord") out.append("[color=\"invis\", weight=\"10\"];\n")
          else if (p == "nif:nextSentence") out.append(s"""[label="$p", color="gray"];\n""")
          else if (p == "conll:HEAD") {
            val edge = g.objects(s, "conll:EDGE").headOption.getOrElse("null")
            out.append(s"""[label="$edge"];\n""")
          } else out.append(s"""[weight="100", color="blue", fontfolor="blue",label="$p"];\n""")
        }
      }
    }

    // invisible anchors per nextWord pair; equal rank per nextSentence pair
    var i = 0
    for ((s, o, _) <- g.pairs("nif:nextWord")) {
      i += 1
      out.append(s""""B$i" [label="", shape=box, color=invis];\n""")
      out.append("\"").append(dotId(s)).append(s"""\" -> "B$i" [color="invis",weight="10"];\n""")
      out.append("\"").append(dotId(o)).append(s"""\" -> "B$i" [color="invis",weight="10"];\n""")
    }
    for ((s, o, _) <- g.pairs("nif:nextSentence") if hasProps.contains(o))
      out.append("{ rank=same \"").append(dotId(s)).append("\" \"").append(dotId(o)).append("\" };\n")
    out.append("}\n\n")

    for (q <- query.filter(_.nonEmpty)) {
      if (possibleRoots.nonEmpty) {
        out.append("subgraph cluster_sparql { \n")
          .append("graph [label=<<b>SPARQL Update Query</b>> size=\"12,12\" color=\"white\"];\n")
          .append("node [shape=box]\n")
        val esc = q.replaceAll("\"", "'").replaceAll("\n", "\\\\l")
        out.append(s"""node1 [label="$esc"]\n}\n\n""")
        for (r <- possibleRoots)
          out.append("\"").append(r).append("\" -> \"node1\" [color=\"invis\", minlen=2];\n")
      }
    }
    out.append("}\n\n")
    out.toString
  }
}
