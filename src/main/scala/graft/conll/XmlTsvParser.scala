package graft.conll

import scala.collection.mutable
import java.util.regex.Pattern

/** XML-enhanced TSV source (SketchEngine / CWB / TreeTagger chunker;
  * SURVEY §2.1 S7), reproducing XMLTSV2RDF's semantics
  * (/root/reference/src/main/java/org/acoli/conll/rdf/XMLTSV2RDF.java):
  *
  *  - single-line XML elements become `:x{id} a powla:Node, conll:XML_DATA;
  *    rdf:value "<el>"` plus `x:<attr> "<v>"` attribute triples
  *    (XMLTSV2RDF.java:152-169); the id counter is document-global and
  *    increments per opening/self-closing element (:15,66);
  *  - words and elements are chained with `powla:next` among siblings and
  *    `powla:hasParent` to the innermost open element (:139-151);
  *  - ~90 breaking element names (HTML + TEI) force sentence breaks, with
  *    still-open elements re-asserted as parents in the following sentence
  *    (:18-30, :66-80);
  *  - TSV rows are delegated to the CoNLL core: the sentence assembler
  *    (`SpanParser.Assembler`) numbers sentences and tokens, applies the
  *    ID-cell rule and builds each sentence's CoNLL triples, exactly as
  *    for plain TSV; this reader adds the powla tree triples to the same
  *    sentence graph (`SentGraph`).
  *
  * Parsing is per-document (inherently sequential within a doc), parallel
  * across docs — run inside Dataset[InputDoc].flatMap.
  */
object XmlTsvParser {

  /** XMLTSV2RDF.java:18-30. */
  val breakingMarkupElements: Set[String] = Set(
    "head", "header", "nav", "section", "article", "table", "caption", "br", "body",
    "h1", "h2", "h3", "h4", "h5", "h6", "p",
    "abstract", "bibl", "biblFull", "biblStruct", "caption", "category", "collection",
    "div", "div1", "div2", "div3", "div4", "div5", "div6", "div7", "entry", "entryFree",
    "epigraph", "epilogue", "fDescr", "fDecl", "figDesc", "fileDesc", "floatingText",
    "front", "handDesc", "handNote", "handNotes", "headItem", "history", "hom",
    "imprint", "meeting", "monogr", "objectDesc", "p", "profileDesc", "projectDesc",
    "prologue", "publicationStmt", "recordingStmt", "respStmt", "revisionDesc",
    "roleDesc", "s", "scriptDesc", "seriesStmt", "settingDesc", "sourceDesc", "sp",
    "specDesc", "spGrp", "teiCorpus", "teiHeader", "text", "title", "titlePage",
    "titleStmt", "trailer", "transcriptionDesc", "typeDesc", "u", "witStart"
  )

  private val MarkupLine = Pattern.compile("<[^>]*>$")
  private val AttrPattern = Pattern.compile("([\\w:.-]+)\\s*=\\s*(\"[^\"]*\"|'[^']*')")

  private sealed trait TreeEntry
  private final case class OpenEl(id: Int, element: String, atts: Seq[(String, String)], selfClose: Boolean) extends TreeEntry
  private case object CloseEl extends TreeEntry
  private final case class WordRef(uri: String) extends TreeEntry

  private def elementName(line: String): String =
    line.replaceFirst("<", "").replaceAll("[^a-zA-Z0-9].*", "")

  private def parseAttrs(line: String): Seq[(String, String)] = {
    val inner = line.replaceFirst("^<[^>/\\s]+", "").replaceFirst("[/]?>$", "").trim
    val m = AttrPattern.matcher(inner)
    val out = mutable.ArrayBuffer[(String, String)]()
    while (m.find()) {
      val v = m.group(2)
      out += ((m.group(1), v.substring(1, v.length - 1)))
    }
    out.toSeq
  }

  /** The getTTL stack algorithm (XMLTSV2RDF.java:131-173): add a
    * sentence's tree-entry sequence to its graph as powla triples. */
  private def treeTriples(entries: Iterable[TreeEntry])(g: SentGraph): Unit = {
    val nodeUris = mutable.Stack[String]()
    var lastSibling: String = null
    for (e <- entries) e match {
      case WordRef(uri) =>
        if (nodeUris.nonEmpty) {
          if (lastSibling != null) g.add(lastSibling, "powla:next", uri, oUri = true)
          g.add(uri, "powla:hasParent", nodeUris.top, oUri = true)
        }
        lastSibling = uri
      case CloseEl =>
        lastSibling = if (nodeUris.nonEmpty) nodeUris.pop() else null
      case OpenEl(id, element, atts, selfClose) =>
        val uri = s":x$id"
        if (lastSibling != null) g.add(lastSibling, "powla:next", uri, oUri = true)
        if (nodeUris.nonEmpty) g.add(uri, "powla:hasParent", nodeUris.top, oUri = true)
        g.add(uri, "rdf:type", "powla:Node", oUri = true)
        g.add(uri, "rdf:type", "conll:XML_DATA", oUri = true)
        g.add(uri, "rdf:value", SpanParser.escapeLit(element), oUri = false)
        for ((k, v) <- atts) g.add(uri, s"x:$k", SpanParser.escapeLit(v), oUri = false)
        if (selfClose) lastSibling = uri
        else { lastSibling = null; nodeUris.push(uri) }
    }
  }

  def parseDoc(doc: InputDoc, cols: Seq[String]): Seq[Sentence] = {
    val asm = new SpanParser.Assembler(doc.doc_id, cols)
    var xmlId = 0
    val tree = mutable.ArrayBuffer[TreeEntry]()
    // still-open elements, re-asserted at the start of each new sentence
    val stack = mutable.ArrayBuffer[OpenEl]()

    for (span <- doc.spans.sortBy(_.offset)) {
      val line = span.text.trim
      span.kind match {
        case "media" | "comment" => // passthrough, no tree effect
        case kind if kind == "sentence_break" || line.isEmpty =>
          if (asm.flush(treeTriples(tree))) { tree.clear(); tree ++= stack }
        case _ if MarkupLine.matcher(line).matches() =>
          val isClose = line.startsWith("</")
          val isSelf = line.contains("/>")
          if (!isClose) xmlId += 1
          if (breakingMarkupElements.contains(elementName(line)) &&
              asm.flush(treeTriples(tree))) { tree.clear(); tree ++= stack }
          if (isClose) {
            tree += CloseEl
            if (stack.nonEmpty) stack.remove(stack.length - 1)
          } else {
            val o = OpenEl(xmlId, elementName(line), parseAttrs(line), isSelf)
            tree += o
            if (!isSelf) stack += o
          }
        case _ =>
          val cleaned = if (line.indexOf('#') >= 0) line.replaceFirst("#.*", "").trim else line
          if (cleaned.nonEmpty) tree += WordRef(asm.row(cleaned.split("\t", -1)))
      }
    }
    asm.flush(treeTriples(tree))
    asm.sentences
  }
}
