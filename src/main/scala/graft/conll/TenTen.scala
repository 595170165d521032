package graft.conll

import org.apache.spark.sql.Dataset
import scala.collection.mutable

/** TenTen (SketchEngine vertical dialect) pre-processor (SURVEY §2.1 S9),
  * reproducing TenTen2XMLTSV's semantics
  * (/root/reference/src/main/java/org/acoli/conll/rdf/TenTen2XMLTSV.java):
  *
  *  - lines wrapped in a data tag (default kwik/left/right) carry embedded
  *    CoNLL: XML entities are unescaped, then the content splits at spaces
  *    into bracket chunks and slash-delimited rows (:120-161);
  *  - a chunk with ≥ 8 slashes is a CoNLL row ('/' → TAB, brackets kept
  *    intact — the "weird heading lines" pass replaces '/' only OUTSIDE
  *    brackets, :163-198); a chunk holding several brackets (`</s><s>`)
  *    is split at '>' into one line each (:107-115);
  *  - `--repair`: a closing bracket with no tracked opening emits an
  *    artificial `<name>` first (:230-242);
  *  - `--keep`: non-matching lines pass through, else they are dropped.
  *
  * The reference is a stdin→stdout stream; here the unit is one document
  * (Dataset[InputDoc]-shaped flatMap, like every other source): repair
  * state is per-document, so the operator is narrow and embarrassingly
  * parallel across documents.
  */
object TenTen {

  val defaultDataTags: Seq[String] = Seq("kwik", "left", "right")

  private final case class Line(data: String) {
    private val t = data.trim
    val isOpening: Boolean = t.matches("<[^/]*>")
    val isClosing: Boolean = !isOpening && t.matches("</(.*)>")
    val isSelfClosing: Boolean = !isOpening && !isClosing && t.matches("<(.*)/>")
    val isConll: Boolean = !isOpening && !isClosing && !isSelfClosing
    val text: String = if (isConll) data else t
    def name: String = if (isConll) null else t.replaceAll("[<>/]", "")
  }

  private def countOf(s: String, c: Char): Int = s.count(_ == c)

  /** `</s><s>` → ["</s>", "<s>"] (TenTen2XMLTSV.java:107-115). */
  private def splitBrackets(chunk: String): Seq[Line] =
    chunk.split(">").toSeq.map(e => Line((e + ">").trim))

  /** Space-split respecting brackets (TenTen2XMLTSV.java:120-161). */
  private def splitEmbedded(conll: String): Seq[Line] = {
    val out = mutable.ArrayBuffer[Line]()
    val buffer = new StringBuilder
    var insideBracket = false
    for (ch <- conll) {
      if (insideBracket) {
        if (ch == '>') insideBracket = false
        buffer.append(ch)
      } else {
        if (ch == '<') insideBracket = true
        if (ch == ' ' && buffer.toString.trim.nonEmpty) {
          val b = buffer.toString
          if (countOf(b, '/') >= 8) out += Line(b.trim)
          else if (countOf(b, '>') > 1) out ++= splitBrackets(b)
          else out += Line(b.trim)
          buffer.clear()
        }
        buffer.append(ch)
      }
    }
    val b = buffer.toString
    if (countOf(b, '/') < 8 && countOf(b, '>') > 1) out ++= splitBrackets(b)
    else out += Line(b)
    out.toSeq
  }

  /** '/' → TAB outside brackets; plain brackets pass (:163-198). */
  private def toConll(s: String): String =
    if (s.contains("<") && s.contains(">")) {
      if (countOf(s, '/') > 1) {
        val out = new StringBuilder
        var insideBracket = false
        for (ch <- s) {
          if (insideBracket) {
            if (ch == '>') insideBracket = false
            out.append(ch)
          } else {
            if (ch == '<') insideBracket = true
            out.append(if (ch == '/') '\t' else ch)
          }
        }
        out.toString
      } else s.trim
    } else s.replace('/', '\t')

  private def unescape(s: String): String =
    s.replaceAll("&lt;", "<").replaceAll("&gt;", ">").replaceAll("&quot;", "\"")

  /** One document's vertical lines → XML-TSV lines. Pure; per-doc repair
    * state. */
  def convert(
      lines: Seq[String],
      dataTags: Seq[String] = defaultDataTags,
      keep: Boolean = false,
      repair: Boolean = false): Seq[String] = {
    val patterns = dataTags.map(t => s"<$t>(.*)</$t>".r)
    val out = mutable.ArrayBuffer[String]()
    val openBrackets = mutable.ArrayBuffer[String]() // tracked opening names
    for (raw <- lines) {
      val line = raw.trim
      patterns.iterator
        .map(p => line match { case p(content) => content; case _ => null })
        .find(_ != null) match {
        case Some(content) =>
          for (l <- splitEmbedded(unescape(content))) {
            if (!l.isConll && repair) {
              if (l.isOpening) openBrackets += l.name
              else if (l.isClosing) {
                val i = openBrackets.indexOf(l.name)
                if (i < 0) out += s"<${l.name}>" // artificial opening
                else openBrackets.remove(i)
              }
            }
            out += toConll(l.text)
          }
        case None => if (keep) out += raw
      }
    }
    out.toSeq
  }

  /** Dataset surface: (doc_id, vertical lines) → repaired InputDocs, the
    * converted lines classified by `TsvIngest.toSpans`. Narrow (map);
    * plugs straight into XmlTsvParser.parseDoc. */
  def repairDocs(
      docs: Dataset[(String, Seq[String])],
      dataTags: Seq[String] = defaultDataTags,
      keep: Boolean = false,
      repair: Boolean = true): Dataset[InputDoc] = {
    import docs.sparkSession.implicits._
    docs.map { case (id, lines) =>
      InputDoc(id, TsvIngest.toSpans(convert(lines, dataTags, keep, repair)))
    }
  }
}
