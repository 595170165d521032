package graft.tools

import graft.Session
import graft.conll._
import graft.queries.KgOracle

/** Ordered sentence dump of the three CoNLL-family readers over their
  * deterministic corpora, for a byte compare of two trees after a reader
  * change: each corpus's docs are collected, sorted by doc id and parsed
  * on the driver, and every sentence is printed with its triples in the
  * order the rewrite cascade sees them, `SentGraph(sentence).all`.
  *
  * {{{
  * sbt "Test/runMain graft.tools.ReaderDump <testdata dir, e.g. sf0.01> <out file>"
  * }}}
  *
  * It uses only the readers' public entry points, so the same file also
  * compiles in an older checkout.
  */
object ReaderDump {

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: ReaderDump <testdata dir> <out file>")
    val Array(dir, outFile) = args
    val s = Session.local(4)
    import s.implicits._
    val o = KgOracle
    val span = (d: InputDoc, cols: Seq[String]) => SpanParser.parseDoc(d, cols)
    val xml = (d: InputDoc, cols: Seq[String]) => XmlTsvParser.parseDoc(d, cols)
    val corpora: Seq[(String, () => Array[InputDoc], Seq[String], (InputDoc, Seq[String]) => Seq[Sentence])] = Seq(
      ("SpanParser detDocs", () => o.detDocs(s, dir).collect(), o.detCols, span),
      ("SpanParser detDirtyDocs", () => o.detDirtyDocs(s, dir).collect(), o.detDirtyCols, span),
      ("SpanParser detSrlDocs", () => o.detSrlDocs(s, dir).collect(), o.detSrlCols, span),
      ("SpanParser detPlusDocs", () => o.detPlusDocs(s, dir).collect(), Seq("IGNORE"), span),
      ("SpanParser detParseDocs", () => o.detParseDocs(s, dir).collect(), o.detParseCols, span),
      ("SpanParser detSegDocs", () => o.detSegDocs(s, dir).collect()
        .map(SegmentSplitter.insertNewSegmentComments), o.detSegCols, span),
      ("SpanParser DocGen.docs(2000)", () => DocGen.docs(s, 2000).collect(), DocGen.columns, span),
      ("XmlTsvParser detXmlDocs", () => o.detXmlDocs(s, dir).collect(), o.detXmlCols, xml),
      ("XmlTsvParser detXmlGlueDocs", () => o.detXmlGlueDocs(s, dir).collect(), o.detXmlCols, xml),
      ("XmlTsvParser detTenDocs", () => TenTen.repairDocs(o.detTenDocs(s, dir)).collect(),
        o.detTenCols, xml),
      ("BracketsParser detBracketDocs", () => o.detBracketDocs(s, dir).collect(), o.detBracketCols,
        (d: InputDoc, cols: Seq[String]) => BracketsParser.parseDoc(d, cols)),
      ("BracketsParser detBracketDocs spanUris", () => o.detBracketDocs(s, dir).collect(),
        o.detBracketCols, (d: InputDoc, cols: Seq[String]) => BracketsParser.parseDoc(d, cols, spanUris = true))
    )
    val out = new java.io.PrintWriter(outFile, "UTF-8")
    try for ((name, docs, cols, parse) <- corpora) {
      var nSents = 0L
      var nTriples = 0L
      out.println(s"== $name")
      for (d <- docs().sortBy(_.doc_id); sent <- parse(d, cols)) {
        val triples = SentGraph(sent).all
        out.println(s"${sent.docId}\t${sent.sent}")
        for (t <- triples) out.println(s"  ${t.s}\t${t.p}\t${t.o}\t${t.oUri}")
        nSents += 1
        nTriples += triples.length
      }
      println(s"[readers] $name: $nSents sentences, $nTriples triples")
    } finally out.close()
    s.stop()
  }
}
