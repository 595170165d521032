package graft.conll

import org.scalatest.funsuite.AnyFunSuite

/** XML-TSV (S7) + bracketing (S8) sources and the trees rule scripts.
  * Expectations hand-traced against XMLTSV2RDF.java / CoNLLBrackets2RDF.java
  * and the trees SPARQL sources. */
class TreeSourcesSpec extends AnyFunSuite {

  private def doc(lines: Seq[(String, String)]): InputDoc =
    InputDoc("d1", lines.zipWithIndex.map { case ((kind, text), i) => Span(kind, text, "", i) })

  private val xmlDoc = doc(Seq(
    ("markup", """<doc id="1" lang="en">"""),
    ("markup", "<head>"),
    ("token", "title\tNN"),
    ("markup", "</head>"),
    ("markup", "<p>"),
    ("markup", "<s>"),
    ("token", "the\tDT"),
    ("token", "fox\tNN"),
    ("markup", "</s>"),
    ("markup", "<g/>"),
    ("markup", "</p>"),
    ("markup", "</doc>")
  ))

  test("XML-TSV: elements become powla nodes with x: attributes; words attach") {
    val sents = XmlTsvParser.parseDoc(xmlDoc, Seq("WORD", "POS"))
    assert(sents.length == 2)
    val s1 = sents(0).triples.toSet
    // <doc> is :x1 (ids count opening elements, XMLTSV2RDF.java:66)
    assert(s1.contains(Triple(":x1", "rdf:type", "powla:Node", true)))
    assert(s1.contains(Triple(":x1", "rdf:value", "doc", false)))
    assert(s1.contains(Triple(":x1", "x:id", "1", false)))
    assert(s1.contains(Triple(":x1", "x:lang", "en", false)))
    // <head> is :x2, child of :x1; the title word hangs under it
    assert(s1.contains(Triple(":x2", "powla:hasParent", ":x1", true)))
    assert(s1.contains(Triple(":s1_1", "powla:hasParent", ":x2", true)))
    assert(s1.contains(Triple(":s1_1", "conll:WORD", "title", false)))

    val s2 = sents(1).triples.toSet
    // second sentence: <p>=:x3 under re-opened :x1, <s>=:x4 under :x3
    assert(s2.contains(Triple(":x3", "powla:hasParent", ":x1", true)))
    assert(s2.contains(Triple(":x4", "powla:hasParent", ":x3", true)))
    assert(s2.contains(Triple(":s2_1", "powla:hasParent", ":x4", true)))
    assert(s2.contains(Triple(":s2_1", "powla:next", ":s2_2", true)))
    // self-closing <g/> = :x5, sibling after closed :x4
    assert(s2.contains(Triple(":x4", "powla:next", ":x5", true)))
    assert(s2.contains(Triple(":x5", "powla:hasParent", ":x3", true)))
  }

  private val bracketDoc = doc(Seq(
    ("token", "the\tDT\t( (S (NP *"),
    ("token", "fox\tNN\t*)"),
    ("token", "runs\tVBZ\t(VP *))"),
    ("sentence_break", "")
  ))
  private val bracketCols = Seq("WORD", "POS", "PARSE")

  test("brackets: detection + tree construction with default URIs") {
    val rows = Seq(
      Array("the", "DT", "( (S (NP *"),
      Array("fox", "NN", "*)"),
      Array("runs", "VBZ", "(VP *))"))
    assert(BracketsParser.detectBracketColumns(rows, 3).toSeq == Seq(false, false, true))

    val sents = BracketsParser.parseDoc(bracketDoc, bracketCols)
    assert(sents.length == 1)
    val t = sents.head.triples.toSet
    // bracket cells removed from CoNLL columns
    assert(!t.exists(_.p == "conll:PARSE"))
    assert(t.contains(Triple(":s1_1", "conll:WORD", "the", false)))
    // nodes :bPARSE_1..4; NP node holds the first two words
    assert(t.contains(Triple(":bPARSE_2", "rdf:value", "S", false)))
    assert(t.contains(Triple(":bPARSE_3", "rdf:value", "NP", false)))
    assert(t.contains(Triple(":bPARSE_3", "powla:hasParent", ":bPARSE_2", true)))
    assert(t.contains(Triple(":s1_1", "powla:hasParent", ":bPARSE_3", true)))
    assert(t.contains(Triple(":s1_2", "powla:hasParent", ":bPARSE_3", true)))
    assert(t.contains(Triple(":s1_1", "powla:next", ":s1_2", true)))
    // VP follows NP as sibling under S
    assert(t.contains(Triple(":bPARSE_3", "powla:next", ":bPARSE_4", true)))
    assert(t.contains(Triple(":bPARSE_4", "rdf:value", "VP", false)))
    assert(t.contains(Triple(":s1_3", "powla:hasParent", ":bPARSE_4", true)))
    assert(t.contains(Triple(":bPARSE_4", "rdf:type", "conll:PARSE", true)))
  }

  test("the reference's bundled bracketing.sample.conll parses (S8 on real data)") {
    val lines = scala.io.Source.fromFile(ReferenceCorpus.file("bracketing.sample.conll"))
      .getLines().toVector
    val d = InputDoc("ptb", lines.zipWithIndex.map { case (l, i) =>
      val kind =
        if (l.trim.isEmpty) "sentence_break"
        else if (l.trim.startsWith("#")) "comment"
        else "token"
      Span(kind, l, "", i)
    })
    val cols = Seq("WORD", "POS", "PARSE_ON", "POS", "PARSE_PTB") // tree2bracket.sparql:8
    val rows = lines.filter(l => l.trim.nonEmpty && !l.trim.startsWith("#"))
      .map(_.split("\t", -1))
    assert(BracketsParser.detectBracketColumns(rows, 5).toSeq ==
      Seq(false, false, true, false, true))
    val sents = BracketsParser.parseDoc(d, cols)
    assert(sents.length == 2) // the sample repeats the sentence twice
    val t = sents.head.triples
    val onValues = t.collect {
      case Triple(s, "rdf:value", v, false) if s.startsWith(":bPARSE_ON") => v
    }.toSet
    assert(Set("S", "NP-SBJ", "VP", "PP-TMP", "NP", "SBAR-NOM", "WHNP-2").subsetOf(onValues))
    // Nicaraguan sits under NP-SBJ in the ON tree and NML in the PTB tree
    val parents = t.collect { case Triple(":s1_1", "powla:hasParent", p, true) => p }
    def valueOf(node: String) = t.collectFirst {
      case Triple(`node`, "rdf:value", v, false) => v }
    assert(parents.flatMap(valueOf).toSet == Set("NP-SBJ", "NML"))
    // bracket cells removed from CoNLL columns; words/POS retained
    assert(!t.exists(tr => tr.p == "conll:PARSE_ON" || tr.p == "conll:PARSE_PTB"))
    assert(t.contains(Triple(":s1_1", "conll:WORD", "Nicaraguan", false)))
    // traces like "*-1" stay ordinary WORD tokens (not bracket cells)
    assert(t.contains(Triple(":s1_17", "conll:WORD", "*-1", false)))
  }

  test("span URIs on the bundled bracketing.sample (hand-traced, incl. the overshoot quirk)") {
    val lines = scala.io.Source.fromFile(ReferenceCorpus.file("bracketing.sample.conll"))
      .getLines().toVector
    val d = InputDoc("ptb", lines.zipWithIndex.map { case (l, i) =>
      val kind =
        if (l.trim.isEmpty) "sentence_break"
        else if (l.trim.startsWith("#")) "comment" else "token"
      Span(kind, l, "", i)
    })
    val cols = Seq("WORD", "POS", "PARSE_ON", "POS", "PARSE_PTB")
    val t = BracketsParser.parseDoc(d, cols, spanUris = true).head.triples
    def valuesOf(node: String) = t.collect {
      case Triple(`node`, "rdf:value", v, false) => v }.toSet
    // PTB tree, hand-traced over the resplit line stream
    // [(TOP,(S,(NP-SBJ,(NML,:s1_1,:s1_2,),:s1_3,:s1_4,),(VP,...]:
    //  - NP-SBJ spans tokens 1-4 → :s1_1_s1_4 (walk-back from the (VP line)
    //  - NML closes after token 2, but the reference's last-scan lands ON
    //    the next token URI (:s1_3) and the walk-back never runs → the
    //    quirky :s1_1_s1_3, faithfully reproduced
    assert(valuesOf(":s1_1_s1_4").contains("NP-SBJ"))
    assert(valuesOf(":s1_1_s1_3").contains("NML"))
    assert(t.contains(Triple(":s1_1", "powla:hasParent", ":s1_1_s1_3", true)))
    // no counter URIs in span mode
    assert(!t.exists(tr => tr.s.startsWith(":b") || (tr.oUri && tr.o.startsWith(":b"))))
  }

  test("tree2bracket on the real PTB sample reconstructs plausible brackets") {
    val lines = scala.io.Source.fromFile(ReferenceCorpus.file("bracketing.sample.conll"))
      .getLines().toVector
    val d = InputDoc("ptb", lines.zipWithIndex.map { case (l, i) =>
      val kind =
        if (l.trim.isEmpty) "sentence_break"
        else if (l.trim.startsWith("#")) "comment" else "token"
      Span(kind, l, "", i)
    })
    val cols = Seq("WORD", "POS", "PARSE_ON", "POS", "PARSE_PTB")
    val g = SentGraph(BracketsParser.parseDoc(d, cols).head)
    TreesScripts.tree2bracket.run(g)
    val b = g.objects(":s1_1", "conll:PARSE_ON").headOption.getOrElse("")
    assert(b.startsWith("(") && b.contains("(S ") && b.contains("(NP-SBJ ") && b.endsWith("*"),
      s"got: $b")
    val b2 = g.objects(":s1_4", "conll:PARSE_ON").headOption.getOrElse("") // Ortega = *)
    assert(b2 == "* )", s"got: $b2")
  }

  test("tree2bracket reconstructs bracket strings per node type") {
    val g = SentGraph(BracketsParser.parseDoc(bracketDoc, bracketCols).head)
    TreesScripts.tree2bracket.run(g)
    assert(g.objects(":s1_1", "conll:PARSE") == Seq("((S (NP  *"))
    assert(g.objects(":s1_2", "conll:PARSE") == Seq("* )"))
    assert(g.objects(":s1_3", "conll:PARSE") == Seq("(VP  * )))"))
    // powla scaffolding removed
    assert(!g.all.exists(t => t.p.startsWith("powla:") || t.p.startsWith("tmp:")))
  }

  test("the reference's bundled SketchEngine.sample parses (S7 on real data)") {
    val lines = scala.io.Source.fromFile(ReferenceCorpus.file("SketchEngine.sample"))
      .getLines().toVector
    val d = InputDoc("ske", lines.zipWithIndex.map { case (l, i) =>
      Span(if (l.trim.matches("^<[^>]*>\\s*$")) "markup" else "token", l, "", i)
    })
    val sents = XmlTsvParser.parseDoc(d, Seq("WORD", "POS"))
    // <head> and <p> are breaking elements → 2 sentences in the sample
    assert(sents.length == 2)
    val s1 = sents(0).triples.toSet
    // :x1 = <doc id="G10" n="32">, :x2 = <head type="min">
    assert(s1.contains(Triple(":x1", "x:id", "G10", false)))
    assert(s1.contains(Triple(":x2", "x:type", "min", false)))
    assert(s1.contains(Triple(":s1_1", "conll:WORD", "FEDERAL", false)))
    assert(s1.contains(Triple(":s1_1", "conll:POS", "JJ", false)))
    assert(s1.contains(Triple(":s1_1", "powla:hasParent", ":x2", true)))
    // <g/> between CONSTITUTION and ',' is a self-closing sibling node
    assert(s1.exists(t => t.p == "rdf:value" && t.o == "g"))
    val s2 = sents(1).triples.toSet
    assert(s2.contains(Triple(":s2_2", "conll:WORD", "we", false)))
    assert(s2.contains(Triple(":x4", "x:n", "1", false))) // <p n="1"> is :x4
  }

  test("xAttributes2value folds attributes into rdf:value") {
    val g = SentGraph.empty
    g.add(Triple(":x1", "rdf:type", "powla:Node", true))
    g.add(Triple(":x1", "rdf:value", "doc", false))
    g.add(Triple(":x1", "x:lang", "en", false))
    g.add(Triple(":x1", "x:id", "1", false))
    TreesScripts.xAttributes2value.run(g)
    assert(g.objects(":x1", "rdf:value") == Seq("""doc id="1" lang="en""""))
    // attribute triples are kept (the script only rewrites rdf:value)
    assert(g.has(":x1", "x:id", "1"))
  }

  test("emptyNode2Word materializes and splices empty tokens") {
    val d = doc(Seq(
      ("markup", "<s>"),
      ("token", "a\tDT"),
      ("markup", "<e/>"),
      ("token", "b\tNN"),
      ("markup", "</s>")
    ))
    val g = SentGraph(XmlTsvParser.parseDoc(d, Seq("WORD", "POS")).head)
    TreesScripts.emptyNode2Word.run(g)
    val empty = ":x2_word" // <e/> is :x2 (after <s>=:x1)
    assert(g.has(empty, "rdf:type", "nif:Word"))
    assert(g.has(empty, "conll:WORD", ""))
    // spliced into the chain: a → empty → b, direct a → b removed
    assert(g.has(":s1_1", "nif:nextWord", empty))
    assert(g.has(empty, "nif:nextWord", ":s1_2"))
    assert(!g.has(":s1_1", "nif:nextWord", ":s1_2"))
    // HEAD default points at the sentence node
    assert(g.has(empty, "conll:HEAD", ":s1_0"))
  }
}
