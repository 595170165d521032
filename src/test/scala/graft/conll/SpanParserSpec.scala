package graft.conll

import org.scalatest.funsuite.AnyFunSuite

/** Parser semantics vs the reference (CoNLL2RDF.java:60-182). Expected
  * triples are hand-derived from the cited code, not from running it. */
class SpanParserSpec extends AnyFunSuite {

  private def doc(rows: Seq[String], kinds: Seq[String] = Nil): InputDoc = {
    val spans = rows.zipWithIndex.map { case (r, i) =>
      val kind =
        if (kinds.nonEmpty) kinds(i)
        else if (r.isEmpty) "sentence_break"
        else if (r.startsWith("#")) "comment"
        else "token"
      Span(kind, r, "", i)
    }
    InputDoc("d1", spans)
  }

  private val cols = Seq("ID", "WORD", "UPOS", "HEAD", "EDGE")

  test("basic sentence emits word/type/next/head/anno triples") {
    val sents = SpanParser.parseDoc(doc(Seq(
      "1\tthe\tDET\t2\tdet",
      "2\tfox\tNOUN\t0\troot",
      ""
    )), cols)
    assert(sents.length == 1)
    val t = sents.head.triples.toSet
    assert(t.contains(Triple(":s1_0", "rdf:type", "nif:Sentence", true)))
    assert(t.contains(Triple(":s1_1", "rdf:type", "nif:Word", true)))
    assert(t.contains(Triple(":s1_1", "conll:WORD", "the", false)))
    assert(t.contains(Triple(":s1_1", "conll:UPOS", "DET", false)))
    assert(t.contains(Triple(":s1_1", "conll:ID", "1", false)))
    assert(t.contains(Triple(":s1_1", "conll:HEAD", ":s1_2", true)))
    assert(t.contains(Triple(":s1_1", "conll:EDGE", "det", false)))
    assert(t.contains(Triple(":s1_1", "nif:nextWord", ":s1_2", true)))
    // HEAD 0 resolves to the sentence node (CoNLL2RDF.java:130-131)
    assert(t.contains(Triple(":s1_2", "conll:HEAD", ":s1_0", true)))
    assert(!t.exists(x => x.s == ":s1_2" && x.p == "nif:nextWord"))
  }

  test("two sentences chain via nif:nextSentence") {
    val sents = SpanParser.parseDoc(doc(Seq(
      "1\ta\tDET\t0\troot", "",
      "1\tb\tNOUN\t0\troot", ""
    )), cols)
    assert(sents.length == 2)
    assert(sents(1).triples.contains(Triple(":s1_0", "nif:nextSentence", ":s2_0", true)))
  }

  test("empty cells are skipped per ^(O|-|--|_|__)?$ (Format2RDF.java:61)") {
    val sents = SpanParser.parseDoc(doc(Seq("1\t_\tO\t--\t-", "")), cols)
    val t = sents.head.triples
    assert(!t.exists(_.p == "conll:WORD"))
    assert(!t.exists(_.p == "conll:UPOS"))
    assert(!t.exists(_.p == "conll:EDGE"))
    // HEAD cell empty → no HEAD triple from the cell; but HEAD column IS
    // declared, so no headless default either
    assert(!t.exists(_.p == "conll:HEAD"))
  }

  test("no HEAD column → every token depends on the sentence node") {
    val sents = SpanParser.parseDoc(doc(Seq("x\tNN", "y\tVB", "")), Seq("WORD", "POS"))
    val t = sents.head.triples.toSet
    assert(t.contains(Triple(":s1_1", "conll:HEAD", ":s1_0", true)))
    assert(t.contains(Triple(":s1_2", "conll:HEAD", ":s1_0", true)))
  }

  test("literal escaping of & \" \\ (CoNLL2RDF.java:138)") {
    val sents = SpanParser.parseDoc(doc(Seq("AT&T \"x\" a\\b\tNN", "")), Seq("WORD", "POS"))
    val w = sents.head.triples.find(_.p == "conll:WORD").get.o
    assert(w == "AT&amp;T &quot;x&quot; a\\\\b")
  }

  test("comments become rdfs:comment on the sentence node") {
    val sents = SpanParser.parseDoc(doc(Seq("# sent_id = 7", "1\tx\tNOUN\t0\troot", "")), cols)
    val c = sents.head.triples.find(_.p == "rdfs:comment")
    assert(c.exists(_.o == "sent_id = 7"))
  }

  test("global.columns comment overrides the declared schema") {
    val sents = SpanParser.parseDoc(doc(Seq(
      "# global.columns = WORD POS",
      "fox\tNN", ""
    )), cols)
    val t = sents.head.triples.toSet
    assert(t.contains(Triple(":s1_1", "conll:WORD", "fox", false)))
    assert(t.contains(Triple(":s1_1", "conll:POS", "NN", false)))
  }

  test("ID column overrides the token URI ordinal") {
    val sents = SpanParser.parseDoc(doc(Seq("10\tx\tNOUN\t0\troot", "")), cols)
    assert(sents.head.triples.exists(t => t.s == ":s1_10" && t.p == "conll:WORD"))
  }

  test("non-integer ID passes through verbatim (reference's int check is dead code)") {
    // CoNLL2RDF.java:112-117: the NumberFormatException catch can never
    // fire; CoNLL-U range ids like "1-2" mint URIs verbatim.
    val sents = SpanParser.parseDoc(doc(Seq("1-2\tx\tNOUN\t0\troot", "")), cols)
    assert(sents.head.triples.exists(t => t.s == ":s1_1-2" && t.p == "conll:WORD"))
  }

  // The ID-cell rule lives in the sentence assembler that all three
  // CoNLL-family readers share: a declared ID column whose cell is
  // missing fails. A positional fallback would mint :s1_2 for both rows
  // here, one URI carrying two conll:WORD values.
  private val idRuleCols = Seq("WORD", "ID")
  Seq[(String, InputDoc => Seq[Sentence])](
    "SpanParser" -> (SpanParser.parseDoc(_, idRuleCols)),
    "XmlTsvParser" -> (XmlTsvParser.parseDoc(_, idRuleCols)),
    "BracketsParser" -> (BracketsParser.parseDoc(_, idRuleCols))
  ).foreach { case (reader, parse) =>
    test(s"$reader: a declared ID column with a missing cell fails naming doc, sentence and row") {
      val e = intercept[ArrayIndexOutOfBoundsException](parse(doc(Seq("foo\t2", "bar", ""))))
      assert(e.getMessage ==
        "if defined as label, the ID column is obligatory (doc d1, sentence 1, row 2)")
    }
  }

  // SpanParser's line rule, which the bracketing reader shares and the
  // XML-TSV reader matches: an inline '#' comment is cut from a token row,
  // and an <s> line, of kind token or markup, breaks the sentence.
  private val lineRuleCols = Seq("WORD", "POS")
  Seq[(String, InputDoc => Seq[Sentence])](
    "SpanParser" -> (SpanParser.parseDoc(_, lineRuleCols)),
    "XmlTsvParser" -> (XmlTsvParser.parseDoc(_, lineRuleCols)),
    "BracketsParser" -> (BracketsParser.parseDoc(_, lineRuleCols))
  ).foreach { case (reader, parse) =>
    test(s"$reader: an inline '#' comment is cut from a token row") {
      val t = parse(doc(Seq("foo\tNN # note", ""))).flatMap(_.triples)
      assert(t.filter(_.p == "conll:POS").map(_.o) == Seq("NN"))
    }
    for (kind <- Seq("token", "markup"))
      test(s"$reader: an <s> line of kind $kind breaks the sentence") {
        val sents = parse(doc(Seq("foo\tNN", "<s>", "bar\tVB", ""),
          Seq("token", kind, "token", "sentence_break")))
        assert(sents.map(_.triples.filter(_.p == "conll:WORD").map(_.o)) == Seq(Seq("foo"), Seq("bar")))
      }
  }

  test("media spans are ignored by parsing") {
    val d = InputDoc("d1", Seq(
      Span("token", "1\tx\tNOUN\t0\troot", "", 0),
      Span("media", "", "media://d1/img0", 1),
      Span("sentence_break", "", "", 2)
    ))
    val sents = SpanParser.parseDoc(d, cols)
    assert(sents.length == 1)
    assert(sents.head.triples.exists(_.p == "conll:WORD"))
  }

  test("SRL *-ARGs columns: role triples + subPropertyOf axioms (CoNLL2RDF.java:139-150)") {
    // cols: WORD PRED PRED-ARGs; row2's PRED marks predicate #0; the first
    // ARGs column refers back to it.
    val d = doc(Seq(
      "loves\tlove.01\tA0",
      "mary\t_\tA1",
      ""
    ))
    val sents = SpanParser.parseDoc(d, Seq("WORD", "PRED", "PRED-ARGs"))
    val t = sents.head.triples.toSet
    assert(t.contains(Triple(":s1_1", "conll:A0", ":s1_1", true)))
    assert(t.contains(Triple(":s1_1", "conll:A1", ":s1_2", true)))
    assert(t.contains(Triple("conll:A0", "rdfs:subPropertyOf", "conll:PRED-ARG", true)))
  }
}
