package graft.conll

import org.scalatest.funsuite.AnyFunSuite
import scala.io.Source
import java.util.zip.GZIPInputStream
import java.io.FileInputStream
import graft.tools.PrScore

/** End-to-end goldens on the reference's OWN bundled corpus
  * (data/ud/UD_English-master/en-ud-dev.conllu.gz) against the outputs the
  * reference documents for it verbatim in examples/README.md:54-92,115-252
  * — the project's P/R oracle (target ≥ 0.95, BASELINE.json).
  *
  * Sentence 1 is "From the AP comes this story :"; the README shows its
  * full TTL for the convert pipeline and for each analyze stage, plus the
  * eval-POSsynt SELECT table. We assert exact triple equality (P = R = 1).
  */
class UdGoldenSpec extends AnyFunSuite {

  private def corpus = ReferenceCorpus.file("ud/UD_English-master/en-ud-dev.conllu.gz")
  private val convertCols =
    Seq("ID", "WORD", "LEMMA", "UPOS", "POS", "FEAT", "HEAD", "EDGE", "DEPS", "MISC")
  private val analyzeCols =
    Seq("IGNORE", "WORD", "IGNORE", "UPOS", "IGNORE", "IGNORE", "HEAD", "EDGE", "IGNORE", "IGNORE")

  private lazy val lines: Seq[String] = {
    val src = Source.fromInputStream(new GZIPInputStream(new FileInputStream(corpus)), "UTF-8")
    try src.getLines().toVector finally src.close()
  }

  private def docOf(ls: Seq[String]): InputDoc =
    InputDoc("ud", ls.zipWithIndex.map { case (l, i) =>
      Span(
        if (l.trim.isEmpty) "sentence_break"
        else if (l.startsWith("#")) "comment"
        else "token",
        l, "", i)
    })

  private def uri(s: Int, t: Any) = s":s${s}_$t"

  test("convert pipeline reproduces the documented TTL for sentence 1 exactly") {
    val sents = SpanParser.parseDoc(docOf(lines.take(8)), convertCols)
    assert(sents.length == 1)
    val got = sents.head.triples.toSet
    // expected triples transcribed from examples/README.md:58-69
    def tok(id: Int, word: String, lemma: String, upos: String, pos: String,
        feat: Option[String], head: Int, edge: String, next: Boolean): Set[Triple] = {
      val u = uri(1, id)
      Set(
        Triple(u, "rdf:type", "nif:Word", true),
        Triple(u, "conll:ID", id.toString, false),
        Triple(u, "conll:WORD", word, false),
        Triple(u, "conll:LEMMA", lemma, false),
        Triple(u, "conll:UPOS", upos, false),
        Triple(u, "conll:POS", pos, false),
        Triple(u, "conll:HEAD", uri(1, head), true),
        Triple(u, "conll:EDGE", edge, false)
      ) ++ feat.map(f => Triple(u, "conll:FEAT", f, false)).toSet ++
        (if (next) Set(Triple(u, "nif:nextWord", uri(1, id + 1), true)) else Set.empty[Triple])
    }
    val expected =
      Set(Triple(":s1_0", "rdf:type", "nif:Sentence", true)) ++
        tok(1, "From", "from", "ADP", "IN", None, 3, "case", next = true) ++
        tok(2, "the", "the", "DET", "DT", Some("Definite=Def|PronType=Art"), 3, "det", next = true) ++
        tok(3, "AP", "AP", "PROPN", "NNP", Some("Number=Sing"), 4, "nmod", next = true) ++
        tok(4, "comes", "come", "VERB", "VBZ",
          Some("Mood=Ind|Number=Sing|Person=3|Tense=Pres|VerbForm=Fin"), 0, "root", next = true) ++
        tok(5, "this", "this", "DET", "DT", Some("Number=Sing|PronType=Dem"), 6, "det", next = true) ++
        tok(6, "story", "story", "NOUN", "NN", Some("Number=Sing"), 4, "nsubj", next = true) ++
        tok(7, ":", ":", "PUNCT", ":", None, 4, "punct", next = false)
    val s = PrScore.score(got, expected)
    assert(s.precision == 1.0 && s.recall == 1.0,
      s"P=${s.precision} R=${s.recall} fp=${got diff expected} fn=${expected diff got}")
  }

  test("analyze parse: multi-valued IGNORE set matches examples/README.md:124-131") {
    val sents = SpanParser.parseDoc(docOf(lines.take(8)), analyzeCols)
    val g = SentGraph(sents.head)
    assert(g.objects(":s1_2", "conll:IGNORE").toSet ==
      Set("2", "DT", "Definite=Def|PronType=Art", "the"))
    assert(g.objects(":s1_7", "conll:IGNORE").toSet == Set(":", "7"))
  }

  test("analyze cascade output matches examples/README.md:215-240 exactly (sentence 1)") {
    val sents = SpanParser.parseDoc(docOf(lines.take(8)), analyzeCols)
    val g = SentGraph(sents.head)
    for ((script, n) <- Pipeline.analyzeCascade) script.run(g, n)
    val got = g.all.toSet
    def tok(id: Int, word: String, upos: String, head: Int, edge: String,
        psUd: String, psUpos: String, m: String, next: Boolean): Set[Triple] = {
      val u = uri(1, id)
      Set(
        Triple(u, "rdf:type", "nif:Word", true),
        Triple(u, "conll:WORD", word, false),
        Triple(u, "conll:UPOS", upos, false),
        Triple(u, "conll:HEAD", uri(1, head), true),
        Triple(u, "conll:EDGE", edge, false),
        Triple(u, "conll:POSsynt_UD", psUd, false),
        Triple(u, "conll:POSsynt_UPOS", psUpos, false),
        Triple(u, "conll:POSsynt_match", m, false)
      ) ++ (if (next) Set(Triple(u, "nif:nextWord", uri(1, id + 1), true)) else Set.empty[Triple])
    }
    val expected =
      Set(Triple(":s1_0", "rdf:type", "nif:Sentence", true)) ++
        tok(1, "From", "ADP", 3, "case", "AN", "AN", "1", next = true) ++
        tok(2, "the", "DET", 3, "det", "AN", "AN", "1", next = true) ++
        tok(3, "AP", "PROPN", 4, "nmod", "N", "N", "1", next = true) ++
        tok(4, "comes", "VERB", 0, "root", "V", "V", "1", next = true) ++
        tok(5, "this", "DET", 6, "det", "AN", "AN", "1", next = true) ++
        tok(6, "story", "NOUN", 4, "nsubj", "N", "N", "1", next = true) ++
        tok(7, ":", "PUNCT", 4, "punct", "X", "X", "1", next = false)
    val s = PrScore.score(got, expected)
    assert(s.precision == 1.0 && s.recall == 1.0,
      s"P=${s.precision} R=${s.recall} fp=${got diff expected} fn=${expected diff got}")
  }

  test("eval-POSsynt SELECT matches the documented table rows (sentence 1)") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val sents = SpanParser.parseDoc(docOf(lines.take(8)), analyzeCols)
      .map { s => val g = SentGraph(s)
        Pipeline.analyzeCascade.foreach { case (sc, n) => sc.run(g, n) }
        Sentence(s.docId, s.sent, g.all) }
    val t = spark.createDataset(sents.flatMap(s =>
      s.triples.map(tr => TripleRow(s.docId, s.sent, tr.s, tr.p, tr.o, tr.oUri)))).toDF()
    val rows = Serializers.evalPossyntSelect(t)
      .orderBy($"sent", $"subj")
      .select($"word", $"upos", $"udep", $"POSsynt_UPOS", $"POSsynt_UDEP", $"match")
      .as[(String, String, String, String, String, String)].collect().toSeq
    val expected = Seq(
      ("From", "ADP", "case", "AN", "AN", "1"),
      ("the", "DET", "det", "AN", "AN", "1"),
      ("AP", "PROPN", "nmod", "N", "N", "1"),
      ("comes", "VERB", "root", "V", "V", "1"),
      ("this", "DET", "det", "AN", "AN", "1"),
      ("story", "NOUN", "nsubj", "N", "N", "1"),
      (":", "PUNCT", "punct", "X", "X", "1"))
    assert(rows.toSet == expected.toSet)
  }

  test("K2 roundtrip matches examples/README.md:84-90 (-conll ID WORD LEMMA FEAT)") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val sents = SpanParser.parseDoc(docOf(lines.take(8)), convertCols)
    val t = spark.createDataset(sents.flatMap(s =>
      s.triples.map(tr => TripleRow(s.docId, s.sent, tr.s, tr.p, tr.o, tr.oUri)))).toDF()
    val out = Serializers.toConllTsv(t, Seq("ID", "WORD", "LEMMA", "FEAT"))
      .orderBy($"sent", $"tok")
      .select($"ID", $"WORD", $"LEMMA", $"FEAT")
      .as[(String, String, String, String)].collect().toSeq
    assert(out.take(3) == Seq(
      ("1", "From", "from", "_"),
      ("2", "the", "the", "Definite=Def|PronType=Art"),
      ("3", "AP", "AP", "Number=Sing")))
  }

  // --- SR parse cascade goldens on REAL sentences (VERDICT r1 item 10) ---
  // Column layout from examples/parse-ud.sh:33-34: the corpus dependency
  // annotation is stripped (IGNORE), so every token starts with
  // conll:HEAD :s1_0 (no HEAD column declared) and REDUCE-to-HEAD
  // rewrites exactly the reduced tokens. The expected structures below
  // are HAND-DERIVED by applying the REDUCE rules statement by statement
  // (snapshot semantics) to the real POS sequences.
  private val parseCols =
    Seq("ID", "WORD", "LEMMA", "IGNORE", "POS", "IGNORE", "IGNORE", "IGNORE", "IGNORE", "IGNORE")

  private def parsedGraph(ls: Seq[String]): SentGraph = {
    val sents = SpanParser.parseDoc(docOf(ls), parseCols)
    assert(sents.length == 1)
    val g = SentGraph(sents.head)
    for ((sc, n) <- Pipeline.parseCascade) sc.run(g, n)
    g
  }

  test("SR parse invariants hold across the ENTIRE en-ud-dev corpus") {
    // breadth next to the det oracle's depth: every sentence of the real
    // corpus through the full parse cascade must satisfy the structural
    // invariants the rules guarantee when a HEAD default exists.
    val sents = SpanParser.parseDoc(docOf(lines), parseCols)
    assert(sents.length == 2002)
    var shiftLeft = 0L
    var tokens = 0L
    var multiHead = 0L
    for (s <- sents) {
      val g = SentGraph(s)
      for ((sc, n) <- Pipeline.parseCascade) sc.run(g, n)
      // REDUCE is always rewritten (every token has the default HEAD)
      assert(g.pairs("conll:REDUCE").isEmpty, s"REDUCE residue in ${s.sent}")
      val words = g.words
      tokens += words.length
      // >= 1 HEAD per token; > 1 is legitimate (a token re-entered the
      // chain via a last.SHIFT rewire and reduced twice — REDUCE-to-HEAD
      // inserts one HEAD per binding, multi-valued RDF semantics)
      assert(words.forall(w => g.objects(w, "conll:HEAD").nonEmpty),
        s"headless token in ${s.sent}")
      multiHead += words.count(w => g.objects(w, "conll:HEAD").length > 1)
      shiftLeft += g.pairs("conll:SHIFT").length
    }
    // budget-capped fixpoints may strand SHIFT edges, but never more
    // than a chain per sentence
    assert(shiftLeft < tokens)
    info(s"residual SHIFT edges: $shiftLeft, multi-headed tokens: " +
      s"$multiHead across $tokens tokens")
  }

  private def traceOf(ls: Seq[String]): Seq[(String, Int, Int)] = {
    val sents = SpanParser.parseDoc(docOf(ls), parseCols)
    val g = SentGraph(sents.head)
    val pre = Pipeline.parseCascade.dropRight(ParseScripts.cascade.length)
    for ((sc, n) <- pre) sc.run(g, n)
    ParseScripts.cascade.flatMap { case (sc, n) =>
      sc.runTraced(g, n).map(d => (d.script, d.iteration, d.statement))
    }
  }

  test("parse cascade, real s1 'From the AP comes this story :': exact structure") {
    val g = parsedGraph(lines.take(8))
    // derivation: R2(4) det 2→3, 5→6; R2(6) np 3→1; R3(9) obj 6→4;
    // R3(11) preverbal-adv 1→4 (completed PP, lemma 'from' ≠ 'of')
    val heads = Map(1 -> 4, 2 -> 3, 3 -> 1, 5 -> 6, 6 -> 4)
    for ((w, h) <- heads)
      assert(g.objects(uri(1, w), "conll:HEAD").toSeq == Seq(uri(1, h)), s"HEAD of $w")
    // unreduced tokens keep the sentence-node dependency
    for (w <- Seq(4, 7))
      assert(g.objects(uri(1, w), "conll:HEAD").toSeq == Seq(":s1_0"), s"HEAD of $w")
    val edges = Map(1 -> "adv", 2 -> "det", 3 -> "np", 5 -> "det", 6 -> "obj")
    for ((w, e) <- edges)
      assert(g.objects(uri(1, w), "conll:EDGE").toSet == Set(e), s"EDGE of $w")
    assert(g.objects(uri(1, 4), "conll:EDGE").isEmpty)
    assert(g.objects(uri(1, 7), "conll:EDGE").isEmpty)
    // all REDUCE consumed; only the verb→punct SHIFT survives
    assert(g.pairs("conll:REDUCE").isEmpty)
    assert(g.pairs("conll:SHIFT").map(t => (t._1, t._2)).toSet ==
      Set((uri(1, 4), uri(1, 7))))
  }

  test("parse cascade, real s1: the traced K4 step sequence is exactly the derivation") {
    assert(traceOf(lines.take(8)) == Seq(
      ("initialize-SHIFT", 1, 1),
      ("REDUCE-english-2", 1, 2), // (4) determiners: 2→3, 5→6
      ("REDUCE-english-2", 1, 4), // (6) prep–noun: 3→1
      ("REDUCE-english-3", 1, 3), // (9) object: 6→4
      ("REDUCE-english-3", 1, 5), // (11) preverbal PP adverbial: 1→4
      ("REDUCE-to-HEAD", 1, 1)))
  }

  test("parse cascade, real s2 'President Bush on Tuesday nominated…': exact structure") {
    // 19 tokens; exercises noun-noun compounds (R1.1: 1→2, 17→18),
    // gerund/adjective premodifiers (R2.3: 10→11, 13→14), det (R2.4:
    // 16→18), cardinal (R2.5: 6→7), three prep-NPs (R2.6: 4→3, 14→12,
    // 18→15), object (R3.9: 7→5), preverbal PP (R3.11: 3→5), subject on
    // iteration 2 (R3.8: 2→5), and the to-infinitive pair (R4.12: 9→8
    // cls, R4.13: 8→5 to).
    val g = parsedGraph(lines.slice(8, 28))
    val heads = Map(
      1 -> 2, 2 -> 5, 3 -> 5, 4 -> 3, 6 -> 7, 7 -> 5, 8 -> 5, 9 -> 8,
      10 -> 11, 13 -> 14, 14 -> 12, 16 -> 18, 17 -> 18, 18 -> 15)
    for ((w, h) <- heads)
      assert(g.objects(uri(1, w), "conll:HEAD").toSeq == Seq(uri(1, h)), s"HEAD of $w")
    for (w <- Seq(5, 11, 12, 15, 19))
      assert(g.objects(uri(1, w), "conll:HEAD").toSeq == Seq(":s1_0"), s"HEAD of $w")
    val edges = Map(
      1 -> "nmod", 2 -> "sbj", 3 -> "adv", 4 -> "np", 6 -> "num", 7 -> "obj",
      8 -> "to", 9 -> "cls", 10 -> "nmod", 13 -> "nmod", 14 -> "np",
      16 -> "det", 17 -> "nmod", 18 -> "np")
    for ((w, e) <- edges)
      assert(g.objects(uri(1, w), "conll:EDGE").toSet == Set(e), s"EDGE of $w")
    assert(g.pairs("conll:REDUCE").isEmpty)
  }

  test("parse cascade, real s2: the traced K4 step sequence is exactly the derivation") {
    assert(traceOf(lines.slice(8, 28)) == Seq(
      ("initialize-SHIFT", 1, 1),
      ("REDUCE-english-1", 1, 2), // (1) noun-noun: 1→2, 17→18
      ("REDUCE-english-2", 1, 1), // (3) gerund/adj: 10→11, 13→14
      ("REDUCE-english-2", 1, 2), // (4) det: 16→18
      ("REDUCE-english-2", 1, 3), // (5) num: 6→7
      ("REDUCE-english-2", 1, 4), // (6) prep-NPs: 4→3, 14→12, 18→15
      ("REDUCE-english-3", 1, 3), // (9) obj: 7→5
      ("REDUCE-english-3", 1, 5), // (11) preverbal PP: 3→5
      ("REDUCE-english-3", 2, 2), // (8) subject lands on iteration 2: 2→5
      ("REDUCE-english-4", 1, 1), // (12) to+verb: 9→8
      ("REDUCE-english-4", 1, 2), // (13) to-clause → matrix verb: 8→5
      ("REDUCE-to-HEAD", 1, 1)))
  }

  test("K3 select-conllu reconstructs real s1 from the triple graph (roundtrip)") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val sents = spark.createDataset(SpanParser.parseDoc(docOf(lines.take(8)), convertCols))
    val rows = Serializers.selectConllU(sents, convertCols)
      .orderBy($"ord")
      .select($"ID", $"WORD", $"LEMMA", $"UPOS", $"POS", $"FEAT", $"HEAD", $"EDGE", $"DEPS", $"MISC")
      .as[(String, String, String, String, String, String, String, String, String, String)]
      .collect().toSeq
    // the SELECT renders unbound cells as "" (SPARQL group_concat of an
    // unbound OPTIONAL), where the TSV had '_'
    val expected = lines.take(7).map { l =>
      val c = l.split("\t").map(v => if (SpanParser.isEmptyCell(v)) "" else v)
      (c(0), c(1), c(2), c(3), c(4), c(5), c(6), c(7), c(8), c(9))
    }
    assert(rows == expected)
  }

  test("whole corpus parses: 2002 sentences, stable triple count, all words chained") {
    val sents = SpanParser.parseDoc(docOf(lines), convertCols)
    assert(sents.length > 1900, s"got ${sents.length} sentences")
    // every non-final token in every sentence has exactly one nextWord
    for (s <- sents.take(50)) {
      val g = SentGraph(s)
      val words = g.words
      val withNext = words.count(w => g.objects(w, "nif:nextWord").nonEmpty)
      assert(withNext == words.size - 1)
    }
    // nextSentence chain is complete
    val total = sents.map(_.triples.count(_.p == "nif:nextSentence")).sum
    assert(total == sents.length - 1)
  }
}
