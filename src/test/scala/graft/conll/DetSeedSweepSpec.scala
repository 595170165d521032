package graft.conll

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.KgOracle

/** Randomized det-corpus sweep (VERDICT r4 item 7): the det-oracle driver
  * gates run FIXED word sets; this spec draws random word arrays from N
  * seeded RNGs, regenerates each det corpus, and asserts the engine
  * equals the hand-derived closed form TRIPLE FOR TRIPLE on every
  * sentence — catching derivation blind spots no fixed instance
  * exercises (odd lengths, truncation at every cut point, shape
  * sequences the fixed probes never hit).
  *
  * Sound because every closed form is a pure function of the word array
  * (attributes derive from md5(word) exactly as the generators do) — see
  * DetClosedForms. Seeds are fixed so a failure reproduces; the words
  * they generate are arbitrary.
  */
class DetSeedSweepSpec extends AnyFunSuite {

  private val seeds = Seq(0xA11CEL, 7L, 42L, 1234L, 987654L)
  private val alpha = "abcdefghijklmnopqrstuvwxyz0123456789"

  private def randomWords(rnd: scala.util.Random, n: Int): Array[String] =
    Array.fill(n)(
      (0 until (1 + rnd.nextInt(8))).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)

  private def diff(got: Set[Triple], exp: Set[Triple], ctx: String): Unit = {
    val extra = got -- exp
    val missing = exp -- got
    assert(extra.isEmpty && missing.isEmpty,
      s"\n[$ctx]" +
        s"\nextra=${extra.toSeq.sortBy(t => (t.s, t.p, t.o)).mkString("\n  ", "\n  ", "")}" +
        s"\nmissing=${missing.toSeq.sortBy(t => (t.s, t.p, t.o)).mkString("\n  ", "\n  ", "")}")
  }

  for (seed <- seeds) test(s"seed $seed: SR-parse corpus == closed form at random length") {
    val rnd = new scala.util.Random(seed)
    val words = randomWords(rnd, rnd.nextInt(2 * KgOracle.parseCycle + 13))
    val sents = SpanParser.parseDoc(
      InputDoc("d1", KgOracle.parseSpansFor(words)), KgOracle.detParseCols)
    // expected sentences: complete patterns in generator order
    val expected = scala.collection.mutable.ArrayBuffer[(Int, Seq[String])]()
    var i = 0
    while (i < words.length) {
      val c = i / KgOracle.parseCycle
      val p = i % KgOracle.parseCycle
      val j = KgOracle.parseOffsets.indexWhere(_ > p) - 1
      if (p == KgOracle.parseOffsets(j) &&
          c * KgOracle.parseCycle + KgOracle.parseOffsets(j + 1) <= words.length)
        expected += ((j, words.slice(i, c * KgOracle.parseCycle + KgOracle.parseOffsets(j + 1)).toSeq))
      i += 1
    }
    assert(sents.length == expected.length,
      s"sentence count: engine=${sents.length} closed=${expected.length} (|words|=${words.length})")
    for ((s, idx) <- sents.zipWithIndex) {
      val g = SentGraph(s)
      for ((script, n) <- Pipeline.parseCascade) script.run(g, n)
      val (j, ws) = expected(idx)
      diff(g.all.toSet, DetClosedForms.parseTriples(idx + 1, j, ws),
        s"seed=$seed sent=${idx + 1} pattern=P$j")
    }
  }

  for (seed <- seeds) test(s"seed $seed: bracket corpus == closed form, both URI regimes") {
    val rnd = new scala.util.Random(seed * 31 + 1)
    val words = randomWords(rnd, rnd.nextInt(9 * KgOracle.BRACKET_LEN + 3))
    val spans = KgOracle.bracketSpansFor(words)
    val nSents = words.length / KgOracle.BRACKET_LEN
    def wsOf(si: Int) = words.slice(si * KgOracle.BRACKET_LEN, (si + 1) * KgOracle.BRACKET_LEN).toSeq

    // default counter-URI regime + tree2bracket roundtrip
    val sents = BracketsParser.parseDoc(InputDoc("d1", spans), KgOracle.detBracketCols)
    assert(sents.length == nSents)
    for ((s, si) <- sents.zipWithIndex) {
      val g = SentGraph(s)
      TreesScripts.tree2bracket.run(g, 1)
      val shape = KgOracle.bracketShapeOf(words(si * KgOracle.BRACKET_LEN))
      diff(g.all.toSet, DetClosedForms.bracketTriples(si + 1, shape, wsOf(si)),
        s"seed=$seed sent=${si + 1} shape=$shape")
    }

    // span-URI regime (no rewrite; the tree stays)
    val spanSents = BracketsParser.parseDoc(
      InputDoc("d1", spans), KgOracle.detBracketCols, spanUris = true)
    for ((s, si) <- spanSents.zipWithIndex) {
      val shape = KgOracle.bracketShapeOf(words(si * KgOracle.BRACKET_LEN))
      diff(s.triples.toSet, DetClosedForms.bracketSpanTriples(si + 1, shape, wsOf(si)),
        s"seed=$seed spanUri sent=${si + 1} shape=$shape")
    }
  }

  for (seed <- seeds) test(s"seed $seed: base det corpus == closed form (S1/S2 numeric HEADs)") {
    val rnd = new scala.util.Random(seed * 29 + 2)
    val words = randomWords(rnd, 1 + rnd.nextInt(3 * KgOracle.SENT_LEN + 5))
    val sents = SpanParser.parseDoc(
      InputDoc("d1", KgOracle.detSpansFor(words)), KgOracle.detCols)
    val nSents = (words.length + KgOracle.SENT_LEN - 1) / KgOracle.SENT_LEN
    assert(sents.length == nSents)
    for ((s, si) <- sents.zipWithIndex) {
      val ws = words.slice(si * KgOracle.SENT_LEN,
        math.min((si + 1) * KgOracle.SENT_LEN, words.length)).toSeq
      diff(s.triples.toSet, DetClosedForms.detTriples(si + 1, ws),
        s"seed=$seed sent=${si + 1} ntok=${ws.length}")
    }
  }

  for (seed <- seeds) test(s"seed $seed: SRL ARGs corpus == closed form incl. dangling-arg guard") {
    val rnd = new scala.util.Random(seed * 13 + 3)
    // random length deliberately NOT sentence-aligned: trailing partial
    // sentences are kept, exercising the predicate-row-missing guard at
    // every possible cut point
    val words = randomWords(rnd, 1 + rnd.nextInt(3 * KgOracle.SENT_LEN + 5))
    val sents = SpanParser.parseDoc(
      InputDoc("d1", KgOracle.srlSpansFor(words)), KgOracle.detSrlCols)
    val nSents = (words.length + KgOracle.SENT_LEN - 1) / KgOracle.SENT_LEN
    assert(sents.length == nSents)
    for ((s, si) <- sents.zipWithIndex) {
      val ws = words.slice(si * KgOracle.SENT_LEN,
        math.min((si + 1) * KgOracle.SENT_LEN, words.length)).toSeq
      diff(s.triples.toSet, DetClosedForms.srlTriples(si + 1, ws),
        s"seed=$seed sent=${si + 1} ntok=${ws.length}")
    }
  }

  for (seed <- seeds) test(s"seed $seed: dirty-TSV corpus == closed form after remove-IGNORE") {
    val rnd = new scala.util.Random(seed * 19 + 11)
    val words = randomWords(rnd, 1 + rnd.nextInt(3 * KgOracle.SENT_LEN + 5))
    val sents = SpanParser.parseDoc(
      InputDoc("d1", KgOracle.dirtySpansFor("d1", words)), KgOracle.detDirtyCols)
    val nSents = (words.length + KgOracle.SENT_LEN - 1) / KgOracle.SENT_LEN
    assert(sents.length == nSents)
    for ((s, si) <- sents.zipWithIndex) {
      val g = SentGraph(s)
      AnalyzeScripts.removeIgnore.run(g, 1)
      val ws = words.slice(si * KgOracle.SENT_LEN,
        math.min((si + 1) * KgOracle.SENT_LEN, words.length)).toSeq
      diff(g.all.toSet, DetClosedForms.dirtyTriples("d1", si + 1, ws),
        s"seed=$seed sent=${si + 1} ntok=${ws.length}")
    }
  }

  for (seed <- seeds) test(s"seed $seed: XML glue corpus == closed form through emptyNode2Word") {
    val rnd = new scala.util.Random(seed * 23 + 7)
    // random length; trailing partial sentences are dropped by the
    // generator (words.length / SENT_LEN complete sentences)
    val words = randomWords(rnd, rnd.nextInt(4 * KgOracle.SENT_LEN + 9))
    val sents = XmlTsvParser.parseDoc(
      InputDoc("dx", KgOracle.xmlGlueSpansFor("dx", words)), KgOracle.detXmlCols)
    assert(sents.length == words.length / KgOracle.SENT_LEN)
    for ((s, si) <- sents.zipWithIndex) {
      val g = SentGraph(s)
      TreesScripts.emptyNode2Word.run(g, 1)
      val ws = words.slice(si * KgOracle.SENT_LEN, (si + 1) * KgOracle.SENT_LEN).toSeq
      diff(g.all.toSet, DetClosedForms.glueTriples("dx", si + 1, ws),
        s"seed=$seed sent=${si + 1}")
    }
  }

  for (seed <- seeds) test(s"seed $seed: plain XML-TSV corpus == closed form through xAttributes2value") {
    val rnd = new scala.util.Random(seed * 41 + 19)
    val words = randomWords(rnd, 1 + rnd.nextInt(3 * KgOracle.SENT_LEN + 5))
    val sents = XmlTsvParser.parseDoc(
      InputDoc("dz", KgOracle.xmlSpansFor("dz", words)), KgOracle.detXmlCols)
    val nSents = (words.length + KgOracle.SENT_LEN - 1) / KgOracle.SENT_LEN
    assert(sents.length == nSents)
    for ((s, si) <- sents.zipWithIndex) {
      val g = SentGraph(s)
      TreesScripts.xAttributes2value.run(g, 1)
      val ws = words.slice(si * KgOracle.SENT_LEN,
        math.min((si + 1) * KgOracle.SENT_LEN, words.length)).toSeq
      diff(g.all.toSet, DetClosedForms.xmltsvTriples("dz", si + 1, ws),
        s"seed=$seed sent=${si + 1} ntok=${ws.length}")
    }
  }

  for (seed <- seeds) test(s"seed $seed: CoNLL-U-plus in-band schema beats wrong CLI columns") {
    val rnd = new scala.util.Random(seed * 43 + 29)
    val words = randomWords(rnd, 1 + rnd.nextInt(3 * KgOracle.SENT_LEN + 5))
    // the detPlusDocs shape: a # global.columns comment leads the doc,
    // and the parse is called with a deliberately WRONG column list —
    // the in-band schema must win (S5), leaving the base det triples
    // plus the comment surfacing as rdfs:comment on sentence 1
    val spans = Span("comment",
      s"# global.columns = ${KgOracle.detCols.mkString(" ")}", "", 0) +:
      KgOracle.detSpansFor(words).map(sp => sp.copy(offset = sp.offset + 1))
    val sents = SpanParser.parseDoc(InputDoc("d1", spans), Seq("IGNORE"))
    val nSents = (words.length + KgOracle.SENT_LEN - 1) / KgOracle.SENT_LEN
    assert(sents.length == nSents)
    for ((s, si) <- sents.zipWithIndex) {
      val ws = words.slice(si * KgOracle.SENT_LEN,
        math.min((si + 1) * KgOracle.SENT_LEN, words.length)).toSeq
      val exp = DetClosedForms.detTriples(si + 1, ws) ++
        (if (si == 0) Set(Triple(":s1_0", "rdfs:comment",
          s"global.columns = ${KgOracle.detCols.mkString(" ")}", oUri = false))
         else Set.empty[Triple])
      diff(s.triples.toSet, exp, s"seed=$seed sent=${si + 1} ntok=${ws.length}")
    }
  }

  for (seed <- seeds) test(s"seed $seed: canonical TTL write→parse roundtrip is the identity") {
    val rnd = new scala.util.Random(seed * 47 + 31)
    val words = randomWords(rnd, 1 + rnd.nextInt(3 * KgOracle.SENT_LEN + 5))
    val sents = SpanParser.parseDoc(
      InputDoc("d1", KgOracle.detSpansFor(words)), KgOracle.detCols)
    // K1 writer → S3 reader, chunk structure and triple sets preserved
    val ttl = Serializers.toCanonicalTtlDocument(sents, KgOracle.detCols, "urn:graft:d1#")
    val chunks = TtlParser.parseDocument(ttl)
    assert(chunks.length == sents.length)
    for ((chunk, si) <- chunks.zipWithIndex) {
      val exp = sents(si).triples.toSet
      val got = chunk.toSet
      assert(got == exp,
        s"seed=$seed sent=${si + 1}: missing=${exp -- got} extra=${got -- exp}")
    }
  }

  for (seed <- seeds) test(s"seed $seed: TenTen corpus == closed form through the repair path") {
    val rnd = new scala.util.Random(seed * 37 + 17)
    // random length; tenLinesFor keeps only complete 3-token sentences
    val words = randomWords(rnd, rnd.nextInt(12 * KgOracle.TT_LEN + 5))
    val lines = KgOracle.tenLinesFor(words)
    val nSents = words.length / KgOracle.TT_LEN
    if (nSents == 0) assert(lines.isEmpty)
    else {
      val doc = InputDoc("d1",
        TsvIngest.toSpans(TenTen.convert(lines, repair = true)))
      val sents = XmlTsvParser.parseDoc(doc, KgOracle.detTenCols)
      assert(sents.length == nSents)
      for ((s, si) <- sents.zipWithIndex) {
        val ws = words.slice(si * KgOracle.TT_LEN, (si + 1) * KgOracle.TT_LEN).toSeq
        diff(s.triples.toSet, DetClosedForms.tentenTriples(si + 1, ws),
          s"seed=$seed sent=${si + 1}")
      }
    }
  }

  for (seed <- seeds) test(s"seed $seed: segment corpus == closed form through the splitter") {
    val rnd = new scala.util.Random(seed * 17 + 5)
    val words = randomWords(rnd, rnd.nextInt(11 * KgOracle.SEG_LEN + 3))
    val doc = SegmentSplitter.insertNewSegmentComments(
      InputDoc("d1", KgOracle.segSpansFor(words)))
    val sents = SpanParser.parseDoc(doc, KgOracle.detSegCols)
    val nSents = words.length / KgOracle.SEG_LEN
    assert(sents.length == nSents)
    for ((s, si) <- sents.zipWithIndex) {
      val ws = words.slice(si * KgOracle.SEG_LEN, (si + 1) * KgOracle.SEG_LEN).toSeq
      diff(s.triples.toSet, DetClosedForms.segTriples(si + 1, ws),
        s"seed=$seed sent=${si + 1}")
    }
  }
}
