package graft.conll

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** ScalaCheck properties from FIXTURES.md §3 / SURVEY §5:
  * span-sequence preservation, determinism, fixpoint termination ≤
  * MAXITERATE, insert idempotence (set semantics).
  */
class PropertiesSpec extends AnyFunSuite {

  private def check(p: Prop, n: Int = 40): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(r.passed, r.status.toString)
  }

  private val genDocId: Gen[Long] = Gen.choose(0L, 100000L)

  test("property: parse is deterministic and pure (same doc → same triples)") {
    check(Prop.forAll(genDocId) { id =>
      val d = DocGen.genDoc(42L, id)
      SpanParser.parseDoc(d, DocGen.columns) == SpanParser.parseDoc(d, DocGen.columns)
    })
  }

  test("property: parsing preserves the span sequence (kind,text,media_ref,order)") {
    check(Prop.forAll(genDocId) { id =>
      val d = DocGen.genDoc(42L, id)
      val before = d.spans.map(s => (s.kind, s.text, s.media_ref, s.offset))
      SpanParser.parseDoc(d, DocGen.columns)
      before == d.spans.map(s => (s.kind, s.text, s.media_ref, s.offset))
    })
  }

  test("property: every cascade converges within MAXITERATE and is idempotent at fixpoint") {
    val cascades = Pipeline.analyzeCascade ++ Pipeline.linkCascade ++ Pipeline.parseCascade
    check(Prop.forAll(genDocId) { id =>
      SpanParser.parseDoc(DocGen.genDoc(42L, id), DocGen.columns).forall { sentence =>
        val g = SentGraph(sentence)
        cascades.forall { case (script, _) =>
          val it = script.run(g, Rules.MAXITERATE)
          val v = g.version
          script.runOnce(g)
          it < Rules.MAXITERATE && g.version == v
        }
      }
    }, n = 25)
  }

  test("property: duplicate insert and absent delete are no-ops (set semantics)") {
    check(Prop.forAll(genDocId) { id =>
      SpanParser.parseDoc(DocGen.genDoc(42L, id), DocGen.columns).take(2).forall { s =>
        val g = SentGraph(s)
        val n = g.size
        val noDup = s.triples.forall(t => !g.add(t))
        noDup && g.size == n &&
          !g.remove(Triple(":nope", "conll:NOPE", "x", false)) && g.size == n
      }
    })
  }

  test("property: SentGraph round-trips the inserted triple set exactly") {
    check(Prop.forAll(genDocId) { id =>
      SpanParser.parseDoc(DocGen.genDoc(42L, id), DocGen.columns).take(2).forall { s =>
        val g = SentGraph(s)
        g.all.toSet == s.triples.toSet && g.size == s.triples.distinct.size
      }
    })
  }

  test("property: parse → toConllTsv round-trips arbitrary safe cell matrices") {
    // safe alphabet: no tabs/newlines/'#'/escaping-relevant chars, cells
    // never matching the empty-cell pattern — the exact-identity domain
    // (escaped/empty variants are covered by SerializersSpec and
    // kg_tsv_fidelity)
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val genCell = Gen.chooseNum(1, 8)
      .flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
      .suchThat(c => !SpanParser.isEmptyCell(c))
    val genRow = Gen.listOfN(3, genCell) // WORD, UPOS, EDGE
    val genSentence = Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, genRow))
    val cols = Seq("ID", "WORD", "UPOS", "EDGE")
    check(Prop.forAll(genSentence) { rows =>
      val spans = rows.zipWithIndex.map { case (cells, i) =>
        Span("token", s"${i + 1}\t${cells.mkString("\t")}", "", i)
      }
      val sents = SpanParser.parseDoc(InputDoc("dp", spans), cols)
      val t = spark.createDataset(sents.flatMap(s =>
        s.triples.map(tr => TripleRow(s.docId, s.sent, tr.s, tr.p, tr.o, tr.oUri)))).toDF()
      val out = Serializers.toConllTsv(t, cols)
        .orderBy($"tok")
        .select($"ID", $"WORD", $"UPOS", $"EDGE")
        .as[(String, String, String, String)].collect()
      out.toList == rows.zipWithIndex.map { case (cells, i) =>
        ((i + 1).toString, cells(0), cells(1), cells(2))
      }
    }, n = 15)
  }

  test("property: the XML-TSV and bracket readers parse plain TSV exactly like SpanParser") {
    // plain-TSV docs: token and sentence_break spans only, no '#', '<',
    // '(' or ')' in any cell. Cells never start or end with whitespace
    // and the first one is never empty, so trimming a line never shifts
    // a declared ID column off its cell.
    val genWord = for {
      h <- Gen.oneOf("abcxyz019&\"\\*.-")
      t <- Gen.chooseNum(0, 5).flatMap(Gen.listOfN(_, Gen.oneOf("abcxyz019 &\"\\*.-")))
    } yield (h +: t).mkString.trim
    val genFilled = Gen.frequency(6 -> genWord, 2 -> Gen.oneOf("_", "-", "O", "--", "__"))
    val genCell = Gen.frequency(8 -> genFilled, 1 -> Gen.const(""))
    val genId = Gen.oneOf(Gen.choose(1, 30).map(_.toString), Gen.const("1-2"), genWord)
    val genDoc = for {
      labels <- Gen.choose(1, 4).flatMap(n => Gen.pick(n, Seq("WORD", "UPOS", "LEMMA", "HEAD", "EDGE", "MISC")))
      idAt <- Gen.oneOf(Gen.const(None), Gen.choose(0, labels.length).map(Some(_)))
      cols = idAt.fold(labels.toSeq)(i => labels.patch(i, Seq("ID"), 0).toSeq)
      genRow = Gen.sequence[Seq[String], String](cols.indices.map { i =>
        if (idAt.contains(i)) genId else if (i == 0) genFilled else genCell
      })
      sizes <- Gen.oneOf(Gen.const(Seq(1)),
        Gen.choose(2, 4).flatMap(n => Gen.listOfN(n, Gen.choose(1, 5))))
      // sentence_break runs: before the first sentence, between
      // sentences (at least one) and after the last
      lead <- Gen.choose(0, 2)
      gaps <- Gen.listOfN(sizes.length - 1, Gen.choose(1, 2))
      trail <- Gen.choose(0, 2)
      rows <- Gen.sequence[Seq[List[Seq[String]]], List[Seq[String]]](sizes.map(Gen.listOfN(_, genRow)))
    } yield {
      val texts = Seq.fill(lead)(None) ++ rows.zip(gaps :+ trail).flatMap { case (sent, b) =>
        sent.map(r => Some(r.mkString("\t"))) ++ Seq.fill(b)(None)
      }
      val spans = texts.zipWithIndex.map {
        case (Some(t), i) => Span("token", t, "", i)
        case (None, i) => Span("sentence_break", "", "", i)
      }
      (InputDoc("dp", spans), cols, idAt.isDefined, sizes == Seq(1))
    }
    val seen = scala.collection.mutable.Set[String]()
    check(Prop.forAllNoShrink(genDoc) { case (d, cols, hasId, singleRow) =>
      seen += (if (hasId) "ID column" else "no ID column")
      seen += (if (singleRow) "single row" else "multi-sentence")
      val ref = SpanParser.parseDoc(d, cols)
      XmlTsvParser.parseDoc(d, cols) == ref && BracketsParser.parseDoc(d, cols) == ref
    }, n = 200)
    assert(seen == Set("ID column", "no ID column", "single row", "multi-sentence"), seen)
  }

  test("property: lexiconumeric key is order-isomorphic to numeric token order") {
    val genTok = Gen.choose(0, 5000)
    check(Prop.forAll(genTok, genTok) { (a, b) =>
      val ka = graft.functions.Lexiconumeric.keyString(s":s1_$a")
      val kb = graft.functions.Lexiconumeric.keyString(s":s1_$b")
      (a == b) || ((a < b) == (ka < kb))
    }, n = 200)
  }

  test("property: each reader emits the graph its cascade starts from: triples(parse(x)) == rewriteTriples(parse(x), Nil), row for row") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    import graft.queries.KgOracle
    // words over letters, digits and the escaped characters, with the
    // empty-cell forms among them
    val genWord = Gen.oneOf(
      Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf(
        Gen.alphaNumChar, Gen.oneOf('&', '"', '\\'))).map(_.mkString)),
      Gen.oneOf("_", "O", "--"))
    val genDocs = Gen.listOfN(6, Gen.chooseNum(1, 40).flatMap(n => Gen.listOfN(n, genWord)))
    val (xmlCols, bracketCols, srlCols, detCols) =
      (KgOracle.detXmlCols, KgOracle.detBracketCols, KgOracle.detSrlCols, KgOracle.detCols)
    def same(sents: org.apache.spark.sql.Dataset[Sentence]): Boolean =
      Pipeline.triples(sents).collect().toSeq == Pipeline.rewriteTriples(sents, Nil).collect().toSeq
    check(Prop.forAll(genDocs, genDocId) { (texts, id) =>
      val words = texts.map(_.toArray).zipWithIndex.map { case (w, i) => (s"d$i", w) }
      def docs(spans: (String, Array[String]) => Seq[Span]) =
        words.map { case (d, w) => InputDoc(d, spans(d, w)) }.toDS()
      val ttl = words.map { case (d, w) =>
        (d, Serializers.toCanonicalTtlDocument(
          SpanParser.parseDoc(InputDoc(d, KgOracle.detSpansFor(w)), detCols), detCols, s"urn:graft:$d#"))
      }.toDS()
      same(Pipeline.parse(spark.createDataset((0L until 4L).map(k => DocGen.genDoc(42L, id + k))),
          DocGen.columns)) &&
        same(docs(KgOracle.xmlSpansFor).flatMap(d => XmlTsvParser.parseDoc(d, xmlCols))) &&
        same(docs((_, w) => KgOracle.bracketSpansFor(w)).flatMap(d => BracketsParser.parseDoc(d, bracketCols))) &&
        same(docs((_, w) => KgOracle.bracketSpansFor(w))
          .flatMap(d => BracketsParser.parseDoc(d, bracketCols, spanUris = true))) &&
        same(Pipeline.parse(docs((_, w) => KgOracle.srlSpansFor(w)), srlCols)) &&
        same(Pipeline.parseTtl(ttl))
    }, n = 6)
  }
}
