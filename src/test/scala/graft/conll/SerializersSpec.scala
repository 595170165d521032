package graft.conll

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class SerializersSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val cols = Seq("ID", "WORD", "UPOS", "HEAD", "EDGE")

  private def sentences(rows: Seq[String]): Seq[Sentence] = {
    val spans = (rows :+ "").zipWithIndex.map { case (r, i) =>
      Span(if (r.isEmpty) "sentence_break" else "token", r, "", i)
    }
    SpanParser.parseDoc(InputDoc("d1", spans), cols)
  }

  test("canonical TTL: property order and lexiconumeric line sort (K1)") {
    val s = sentences(Seq(
      "1\tthe\tDET\t2\tdet",
      "2\tfox\tNOUN\t0\troot"
    )).head
    val ttl = Serializers.toCanonicalTtl(s, cols)
    val lines = ttl.split("\n")
    // sentence node sorts before tokens (s1_0 < s1_1 numerically)
    assert(lines(0).startsWith(":s1_0 a nif:Sentence"))
    // reference order: a nif:Word, conll:WORD, then user columns
    // (CoNLLRDFFormatter.reorderTTLBuffer, CoNLLRDFFormatter.java:418-503)
    assert(lines(1).startsWith(":s1_1 a nif:Word; conll:WORD \"the\"; conll:ID \"1\""))
    // nextWord is the last property on the token line
    assert(lines(1).endsWith("nif:nextWord :s1_2 ."))
  }

  test("lexiconumeric key: s1_10 sorts after s1_2") {
    val k = Serializers.lexiconumericKey _
    assert(k(":s1_2") < k(":s1_10"))
    assert(":s1_10" < ":s1_2") // plain lexicographic would invert
  }

  test("sorted N-Triples expands prefixes and sorts (K4)") {
    import spark.implicits._
    val s = sentences(Seq("1\tfox\tNOUN\t0\troot")).head
    val ds = spark.createDataset(
      s.triples.map(t => TripleRow("d1", 1L, t.s, t.p, t.o, t.oUri)))
    val lines = Serializers.toSortedNTriples(ds).collect()
    assert(lines.sameElements(lines.sorted))
    assert(lines.exists(_.contains("<http://persistence.uni-leipzig.org/nlp2rdf/ontologies/nif-core#Word>")))
    assert(lines.exists(_.startsWith("<urn:graft:d1#s1_1>")))
  }

  test("CoNLL TSV export reconstructs the original rows (K2 roundtrip)") {
    import spark.implicits._
    val rows = Seq(
      "1\tthe\tDET\t3\tdet",
      "2\tquick\tADJ\t3\tamod",
      "3\tfox\tNOUN\t0\troot"
    )
    val sents = sentences(rows)
    val t = spark.createDataset(sents.flatMap(s =>
      s.triples.map(tr => TripleRow(s.docId, s.sent, tr.s, tr.p, tr.o, tr.oUri))))
    val out = Serializers.toConllTsv(t.toDF(), cols)
      .orderBy($"sent", $"tok")
      .select($"ID", $"WORD", $"UPOS", $"HEAD", $"EDGE")
      .as[(String, String, String, String, String)]
      .collect()
      .map(r => Seq(r._1, r._2, r._3, r._4, r._5).mkString("\t"))
    assert(out.toSeq == rows)
  }

  test("CoNLL TSV export: multi-values joined by '|', missing cells '_'") {
    import spark.implicits._
    val t = Seq(
      TripleRow("d1", 1L, ":s1_1", "rdf:type", "nif:Word", true),
      TripleRow("d1", 1L, ":s1_1", "conll:WORD", "x", false),
      TripleRow("d1", 1L, ":s1_1", "conll:UPOS", "NOUN", false),
      TripleRow("d1", 1L, ":s1_1", "conll:UPOS", "PROPN", false)
    ).toDS
    val out = Serializers.toConllTsv(t.toDF(), Seq("WORD", "UPOS", "EDGE")).collect().head
    assert(out.getAs[String]("UPOS") == "NOUN|PROPN")
    assert(out.getAs[String]("EDGE") == "_")
  }

  test("K2 export keeps CoNLL-U multiword range-ID rows, in CoNLL-U order") {
    import spark.implicits._
    // ids pass through verbatim (:s1_1-2 — SpanParser), and the export
    // must carry them: the r2 `_([0-9]+)$` tok extraction dropped them
    val rows = Seq(
      "1-2\tvamonos\t_\t_\t_",
      "1\tvamos\tVERB\t0\troot",
      "2\tnos\tPRON\t1\tobj")
    val sents = sentences(rows)
    val t = spark.createDataset(sents.flatMap(s =>
      s.triples.map(tr => TripleRow(s.docId, s.sent, tr.s, tr.p, tr.o, tr.oUri)))).toDF()
    val out = Serializers.toConllTsv(t, cols)
    assert(out.count() == 3)
    assert(out.filter($"ID" === "1-2" && $"WORD" === "vamonos").count() == 1)
    // text sink: range line precedes its first covered token
    val text = Serializers.toConllText(t, cols).collect().head.getAs[String]("text")
    assert(text.split("\n").drop(1).toSeq == rows)
  }

  test("-conll column auto-discovery from the global.columns comment (K3 chain)") {
    import spark.implicits._
    // a CoNLL-U Plus doc: the schema travels in the comment, not the call
    val doc = InputDoc("d9", Seq(
      Span("comment", "# global.columns = WORD POS", "", 0),
      Span("token", "fox\tNN", "", 1),
      Span("token", "runs\tVBZ", "", 2),
      Span("sentence_break", "", "", 3)
    ))
    // declared columns deliberately wrong — the comment overrides (S5)
    val sents = SpanParser.parseDoc(doc, Seq("ID", "WORD"))
    val t = spark.createDataset(sents.flatMap(s =>
      s.triples.map(tr => TripleRow(s.docId, s.sent, tr.s, tr.p, tr.o, tr.oUri)))).toDF()
    assert(Serializers.discoverColumns(t) == Seq("WORD", "POS"))
    // CLI list > comment; empty list → comment discovery — both exports match
    val explicit = Serializers.toConllTsv(t, Seq("WORD", "POS")).collect().toSeq
    val discovered = Serializers.toConllTsv(t, Seq.empty).collect().toSeq
    assert(discovered == explicit)
    val text = Serializers.toConllText(t, Seq.empty).collect().head.getAs[String]("text")
    assert(text.startsWith("# global.columns = WORD POS\n"))
    assert(text.contains("fox\tNN"))
  }

  test("U18: UTF-8 validation \u2014 byte layer, surrogates, strict FFFD mode") {
    import spark.implicits._
    // byte layer: the reference's isValidUTF8 semantics
    assert(Pipeline.isValidUtf8("fox".getBytes("UTF-8")))
    assert(!Pipeline.isValidUtf8(Array[Byte](0x66, 0x6f, 0xC3.toByte))) // truncated seq
    // malformed bytes decoded as UTF-8 surface as U+FFFD
    val bad = new String(Array[Byte](0x66, 0x6f, 0xC3.toByte), "UTF-8")
    assert(bad.contains('\uFFFD'))
    // NOTE: unpaired surrogates cannot even reach the filter — Spark's
    // UTF8String encoder sanitizes them at Dataset-encode time — which is
    // exactly why the byte-layer check above is the real gate (ADVICE r2)
    val docs = Seq(
      InputDoc("ok", Seq(Span("token", "1\tx\tNOUN\t0\troot", "", 0))),
      InputDoc("fffd", Seq(Span("token", s"1\t$bad\tNOUN\t0\troot", "", 0)))
    ).toDS
    // reference parity (the CLI manager's mode): FFFD docs drop
    val r = spark.sparkContext.longAccumulator("utf8_rejected_strict")
    val kept = Pipeline.validateUtf8(docs, r).collect()
    assert(kept.map(_.doc_id).toSeq == Seq("ok"))
    assert(r.value == 1L)
  }
}
