package graft.conll

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class PipelineManagerSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val analyzeJson =
    """{
      "input": { "docs": 20 },
      "pipeline": [
        { "class": "CoNLLStreamExtractor",
          "columns": ["ID","WORD","LEMMA","UPOS","POS","FEAT","HEAD","EDGE","DEPS","MISC"] },
        { "class": "CoNLLRDFUpdater", "updates": [
            {"path": "examples/sparql/remove-IGNORE.sparql", "iter": "1"},
            {"path": "examples/sparql/analyze/UPOS-to-POSsynt.sparql", "iter": "1"},
            {"path": "examples/sparql/analyze/EDGE-to-POSsynt.sparql", "iter": "1"},
            {"path": "examples/sparql/analyze/consolidate-POSsynt.sparql", "iter": "1"} ] },
        { "class": "CoNLLRDFFormatter", "mode": "triples" }
      ]
    }"""

  test("JSON config builds and runs the analyze pipeline (K7)") {
    import spark.implicits._
    val out = PipelineManager.run(spark, analyzeJson).cache()
    assert(out.count() > 0)
    assert(out.filter($"pred" === "conll:POSsynt_match").count() > 0)
    out.unpersist()
  }

  test("JSON config with conll formatter mode produces the TSV shape") {
    val json = analyzeJson.replace("\"mode\": \"triples\"",
      "\"mode\": \"conll\", \"columns\": [\"WORD\",\"UPOS\",\"POSsynt_match\"]")
    val out = PipelineManager.run(spark, json)
    assert(out.columns.toSet == Set("doc_id", "sent", "tok", "WORD", "UPOS", "POSsynt_match"))
    assert(out.count() > 0)
  }

  test("iter 'u' and the {u}/{n} path suffixes map to the fixpoint cap (U1)") {
    // "iter": "u" — the reference's run-to-fixpoint marker
    val cfgU = PipelineManager.parseConfig(
      """{"input":{"docs":1},"pipeline":[
        {"class":"CoNLLRDFUpdater","updates":[
          {"path":"sparql/parse/REDUCE-english-1.sparql","iter":"u"}]}]}""")
    assert(cfgU.updates.head._2 == Rules.MAXITERATE)
    // literal {u} suffix on the path, as the reference CLI writes it
    // (CoNLLRDFCommandLine.parseUpdate:266-274)
    val cfgSuffix = PipelineManager.parseConfig(
      """{"input":{"docs":1},"pipeline":[
        {"class":"CoNLLRDFUpdater","updates":[
          {"path":"sparql/parse/REDUCE-english-1.sparql{u}"}]}]}""")
    assert(cfgSuffix.updates.head._1.name == "REDUCE-english-1")
    assert(cfgSuffix.updates.head._2 == Rules.MAXITERATE)
    // {n} suffix carries the count when no explicit iter is given
    val cfgN = PipelineManager.parseConfig(
      """{"input":{"docs":1},"pipeline":[
        {"class":"CoNLLRDFUpdater","updates":[
          {"path":"sparql/parse/REDUCE-english-1.sparql{3}"}]}]}""")
    assert(cfgN.updates.head._2 == 3)
  }

  test("iteration suffix {n} is honored; unknown scripts fail fast (U1)") {
    val cfg = PipelineManager.parseConfig(
      """{"input":{"docs":1},"pipeline":[
        {"class":"CoNLLRDFUpdater","updates":[
          {"path":"sparql/parse/REDUCE-english-1.sparql","iter":"5"}]}]}""")
    assert(cfg.updates.head._1.name == "REDUCE-english-1")
    assert(cfg.updates.head._2 == 5)
    assertThrows[IllegalArgumentException] {
      PipelineManager.parseConfig(
        """{"input":{"docs":1},"pipeline":[
          {"class":"CoNLLRDFUpdater","updates":[{"path":"no-such.sparql"}]}]}""")
    }
  }

  /** A triples-mode config running `updates` over the same 20 DocGen docs. */
  private def stackJson(updates: String*): String = {
    val paths = updates.map(u => "{\"path\": \"" + u + "\"}").mkString(", ")
    s"""{"input": {"docs": 20}, "pipeline": [
      {"class": "CoNLLRDFUpdater", "updates": [$paths]},
      {"class": "CoNLLRDFFormatter", "mode": "triples"}]}"""
  }

  test("the parse-ud and link-ud stacks through the manager equal Pipeline.parseCascade and linkCascade") {
    import spark.implicits._
    val stacks = Seq(
      Pipeline.parseCascade -> stackJson("sparql/remove-ID.sparql{1}", "sparql/remove-IGNORE.sparql",
        "link/link-penn-POS.sparql{1}", "link/remove-annotation-model.sparql",
        "link/infer-olia-concepts.sparql{1}", "parse/initialize-SHIFT.sparql",
        "parse/REDUCE-english-1.sparql{5}", "parse/REDUCE-english-2.sparql{5}",
        "parse/REDUCE-english-3.sparql{5}", "parse/REDUCE-english-4.sparql{3}",
        "parse/REDUCE-to-HEAD.sparql{1}"),
      Pipeline.linkCascade -> stackJson("link/link-UPOS-simple.sparql{1}",
        "infer-olia-concepts-ud{1}", "link/remove-annotation-model.sparql{1}"))
    for ((cascade, json) <- stacks) {
      assert(PipelineManager.parseConfig(json).updates.map(_._2) == cascade.map(_._2))
      val got = PipelineManager.run(spark, json).as[TripleRow].collect().sortBy(_.toString).toSeq
      val want = Pipeline.triples(Pipeline.rewrite(
        Pipeline.parse(DocGen.docs(spark, 20), DocGen.columns), cascade)).collect().sortBy(_.toString).toSeq
      assert(got.nonEmpty && got == want)
    }
    // the cascades' script names are the Pipeline.Metrics keys
    assert(Pipeline.linkCascade.map(_._1.name) ==
      Seq("link-UPOS-simple", "infer-olia-concepts", "remove-annotation-model"))
    assert(PipelineManager.scripts("infer-olia-concepts-ud").name == "infer-olia-concepts-ud")
  }

  test("a malformed config fails naming the missing or malformed key") {
    def failure(json: String): String =
      intercept[IllegalArgumentException](PipelineManager.parseConfig(json)).getMessage
    assert(failure("""{"input": {"docs": 1}}""").contains("\"pipeline\""))
    assert(failure("""{"pipeline": [{"mode": "triples"}]}""").contains("\"class\""))
    assert(failure("""{"pipeline": [{"class": "CoNLLRDFUpdater"}]}""").contains("\"updates\""))
    assert(failure("""{"pipeline": [{"class": "CoNLLRDFUpdater", "updates": [{"iter": "1"}]}]}""")
      .contains("\"path\""))
    val iter = failure(
      """{"pipeline": [{"class": "CoNLLRDFUpdater", "updates": [{"path": "remove-ID.sparql", "iter": "x"}]}]}""")
    assert(iter.contains("\"iter\"") && iter.contains("remove-ID") && iter.contains("'x'"))
  }

  test("a docs count that is not a non-negative integer, or an unknown mode, fails naming the key") {
    def failure(json: String): String =
      intercept[IllegalArgumentException](PipelineManager.parseConfig(json)).getMessage
    for (docs <- Seq("\"abc\"", "-5", "1.5", "\"\"")) {
      val msg = failure(s"""{"input": {"docs": $docs}, "pipeline": []}""")
      assert(msg.contains("\"docs\"") && msg.contains("non-negative integer"), msg)
    }
    assert(PipelineManager.parseConfig("""{"input": {"docs": 0}, "pipeline": []}""").input == Left(0L))
    assert(PipelineManager.parseConfig("""{"input": {"docs": "12"}, "pipeline": []}""").input == Left(12L))
    val mode = failure("""{"pipeline": [{"class": "CoNLLRDFFormatter", "mode": "tripels"}]}""")
    assert(mode.contains("\"mode\"") && mode.contains("'tripels'"), mode)
    for (m <- Seq("triples", "conll", "ntriples", "dot", "grammar", "semantics", "debug")) {
      assert(mode.contains(m), mode)
      val json = s"""{"pipeline": [{"class": "CoNLLRDFFormatter", "mode": "${m.toUpperCase}"}]}"""
      assert(PipelineManager.parseConfig(json).format == m)
    }
  }
}
