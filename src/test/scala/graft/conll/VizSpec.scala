package graft.conll

import org.scalatest.funsuite.AnyFunSuite

/** K5 (DOT dumps) / K6 (ANSI console diagnostics) — reference semantics:
  * CoNLLRDFViz.produceDot, CoNLLRDFFormatter.colorTTL /
  * extractCoNLLGraph. */
class VizSpec extends AnyFunSuite {

  private val cols = Seq("ID", "WORD", "UPOS", "HEAD", "EDGE")

  private def sentence(rows: Seq[String]): Sentence = {
    val spans = rows.zipWithIndex.map { case (r, i) => Span("token", r, "", i) }
    SpanParser.parseDoc(InputDoc("d1", spans), cols).head
  }

  private val s = sentence(Seq(
    "1\tthe\tDET\t2\tdet",
    "2\tfox\tNOUN\t0\troot"))

  test("K6 DEBUG: colorTtl applies the reference's ANSI coloring") {
    val ttl = Serializers.toCanonicalTtl(s, cols)
    val colored = Viz.colorTtl(ttl)
    // conll:* bright blue on cyan background; nif:* yellow
    assert(colored.contains(Viz.CYAN_BK + Viz.BRIGHTER + Viz.BLUE + "conll:WORD"))
    assert(colored.contains("\u001b[33mnif:Word"))
    assert(colored.contains(Viz.RESET))
    // idempotent input: uncolored text is unchanged modulo the codes
    assert(colored.replaceAll("\u001b\\[[0-9]+m", "") == ttl)
  }

  test("K6 GRAMMAR: asciiTree renders ids, depth dots, head direction, edges") {
    val tree = Viz.asciiTree(s)
    val lines = tree.split("\n")
    assert(lines.length == 2)
    // token 1: depth 2 (HEAD+ = {token2, sentence node}), head to the
    // right → " / ", edge det
    assert(lines(0).startsWith("s1_1"))
    assert(lines(0).contains(Viz.WHITE + " . ." + Viz.RESET + " / det"))
    // token 2: depth 1 (HEAD+ = {sentence node}), head :s1_0 numerically
    // before :s1_2 → " \ "
    assert(lines(1).startsWith("s1_2"))
    assert(lines(1).contains(Viz.WHITE + " ." + Viz.RESET + " \\ root"))
    // surfaces present, ID annotation underlined in blue
    assert(lines(0).contains(" the") && lines(1).contains(" fox"))
    assert(lines(0).contains(Viz.BLUE + Viz.ULINE + "ID" + Viz.RESET + " 1"))
  }

  test("K6 GRAMMAR: OLiA type concepts rendered in red") {
    val g = SentGraph(s)
    g.add(Triple(":s1_2", "rdf:type", "olia:CommonNoun", oUri = true))
    val tree = Viz.asciiTree(Sentence("d1", 1L, g.all))
    assert(tree.contains(Viz.RED + "olia:CommonNoun" + Viz.RESET))
  }

  test("K6 SEMANTICS: termGraph renders degree headers, grouped rels, labels — exactly") {
    val s3 = sentence(Seq(
      "1\tJohn\tNOUN\t2\tsubj",
      "2\twants\tVERB\t0\troot",
      "3\tbeer\tNOUN\t2\tobj"))
    val g = SentGraph(s3)
    g.add(Triple(":s1_2", "rdf:type", "terms:want", oUri = true))
    g.add(Triple(":s1_2", "terms:agent", ":s1_1", oUri = true))
    g.add(Triple(":s1_2", "terms:theme", ":s1_3", oUri = true))
    g.add(Triple(":s1_2", "terms:theme", ":s1_4", oUri = true))
    g.add(Triple(":s1_1", "rdfs:label", "John", oUri = false))
    val out = Viz.termGraph(Sentence("d1", 1L, g.all))
    // Hand-derived against extractTermGraph's row loop: the rdf:type row
    // sorts first (its ?nr is unbound), in/out count only
    // terms:-predicate edges (rdf:type is rdf-ns → out = 3, not 4), the
    // repeated (s, r) theme pair continues with ';'.
    val exp = "John wants beer " +
      "\ns1_2 (0 > node > 3)" +
      "\n\ta " + Viz.YLW_BK + "terms:want" + Viz.RESET +
      "\n\t" + Viz.YLW_BK + "terms:agent" + Viz.RESET +
        " s1_1 " + Viz.CYAN + "\"John\"" + Viz.RESET +
      "\n\t" + Viz.YLW_BK + "terms:theme" + Viz.RESET + " s1_3" +
      ";  s1_4" + // the reference emits '; ' then ' '+o — two spaces, faithfully
      "\n"
    assert(out == exp, s"\ngot:\n${out.replace("\u001b", "<ESC>")}\nexp:\n${exp.replace("\u001b", "<ESC>")}")
    // includeTermConcepts=false: the 'a terms:want' line is suppressed,
    // the header still prints (the reference prints it before the check)
    val noConcepts = Viz.termGraph(Sentence("d1", 1L, g.all),
      includeTermConcepts = false)
    assert(!noConcepts.contains("\ta "))
    assert(noConcepts.contains("\ns1_2 (0 > node > 3)"))
    assert(noConcepts.contains("terms:agent"))
  }

  test("K7 manager: SEMANTICS mode produces per-sentence term-graph rows") {
    val spark = graft.TestSpark.spark
    val rows = PipelineManager.run(spark,
      """{"input": {"docs": 3}, "pipeline": [
            {"class": "CoNLLStreamExtractor"},
            {"class": "CoNLLRDFFormatter", "mode": "SEMANTICS"}]}""").collect()
    // no terms: triples in the generated corpus → sentence line only,
    // but one row per sentence with the trailing newline contract
    assert(rows.nonEmpty)
    assert(rows.head.getString(2).endsWith("\n"))
  }

  test("K5 DOT: both clusters, labeled HEAD edge, rank groups, anchors") {
    val dot = Viz.toDot(s)
    assert(dot.startsWith("digraph {\ncharset=\"utf-8\";\n"))
    assert(dot.contains("subgraph cluster_deps {"))
    assert(dot.contains("subgraph cluster_graph {"))
    // word nodes carry their literal table + type row
    assert(dot.contains("<td colspan='2' align='center'>:s1_1</td>"))
    assert(dot.contains("a nif:Word"))
    assert(dot.contains("<td align='left'>the</td><td align='right'><sub>conll:WORD</sub></td>"))
    // HEAD edge labeled with the EDGE literal in the CoNLL view
    assert(dot.contains("[weight=\"0\", constraint=\"false\", label=\"det\"];"))
    // nextWord chain gray in the CoNLL view, invisible in the graph view
    assert(dot.contains("[label=\" \", color=\"gray\", weight=\"10\"];"))
    // sentence node black, words gray, rank groups + invisible anchors
    assert(dot.contains(">,shape=box,color=black];"))
    assert(dot.contains("{ rank=same "))
    assert(dot.contains("\"B0\" [label=\"\", shape=box, color=invis];"))
    assert(dot.contains("\"B1\" [label=\"\", shape=box, color=invis];"))
    // balanced braces → parseable structure
    assert(dot.count(_ == '{') == dot.count(_ == '}'))
  }

  test("K5 DOT: optional SPARQL query box attaches under the roots") {
    val dot = Viz.toDot(s, Some("DELETE { ?a ?b ?c }\nWHERE { ?a ?b ?c }"))
    assert(dot.contains("subgraph cluster_sparql {"))
    assert(dot.contains("node1 [label=\"DELETE { ?a ?b ?c }\\lWHERE { ?a ?b ?c }\"]"))
    assert(dot.contains("-> \"node1\" [color=\"invis\", minlen=2];"))
  }

  test("K7 manager: DOT/GRAMMAR/DEBUG formatter modes produce per-sentence rows") {
    val spark = graft.TestSpark.spark
    def run(mode: String) = PipelineManager.run(spark,
      s"""{"input": {"docs": 5}, "pipeline": [
            {"class": "CoNLLStreamExtractor"},
            {"class": "CoNLLRDFFormatter", "mode": "$mode"}]}""").collect()
    val dots = run("DOT")
    assert(dots.nonEmpty && dots.head.getString(2).startsWith("digraph {"))
    val trees = run("GRAMMAR")
    assert(trees.nonEmpty && trees.head.getString(2).contains(Viz.WHITE))
    val debug = run("DEBUG")
    assert(debug.nonEmpty && debug.head.getString(2).contains(Viz.CYAN_BK))
  }
}
