package graft.conll

import scala.collection.mutable

/** Named-graph ontology support (SURVEY §2.3 U14, §2.4 U12c).
  *
  * The reference loads OLiA annotation/linking models into Jena named
  * graphs and navigates them with property paths per sentence
  * (link-UPOS-simple.sparql:14-25, infer-olia-concepts.sparql:14-17).
  * Ontologies are small and read-only, so the Spark-native plan is:
  * compute the transitive closures ONCE on the driver, broadcast the
  * resulting maps, and turn every per-sentence path traversal into a map
  * lookup — never a distributed graph walk.
  */
final case class OntTriple(graph: String, s: String, p: String, o: String)

object Ontology {

  val SUBCLASS = "rdfs:subClassOf"
  val EQUIV = "owl:equivalentClass"
  val UNION = "owl:unionOf"
  val INTERSECTION = "owl:intersectionOf"
  val FIRST = "rdf:first"
  val REST = "rdf:rest"
  val HAS_TAG = "oliasys:hasTag"
  val TYPE = "rdf:type"

  /** Generic reachability closure from each node over the link-UPOS-simple
    * alternation path `(a|subClassOf|intersectionOf|unionOf|(rest* /first)
    * |equivalentClass|^equivalentClass)*`, restricted to a target-namespace
    * filter (`strstarts(str(?c),"http://purl.org/olia/olia")`).
    */
  def pathClosure(
      triples: Seq[OntTriple],
      graph: String,
      keep: String => Boolean
  ): Map[String, Seq[String]] = {
    val inGraph = triples.filter(_.graph == graph)
    val fwdPreds = Set(TYPE, SUBCLASS, INTERSECTION, UNION, REST, FIRST, EQUIV)
    val succ = mutable.HashMap[String, mutable.LinkedHashSet[String]]()
    for (t <- inGraph) {
      if (fwdPreds(t.p)) succ.getOrElseUpdate(t.s, mutable.LinkedHashSet()) += t.o
      if (t.p == EQUIV) succ.getOrElseUpdate(t.o, mutable.LinkedHashSet()) += t.s // ^equivalentClass
    }
    val nodes = inGraph.flatMap(t => Seq(t.s, t.o)).distinct
    nodes.map { n =>
      val star = mutable.LinkedHashSet(n) ++ Rules.closure(n)(succ.getOrElse(_, Nil))
      n -> star.toSeq.filter(keep)
    }.toMap
  }

  /** tag literal → all reachable kept concepts, via oliasys:hasTag then the
    * alternation-path closure (link-UPOS-simple.sparql:17-22). */
  def tagToConcepts(
      triples: Seq[OntTriple],
      graph: String,
      keep: String => Boolean
  ): Map[String, Seq[String]] = {
    val closure = pathClosure(triples, graph, keep)
    triples.filter(t => t.graph == graph && t.p == HAS_TAG)
      .groupBy(_.o)
      .map { case (tag, ts) =>
        tag -> ts.flatMap(t => closure.getOrElse(t.s, Seq.empty)).distinct
      }
  }

  /** concept → strict supers over (subClassOf|equivalentClass)+ within the
    * kept namespace (infer-olia-concepts.sparql:14-17). */
  def superClosure(
      triples: Seq[OntTriple],
      graph: String,
      keep: String => Boolean
  ): Map[String, Seq[String]] = {
    val succ = mutable.HashMap[String, mutable.LinkedHashSet[String]]()
    for (t <- triples if t.graph == graph && (t.p == SUBCLASS || t.p == EQUIV))
      succ.getOrElseUpdate(t.s, mutable.LinkedHashSet()) += t.o
    succ.keys.map(n => n -> Rules.closure(n)(succ.getOrElse(_, Nil)).toSeq.filter(keep)).toMap
  }

  /** Deterministic mini-OLiA fixture (FIXTURES.md F4): the UD/Penn tag
    * classes the REDUCE parser needs, with ≥2-level subclass chains and
    * one union list to exercise the alternation-path closure. Shapes
    * follow the public OLiA models (purl.org/olia), synthesized — no
    * network load.
    */
  val GRAPH_UD = "graph:ud-pos-all"
  val GRAPH_PENN = "graph:penn"
  val GRAPH_OLIA = "graph:olia"

  // the 5 oliasys tag-matching modes (link-penn-POS.sparql:27-31)
  val HAS_TAG_CONTAINING = "oliasys:hasTagContaining"
  val HAS_TAG_MATCHING = "oliasys:hasTagMatching"
  val HAS_TAG_STARTING = "oliasys:hasTagStartingWith"
  val HAS_TAG_ENDING = "oliasys:hasTagEndingWith"

  val miniOlia: Seq[OntTriple] = {
    // penn graph (annotation model + linking model in ONE graph, like the
    // reference loading penn.owl + penn-link.rdf into one named graph):
    // tag INSTANCES carry hasTag*, are typed by annotation-model classes,
    // which link ONE subclass step into the reference model; the
    // olia-internal hierarchy lives in GRAPH_OLIA (olia.owl) and is only
    // reachable via infer-olia-concepts — reproducing the layering of
    // examples/parse-ud.sh:36-45.
    def g(s: String, p: String, o: String) = OntTriple(GRAPH_PENN, s, p, o)
    def inst(tag: String, cls: String, olia: String) = Seq(
      g(s"penn:i$tag", HAS_TAG, tag),
      g(s"penn:i$tag", TYPE, s"penn:$cls"),
      g(s"penn:$cls", SUBCLASS, s"olia:$olia"))
    val penn = Seq(
      inst("NN", "CommonNoun", "CommonNoun"), inst("NNS", "CommonNoun", "CommonNoun"),
      inst("NNP", "ProperNoun", "ProperNoun"), inst("PRP", "PersonalPronoun", "PersonalPronoun"),
      inst("VBZ", "FiniteVerb", "FiniteVerb"), inst("VBD", "FiniteVerb", "FiniteVerb"),
      inst("VBP", "FiniteVerb", "FiniteVerb"), inst("VB", "BaseVerb", "Verb"),
      inst("VBN", "Participle", "Participle"), inst("VBG", "Gerund", "Gerund"),
      inst("JJ", "Adjective", "Adjective"), inst("RB", "Adverb", "Adverb"),
      inst("DT", "Determiner", "Determiner"), inst("CD", "CardinalNumber", "CardinalNumber"),
      inst("IN", "Preposition", "Preposition"), inst("HYPH", "Hyphen", "Punctuation"),
      inst("TO", "To", "InfinitiveParticle")
    ).flatten ++ Seq(
      // fuzzy matching modes: any VB* tag is at least a Verb; tags
      // containing "J" are adjectival — exercises modes 2 and 4
      g("penn:iVBany", HAS_TAG_STARTING, "VB"),
      g("penn:iVBany", TYPE, "penn:AnyVerb"),
      g("penn:AnyVerb", SUBCLASS, "olia:Verb"),
      g("penn:iJany", HAS_TAG_CONTAINING, "J"),
      g("penn:iJany", TYPE, "penn:AnyAdjectival"),
      g("penn:AnyAdjectival", SUBCLASS, "olia:AdjectivalHead")
    )
    // reference model graph (olia.owl): internal hierarchy (≥3 levels)
    def o(s: String, p: String, obj: String) = OntTriple(GRAPH_OLIA, s, p, obj)
    val olia = Seq(
      o("olia:CommonNoun", SUBCLASS, "olia:Noun"),
      o("olia:ProperNoun", SUBCLASS, "olia:Noun"),
      o("olia:Noun", SUBCLASS, "olia:Nominal"),
      o("olia:PersonalPronoun", SUBCLASS, "olia:Pronoun"),
      o("olia:Pronoun", SUBCLASS, "olia:Nominal"),
      o("olia:FiniteVerb", SUBCLASS, "olia:Verb"),
      o("olia:Participle", SUBCLASS, "olia:NonFiniteVerb"),
      o("olia:Gerund", SUBCLASS, "olia:NonFiniteVerb"),
      o("olia:NonFiniteVerb", SUBCLASS, "olia:Verb"),
      o("olia:Verb", SUBCLASS, "olia:MorphosyntacticCategory"),
      o("olia:Adjective", EQUIV, "olia:AdjectivalHead"),
      // one union list: olia:Modifier = unionOf(Adjective, Adverb)
      o("olia:Modifier", UNION, "_:l1"),
      o("_:l1", FIRST, "olia:Adjective"), o("_:l1", REST, "_:l2"),
      o("_:l2", FIRST, "olia:Adverb"), o("_:l2", REST, "rdf:nil")
    )
    // UD graph: UPOS tag classes (same shapes, graph-scoped)
    def u(s: String, p: String, o: String) = OntTriple(GRAPH_UD, s, p, o)
    val ud = Seq(
      ("NOUN", "olia:CommonNoun"), ("PROPN", "olia:ProperNoun"),
      ("PRON", "olia:Pronoun"), ("VERB", "olia:Verb"), ("AUX", "olia:AuxiliaryVerb"),
      ("ADJ", "olia:Adjective"), ("ADV", "olia:Adverb"), ("ADP", "olia:Preposition"),
      ("DET", "olia:Determiner"), ("NUM", "olia:CardinalNumber"),
      ("SCONJ", "olia:SubordinatingConjunction"), ("CONJ", "olia:CoordinatingConjunction"),
      ("PART", "olia:Particle"), ("PUNCT", "olia:Punctuation")
    ).flatMap { case (tag, cls) =>
      Seq(u(s"ud:$tag", HAS_TAG, tag), u(s"ud:$tag", SUBCLASS, cls))
    } ++ Seq(
      u("olia:CommonNoun", SUBCLASS, "olia:Noun"),
      u("olia:ProperNoun", SUBCLASS, "olia:Noun"),
      u("olia:AuxiliaryVerb", SUBCLASS, "olia:Verb"),
      u("olia:SubordinatingConjunction", SUBCLASS, "olia:Conjunction"),
      u("olia:CoordinatingConjunction", SUBCLASS, "olia:Conjunction")
    )
    penn ++ olia ++ ud
  }

  def keepOlia(uri: String): Boolean = uri.startsWith("olia:")

  /** "OLiA namespace" in the reference's sense: contains
    * 'http://purl.org/olia/' — which covers the reference model, the
    * annotation models AND oliasys (link-penn-POS.sparql:36,42,51). */
  def anyOliaNs(uri: String): Boolean =
    uri.startsWith("olia:") || uri.startsWith("penn:") ||
      uri.startsWith("ud:") || uri.startsWith("oliasys:")

  // ---- link-penn-POS support (5 matching modes + heuristic closure) ----

  /** One matched tag node's precomputed inserts. */
  final case class PennLink(
      mode: String,           // exact | containing | matching | starting | ending
      arg: String,            // tag literal / substring / regex
      wordInserts: Seq[(String, String, Boolean)], // (pred, obj, objIsUri) on the word
      standalone: Seq[Triple] // e.g. (?o a ?c) typings of ontology nodes
  ) {
    @transient private lazy val pattern: java.util.regex.Pattern = mode match {
      case "matching" => java.util.regex.Pattern.compile(arg)
      case "starting" => java.util.regex.Pattern.compile(arg + ".*")
      case "ending" => java.util.regex.Pattern.compile(".*" + arg)
      case _ => null
    }
    def matches(pos: String): Boolean = mode match {
      case "exact" => pos == arg
      case "containing" => pos.contains(arg)
      case _ => pattern.matcher(pos).find()
    }
  }

  /** Heuristic-disambiguation closure used by link-penn-POS:
    * `(owl:equivalentClass|rdfs:subClassOf|((owl:unionOf|owl:intersectionOf)/rdf:first))*`
    * — note `rdf:first` WITHOUT `rdf:rest*`: only the first disjunct of a
    * union is followed (link-penn-POS.sparql:38-40 "heuristic
    * disambiguation: return first candidate in a disjunction"). */
  def heuristicClosure(triples: Seq[OntTriple], graph: String, start: String): Seq[String] = {
    val inG = triples.filter(_.graph == graph)
    def succ(n: String): Seq[String] = {
      val direct = inG.collect {
        case t if t.s == n && (t.p == EQUIV || t.p == SUBCLASS) => t.o
      }
      val viaList = inG.collect {
        case t if t.s == n && (t.p == UNION || t.p == INTERSECTION) => t.o
      }.flatMap(l => inG.collect { case t if t.s == l && t.p == FIRST => t.o })
      direct ++ viaList
    }
    (mutable.LinkedHashSet(start) ++ Rules.closure(start)(succ)).toSeq
  }

  /** Compile the penn graph into runtime matchers with precomputed insert
    * sets — the whole-graph work happens ONCE on the driver and ships as
    * a broadcast-sized list (link-penn-POS.sparql semantics). */
  def pennLinks(triples: Seq[OntTriple], graph: String): Seq[PennLink] = {
    val inG = triples.filter(_.graph == graph)
    val modes = Map(
      HAS_TAG -> "exact", HAS_TAG_CONTAINING -> "containing",
      HAS_TAG_MATCHING -> "matching", HAS_TAG_STARTING -> "starting",
      HAS_TAG_ENDING -> "ending")
    for (t <- inG; mode <- modes.get(t.p).toSeq) yield {
      val x = t.s
      val wordIns = mutable.LinkedHashSet[(String, String, Boolean)]()
      val standalone = mutable.LinkedHashSet[Triple]()
      // UNION branch 1: ?x ?rel ?o with olia-flavored rel
      for (rt <- inG if rt.s == x && anyOliaNs(rt.p)) {
        val isUri = rt.o.contains(":") && !rt.o.startsWith("_:")
        wordIns += ((rt.p, rt.o, isUri))
        if (isUri) {
          // OPTIONAL closure of o: a/(equiv|sub|union/first)* filtered olia-ns
          val cs = inG.collect { case tt if tt.s == rt.o && tt.p == TYPE => tt.o }
            .flatMap(ty => heuristicClosure(triples, graph, ty))
            .filter(anyOliaNs).distinct
          for (c <- cs) {
            standalone += Triple(rt.o, TYPE, c, oUri = true)
            wordIns += ((rt.p, c, true))
          }
        }
        // OPTIONAL ?rel subPropertyOf* ?oliaRel within olia.owl: our mini
        // model declares no subproperty axioms → no extra rels
      }
      // UNION branch 2: ?x a/(...)* ?super
      val supers = inG.collect { case tt if tt.s == x && tt.p == TYPE => tt.o }
        .flatMap(ty => heuristicClosure(triples, graph, ty))
        .filter(anyOliaNs).distinct
      for (s <- supers) wordIns += ((TYPE, s, true))
      PennLink(mode, t.o, wordIns.toSeq, standalone.toSeq)
    }
  }
}
