package graft.conll

import Rules._

/** Hand-compiled linking scripts from /root/reference/examples/sparql/link/,
  * parametrized by driver-precomputed (and Spark-broadcast) ontology
  * closures instead of per-sentence property-path walks (SURVEY §2.4 U12c).
  */
object LinkScripts {

  /** link/link-UPOS-simple.sparql:14-25 — type each word with every OLiA
    * concept reachable from its UPOS tag's annotation-model class. */
  def linkUposSimple(tagToConcepts: Map[String, Seq[String]]): Script =
    Script("link-UPOS-simple", Seq(
      { (g, out) =>
        g.foreachPair(conll("UPOS")) { (w, pos, _) =>
          tagToConcepts.getOrElse(pos, Seq.empty).foreach(c => out.insUri(w, A, c))
        }
      }
    ))

  /** Full link/link-penn-POS.sparql: all 5 oliasys tag-matching modes
    * (exact/containing/regex/starting/ending), relation replication with
    * heuristic-disambiguated closure typing, and annotation-class supers —
    * driver-precompiled to Ontology.PennLink entries. */
  def linkPennPosFull(links: Seq[Ontology.PennLink]): Script =
    Script("link-penn-POS", Seq(
      { (g, out) =>
        for ((w, pos, _) <- g.pairs(conll("POS")); link <- links if link.matches(pos)) {
          for ((p, o, isUri) <- link.wordInserts)
            if (isUri) out.insUri(w, p, o) else out.insLit(w, p, o)
          out.ins ++= link.standalone
        }
      }
    ))

  /** link/infer-olia-concepts.sparql — close types over
    * (subClassOf|equivalentClass)+ within the reference namespace. */
  def inferOliaConcepts(supers: Map[String, Seq[String]]): Script =
    Script("infer-olia-concepts", Seq(
      { (g, out) =>
        g.foreachPair(A) { (w, c, _) =>
          if (c.startsWith("olia:"))
            supers.getOrElse(c, Seq.empty).foreach(sup => out.insUri(w, A, sup))
        }
      }
    ))

  /** link/remove-annotation-model.sparql — delete triples mentioning
    * annotation-model namespaces: anything OLiA-flavored that is not the
    * reference model. In our prefix encoding those are the penn/ud
    * annotation models and oliasys (all under http://purl.org/olia/
    * except olia.owl — remove-annotation-model.sparql:3-8); the reference
    * model is `olia:`. */
  def removeAnnotationModel(): Script = {
    def annotationNs(uri: String): Boolean =
      uri.startsWith("ud:") || uri.startsWith("penn:") || uri.startsWith("oliasys:")
    Script("remove-annotation-model", Seq(
      { (g, out) =>
        g.foreachTriple { (s, p, o, u) =>
          if (annotationNs(s) || annotationNs(p) || (u && annotationNs(o)))
            out.del(s, p, o, u)
        }
      }
    ))
  }
}
