package graft.conll

import Rules._

/** Hand-compiled rewrite scripts from /root/reference/examples/sparql/
  * (analyze + generic removals), preserving statement order and guard
  * semantics exactly (SURVEY §2.5).
  */
object AnalyzeScripts {

  private val PS_UPOS = conll("POSsynt_UPOS")
  private val PS_UD = conll("POSsynt_UD")
  private val UPOS = conll("UPOS")
  private val EDGE = conll("EDGE")
  private val HEAD = conll("HEAD")

  /** remove-ID.sparql / remove-IGNORE.sparql:1-7 — drop one column. */
  def removeColumn(col: String): Script = Script(s"remove-$col", Seq(
    { (g, out) =>
      g.foreachPair(conll(col))((s, o, u) => out.del(s, conll(col), o, u))
    }
  ))

  val removeId: Script = removeColumn("ID")
  val removeIgnore: Script = removeColumn("IGNORE")

  /** analyze/UPOS-to-POSsynt.sparql — 8 ordered INSERT statements; later
    * statements guarded by NOT EXISTS on the accumulating POSsynt_UPOS
    * (order-dependent: a word classified once is never reclassified). */
  val uposToPossynt: Script = {
    def classify(pat: String, exact: Boolean, values: Seq[String], guard: Boolean): Stage = {
      val matches = if (exact) null else rex(pat)
      (g, out) =>
        g.foreachPair(UPOS) { (w, upos, _) =>
          if ((!guard || !g.has(w, PS_UPOS)) &&
              (if (exact) upos == pat else matches(upos)))
            values.foreach(v => out.insLit(w, PS_UPOS, v))
        }
    }
    Script("UPOS-to-POSsynt", Seq(
      classify("NOUN|PROPN|PRON", exact = false, Seq("N"), guard = false),
      classify("VERB|AUX", exact = false, Seq("V"), guard = true),
      classify("ADJ|DET|NUM", exact = false, Seq("AN"), guard = true),
      classify("ADV|PART", exact = false, Seq("AV"), guard = true),
      classify("ADP", exact = true, Seq("RN", "AN"), guard = true),
      classify("SCONJ", exact = true, Seq("RV", "AV"), guard = true),
      classify("CONJ", exact = true, Seq("RM"), guard = true),
      classify("^(INTJ|PUNCT|SYM|X)$", exact = false, Seq("X"), guard = true)
    ))
  }

  /** analyze/EDGE-to-POSsynt.sparql — 13 ordered statements mapping
    * dependency labels to POSsynt_UD for word and/or head; the propagation
    * statement appears twice in the source (= 2 hops per script run). */
  val edgeToPossynt: Script = {
    // the statements' one WHERE shape: each word `w` whose EDGE matches
    // `pat`, paired with each of its HEADs `h`
    def edgeHead(pat: String)(f: (SentGraph, Out, String, String) => Unit): Stage = {
      val matches = rex(pat)
      (g, out) =>
        g.foreachPair(EDGE) { (w, edge, _) =>
          if (matches(edge)) g.foreachObject(w, HEAD)(h => f(g, out, w, h))
        }
    }
    // common INSERT shape: word gets wv (if set), every HEAD gets hv (if set)
    def edgeRule(pat: String, wv: Option[String], hv: Option[String]): Stage =
      edgeHead(pat) { (_, out, w, h) =>
        wv.foreach(v => out.insLit(w, PS_UD, v))
        hv.foreach(v => out.insLit(h, PS_UD, v))
      }
    val negAv: Stage = edgeHead("^(neg)") { (g, out, w, h) =>
      if (!g.has(w, PS_UD) && g.has(h, PS_UD) && !g.has(h, PS_UD, "N"))
        out.insLit(w, PS_UD, "AV")
    }
    val negAn: Stage = edgeHead("^(neg)") { (g, out, w, h) =>
      if (g.has(h, PS_UD, "N")) out.insLit(w, PS_UD, "AN")
    }
    val propagate: Stage = edgeHead("^(conj|parataxis|flat|compound|fixed|mwe|list)") { (g, out, w, h) =>
      if (!g.has(h, PS_UD))
        g.foreachObject(w, PS_UD) { p => out.insLit(w, PS_UD, p); out.insLit(h, PS_UD, p) }
      if (!g.has(w, PS_UD))
        g.foreachObject(h, PS_UD) { p => out.insLit(w, PS_UD, p); out.insLit(h, PS_UD, p) }
    }
    val rootRe = rex("^(root)")
    val root: Stage = { (g, out) =>
      g.foreachPair(EDGE) { (w, edge, _) =>
        if (g.has(w, HEAD) && !g.has(w, PS_UD) && rootRe(edge))
          out.insLit(w, PS_UD, "V")
      }
    }
    Script("EDGE-to-POSsynt", Seq(
      edgeRule("^(nsubj|obj|dobj|iobj|obl|vocative|expl|dislocated)", Some("N"), Some("V")),
      edgeRule("^(csubj|ccomp|xcomp|advcl|aux|cop)", Some("V"), Some("V")),
      edgeRule("^(advmod)", Some("AV"), None),
      edgeRule("^(discourse|mark)", Some("AV"), Some("V")),
      negAv,
      edgeRule("^(nmod|appos|name)", Some("N"), Some("N")),
      edgeRule("^(nummod|amod|det|clf|case)", Some("AN"), Some("N")),
      edgeRule("^(acl)", Some("V"), Some("N")),
      negAn,
      edgeRule("^(punct|foreign)", Some("X"), None),
      edgeRule("^(cc)", Some("RM"), None),
      propagate, propagate, // duplicated in the source = two propagation hops
      root
    ))
  }

  /** analyze/consolidate-POSsynt.sparql — agreement pruning + match flag. */
  val consolidatePossynt: Script = {
    // (1a)/(1b): where a POSsynt_UD value matches POSsynt_UPOS, drop the
    // word's other values of `p`
    def pruneAlternatives(p: String): Stage = { (g, out) =>
      g.foreachPair(PS_UD) { (w, v, _) =>
        if (g.has(w, PS_UPOS, v))
          g.foreachObject(w, p) { other =>
            if (other != v) out.del(w, p, other, uri = false)
          }
      }
    }
    Script("consolidate-POSsynt", Seq(
      pruneAlternatives(PS_UD),   // (1a)
      pruneAlternatives(PS_UPOS), // (1b) symmetric
      // (2a) POSsynt_match "1" where a shared value exists
      { (g, out) =>
        g.foreachPair(PS_UD) { (w, v, _) =>
          if (g.has(w, PS_UPOS, v)) out.insLit(w, conll("POSsynt_match"), "1")
        }
      },
      // (2b) default "0" for untouched words
      { (g, out) =>
        for (w <- g.words if !g.has(w, conll("POSsynt_match")))
          out.insLit(w, conll("POSsynt_match"), "0")
      }
    ))
  }
}
