package graft.conll

import Rules._
import scala.collection.mutable

/** Hand-compiled tree manipulation scripts from
  * /root/reference/examples/sparql/trees/ — POWLA tree rewriting with
  * property-path navigation. All paths are sentence-local, so closures are
  * small BFS walks inside the per-sentence executor (SURVEY §2.4 U12b).
  */
object TreesScripts {

  private val HAS_PARENT = "powla:hasParent"
  private val NEXT = "powla:next"
  private val VALUE = "rdf:value"
  private val FIRST = "tmp:first"
  private val LAST = "tmp:last"

  /** `p*`: the start, then its `p+` walk. */
  private def closureWithStart(start: String)(step: String => Iterable[String]) =
    mutable.LinkedHashSet(start) ++ closure(start)(step)

  /** `(powla:hasParent|powla:next)* / powla:next / (^powla:hasParent|powla:next)*`
    * (emptyNode2Word.sparql:33-35) — "a precedes b" over the tree.
    * `down` memoizes the per-node (^hasParent|next)* closures: prec() is
    * called once per nextWord pair per sentence, and without the memo
    * each call rebuilds the same down-closures (O(n³) per sentence on a
    * linear chain — the dominant cost of the emptyNode2Word entry). */
  private def precedes(
      g: SentGraph, a: String,
      down: mutable.HashMap[String, collection.Set[String]]): collection.Set[String] = {
    val up = closureWithStart(a)(x => g.objects(x, HAS_PARENT) ++ g.objects(x, NEXT))
    val afterNext = up.flatMap(x => g.objects(x, NEXT))
    afterNext.flatMap(x => down.getOrElseUpdate(x,
      closureWithStart(x)(y => g.subjects(HAS_PARENT, y) ++ g.objects(y, NEXT))))
  }

  /** trees/xAttributes2value.sparql — fold x:* attributes into rdf:value. */
  val xAttributes2value: Script = Script("xAttributes2value", Seq(
    { (g, out) =>
      for (x <- g.subjects(A, "powla:Node")) {
        val atts = g.all.filter(t => t.s == x && t.p.startsWith("x:"))
          .map(t => s"""${t.p.stripPrefix("x:")}="${t.o}"""")
          .distinct.sorted
        if (atts.nonEmpty) {
          val attStr = atts.mkString(" ")
          val oldVals = g.objects(x, VALUE)
          if (oldVals.nonEmpty) {
            for (old <- oldVals) {
              out.del(x, VALUE, old, uri = false)
              out.insLit(x, VALUE, s"$old $attStr")
            }
          } else out.insLit(x, VALUE, attStr)
        }
      }
    }
  ))

  /** trees/emptyNode2Word.sparql — materialize empty tokens and splice them
    * into the nif:nextWord chain. Statements 2a/2b bind `?first/?last a
    * conll:WORD` — reproduced literally (they only fire on graphs that
    * type words with conll:WORD, as the reference source is written). */
  val emptyNode2Word: Script = Script("emptyNode2Word", Seq(
    // (1) childless powla:Node → empty nif:Word child
    { (g, out) =>
      for (node <- g.subjects(A, "powla:Node") if g.subjects(HAS_PARENT, node).isEmpty) {
        val empty = s"${node}_word"
        out.insUri(empty, A, "nif:Word")
        out.insLit(empty, conll("WORD"), "")
        out.insUri(empty, HAS_PARENT, node)
      }
    },
    // (2) splice empties between last and next
    { (g, out) =>
      val empties = g.subjects(conll("WORD"), "")
      if (empties.nonEmpty) {
        val down = mutable.HashMap[String, collection.Set[String]]()
        val cache = mutable.HashMap[String, collection.Set[String]]()
        def prec(a: String) = cache.getOrElseUpdate(a, precedes(g, a, down))
        for ((last, next, _) <- g.pairs(NEXT_WORD); e <- empties
             if prec(last).contains(e) && prec(e).contains(next)) {
          out.del(last, NEXT_WORD, next)
          out.insUri(last, NEXT_WORD, e)
          out.insUri(e, NEXT_WORD, next)
        }
      }
    },
    // (2a) initial empties → first word (literal `?first a conll:WORD`)
    { (g, out) =>
      val down = mutable.HashMap[String, collection.Set[String]]()
      for (e <- g.subjects(conll("WORD"), "")
           if g.subjects(NEXT_WORD, e).isEmpty && g.objects(e, NEXT_WORD).isEmpty;
           first <- precedes(g, e, down)
           if g.has(first, A, "conll:WORD") && g.objects(first, NEXT_WORD).nonEmpty &&
             g.subjects(NEXT_WORD, first).isEmpty)
        out.insUri(e, NEXT_WORD, first)
    },
    // (2b) remaining empties ← last word (literal `?last a conll:WORD`)
    { (g, out) =>
      val down = mutable.HashMap[String, collection.Set[String]]()
      for (e <- g.subjects(conll("WORD"), "")
           if g.subjects(NEXT_WORD, e).isEmpty && g.objects(e, NEXT_WORD).isEmpty;
           last <- g.all.collect { case t if t.p == A && t.o == "conll:WORD" => t.s }
           if precedes(g, last, down).contains(e) &&
             g.subjects(NEXT_WORD, last).nonEmpty && g.objects(last, NEXT_WORD).isEmpty)
        out.insUri(last, NEXT_WORD, e)
    },
    // (3a) order same-position siblings by URI
    { (g, out) =>
      def nextPlus(x: String) = closure(x)(y => g.objects(y, NEXT_WORD))
      for ((last, x, _) <- g.pairs(NEXT_WORD); y <- g.objects(last, NEXT_WORD)
           if x < y;
           nx <- g.objects(x, NEXT_WORD) if g.has(y, NEXT_WORD, nx)
           if !(g.has(x, A, WORD_TYPE) && nextPlus(x).contains(y)) &&
             !(g.has(y, A, WORD_TYPE) && nextPlus(y).contains(x)))
        out.insUri(x, NEXT_WORD, y)
    },
    // (3b) delete transitive nextWords
    { (g, out) =>
      def nextPlus(x: String) = closure(x)(y => g.objects(y, NEXT_WORD))
      for ((x, z, _) <- g.pairs(NEXT_WORD);
           y <- g.objects(x, NEXT_WORD) if y != z && nextPlus(y).contains(z))
        out.del(x, NEXT_WORD, z)
    },
    // (4) HEAD default for empties via (nextWord+|(^nextWord)+)/HEAD+
    { (g, out) =>
      for (x <- g.subjects(conll("WORD"), "") if !g.has(x, conll("HEAD"))) {
        val fwd = closure(x)(y => g.objects(y, NEXT_WORD))
        val bwd = closure(x)(y => g.subjects(NEXT_WORD, y))
        val heads = (fwd ++ bwd).flatMap(w =>
          closure(w)(y => g.objects(y, conll("HEAD"))))
        for (s <- heads if g.has(s, A, "nif:Sentence"))
          out.insUri(x, conll("HEAD"), s)
      }
    }
  ))

  /** trees/tree2bracket.sparql — reconstruct bracket strings per node type
    * and strip POWLA structure. */
  val tree2bracket: Script = Script("tree2bracket", Seq(
    // (1) first/last child per powla:Node
    { (g, out) =>
      for (x <- g.subjects(A, "powla:Node")) {
        val children = g.subjects(HAS_PARENT, x)
        if (children.nonEmpty) {
          def nextPlus(c: String) = closure(c)(y => g.objects(y, NEXT))
          val firsts = children.filter(f => !children.exists(c => nextPlus(c).contains(f)))
          val lasts = children.filter(l => !children.exists(c => nextPlus(l).contains(c)))
          for (f <- firsts) out.insUri(x, FIRST, f)
          for (l <- lasts) out.insUri(x, LAST, l)
        }
      }
    },
    // (2) bracket-string property per (word, conll type)
    { (g, out) =>
      def nodeTypes(n: String): collection.Seq[String] =
        g.objects(n, A).filter(t => t != "powla:Node" && g.has(n, A, "powla:Node"))
      for (w <- g.subjects(A, WORD_TYPE); parent <- g.objects(w, HAS_PARENT);
           tpe <- nodeTypes(parent).distinct) {
        // nodes whose tmp:first chain reaches w, of this type
        val firstAnc = closure(w)(m => g.subjects(FIRST, m)).filter(n => g.has(n, A, tpe))
        // depth = #type-typed first*-ancestors → outermost (min) first
        def firstStarAnc(n: String) = closureWithStart(n)(m => g.subjects(FIRST, m))
        val pre = firstAnc.toSeq
          .sortBy(n => firstStarAnc(n).count(p => g.has(p, A, tpe)))
          .map { n =>
            val vals = g.objects(n, VALUE).distinct.sorted.mkString("|")
            if (vals.nonEmpty) s"($vals " else "("
          }.mkString("")
        val lastAnc = closure(w)(m => g.subjects(LAST, m)).filter(n => g.has(n, A, tpe))
        val post = ")" * lastAnc.size
        val b =
          if (pre.nonEmpty && post.nonEmpty) s"$pre * $post"
          else if (pre.nonEmpty) s"$pre *"
          else if (post.nonEmpty) s"* $post"
          else "*"
        out.insLit(w, tpe, b)
      }
    },
    // (3) remove tmp:first / tmp:last
    { (g, out) =>
      for (t <- g.all if (t.p == FIRST || t.p == LAST) && g.has(t.o, HAS_PARENT, t.s))
        out.dels += t
    },
    // (4) remove powla nodes and their triples
    { (g, out) =>
      val doomed = g.subjects(A, "powla:Node")
        .filterNot(n => g.has(n, A, WORD_TYPE) || g.has(n, A, "nif:Sentence")).toSet
      for (t <- g.all if doomed.contains(t.s) || (t.oUri && doomed.contains(t.o)))
        out.dels += t
    },
    // (5) remove any remaining powla-namespace triples
    { (g, out) =>
      for (t <- g.all
           if t.s.startsWith("powla:") || t.p.startsWith("powla:") ||
             (t.oUri && t.o.startsWith("powla:")))
        out.dels += t
    }
  ))
}
