package graft.conll

import Rules._

/** Hand-compiled shift-reduce parser cascade from
  * /root/reference/examples/sparql/parse/ — a deterministic rule-based
  * SR-parser over conll:SHIFT chains, run to fixpoint per generation
  * (examples/parse-ud.sh:48-51 budgets: {5},{5},{5},{3}).
  *
  * OPTIONAL + FILTER(!BOUND(..)) semantics: an optional binding
  * contributes one row per match, or a single unbound row if none —
  * modeled by `opt`. DELETE template lines naming an unbound variable are
  * skipped (SPARQL 1.1 Update: illegal instantiations are dropped).
  */
object ParseScripts {

  private val SHIFT = conll("SHIFT")
  private val REDUCE = conll("REDUCE")
  private val EDGE = conll("EDGE")
  private val HEAD = conll("HEAD")
  private val LEMMA = conll("LEMMA")
  private val POS = conll("POS")

  private def opt(xs: collection.Seq[String]): collection.Seq[Option[String]] =
    if (xs.isEmpty) Seq(None) else xs.map(Some(_))

  private def isA(g: SentGraph, x: String, cls: String): Boolean =
    g.has(x, A, cls)

  // The two REDUCE moves. Both insert SHIFT, then REDUCE, then EDGE:
  // SentGraph lists predicates in first-insert order, so this order can
  // show in a sentence's output order.

  /** Left REDUCE (`dep` stands before `head`): unlink `dep` from the
    * SHIFT chain, reattach its predecessor `last` to `head`, then insert
    * `dep REDUCE head` and `dep EDGE edge`. */
  private def reduceLeft(out: Out, last: Option[String], dep: String, head: String, edge: String): Unit = {
    last.foreach(l => out.del(l, SHIFT, dep))
    out.del(dep, SHIFT, head)
    last.foreach(l => out.insUri(l, SHIFT, head))
    out.insUri(dep, REDUCE, head)
    out.insLit(dep, EDGE, edge)
  }

  /** Right REDUCE (`dep` stands after `head`): unlink `dep` from the
    * SHIFT chain, pass its successor `next` to `head`, then insert
    * `dep REDUCE head` and `dep EDGE edge`. */
  private def reduceRight(out: Out, head: String, dep: String, next: Option[String], edge: String): Unit = {
    out.del(head, SHIFT, dep)
    next.foreach(n => out.del(dep, SHIFT, n))
    next.foreach(n => out.insUri(head, SHIFT, n))
    out.insUri(dep, REDUCE, head)
    out.insLit(dep, EDGE, edge)
  }

  /** parse/initialize-SHIFT.sparql — nextWord → SHIFT. */
  val initializeShift: Script = Script("initialize-SHIFT", Seq(
    { (g, out) =>
      for ((a, b, _) <- g.pairs(NEXT_WORD)) out.insUri(a, SHIFT, b)
    }
  ))

  /** parse/REDUCE-to-HEAD.sparql — replace REDUCE by HEAD. */
  val reduceToHead: Script = Script("REDUCE-to-HEAD", Seq(
    { (g, out) =>
      for ((a, b, _) <- g.pairs(REDUCE); h <- g.objects(a, HEAD)) {
        out.del(a, HEAD, h)
        out.del(a, REDUCE, b)
        out.insUri(a, HEAD, b)
      }
    }
  ))

  /** REDUCE-english-1.sparql — 1st generation: MWEs, adjective phrases. */
  val reduceEnglish1: Script = Script("REDUCE-english-1", Seq(
    // (0a) compounds: resolve hyphens
    { (g, out) =>
      for (hyphen <- g.subjects(POS, "HYPH");
           dep <- g.subjects(SHIFT, hyphen);
           head <- g.objects(hyphen, SHIFT);
           last <- opt(g.subjects(SHIFT, dep))) {
        last.foreach(l => out.del(l, SHIFT, dep))
        out.del(dep, SHIFT, hyphen)
        out.del(hyphen, SHIFT, head)
        last.foreach(l => out.insUri(l, SHIFT, head))
        out.insUri(dep, REDUCE, head)
        out.insLit(dep, EDGE, "mwe")
        out.insUri(hyphen, REDUCE, dep)
        out.insLit(hyphen, EDGE, "hyph")
      }
    },
    // (1) noun-noun compounds: right-most noun becomes head
    { (g, out) =>
      for (dep <- g.subjects(A, "olia:Noun");
           head <- g.objects(dep, SHIFT) if isA(g, head, "olia:Noun");
           next <- opt(g.objects(head, SHIFT));
           last <- opt(g.subjects(SHIFT, dep))
           if next.forall(n => !isA(g, n, "olia:Noun")))
        reduceLeft(out, last, dep, head, "nmod")
    },
    // (2) adverb-adjective: adjective heads
    { (g, out) =>
      for (dep <- g.subjects(A, "olia:Adverb");
           head <- g.objects(dep, SHIFT)
           if isA(g, head, "olia:Adjective") || isA(g, head, "olia:Gerund");
           last <- opt(g.subjects(SHIFT, dep)))
        reduceLeft(out, last, dep, head, "amod")
    }
  ))

  // guard list shared by REDUCE-2/3 ("wait for rules (1)-(6) to complete");
  // "olia:Deteriner" reproduces the reference's typo (REDUCE-english-2.sparql:97,
  // REDUCE-english-3.sparql:39-44) — the guard never fires, faithfully.
  private val npClasses =
    Seq("olia:Noun", "olia:Adjective", "olia:Gerund", "olia:Deteriner", "olia:CardinalNumber")

  private def noneOf(g: SentGraph, x: String, classes: Seq[String]): Boolean =
    classes.forall(c => !isA(g, x, c))

  /** REDUCE-english-2.sparql — 2nd generation: NPs and PPs. */
  val reduceEnglish2: Script = {
    // shared shape of (3)/(4)/(5): dep-class → noun head, EDGE label
    def npRule(depClasses: Seq[String], edge: String, lastGuard: Option[String]): Stage =
      { (g, out) =>
        for (dep <- depClasses.flatMap(c => g.subjects(A, c)).distinct;
             head <- g.objects(dep, SHIFT) if isA(g, head, "olia:Noun");
             last <- opt(g.subjects(SHIFT, dep));
             next <- opt(g.objects(head, SHIFT))
             if last.forall(l => lastGuard.forall(c => !isA(g, l, c))) &&
               next.forall(n => !isA(g, n, "olia:Noun")))
          reduceLeft(out, last, dep, head, edge)
      }
    Script("REDUCE-english-2", Seq(
      npRule(Seq("olia:Adjective", "olia:Gerund"), "nmod", Some("olia:Adverb")), // (3)
      npRule(Seq("olia:Determiner"), "det", None),                               // (4)
      npRule(Seq("olia:CardinalNumber"), "num", None),                           // (5)
      // (6) preposition - (pro)noun
      { (g, out) =>
        for (head <- g.subjects(A, "olia:Preposition");
             dep <- g.objects(head, SHIFT);
             next <- opt(g.objects(dep, SHIFT))
             if isA(g, dep, "olia:Pronoun") ||
               (isA(g, dep, "olia:Noun") && next.forall(n => noneOf(g, n, npClasses))))
          reduceRight(out, head, dep, next, "np")
      }
    ))
  }

  /** REDUCE-english-3.sparql — 3rd generation: clausal arguments. */
  val reduceEnglish3: Script = Script("REDUCE-english-3", Seq(
    // (7) attach "of"-PPs to nominal matrix
    { (g, out) =>
      val guard = npClasses :+ "olia:Pronoun"
      for (head <- g.subjects(A, "olia:Noun")) {
        // UNION branch A: head is an NP, dep directly shifted
        val branchA = g.objects(head, SHIFT).map(dep => (Option.empty[String], dep))
        // UNION branch B: head already reduced into a preposition pp
        val branchB = for (pp <- g.objects(head, REDUCE) if isA(g, pp, "olia:Preposition");
                           dep <- g.objects(pp, SHIFT)) yield (Some(pp), dep)
        for ((pp, dep) <- branchA ++ branchB if g.has(dep, LEMMA, "of");
             next <- opt(g.objects(dep, SHIFT))
             if next.forall(n => noneOf(g, n, guard))) {
          pp.foreach(p => out.del(p, SHIFT, dep))
          reduceRight(out, head, dep, next, "nmod")
        }
      }
    },
    // (8) subject: NP preceding a finite verb
    { (g, out) =>
      val guard = npClasses :+ "olia:Pronoun"
      for (vfin <- g.subjects(A, "olia:FiniteVerb");
           sbj <- g.subjects(SHIFT, vfin)
           if isA(g, sbj, "olia:Noun") || isA(g, sbj, "olia:Pronoun");
           last <- opt(g.subjects(SHIFT, sbj))
           if last.forall(l => noneOf(g, l, guard)))
        reduceLeft(out, last, sbj, vfin, "sbj")
    },
    // (9) object: NP following a finite verb
    { (g, out) =>
      for (vfin <- g.subjects(A, "olia:FiniteVerb");
           obj <- g.objects(vfin, SHIFT);
           next <- opt(g.objects(obj, SHIFT))
           if isA(g, obj, "olia:Pronoun") ||
             (isA(g, obj, "olia:Noun") && next.forall(n => !isA(g, n, "olia:Noun"))))
        reduceRight(out, vfin, obj, next, "obj")
    },
    // (10) postverbal adverbials (ADVs / completed PPs)
    { (g, out) =>
      for (vfin <- g.subjects(A, "olia:FiniteVerb");
           adv <- g.objects(vfin, SHIFT);
           next <- opt(g.objects(adv, SHIFT))) {
        val isPP = isA(g, adv, "olia:Preposition") && g.subjects(REDUCE, adv).nonEmpty
        val b1 = isA(g, adv, "olia:Adverb") && next.forall(n => !isA(g, n, "olia:Adjective"))
        val b2 = isPP && next.isEmpty
        val b3 = isPP && !g.objects(adv, SHIFT).exists(x => g.has(x, LEMMA, "of"))
        if (b1 || b2 || b3) reduceRight(out, vfin, adv, next, "adv")
      }
    },
    // (11) preverbal adverbials
    { (g, out) =>
      for (vfin <- g.subjects(A, "olia:FiniteVerb");
           adv <- g.subjects(SHIFT, vfin);
           last <- opt(g.subjects(SHIFT, adv))) {
        val b1 = isA(g, adv, "olia:Adverb")
        val b2 = isA(g, adv, "olia:Preposition") && g.subjects(REDUCE, adv).nonEmpty &&
          g.objects(adv, LEMMA).exists(_ != "of")
        if (b1 || b2) reduceLeft(out, last, adv, vfin, "adv")
      }
    }
  ))

  /** REDUCE-english-4.sparql — 4th generation: multi-clausal structures. */
  val reduceEnglish4: Script = Script("REDUCE-english-4", Seq(
    // (12) "to" + verb
    { (g, out) =>
      for (to <- g.subjects(LEMMA, "to") if g.subjects(REDUCE, to).isEmpty;
           verb <- g.objects(to, SHIFT) if isA(g, verb, "olia:Verb");
           next <- opt(g.objects(verb, SHIFT)))
        reduceRight(out, to, verb, next, "cls")
    },
    // (13) attach "to"-clauses to the preceding finite verb
    { (g, out) =>
      for (verb <- g.subjects(EDGE, "cls");
           to <- g.objects(verb, REDUCE) if g.has(to, LEMMA, "to");
           matrixv <- g.subjects(SHIFT, to) if isA(g, matrixv, "olia:FiniteVerb");
           next <- opt(g.objects(to, SHIFT)))
        reduceRight(out, matrixv, to, next, "to")
    }
  ))

  /** The full parse-ud cascade with the reference's iteration budget. */
  val cascade: Seq[(Script, Int)] = Seq(
    initializeShift -> 1,
    reduceEnglish1 -> 5,
    reduceEnglish2 -> 5,
    reduceEnglish3 -> 5,
    reduceEnglish4 -> 3,
    reduceToHead -> 1
  )
}
