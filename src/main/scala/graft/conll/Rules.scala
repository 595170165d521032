package graft.conll

import java.util.regex.Pattern
import scala.collection.mutable

/** Rewrite-rule framework: SPARQL-Update semantics over a SentGraph
  * (SURVEY §2.3 U1–U6).
  *
  * A Script is a sequence of statements executed in order, each seeing the
  * previous statement's effects (U2, CoNLLRDFUpdater.java:346-366). One
  * statement evaluates its WHERE against the pre-statement graph state,
  * collects all bindings, then applies all DELETEs followed by all INSERTs
  * (SPARQL 1.1 Update §3.1.3 semantics, as Jena executes them). Scripts
  * iterate to fixpoint with change detection capped at MAXITERATE=999
  * (U3, CoNLLRDFComponent.java:11-15).
  */
object Rules {

  val MAXITERATE = 999

  /** A statement: it reads the graph and collects its deletes and inserts
    * into the `Out`, without mutating the graph; the script's fixpoint
    * loop applies them after the statement. */
  type Stage = (SentGraph, Out) => Unit

  final case class Script(name: String, stages: Seq[Stage]) {

    /** One pass over the statements (the run of iteration budget 1). */
    def runOnce(g: SentGraph): Unit = run(g)

    /** Run the whole script up to `maxIter` times while the graph changes
      * (reference `{n}` / `{u}` iteration suffix; default 1).
      * @return iterations actually executed. */
    def run(g: SentGraph, maxIter: Int = 1): Int = fixpoint(g, maxIter)((_, _) => ())

    /** K4 debug mode: [[run]], dumping the sorted triple lines after
      * every statement that CHANGED the graph — one dump per
      * (iteration, statement), the reference's -triplesout gating
      * (CoNLLRDFUpdater.produceNTRIPLES + change checks,
      * CoNLLRDFUpdater.java:336-366,453-477). */
    def runTraced(g: SentGraph, maxIter: Int = 1): Seq[StepDump] = {
      val dumps = mutable.ArrayBuffer[StepDump]()
      fixpoint(g, maxIter)((it, st) => dumps += StepDump(name, it, st, sortedLines(g)))
      dumps.toSeq
    }

    /** The fixpoint loop: one `Out` collects each statement's deletes and
      * inserts; after the statement `g` takes the deletes, then the
      * inserts, and the buffers are cleared. `observe(iteration,
      * statement)` (both 1-based) sees every statement that changed `g`.
      * Stops after an iteration that changed nothing or at the cap.
      * @return iterations executed. */
    private def fixpoint(g: SentGraph, maxIter: Int)(observe: (Int, Int) => Unit): Int = {
      val cap = math.min(math.max(maxIter, 1), MAXITERATE)
      val out = new Out
      var it = 0
      var changed = true
      while (changed && it < cap) {
        val v0 = g.version
        it += 1
        var st = 0
        val todo = stages.iterator
        while (todo.hasNext) {
          val vs = g.version
          todo.next()(g, out)
          out.dels.foreach(g.remove)
          out.ins.foreach(g.add)
          out.dels.clear(); out.ins.clear()
          st += 1
          if (g.version != vs) observe(it, st)
        }
        changed = g.version != v0
      }
      it
    }

    private def sortedLines(g: SentGraph): Seq[String] =
      g.all.map { t =>
        val o = if (t.oUri) t.o else "\"" + t.o + "\""
        s"${t.s} ${t.p} $o ."
      }.sorted
  }

  /** One -triplesout style dump: sorted triple lines after a changed
    * statement. */
  final case class StepDump(script: String, iteration: Int, statement: Int, lines: Seq[String])

  /** Precompiled SPARQL regex() predicate (partial match, like Jena's
    * regex()) — compile once at script construction; a per-call pattern
    * cache lookup costs ~100M map probes per 100k-doc run.
    *
    * r9 literal fast path (guide §1.2 step 2): the bundled rules'
    * regex() predicates are almost all plain literal alternations
    * ("NOUN|PROPN|PRON"), optionally anchored and grouped
    * ("^(conj|parataxis|flat)"). For exactly that class, find() reduces
    * to startsWith/contains over the alternatives — no Matcher
    * allocation, no backtracking machinery (regex internals were ~25%
    * of the analyze cascade's execution samples). Eligibility is
    * conservative: only [letter digit _ :] literals and '|', parens
    * balanced, and an anchor is only honored when the whole alternation
    * is grouped (in "^a|b" the anchor binds to the FIRST alternative
    * only — that shape keeps java.util.regex). Everything else keeps
    * java.util.regex unchanged. */
  final class Re(p: String) extends (String => Boolean) with Serializable {
    @transient private lazy val pattern = Pattern.compile(p)
    private val fast: Option[(Boolean, Array[String])] = {
      var s = p
      val anchored = s.startsWith("^")
      if (anchored) s = s.substring(1)
      val wrapped = s.length >= 2 && s.startsWith("(") && s.endsWith(")")
      if (wrapped) s = s.substring(1, s.length - 1)
      val literal = s.nonEmpty &&
        s.forall(c => c.isLetterOrDigit || c == '_' || c == ':' || c == '|') &&
        !s.startsWith("|") && !s.endsWith("|") && !s.contains("||")
      val anchorSafe = !anchored || wrapped || !s.contains('|')
      if (literal && anchorSafe) Some((anchored, s.split("\\|"))) else None
    }
    def apply(v: String): Boolean = fast match {
      case Some((anchored, alts)) =>
        var i = 0
        while (i < alts.length) {
          if (if (anchored) v.startsWith(alts(i)) else v.contains(alts(i))) return true
          i += 1
        }
        false
      case None => pattern.matcher(v).find()
    }
  }
  def rex(p: String): Re = new Re(p)

  /** The property-path walk `p+` (SURVEY §2.4 U12): breadth-first from
    * `start` over `step`, every node reached in discovery order. `start`
    * is in the result only when it lies on a cycle; a `p*` walk is
    * `LinkedHashSet(start) ++ closure(start)(step)`. */
  def closure[A](start: A)(step: A => Iterable[A]): mutable.LinkedHashSet[A] = {
    val seen = mutable.LinkedHashSet[A]()
    val queue = mutable.Queue(start)
    while (queue.nonEmpty)
      for (y <- step(queue.dequeue()) if seen.add(y)) queue += y
    seen
  }

  // ---- shared vocabulary ----
  val A = "rdf:type"
  val NEXT_WORD = "nif:nextWord"
  val WORD_TYPE = "nif:Word"
  def conll(c: String) = s"conll:$c"

  /** Collector DSL: a statement appends into these buffers, which its
    * script's fixpoint loop applies and clears. */
  final class Out {
    val dels = mutable.ArrayBuffer[Triple]()
    val ins = mutable.ArrayBuffer[Triple]()
    def del(s: String, p: String, o: String, uri: Boolean = true): Unit =
      dels += Triple(s, p, o, uri)
    def insUri(s: String, p: String, o: String): Unit = ins += Triple(s, p, o, oUri = true)
    def insLit(s: String, p: String, o: String): Unit = ins += Triple(s, p, o, oUri = false)
  }
}
