package graft.conll

import scala.collection.mutable

/** Mutable per-sentence triple store — the one triple set of a sentence:
  * the readers build it (`SpanParser.Assembler`, `TtlParser.parseChunk`),
  * and it is the executor state of the sentence's rewrite cascade.
  *
  * Semantics mirror a Jena Model under SPARQL Update
  * (reference: CoNLLRDFUpdater.executeUpdates, CoNLLRDFUpdater.java:284-398):
  *  - RDF set semantics: duplicate inserts are no-ops;
  *  - each update statement evaluates its WHERE against the pre-statement
  *    state (callers collect matches first, then apply — see Script);
  *  - change detection via a mutation counter (the reference uses a
  *    ChangedListener, CoNLLRDFUpdater.java:321-345).
  *
  * This is deliberately NOT a DataFrame: sentence graphs are tiny
  * (10²–10³ triples) and the bundled rules need per-sentence fixpoint
  * iteration with order-dependent NOT-EXISTS guards. Running those as
  * global DataFrame passes would cost (statements × iterations) shuffles
  * and change the convergence unit from sentence to corpus. Instead the
  * cascade runs inside Dataset[Sentence].map — embarrassingly parallel,
  * shuffle-free, and faithful to the reference's share-nothing workers
  * (SURVEY §2.3 U15, §4).
  *
  * Storage is flat per-predicate parallel arrays with tombstone deletes:
  * the rules' BGPs are all predicate-restricted, buckets hold O(sentence
  * length) entries, and linear scans over contiguous arrays beat nested
  * hash maps on both allocation rate and cache locality — this structure
  * is what keeps the corpus-level pipeline GC-light enough to scale
  * near-linearly across executor threads (BASELINE.md methodology).
  */
final class SentGraph private (init: Iterable[Triple]) {

  private final class Bucket {
    var n = 0          // slots used (incl. tombstones)
    var live = 0       // live entries
    var subs = new Array[String](4)
    var objs = new Array[String](4)
    var uris = new Array[Boolean](4)

    def indexOf(s: String, o: String, u: Boolean): Int = {
      var i = 0
      while (i < n) {
        if (subs(i) != null && uris(i) == u && subs(i) == s && objs(i) == o) return i
        i += 1
      }
      -1
    }

    def append(s: String, o: String, u: Boolean): Unit = {
      if (n == subs.length) {
        val c = n * 2
        subs = java.util.Arrays.copyOf(subs, c)
        objs = java.util.Arrays.copyOf(objs, c)
        uris = java.util.Arrays.copyOf(uris, c)
      }
      subs(n) = s; objs(n) = o; uris(n) = u
      n += 1; live += 1
    }
  }

  // insertion-ordered by first use of each predicate
  private val buckets = mutable.LinkedHashMap[String, Bucket]()
  private var mutations = 0L
  private var total = 0

  init.foreach(t => add(t))
  mutations = 0L

  def version: Long = mutations

  def add(t: Triple): Boolean = add(t.s, t.p, t.o, t.oUri)

  /** [[add]] without a `Triple`: the readers' form. */
  def add(s: String, p: String, o: String, oUri: Boolean): Boolean = {
    val b = buckets.getOrElseUpdate(p, new Bucket)
    if (b.indexOf(s, o, oUri) >= 0) false
    else {
      b.append(s, o, oUri)
      total += 1; mutations += 1
      true
    }
  }

  def remove(t: Triple): Boolean =
    buckets.get(t.p) match {
      case Some(b) =>
        val i = b.indexOf(t.s, t.o, t.oUri)
        if (i < 0) false
        else {
          b.subs(i) = null; b.objs(i) = null
          b.live -= 1; total -= 1; mutations += 1
          if (b.live == 0) buckets.remove(t.p)
          true
        }
      case None => false
    }

  /** Non-allocating visit of all live (subject, object, objIsUri) for a
    * predicate, insertion-ordered — the hot-path form of `pairs`. The
    * callback must only COLLECT (stages apply their deletes/inserts after
    * the scan, per Rules.Script), never mutate the graph mid-scan. */
  def foreachPair(p: String)(f: (String, String, Boolean) => Unit): Unit =
    buckets.get(p) match {
      case Some(b) =>
        var i = 0
        while (i < b.n) {
          if (b.subs(i) != null) f(b.subs(i), b.objs(i), b.uris(i))
          i += 1
        }
      case None =>
    }

  /** All (subject, object, objIsUri) for a predicate, insertion-ordered. */
  def pairs(p: String): collection.IndexedSeq[(String, String, Boolean)] =
    buckets.get(p) match {
      case Some(b) =>
        val out = new mutable.ArrayBuffer[(String, String, Boolean)](b.live)
        var i = 0
        while (i < b.n) {
          if (b.subs(i) != null) out += ((b.subs(i), b.objs(i), b.uris(i)))
          i += 1
        }
        out
      case None => IndexedSeq.empty
    }

  /** Non-allocating visit of the objects of (s, p) — hot-path form of
    * `objects`; same collect-only contract as `foreachPair`. */
  def foreachObject(s: String, p: String)(f: String => Unit): Unit =
    buckets.get(p) match {
      case Some(b) =>
        var i = 0
        while (i < b.n) {
          if (b.subs(i) != null && b.subs(i) == s) f(b.objs(i))
          i += 1
        }
      case None =>
    }

  /** Objects of (s, p). */
  def objects(s: String, p: String): collection.IndexedSeq[String] =
    buckets.get(p) match {
      case Some(b) =>
        var out: mutable.ArrayBuffer[String] = null
        var i = 0
        while (i < b.n) {
          if (b.subs(i) != null && b.subs(i) == s) {
            if (out == null) out = new mutable.ArrayBuffer[String](4)
            out += b.objs(i)
          }
          i += 1
        }
        if (out == null) IndexedSeq.empty else out
      case None => IndexedSeq.empty
    }

  /** Subjects with (p, o). */
  def subjects(p: String, o: String): collection.IndexedSeq[String] =
    buckets.get(p) match {
      case Some(b) =>
        var out: mutable.ArrayBuffer[String] = null
        var i = 0
        while (i < b.n) {
          if (b.subs(i) != null && b.objs(i) == o) {
            if (out == null) out = new mutable.ArrayBuffer[String](4)
            out += b.subs(i)
          }
          i += 1
        }
        if (out == null) IndexedSeq.empty else out
      case None => IndexedSeq.empty
    }

  def has(s: String, p: String): Boolean =
    buckets.get(p) match {
      case Some(b) =>
        var i = 0
        while (i < b.n) {
          if (b.subs(i) != null && b.subs(i) == s) return true
          i += 1
        }
        false
      case None => false
    }

  def has(s: String, p: String, o: String): Boolean =
    buckets.get(p) match {
      case Some(b) =>
        var i = 0
        while (i < b.n) {
          if (b.subs(i) != null && b.subs(i) == s && b.objs(i) == o) return true
          i += 1
        }
        false
      case None => false
    }

  def size: Int = total

  def all: Seq[Triple] = {
    val out = new mutable.ArrayBuffer[Triple](total)
    for ((p, b) <- buckets) {
      var i = 0
      while (i < b.n) {
        if (b.subs(i) != null) out += Triple(b.subs(i), p, b.objs(i), b.uris(i))
        i += 1
      }
    }
    out.toSeq
  }

  /** Visit every live triple without materializing (hot output path). */
  def foreachTriple(f: (String, String, String, Boolean) => Unit): Unit =
    for ((p, b) <- buckets) {
      var i = 0
      while (i < b.n) {
        if (b.subs(i) != null) f(b.subs(i), p, b.objs(i), b.uris(i))
        i += 1
      }
    }

  /** Subjects of rdf:type nif:Word — the word nodes. */
  def words: collection.IndexedSeq[String] = subjects("rdf:type", "nif:Word")

  /** The nodes of the nif:nextWord chains in reading order: the chain
    * heads (words with no incoming nextWord) in Lexiconumeric order, each
    * followed along nif:nextWord, every node listed once. The word order
    * of select-conllu's `?ordinal` and of the GRAMMAR/SEMANTICS renderers. */
  def wordOrder: Seq[String] = {
    val next = pairs("nif:nextWord").map(t => t._1 -> t._2).toMap
    val incoming = next.values.toSet
    val heads = words.filterNot(incoming.contains)
      .sortBy(graft.functions.Lexiconumeric.keyString)
    val seen = mutable.HashSet[String]()
    val order = mutable.ArrayBuffer[String]()
    for (head <- heads) {
      var cur: String = head
      while (cur != null && seen.add(cur)) {
        order += cur
        cur = next.getOrElse(cur, null)
      }
    }
    order.toSeq
  }
}

object SentGraph {
  def apply(sentence: Sentence): SentGraph = new SentGraph(sentence.triples)
  def empty: SentGraph = new SentGraph(Nil)
}
