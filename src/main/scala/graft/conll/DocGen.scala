package graft.conll

import org.apache.spark.sql.{Dataset, SparkSession}

/** Deterministic synthetic corpus generator for the input_hint table
  * (doc_id, spans: array<struct<kind,text,media_ref,offset>>).
  *
  * Generation is distributed (spark.range → map) and pure: span content is
  * a function of (seed, docId) via splitmix64 — no wall-clock, no network
  * (FIXTURES.md F1/F2). Documents pack 1–8 CoNLL-U-shaped sentences with
  * interleaved comment and media spans; media spans are ignored by parsing
  * but preserved by the span-sequence invariant.
  */
object DocGen {

  final case class Rng(private var state: Long) {
    def nextLong(): Long = {
      state += 0x9e3779b97f4a7c15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def nextInt(bound: Int): Int = (Math.floorMod(nextLong(), bound.toLong)).toInt
  }

  /** (word, lemma, upos, penn) — aligned with Ontology.miniOlia tags. */
  val vocab: Vector[(String, String, String, String)] = Vector(
    ("the", "the", "DET", "DT"), ("a", "a", "DET", "DT"),
    ("quick", "quick", "ADJ", "JJ"), ("brown", "brown", "ADJ", "JJ"),
    ("lazy", "lazy", "ADJ", "JJ"), ("fox", "fox", "NOUN", "NN"),
    ("dog", "dog", "NOUN", "NN"), ("data", "data", "NOUN", "NN"),
    ("table", "table", "NOUN", "NN"), ("graph", "graph", "NOUN", "NN"),
    ("jumps", "jump", "VERB", "VBZ"), ("runs", "run", "VERB", "VBZ"),
    ("saw", "see", "VERB", "VBD"), ("builds", "build", "VERB", "VBZ"),
    ("quickly", "quickly", "ADV", "RB"), ("very", "very", "ADV", "RB"),
    ("over", "over", "ADP", "IN"), ("of", "of", "ADP", "IN"),
    ("under", "under", "ADP", "IN"), ("it", "it", "PRON", "PRP"),
    ("they", "they", "PRON", "PRP"), ("two", "two", "NUM", "CD"),
    ("and", "and", "CONJ", "CC"), ("that", "that", "SCONJ", "IN"),
    (".", ".", "PUNCT", ".")
  )

  /** CoNLL-U column schema used by generated docs. */
  val columns: Seq[String] = Seq("ID", "WORD", "LEMMA", "UPOS", "POS", "FEAT", "HEAD", "EDGE", "DEPS", "MISC")

  /** One deterministic sentence: a small NP-VP-NP/PP clause with a valid
    * dependency tree rooted at the main verb. */
  def sentenceRows(rng: Rng): Seq[String] = {
    def pick(upos: String): (String, String, String, String) = {
      val c = vocab.filter(_._3 == upos)
      c(rng.nextInt(c.length))
    }
    val det1 = pick("DET"); val adj1 = pick("ADJ"); val n1 = pick("NOUN")
    val v = pick("VERB"); val det2 = pick("DET"); val n2 = pick("NOUN")
    val adp = pick("ADP"); val n3 = pick("NOUN"); val punct = (".", ".", "PUNCT", ".")
    val withPp = rng.nextInt(2) == 0
    val withAdv = rng.nextInt(3) == 0
    val adv = pick("ADV")

    // tokens: (word, lemma, upos, penn, head, edge)
    var toks = Vector(
      (det1, 3, "det"), (adj1, 3, "amod"), (n1, 4, "nsubj"), (v, 0, "root"),
      (det2, 6, "det"), (n2, 4, "obj")
    )
    if (withAdv) toks = toks :+ ((adv, 4, "advmod"))
    if (withPp) {
      val base = toks.length
      toks = toks ++ Vector((adp, base + 2, "case"), (n3, 6, "nmod"))
      val _ = base
    }
    toks = toks :+ ((punct, 4, "punct"))
    toks.zipWithIndex.map { case (((w, l, u, p), head, edge), i) =>
      Seq((i + 1).toString, w, l, u, p, "_", head.toString, edge, "_", "_").mkString("\t")
    }
  }

  def genDoc(seed: Long, docId: Long): InputDoc = {
    val rng = Rng(seed ^ (docId * 0x5851f42d4c957f2dL))
    val spans = scala.collection.mutable.ArrayBuffer[Span]()
    var off = 0
    def add(kind: String, text: String, media: String = ""): Unit = {
      spans += Span(kind, text, media, off); off += 1
    }
    add("comment", s"# newdoc id = doc$docId")
    val nSents = 1 + rng.nextInt(8)
    for (sIdx <- 0 until nSents) {
      add("comment", s"# sent_id = doc${docId}-s$sIdx")
      if (rng.nextInt(4) == 0)
        add("media", "", s"media://doc$docId/img${rng.nextInt(100)}")
      sentenceRows(rng).foreach(r => add("token", r))
      add("sentence_break", "")
    }
    InputDoc(s"doc$docId", spans.toSeq)
  }

  def docs(spark: SparkSession, nDocs: Long, seed: Long = 42L): Dataset[InputDoc] = {
    import spark.implicits._
    spark.range(0, nDocs).map(id => genDoc(seed, id))
  }
}
