package graft.queries

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.conll.{InputDoc, Span}

/** Driver-checkable KG-pipeline inputs: a deterministic CoNLL-U-shaped
  * token table derived from the `documents` parquet, fed through the REAL
  * engine (SpanParser → SentGraph → Rules → AnalyzeScripts → triples), with
  * a full DuckDB-SQL mirror of the analyze cascade so the driver's
  * rows+schema+hash gate covers the engine's core (VERDICT r1 item 1).
  *
  * Documents are chunked into SENTENCES of 15 tokens (sentence_break
  * spans), so the gate also covers the S1 chunker, per-sentence URI
  * minting, the nif:nextSentence chain, and multi-block sinks — not just
  * single-sentence graphs.
  *
  * Determinism: every derived attribute is a pure function of md5(word) —
  * computable bit-identically in DuckDB:
  *   - UPOS: first md5 hex digit (same mapping as q17);
  *   - HEAD: token 1 of each sentence → 0 (root), else tid/2 — the q30
  *     deterministic tree, per sentence;
  *   - EDGE: 'root' for the sentence head, else the 2nd md5 hex digit
  *     mapped onto 16 UD labels chosen to exercise every EDGE-to-POSsynt
  *     statement (incl. neg → the two guarded stages, conj → both
  *     propagation hops, and ccomp which ALSO matches the
  *     unanchored-suffix '^(cc)' rule — the cascade semantics are whatever
  *     the reference's regexes say, reproduced verbatim on both sides).
  *
  * The `documents` corpus is single-space-separated [a-z0-9]+ words
  * (verified at sf0.01/sf0.1), so no cell ever hits the parser's
  * empty-cell / comment-strip / markup paths — those stay covered by the
  * DocGen golden suites.
  */
object KgOracle {

  val detCols: Seq[String] = Seq("ID", "WORD", "UPOS", "HEAD", "EDGE")

  /** Shared documents scan for every det generator, WIDENED when the
    * file layout under-splits (Tables.widened): the driver testdata is a
    * single ~600 KB parquet file → one input split → every shuffle-free
    * det parse cascade ran single-threaded regardless of session cores
    * (measured 3.5 s vs 0.4 s for the identical 5k-doc corpus written as
    * 64 files — a `gen:` corpus of graft.tools.Probe surfaced it). At scale the guard
    * is a no-op; see the Scaladoc on Tables.widened. */
  private def docTexts(s: SparkSession, dir: String): Dataset[(String, String)] = {
    import s.implicits._
    Tables.widened(s, dir, "documents")
      .select(col("doc_id").cast("string"), col("text")).as[(String, String)]
  }

  /** Tokens per deterministic sentence. */
  val SENT_LEN = 15

  def md5hex(v: String): String = graft.functions.Hashing.md5hex(v)

  /** Must match TextQueries.uposOf / uposSql exactly. */
  def uposFromHex(c: Char): String = c match {
    case '0' | '1' | '2' | '3' => "NOUN"
    case '4' | '5'             => "VERB"
    case '6'                   => "ADJ"
    case '7'                   => "ADV"
    case '8'                   => "ADP"
    case '9'                   => "AUX"
    case 'a'                   => "DET"
    case 'b'                   => "PRON"
    case 'c'                   => "SCONJ"
    case 'd'                   => "CONJ"
    case 'e'                   => "PART"
    case _                     => "PUNCT"
  }

  private val edgeLabels = Vector(
    "nsubj", "obj", "obl", "ccomp", "advmod", "mark", "neg", "nmod",
    "appos", "amod", "det", "case", "acl", "punct", "cc", "conj")

  def edgeFromHex(c: Char): String = {
    val i = "0123456789abcdef".indexOf(c)
    edgeLabels(if (i < 0) 15 else i)
  }

  /** documents.parquet → deterministic multi-sentence CoNLL-U span docs.
    * Narrow (one typed map over the scan); the doc_id is stringified to the
    * span-table contract. */
  /** Pure per-doc span generator (shared by detDocs and the seed
    * sweep). */
  def detSpansFor(words: Array[String]): Seq[Span] = {
    val spans = scala.collection.mutable.ArrayBuffer[Span]()
    var off = 0
    words.iterator.zipWithIndex.foreach { case (w, idx) =>
      val tid = idx % SENT_LEN + 1
      if (idx > 0 && tid == 1) {
        spans += Span("sentence_break", "", "", off); off += 1
      }
      val h = md5hex(w)
      val upos = uposFromHex(h.charAt(0))
      val head = if (tid == 1) 0 else tid / 2
      val edge = if (tid == 1) "root" else edgeFromHex(h.charAt(1))
      spans += Span("token", s"$tid\t$w\t$upos\t$head\t$edge", "", off)
      off += 1
    }
    spans.toSeq
  }

  def detDocs(s: SparkSession, dir: String): Dataset[InputDoc] = {
    import s.implicits._
    docTexts(s, dir)
      .map { case (docId, text) =>
        InputDoc(docId, detSpansFor(text.split("\\s+")))
      }
  }

  /** detDocs with the schema traveling IN-BAND: a CoNLL-U Plus
    * `# global.columns` comment leads each document, so the parser must
    * override whatever columns the call declares (S5) and the formatter
    * must rediscover them from rdfs:comment (the K2 discovery chain).
    * Token content is identical to detDocs → the export oracle is
    * conllExportSql unchanged. */
  def detPlusDocs(s: SparkSession, dir: String): Dataset[InputDoc] = {
    import s.implicits._
    detDocs(s, dir).map { d =>
      val shifted = d.spans.map(sp => sp.copy(offset = sp.offset + 1))
      d.copy(spans =
        Span("comment", s"# global.columns = ${detCols.mkString(" ")}", "", 0) +: shifted)
    }
  }

  /** documents.parquet → deterministic SketchEngine-shaped XML-TSV docs:
    * `<doc id="D">` wrapping one `<s>…</s>` per 15-token sentence, 2-col
    * TSV rows (WORD, UPOS). `s` is a breaking element, so the S7 parser's
    * flush-and-reassert path (still-open `<doc>` re-asserted into every
    * following sentence, document-global xmlId counter) is exercised and
    * oracle-checked. */
  /** Pure per-doc span generator (shared by detXmlDocs and the seed
    * sweep). */
  def xmlSpansFor(docId: String, words: Array[String]): Seq[Span] = {
    val spans = scala.collection.mutable.ArrayBuffer[Span]()
    var off = 0
    def add(kind: String, t: String): Unit = {
      spans += Span(kind, t, "", off); off += 1
    }
    add("markup", s"""<doc id="$docId">""")
    words.iterator.zipWithIndex.foreach { case (w, idx) =>
      val tid = idx % SENT_LEN + 1
      if (tid == 1) {
        if (idx > 0) add("markup", "</s>")
        add("markup", "<s>")
      }
      add("token", s"$w\t${uposFromHex(md5hex(w).charAt(0))}")
    }
    add("markup", "</s>")
    add("markup", "</doc>")
    spans.toSeq
  }

  def detXmlDocs(s: SparkSession, dir: String): Dataset[InputDoc] = {
    import s.implicits._
    docTexts(s, dir)
      .map { case (docId, text) =>
        InputDoc(docId, xmlSpansFor(docId, text.split("\\s+")))
      }
  }

  val detXmlCols: Seq[String] = Seq("WORD", "UPOS")

  // ------------------------------------------------------------------
  // Deterministic "dirty TSV" corpus (S1/S2 fidelity paths that were
  // golden-only): per sentence — two comment lines (collected, '#'
  // stripped, '\n'-joined onto the sentence node), `<s>` markup AS the
  // sentence break, a skipped `<note/>` markup line, empty cells in two
  // variants ('_' EDGE on odd tids, 'O' UPOS on tid 13), an inline `#`
  // comment stripped from tid 8's row, and an IGNORE column whose
  // triples the remove-IGNORE rewrite must delete EXACTLY (the oracle
  // has no IGNORE branch — leftovers or overdeletes both break the
  // hash).
  // ------------------------------------------------------------------

  val detDirtyCols: Seq[String] = Seq("ID", "WORD", "UPOS", "EDGE", "IGNORE")

  /** Pure per-doc span generator (shared by detDirtyDocs and the seed
    * sweep; the docId travels in-band via the comment lines). */
  def dirtySpansFor(docId: String, words: Array[String]): Seq[Span] = {
    val spans = scala.collection.mutable.ArrayBuffer[Span]()
    var off = 0
    def add(kind: String, t: String): Unit = {
      spans += Span(kind, t, "", off); off += 1
    }
    words.iterator.zipWithIndex.foreach { case (w, idx) =>
      val sent = idx / SENT_LEN + 1
      val tid = idx % SENT_LEN + 1
      if (tid == 1) {
        if (idx > 0) add("markup", "<s>") // markup doubles as the break
        add("comment", s"# doc $docId sent $sent")
        add("comment", s"# w $w")
      }
      val upos = if (tid == 13) "O" else uposFromHex(md5hex(w).charAt(0))
      val edge =
        if (tid % 2 != 0) "_"
        else if (tid == 8) "amod#inline comment to strip"
        else "det"
      add("token", s"$tid\t$w\t$upos\t$edge\tjunk$tid")
      if (tid == 3) add("markup", "<note/>") // skipped, no triples
    }
    spans.toSeq
  }

  def detDirtyDocs(s: SparkSession, dir: String): Dataset[InputDoc] = {
    import s.implicits._
    docTexts(s, dir)
      .map { case (docId, text) =>
        InputDoc(docId, dirtySpansFor(docId, text.split("\\s+")))
      }
  }

  /** Closed form of the dirty-TSV parse. */
  def dirtySql: String =
    s"""$detCte, w1 AS (SELECT doc_id, sent, word AS first_word FROM tok2 WHERE tid = 1)
    SELECT doc_id, CAST(sent AS BIGINT) AS sent, subj, pred, obj, obj_uri AS obj_is_uri FROM (
      SELECT DISTINCT doc_id, sent, $sentNodeSql AS subj, 'rdf:type' AS pred, 'nif:Sentence' AS obj, TRUE AS obj_uri FROM tok2
      UNION ALL SELECT DISTINCT doc_id, sent, ':s' || CAST(sent - 1 AS VARCHAR) || '_0', 'nif:nextSentence', $sentNodeSql, TRUE FROM tok2 WHERE sent > 1
      UNION ALL SELECT doc_id, sent, $sentNodeSql, 'rdfs:comment',
        'doc ' || doc_id || ' sent ' || CAST(sent AS VARCHAR) || chr(10) || 'w ' || first_word, FALSE
        FROM w1
      UNION ALL SELECT doc_id, sent, $subjSql, 'rdf:type', 'nif:Word', TRUE FROM tok2
      UNION ALL SELECT doc_id, sent, $subjSql, 'nif:nextWord', ':s' || CAST(sent AS VARCHAR) || '_' || CAST(tid + 1 AS VARCHAR), TRUE FROM tok2 WHERE tid < ntok
      UNION ALL SELECT doc_id, sent, $subjSql, 'conll:ID', CAST(tid AS VARCHAR), FALSE FROM tok2
      UNION ALL SELECT doc_id, sent, $subjSql, 'conll:WORD', word, FALSE FROM tok2
      UNION ALL SELECT doc_id, sent, $subjSql, 'conll:UPOS', ${TextQueries.uposSql}, FALSE FROM tok2 WHERE tid <> 13
      UNION ALL SELECT doc_id, sent, $subjSql, 'conll:EDGE',
        CASE WHEN tid = 8 THEN 'amod' ELSE 'det' END, FALSE FROM tok2 WHERE tid % 2 = 0
      UNION ALL SELECT doc_id, sent, $subjSql, 'conll:HEAD', $sentNodeSql, TRUE FROM tok2
    ) u ORDER BY doc_id, sent, subj, pred, obj"""

  // ------------------------------------------------------------------
  // Deterministic SRL corpus (S2 ARGs columns): predicates at tid 4 and
  // 10 of each 15-token sentence; ARGs column 1 marks roles of predicate
  // 1 (A0 at tid 2, A1 at tid 6), ARGs column 2 of predicate 2 (A0 at
  // tid 8, A2 at tid 12). Trailing partial sentences are KEPT so the
  // dangling-arg guard (an ARGs cell whose predicate row is missing is
  // dropped, while its subPropertyOf axiom still appears — the cell
  // exists) is driver-gated too.
  // ------------------------------------------------------------------

  val detSrlCols: Seq[String] = Seq("ID", "WORD", "PRED", "PRED-ARGs")

  /** Pure per-doc span generator (shared by detSrlDocs and the seed
    * sweep). */
  def srlSpansFor(words: Array[String]): Seq[Span] = {
    val spans = scala.collection.mutable.ArrayBuffer[Span]()
    var off = 0
    words.iterator.zipWithIndex.foreach { case (w, idx) =>
      val tid = idx % SENT_LEN + 1
      if (idx > 0 && tid == 1) {
        spans += Span("sentence_break", "", "", off); off += 1
      }
      val pred = if (tid == 4 || tid == 10) "y" else "_"
      val a1 = tid match { case 2 => "A0"; case 6 => "A1"; case _ => "_" }
      val a2 = tid match { case 8 => "A0"; case 12 => "A2"; case _ => "_" }
      spans += Span("token", s"$tid\t$w\t$pred\t$a1\t$a2", "", off)
      off += 1
    }
    spans.toSeq
  }

  def detSrlDocs(s: SparkSession, dir: String): Dataset[InputDoc] = {
    import s.implicits._
    docTexts(s, dir)
      .map { case (docId, text) =>
        InputDoc(docId, srlSpansFor(text.split("\\s+")))
      }
  }

  /** Closed form of the SRL parse: base token triples + conll:PRED
    * literals + role object-properties (i-th physical ARGs column →
    * i-th predicate ROW, CoNLL2RDF.java:139-150) + per-sentence
    * rdfs:subPropertyOf axioms for every role CELL that exists. No HEAD
    * column → every token depends on the sentence node. */
  def srlSql: String =
    s"""$detCte
    SELECT doc_id, CAST(sent AS BIGINT) AS sent, subj, pred, obj, obj_uri AS obj_is_uri FROM (
      SELECT DISTINCT doc_id, sent, $sentNodeSql AS subj, 'rdf:type' AS pred, 'nif:Sentence' AS obj, TRUE AS obj_uri FROM tok2
      UNION ALL SELECT DISTINCT doc_id, sent, ':s' || CAST(sent - 1 AS VARCHAR) || '_0', 'nif:nextSentence', $sentNodeSql, TRUE FROM tok2 WHERE sent > 1
      UNION ALL SELECT doc_id, sent, $subjSql, 'rdf:type', 'nif:Word', TRUE FROM tok2
      UNION ALL SELECT doc_id, sent, $subjSql, 'nif:nextWord', ':s' || CAST(sent AS VARCHAR) || '_' || CAST(tid + 1 AS VARCHAR), TRUE FROM tok2 WHERE tid < ntok
      UNION ALL SELECT doc_id, sent, $subjSql, 'conll:ID', CAST(tid AS VARCHAR), FALSE FROM tok2
      UNION ALL SELECT doc_id, sent, $subjSql, 'conll:WORD', word, FALSE FROM tok2
      UNION ALL SELECT doc_id, sent, $subjSql, 'conll:HEAD', $sentNodeSql, TRUE FROM tok2
      UNION ALL SELECT doc_id, sent, $subjSql, 'conll:PRED', 'y', FALSE FROM tok2 WHERE tid IN (4, 10)
      UNION ALL SELECT doc_id, sent, ':s' || CAST(sent AS VARCHAR) || '_4', 'conll:A0', $subjSql, TRUE FROM tok2 WHERE tid = 2 AND ntok >= 4
      UNION ALL SELECT doc_id, sent, ':s' || CAST(sent AS VARCHAR) || '_4', 'conll:A1', $subjSql, TRUE FROM tok2 WHERE tid = 6 AND ntok >= 4
      UNION ALL SELECT doc_id, sent, ':s' || CAST(sent AS VARCHAR) || '_10', 'conll:A0', $subjSql, TRUE FROM tok2 WHERE tid = 8 AND ntok >= 10
      UNION ALL SELECT doc_id, sent, ':s' || CAST(sent AS VARCHAR) || '_10', 'conll:A2', $subjSql, TRUE FROM tok2 WHERE tid = 12 AND ntok >= 10
      UNION ALL SELECT DISTINCT doc_id, sent, 'conll:A0', 'rdfs:subPropertyOf', 'conll:PRED-ARG', TRUE FROM tok2 WHERE tid IN (2, 8)
      UNION ALL SELECT DISTINCT doc_id, sent, 'conll:A1', 'rdfs:subPropertyOf', 'conll:PRED-ARG', TRUE FROM tok2 WHERE tid = 6
      UNION ALL SELECT DISTINCT doc_id, sent, 'conll:A2', 'rdfs:subPropertyOf', 'conll:PRED-ARG', TRUE FROM tok2 WHERE tid = 12
    ) u ORDER BY doc_id, sent, subj, pred, obj"""

  /** Position of the `<g/>` glue marker in the glue corpus (after the
    * 8th token of every sentence — SketchEngine emits `<g/>` between
    * tokens that had no whitespace; XMLTSV2RDF turns it into a childless
    * powla:Node, the emptyNode2Word trigger). */
  val GLUE_AT = 8

  /** detXmlDocs variant for the emptyNode2Word path: same
    * SketchEngine-shaped docs plus one self-closing `<g/>` after token
    * GLUE_AT of each sentence. Trailing partial sentences are DROPPED
    * (only complete SENT_LEN-token sentences are emitted) so the spliced
    * chain has a single closed form — mirrored by the ntok guard in the
    * SQL. */
  /** Pure per-doc span generator (shared by detXmlGlueDocs, the glue
    * det spec and the seed sweep). */
  def xmlGlueSpansFor(docId: String, words: Array[String]): Seq[Span] = {
    val nSents = words.length / SENT_LEN
    val spans = scala.collection.mutable.ArrayBuffer[Span]()
    var off = 0
    def add(kind: String, t: String): Unit = {
      spans += Span(kind, t, "", off); off += 1
    }
    add("markup", s"""<doc id="$docId">""")
    for (k <- 0 until nSents) {
      add("markup", "<s>")
      for (t <- 0 until SENT_LEN) {
        val w = words(k * SENT_LEN + t)
        add("token", s"$w\t${uposFromHex(md5hex(w).charAt(0))}")
        if (t + 1 == GLUE_AT) add("markup", "<g/>")
      }
      add("markup", "</s>")
    }
    add("markup", "</doc>")
    spans.toSeq
  }

  def detXmlGlueDocs(s: SparkSession, dir: String): Dataset[InputDoc] = {
    import s.implicits._
    docTexts(s, dir)
      .map { case (docId, text) =>
        InputDoc(docId, xmlGlueSpansFor(docId, text.split("\\s+")))
      }
  }

  // ------------------------------------------------------------------
  // Deterministic SR-parse corpus (VERDICT r2 item 1): fixed Penn-POS
  // sentence patterns whose converged REDUCE output has a closed form.
  // ------------------------------------------------------------------

  val detParseCols: Seq[String] = Seq("ID", "WORD", "LEMMA", "POS", "HEAD")

  /** Ten fixed POS patterns, cycled sentence-by-sentence. Together they
    * fire EVERY rule of REDUCE-english-{1..4} (ParseScripts), most in
    * several branch variants:
    * P0 (3)(4)(8)(9); P1 (4)(6)(8)(9)(10-b2); P2 (6)(7-branchA)(8)
    * (10-b1); P3 (1)(8)(12)(13, next absent); P4 (2)(3)(4)(5)(8)(9);
    * P5 (0a)(9)(11-b1) + rule (8) firing in fixpoint iteration 2;
    * P6 an 8-noun chain that EXHAUSTS rule (1)'s iteration budget
    * (needs 7, gets the reference's {5}) — oracling the budget-capped
    * fixpoint and its residual conll:SHIFT edges;
    * P7 (6)×2 then (7-branchB): the of-PP hangs off an ALREADY-REDUCED
    * preposition, and with no verb the chain head strands a SHIFT edge;
    * P8 (6-Pronoun dep)(9-Pronoun obj)(11-b2: preverbal completed PP);
    * P9 (2-Gerund head)(12)(13) with a FOLLOWING token, exercising the
    * to-clause SHIFT rewires and leaving the unreduced object chain;
    * P10 (10-b3 ONLY, next present): a completed non-of PP after the
    * verb rewires 2 SHIFT 5, whose adverb then reduces via (10-b1) in
    * fixpoint iteration 2.
    * Words come from the document text; only POS (and the forced
    * function lemmas) are pattern-fixed. */
  val parsePos: Vector[Vector[String]] = Vector(
    Vector("DT", "JJ", "NN", "VBZ", "DT", "NN"),
    Vector("PRP", "VBZ", "DT", "NN", "IN", "NN"),
    Vector("NN", "IN", "NN", "VBZ", "RB"),
    Vector("NN", "NN", "VBZ", "TO", "VB"),
    Vector("DT", "RB", "JJ", "NN", "VBZ", "CD", "NN"),
    Vector("NN", "HYPH", "NN", "RB", "VBZ", "NN"),
    Vector("NN", "NN", "NN", "NN", "NN", "NN", "NN", "NN", "VBZ", "NN"),
    Vector("NN", "IN", "NN", "IN", "NN"),
    Vector("IN", "PRP", "VBZ", "PRP"),
    Vector("RB", "VBG", "VBZ", "TO", "VB", "NN"),
    Vector("PRP", "VBZ", "IN", "NN", "RB"))

  /** Forced lemmas — rules (7)/(12)/(13) match on LEMMA literals "of"/
    * "to"; every other token gets lemma 'l'+word so no corpus word can
    * collide with those guards. */
  val parseLemmaForced: Map[(Int, Int), String] =
    Map((2, 2) -> "of", (3, 4) -> "to", (7, 4) -> "of", (9, 4) -> "to")

  /** HAND-DERIVED converged SR output per pattern: tid → (headTid, edge).
    * Derivation: initialize-SHIFT + REDUCE-english-{1..4} (budgets
    * {5}{5}{5}{3}, examples/parse-ud.sh:48-51) + REDUCE-to-HEAD applied
    * statement-by-statement by hand; the traces live in ParseDetSpec.
    * Tokens absent from the map keep the input HEAD 0 → sentence node:
    * the roots of P0–P5, and P6's tokens 1/2/8/9 stranded when the budget
    * runs out. */
  val parseTree: Vector[Map[Int, (Int, String)]] = Vector(
    Map(1 -> (3, "det"), 2 -> (3, "nmod"), 3 -> (4, "sbj"),
      5 -> (6, "det"), 6 -> (4, "obj")),
    Map(1 -> (2, "sbj"), 3 -> (4, "det"), 4 -> (2, "obj"),
      5 -> (2, "adv"), 6 -> (5, "np")),
    Map(1 -> (4, "sbj"), 2 -> (1, "nmod"), 3 -> (2, "np"), 5 -> (4, "adv")),
    Map(1 -> (2, "nmod"), 2 -> (3, "sbj"), 4 -> (3, "to"), 5 -> (4, "cls")),
    Map(1 -> (4, "det"), 2 -> (3, "amod"), 3 -> (4, "nmod"),
      4 -> (5, "sbj"), 6 -> (7, "num"), 7 -> (5, "obj")),
    Map(1 -> (3, "mwe"), 2 -> (1, "hyph"), 3 -> (5, "sbj"),
      4 -> (5, "adv"), 6 -> (5, "obj")),
    // P6: rule (1) collapses one noun per iteration from the right
    // (only the pair whose head's successor is non-noun matches); 5
    // iterations reduce tokens 7,6,5,4,3 onto 8, then the budget stops
    // the fixpoint. Rule (8) is blocked forever (token 8's SHIFT
    // predecessor 2 is a Noun — the npClasses guard); rule (9) takes
    // the object.
    Map(3 -> (8, "nmod"), 4 -> (8, "nmod"), 5 -> (8, "nmod"),
      6 -> (8, "nmod"), 7 -> (8, "nmod"), 10 -> (9, "obj")),
    // P7: both preps take np complements in one snapshot (3→2, 5→4);
    // then (7) branchB attaches the of-prep 4 to the REDUCED noun 3
    // (del(3 SHIFT 4) is a no-op — 3 left the chain; del(2 SHIFT 4)
    // does the work). No verb → token 1 keeps SHIFT to 2.
    Map(3 -> (2, "np"), 4 -> (3, "nmod"), 5 -> (4, "np")),
    // P8: (6) pronoun-dep branch (2→1 np, no next guard), (9) pronoun
    // object (4→3), then (11) b2: prep 1 is a completed PP (has a
    // REDUCE child, lemma != of) preceding the finite verb → adv.
    Map(1 -> (3, "adv"), 2 -> (1, "np"), 4 -> (3, "obj")),
    // P9: (2) reduces the adverb into the GERUND head; (12) takes the
    // to-clause with next=6 present (4 SHIFT 6 rewire), (13) attaches
    // to the matrix verb with next present (3 SHIFT 6 rewire); nothing
    // consumes the final noun → SHIFT strands 2→3 and 3→6.
    Map(1 -> (2, "amod"), 4 -> (3, "to"), 5 -> (4, "cls")),
    // P10: (6) completes the PP (4→3 np, 3 SHIFT rewired to 5), (8)
    // takes the pronoun subject; (10) fires on b3 ALONE (next present,
    // the PP's shifted object is not "of") rewiring 2 SHIFT 5, and
    // iteration 2's (10-b1) reduces the now-postverbal adverb.
    Map(1 -> (2, "sbj"), 3 -> (2, "adv"), 4 -> (3, "np"), 5 -> (2, "adv")))

  /** Residual conll:SHIFT edges per pattern — what the budget-capped or
    * verbless cascades leave unconsumed. */
  val parseShiftLeft: Vector[Seq[(Int, Int)]] = Vector(
    Seq.empty, Seq.empty, Seq.empty, Seq.empty, Seq.empty, Seq.empty,
    Seq(1 -> 2, 2 -> 8, 8 -> 9),
    Seq(1 -> 2),
    Seq.empty,
    Seq(2 -> 3, 3 -> 6),
    Seq.empty)

  /** Cumulative pattern offsets within one 35-token cycle. */
  val parseOffsets: Vector[Int] = parsePos.scanLeft(0)(_ + _.length)
  val parseCycle: Int = parseOffsets.last

  /** Pure per-doc span generator (shared by detParseDocs and the spec):
    * words are consumed cycle-by-cycle; a sentence is emitted only when
    * the doc has enough words to COMPLETE it (a truncated pattern would
    * parse differently), so trailing words are dropped — mirrored by the
    * sent_end <= nwords guard in the SQL. */
  def parseSpansFor(words: Array[String]): Seq[Span] = {
    val spans = scala.collection.mutable.ArrayBuffer[Span]()
    var off = 0
    var i = 0
    while (i < words.length) {
      val c = i / parseCycle
      val p = i % parseCycle
      val j = parseOffsets.indexWhere(_ > p) - 1
      val tid = p - parseOffsets(j) + 1
      if (c * parseCycle + parseOffsets(j + 1) <= words.length) {
        if (tid == 1 && off > 0) {
          spans += Span("sentence_break", "", "", off); off += 1
        }
        val w = words(i)
        val pos = parsePos(j)(tid - 1)
        val lemma = parseLemmaForced.getOrElse((j, tid), "l" + w)
        spans += Span("token", s"$tid\t$w\t$lemma\t$pos\t0", "", off)
        off += 1
      }
      i += 1
    }
    spans.toSeq
  }

  /** documents.parquet → deterministic SR-parse span docs. Narrow. */
  def detParseDocs(s: SparkSession, dir: String): Dataset[InputDoc] = {
    import s.implicits._
    docTexts(s, dir)
      .map { case (docId, text) =>
        InputDoc(docId, parseSpansFor(text.split("\\s+")))
      }
  }

  // ------------------------------------------------------------------
  // Deterministic bracketing corpus (VERDICT r2 item 2): 4-token
  // sentences with one of two fixed bracket shapes, chosen per sentence
  // by md5 of its first word. tree2bracket deletes the powla tree, so
  // the converged output is exactly the CoNLL core + one closed-form
  // bracket literal per (shape, position).
  // ------------------------------------------------------------------

  val detBracketCols: Seq[String] = Seq("WORD", "POS", "PARSE")
  val BRACKET_LEN = 4

  /** Input PARSE cells per shape/position (CoNLLBrackets2RDF cell
    * conventions: text before '*' opens, after '*' closes).
    * Shape 0: (S (NP w1 w2) (VP w3 w4)) — sibling subtrees.
    * Shape 1: (S w1 (NP w2 w3) w4) — words flanking a nested NP. */
  val bracketCells: Vector[Vector[String]] = Vector(
    Vector("(S(NP*", "*)", "(VP*", "*))"),
    Vector("(S*", "(NP*", "*)", "*)"))

  /** HAND-DERIVED tree2bracket reconstruction per shape/position
    * (stack fold → powla tree → tmp:first/tmp:last → bracket string;
    * traces in BracketsDetSpec). Each opening "(LABEL " carries a
    * trailing space, and the word separator adds one more — "(S (NP  *"
    * has TWO spaces before the star, faithfully (TreesScripts
    * tree2bracket stage 2; golden-matched on the reference's bundled
    * sample in TreeSourcesSpec). */
  val bracketParse: Vector[Vector[String]] = Vector(
    Vector("(S (NP  *", "* )", "(VP  *", "* ))"),
    Vector("(S  *", "(NP  *", "* )", "* )"))

  def bracketShapeOf(firstWord: String): Int =
    if ("01234567".indexOf(md5hex(firstWord).charAt(0)) >= 0) 0 else 1

  /** Pure per-doc span generator (shared by detBracketDocs and the
    * spec): 4-token sentences, trailing partial sentence dropped. */
  def bracketSpansFor(words: Array[String]): Seq[Span] = {
    val spans = scala.collection.mutable.ArrayBuffer[Span]()
    var off = 0
    val nSents = words.length / BRACKET_LEN
    for (si <- 0 until nSents) {
      if (si > 0) { spans += Span("sentence_break", "", "", off); off += 1 }
      val shape = bracketShapeOf(words(si * BRACKET_LEN))
      for (t <- 0 until BRACKET_LEN) {
        val w = words(si * BRACKET_LEN + t)
        val pos = uposFromHex(md5hex(w).charAt(0))
        spans += Span("token", s"$w\t$pos\t${bracketCells(shape)(t)}", "", off)
        off += 1
      }
    }
    spans.toSeq
  }

  /** documents.parquet → deterministic bracket span docs. Narrow. */
  def detBracketDocs(s: SparkSession, dir: String): Dataset[InputDoc] = {
    import s.implicits._
    docTexts(s, dir)
      .map { case (docId, text) =>
        InputDoc(docId, bracketSpansFor(text.split("\\s+")))
      }
  }

  // ------------------------------------------------------------------
  // Deterministic segment corpus (S10): 5-token single-column sentences
  // with a DOUBLE blank-line run before every third sentence — the
  // SimpleLineBreakSplitter input shape. The splitter collapses each
  // run to one break + a '#newsegment' comment, which the parser
  // attaches to the FOLLOWING sentence as rdfs:comment.
  // ------------------------------------------------------------------

  val SEG_LEN = 4
  val detSegCols: Seq[String] = Seq("WORD")

  def segSpansFor(words: Array[String]): Seq[Span] = {
    val spans = scala.collection.mutable.ArrayBuffer[Span]()
    var off = 0
    val nSents = words.length / SEG_LEN
    for (si <- 0 until nSents) {
      if (si > 0) {
        spans += Span("sentence_break", "", "", off); off += 1
        if (si % 3 == 0) { spans += Span("sentence_break", "", "", off); off += 1 }
      }
      for (t <- 0 until SEG_LEN) {
        spans += Span("token", words(si * SEG_LEN + t), "", off); off += 1
      }
    }
    spans.toSeq
  }

  def detSegDocs(s: SparkSession, dir: String): Dataset[InputDoc] = {
    import s.implicits._
    docTexts(s, dir)
      .map { case (docId, text) =>
        InputDoc(docId, segSpansFor(text.split("\\s+")))
      }
  }

  /** Full triple table of the segment path: single-WORD CoNLL core +
    * rdfs:comment "newsegment" on every sentence that follows a
    * boundary (sent > 1 with (sent-1) % 3 == 0 — the closed form of
    * the generator's si % 3 == 0 placement). */
  def segmentsSql: String = {
    val subj = "':s' || CAST(sent AS VARCHAR) || '_' || CAST(tid AS VARCHAR)"
    s"""WITH stk AS MATERIALIZED (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id,
             (i-1) // $SEG_LEN + 1 AS sent, (i-1) % $SEG_LEN + 1 AS tid, w AS word
      FROM (SELECT doc_id, unnest(words) AS w,
                   unnest(range(1, len(words)+1)) AS i,
                   CAST(len(words) AS BIGINT) AS nwords
            FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS words FROM documents) t0) t1
      WHERE ((i-1) // $SEG_LEN + 1) * $SEG_LEN <= nwords
    )
    SELECT doc_id, CAST(sent AS BIGINT) AS sent, subj, pred, obj, obj_uri AS obj_is_uri FROM (
      SELECT DISTINCT doc_id, sent, $sentNodeSql AS subj, 'rdf:type' AS pred, 'nif:Sentence' AS obj, TRUE AS obj_uri FROM stk
      UNION ALL SELECT DISTINCT doc_id, sent, ':s' || CAST(sent - 1 AS VARCHAR) || '_0', 'nif:nextSentence', $sentNodeSql, TRUE FROM stk WHERE sent > 1
      UNION ALL SELECT DISTINCT doc_id, sent, $sentNodeSql, 'rdfs:comment', 'newsegment', FALSE FROM stk WHERE sent > 1 AND (sent - 1) % 3 = 0
      UNION ALL SELECT doc_id, sent, $subj, 'rdf:type', 'nif:Word', TRUE FROM stk
      UNION ALL SELECT doc_id, sent, $subj, 'nif:nextWord', ':s' || CAST(sent AS VARCHAR) || '_' || CAST(tid + 1 AS VARCHAR), TRUE FROM stk WHERE tid < $SEG_LEN
      UNION ALL SELECT doc_id, sent, $subj, 'conll:WORD', word, FALSE FROM stk
      UNION ALL SELECT doc_id, sent, $subj, 'conll:HEAD', $sentNodeSql, TRUE FROM stk
    ) u ORDER BY doc_id, sent, subj, pred, obj"""
  }

  // ------------------------------------------------------------------
  // Deterministic TenTen corpus (S9): SketchEngine vertical lines whose
  // <kwik>/<left>/<right> data tags carry XML-escaped embedded CoNLL —
  // 3-token sentences of word/POS/x/x/x/x/x/x/x chunks (8 slashes → a
  // CoNLL row) wrapped in <s>…</s>, a <doc> opener/closer, and an
  // UNMATCHED </note> after sentence 1's first token so the --repair
  // path must synthesize the artificial <note> opener
  // (TenTen2XMLTSV.java:230-242). The converted stream goes through
  // XmlTsvParser, so the closed form knows every powla node id:
  // doc=:x1, sentence i's <s> = :x2 for i=1 (note takes :x3) and
  // :x{i+2} after.
  // ------------------------------------------------------------------

  val TT_LEN = 3
  val detTenCols: Seq[String] =
    Seq("WORD", "POS", "F1", "F2", "F3", "F4", "F5", "F6", "F7")

  def tenLinesFor(words: Array[String]): Seq[String] = {
    val n = words.length / TT_LEN
    if (n == 0) Seq.empty
    else {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      out += "<left>&lt;doc&gt;</left>"
      for (si <- 0 until n) {
        val toks = (0 until TT_LEN).map { t =>
          val w = words(si * TT_LEN + t)
          s"$w/${uposFromHex(md5hex(w).charAt(0))}/x/x/x/x/x/x/x"
        }
        val mid =
          if (si == 0) toks.head + " &lt;/note&gt; " + toks.tail.mkString(" ")
          else toks.mkString(" ")
        out += s"<kwik>&lt;s&gt; $mid &lt;/s&gt;</kwik>"
      }
      out += "<right>&lt;/doc&gt;</right>"
      out.toSeq
    }
  }

  def detTenDocs(s: SparkSession, dir: String): Dataset[(String, Seq[String])] = {
    import s.implicits._
    docTexts(s, dir)
      .map { case (docId, text) => (docId, tenLinesFor(text.split("\\s+"))) }
  }

  /** Full triple table of the TenTen→XML-TSV path: 9-column CoNLL core
    * + the powla tree (re-asserted doc node per sentence, per-sentence
    * <s> node, the repaired childless <note> spliced into sentence 1's
    * sibling chain between tokens 1 and 2). */
  def tentenSql: String = {
    val subj = "':s' || CAST(sent AS VARCHAR) || '_' || CAST(tid AS VARCHAR)"
    val sX = "':x' || CAST(CASE WHEN sent = 1 THEN 2 ELSE sent + 2 END AS VARCHAR)"
    s"""WITH ttk AS MATERIALIZED (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id,
             (i-1) // $TT_LEN + 1 AS sent, (i-1) % $TT_LEN + 1 AS tid, w AS word,
             ${TextQueries.uposSql.replace("word", "w")} AS pos
      FROM (SELECT doc_id, unnest(words) AS w,
                   unnest(range(1, len(words)+1)) AS i,
                   CAST(len(words) AS BIGINT) AS nwords
            FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS words FROM documents) t0) t1
      WHERE ((i-1) // $TT_LEN + 1) * $TT_LEN <= nwords
    ), tsent AS (SELECT DISTINCT doc_id, sent FROM ttk)
    SELECT doc_id, CAST(sent AS BIGINT) AS sent, subj, pred, obj, obj_uri AS obj_is_uri FROM (
      SELECT doc_id, sent, $sentNodeSql AS subj, 'rdf:type' AS pred, 'nif:Sentence' AS obj, TRUE AS obj_uri FROM tsent
      UNION ALL SELECT doc_id, sent, ':s' || CAST(sent - 1 AS VARCHAR) || '_0', 'nif:nextSentence', $sentNodeSql, TRUE FROM tsent WHERE sent > 1
      UNION ALL SELECT doc_id, sent, $subj, 'rdf:type', 'nif:Word', TRUE FROM ttk
      UNION ALL SELECT doc_id, sent, $subj, 'nif:nextWord', ':s' || CAST(sent AS VARCHAR) || '_' || CAST(tid + 1 AS VARCHAR), TRUE FROM ttk WHERE tid < $TT_LEN
      UNION ALL SELECT doc_id, sent, $subj, 'conll:WORD', word, FALSE FROM ttk
      UNION ALL SELECT doc_id, sent, $subj, 'conll:POS', pos, FALSE FROM ttk
      UNION ALL SELECT doc_id, sent, $subj, 'conll:F' || CAST(k AS VARCHAR), 'x', FALSE
        FROM ttk, (SELECT unnest(range(1, 8)) AS k) fk
      UNION ALL SELECT doc_id, sent, $subj, 'conll:HEAD', $sentNodeSql, TRUE FROM ttk
      -- re-asserted document node, every sentence
      UNION ALL SELECT doc_id, sent, ':x1', 'rdf:type', 'powla:Node', TRUE FROM tsent
      UNION ALL SELECT doc_id, sent, ':x1', 'rdf:type', 'conll:XML_DATA', TRUE FROM tsent
      UNION ALL SELECT doc_id, sent, ':x1', 'rdf:value', 'doc', FALSE FROM tsent
      -- per-sentence <s> node
      UNION ALL SELECT doc_id, sent, $sX, 'powla:hasParent', ':x1', TRUE FROM tsent
      UNION ALL SELECT doc_id, sent, $sX, 'rdf:type', 'powla:Node', TRUE FROM tsent
      UNION ALL SELECT doc_id, sent, $sX, 'rdf:type', 'conll:XML_DATA', TRUE FROM tsent
      UNION ALL SELECT doc_id, sent, $sX, 'rdf:value', 's', FALSE FROM tsent
      -- words hang under the sentence's <s> node
      UNION ALL SELECT doc_id, sent, $subj, 'powla:hasParent', $sX, TRUE FROM ttk
      -- repaired childless <note> (sentence 1 only), spliced between w1 and w2
      UNION ALL SELECT doc_id, sent, ':x3', 'powla:hasParent', ':x2', TRUE FROM tsent WHERE sent = 1
      UNION ALL SELECT doc_id, sent, ':x3', 'rdf:type', 'powla:Node', TRUE FROM tsent WHERE sent = 1
      UNION ALL SELECT doc_id, sent, ':x3', 'rdf:type', 'conll:XML_DATA', TRUE FROM tsent WHERE sent = 1
      UNION ALL SELECT doc_id, sent, ':x3', 'rdf:value', 'note', FALSE FROM tsent WHERE sent = 1
      UNION ALL SELECT doc_id, sent, ':s1_1', 'powla:next', ':x3', TRUE FROM tsent WHERE sent = 1
      UNION ALL SELECT doc_id, sent, ':x3', 'powla:next', ':s1_2', TRUE FROM tsent WHERE sent = 1
      UNION ALL SELECT doc_id, sent, ':s1_2', 'powla:next', ':s1_3', TRUE FROM tsent WHERE sent = 1
      -- sibling chains for sentences after the first
      UNION ALL SELECT doc_id, sent, $subj, 'powla:next', ':s' || CAST(sent AS VARCHAR) || '_' || CAST(tid + 1 AS VARCHAR), TRUE FROM ttk WHERE sent > 1 AND tid < $TT_LEN
    ) u ORDER BY doc_id, sent, subj, pred, obj"""
  }

  /** Shared bracket-corpus CTE: btk (4-token chunks), tok4 (+pos/shape),
    * bsents (one row per sentence with its shape). */
  private def bracketCteSql: String = {
    val hex07 = "('0','1','2','3','4','5','6','7')"
    s"""WITH btk AS MATERIALIZED (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id,
             (i-1) // $BRACKET_LEN + 1 AS sent, (i-1) % $BRACKET_LEN + 1 AS tid, w AS word
      FROM (SELECT doc_id, unnest(words) AS w,
                   unnest(range(1, len(words)+1)) AS i,
                   CAST(len(words) AS BIGINT) AS nwords
            FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS words FROM documents) t0) t1
      WHERE ((i-1) // $BRACKET_LEN + 1) * $BRACKET_LEN <= nwords
    ), tok4 AS MATERIALIZED (
      SELECT doc_id, sent, tid, word, ${TextQueries.uposSql} AS pos,
             CASE WHEN substring(md5(FIRST_VALUE(word) OVER
               (PARTITION BY doc_id, sent ORDER BY tid)),1,1) IN $hex07
               THEN 0 ELSE 1 END AS shape
      FROM btk
    ), bsents AS (SELECT DISTINCT doc_id, sent, shape FROM tok4)"""
  }

  /** CoNLL core branches of the bracket corpus (WORD, POS, default
    * HEAD → sentence node — no HEAD column, CoNLL2RDF.java:154-155). */
  private def bracketBaseBranches: String = {
    val subj = "':s' || CAST(sent AS VARCHAR) || '_' || CAST(tid AS VARCHAR)"
    s"""SELECT DISTINCT doc_id, sent, $sentNodeSql AS subj, 'rdf:type' AS pred, 'nif:Sentence' AS obj, TRUE AS obj_uri FROM tok4
      UNION ALL SELECT DISTINCT doc_id, sent, ':s' || CAST(sent - 1 AS VARCHAR) || '_0', 'nif:nextSentence', $sentNodeSql, TRUE FROM tok4 WHERE sent > 1
      UNION ALL SELECT doc_id, sent, $subj, 'rdf:type', 'nif:Word', TRUE FROM tok4
      UNION ALL SELECT doc_id, sent, $subj, 'nif:nextWord', ':s' || CAST(sent AS VARCHAR) || '_' || CAST(tid + 1 AS VARCHAR), TRUE FROM tok4 WHERE tid < $BRACKET_LEN
      UNION ALL SELECT doc_id, sent, $subj, 'conll:WORD', word, FALSE FROM tok4
      UNION ALL SELECT doc_id, sent, $subj, 'conll:POS', pos, FALSE FROM tok4
      UNION ALL SELECT doc_id, sent, $subj, 'conll:HEAD', $sentNodeSql, TRUE FROM tok4"""
  }

  /** Full triple table of the brackets→powla→tree2bracket roundtrip:
    * CoNLL core + the closed-form conll:PARSE bracket literal. */
  def bracketsSql: String = {
    val subj = "':s' || CAST(sent AS VARCHAR) || '_' || CAST(tid AS VARCHAR)"
    val parseCase = {
      val branches = bracketParse.zipWithIndex.map { case (ps, sh) =>
        val inner = ps.zipWithIndex
          .map { case (b, t) => s"WHEN ${t + 1} THEN '$b'" }.mkString(" ")
        s"WHEN $sh THEN CASE tid $inner END"
      }.mkString(" ")
      s"CASE shape $branches END"
    }
    s"""$bracketCteSql
    SELECT doc_id, CAST(sent AS BIGINT) AS sent, subj, pred, obj, obj_uri AS obj_is_uri FROM (
      $bracketBaseBranches
      UNION ALL SELECT doc_id, sent, $subj, 'conll:PARSE', $parseCase, FALSE FROM tok4
    ) u ORDER BY doc_id, sent, subj, pred, obj"""
  }

  /** HAND-DERIVED span-URI powla tree per shape
    * (CoNLLBracketsWithSpanURIs2RDF.java:32-53 getURI traced over the
    * det cells; '%' is the sentence number). Shape 0
    * `(S (NP w1 w2) (VP w3 w4))`: S=:s%_1_s%_4, NP=:s%_1_s%_2,
    * VP=:s%_3_s%_4. Shape 1 `(S w1 (NP w2 w3) w4)`: S=:s%_1_s%_4 and —
    * faithfully to the reference's last-scan overshoot — NP=:s%_2_s%_4
    * (the line after NP's close is token 4's URI, so it leaks into the
    * span; trace in BracketsDetSpec). */
  val bracketSpanTpl: Vector[(Int, String, String, String, Boolean)] = {
    val A = ":s%_1_s%_4"; val B0 = ":s%_1_s%_2"; val C0 = ":s%_3_s%_4"; val B1 = ":s%_2_s%_4"
    def tok(t: Int) = s":s%_$t"
    Vector(
      // shape 0
      (0, A, "rdf:type", "powla:Node", true),
      (0, A, "rdf:type", "conll:PARSE", true),
      (0, A, "rdf:value", "S", false),
      (0, B0, "rdf:type", "powla:Node", true),
      (0, B0, "rdf:type", "conll:PARSE", true),
      (0, B0, "powla:hasParent", A, true),
      (0, B0, "rdf:value", "NP", false),
      (0, tok(1), "powla:hasParent", B0, true),
      (0, tok(1), "powla:next", tok(2), true),
      (0, tok(2), "powla:hasParent", B0, true),
      (0, B0, "powla:next", C0, true),
      (0, C0, "rdf:type", "powla:Node", true),
      (0, C0, "rdf:type", "conll:PARSE", true),
      (0, C0, "powla:hasParent", A, true),
      (0, C0, "rdf:value", "VP", false),
      (0, tok(3), "powla:hasParent", C0, true),
      (0, tok(3), "powla:next", tok(4), true),
      (0, tok(4), "powla:hasParent", C0, true),
      // shape 1
      (1, A, "rdf:type", "powla:Node", true),
      (1, A, "rdf:type", "conll:PARSE", true),
      (1, A, "rdf:value", "S", false),
      (1, tok(1), "powla:hasParent", A, true),
      (1, tok(1), "powla:next", B1, true),
      (1, B1, "rdf:type", "powla:Node", true),
      (1, B1, "rdf:type", "conll:PARSE", true),
      (1, B1, "powla:hasParent", A, true),
      (1, B1, "rdf:value", "NP", false),
      (1, tok(2), "powla:hasParent", B1, true),
      (1, tok(2), "powla:next", tok(3), true),
      (1, tok(3), "powla:hasParent", B1, true),
      (1, B1, "powla:next", tok(4), true),
      (1, tok(4), "powla:hasParent", A, true)
    )
  }

  /** Full triple table of the brackets source under SPAN-URI minting
    * (no tree2bracket — the powla tree stays): CoNLL core + the
    * hand-derived per-shape tree with span-URI nodes. */
  def bracketsSpanSql: String = {
    val values = bracketSpanTpl.map { case (sh, s, p, o, u) =>
      s"($sh, '$s', '$p', '$o', ${if (u) "TRUE" else "FALSE"})"
    }.mkString(", ")
    s"""$bracketCteSql,
    span_tpl(shape, subjt, pred, objt, obju) AS (VALUES $values)
    SELECT doc_id, CAST(sent AS BIGINT) AS sent, subj, pred, obj, obj_uri AS obj_is_uri FROM (
      $bracketBaseBranches
      UNION ALL SELECT b.doc_id, b.sent,
        replace(t.subjt, '%', CAST(b.sent AS VARCHAR)), t.pred,
        CASE WHEN t.obju THEN replace(t.objt, '%', CAST(b.sent AS VARCHAR)) ELSE t.objt END,
        t.obju
      FROM bsents b JOIN span_tpl t ON t.shape = b.shape
    ) u ORDER BY doc_id, sent, subj, pred, obj"""
  }

  /** Final rdf:type concept set per Penn tag after linkPennPosFull →
    * removeAnnotationModel → inferOliaConcepts, replayed with the SAME
    * driver-side ontology code the engine broadcasts (the linkSql VALUES
    * precedent): keep the olia: type inserts, then close over the
    * GRAPH_OLIA super hierarchy. */
  def parseTagTypes: Map[String, Seq[String]] = {
    val links = graft.conll.Ontology.pennLinks(
      graft.conll.Ontology.miniOlia, graft.conll.Ontology.GRAPH_PENN)
    val sup = graft.conll.Ontology.superClosure(
      graft.conll.Ontology.miniOlia, graft.conll.Ontology.GRAPH_OLIA,
      graft.conll.Ontology.keepOlia)
    parsePos.flatten.distinct.map { tag =>
      val direct = for {
        link <- links if link.matches(tag)
        (p, o, isUri) <- link.wordInserts
        if p == "rdf:type" && isUri && o.startsWith("olia:")
      } yield o
      tag -> (direct ++ direct.flatMap(c => sup.getOrElse(c, Seq.empty))).distinct
    }.toMap
  }

  // ------------------------------------------------------------------
  // DuckDB mirror
  // ------------------------------------------------------------------

  private val edge16Sql: String = {
    val whens = "0123456789abcde".zip(edgeLabels).map { case (c, l) =>
      s"WHEN '$c' THEN '$l'"
    }.mkString(" ")
    s"CASE substring(md5(word),2,1) $whens ELSE 'conj' END"
  }

  /** `:s{sent}_{tid}` subject. */
  private val subjSql = "':s' || CAST(sent AS VARCHAR) || '_' || CAST(tid AS VARCHAR)"
  private val sentNodeSql = "':s' || CAST(sent AS VARCHAR) || '_0'"

  /** tk (doc_id VARCHAR, tok, word) + tok2 (sentence-chunked:
    * sent, tid, ntok = tokens in the sentence, upos, head, edge). */
  val detCte: String =
    s"""WITH tk AS MATERIALIZED (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(i AS BIGINT) AS tok, w AS word FROM (
        SELECT doc_id, unnest(words) AS w, unnest(range(1, len(words)+1)) AS i
        FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS words FROM documents) t0) t1
    ), tok2 AS MATERIALIZED (
      SELECT doc_id, sent, tid, word, upos, head, edge,
             MAX(tid) OVER (PARTITION BY doc_id, sent) AS ntok
      FROM (
        SELECT doc_id, (tok-1) // $SENT_LEN + 1 AS sent, (tok-1) % $SENT_LEN + 1 AS tid, word,
          ${TextQueries.uposSql} AS upos,
          CASE WHEN (tok-1) % $SENT_LEN = 0 THEN 0 ELSE ((tok-1) % $SENT_LEN + 1) // 2 END AS head,
          CASE WHEN (tok-1) % $SENT_LEN = 0 THEN 'root' ELSE $edge16Sql END AS edge
        FROM tk) t
    )"""

  /** The analyze cascade as a CTE chain, statement by statement, with the
    * exact sequential-visibility semantics of Rules.Script (each statement
    * evaluates its WHERE against the state left by the previous one; the
    * regex strings are the reference's, verbatim — AnalyzeScripts.scala,
    * examples/sparql/analyze/{UPOS,EDGE}-to-POSsynt.sparql,
    * consolidate-POSsynt.sparql). All state tables are keyed
    * (doc_id, sent, tok) with tok = the in-sentence token id. `ud1` =
    * POSsynt_UD after pruning, `ups1` = POSsynt_UPOS after pruning,
    * `mt` = POSsynt_match. */
  val cascadeCte: String =
    """, e AS MATERIALIZED (SELECT doc_id, sent, tid AS w, head AS h, edge FROM tok2)
    , ps4 AS MATERIALIZED (
      SELECT DISTINCT doc_id, sent, tok, v FROM (
        SELECT doc_id, sent, w AS tok, 'N' AS v FROM e WHERE regexp_matches(edge, '^(nsubj|obj|dobj|iobj|obl|vocative|expl|dislocated)')
        UNION ALL SELECT doc_id, sent, h, 'V' FROM e WHERE regexp_matches(edge, '^(nsubj|obj|dobj|iobj|obl|vocative|expl|dislocated)')
        UNION ALL SELECT doc_id, sent, w, 'V' FROM e WHERE regexp_matches(edge, '^(csubj|ccomp|xcomp|advcl|aux|cop)')
        UNION ALL SELECT doc_id, sent, h, 'V' FROM e WHERE regexp_matches(edge, '^(csubj|ccomp|xcomp|advcl|aux|cop)')
        UNION ALL SELECT doc_id, sent, w, 'AV' FROM e WHERE regexp_matches(edge, '^(advmod)')
        UNION ALL SELECT doc_id, sent, w, 'AV' FROM e WHERE regexp_matches(edge, '^(discourse|mark)')
        UNION ALL SELECT doc_id, sent, h, 'V' FROM e WHERE regexp_matches(edge, '^(discourse|mark)')) u0)
    , ps5 AS MATERIALIZED (
      SELECT doc_id, sent, tok, v FROM ps4
      UNION
      SELECT e.doc_id, e.sent, e.w, 'AV' FROM e
      WHERE regexp_matches(e.edge, '^(neg)')
        AND NOT EXISTS (SELECT 1 FROM ps4 p WHERE p.doc_id = e.doc_id AND p.sent = e.sent AND p.tok = e.w)
        AND EXISTS (SELECT 1 FROM ps4 p WHERE p.doc_id = e.doc_id AND p.sent = e.sent AND p.tok = e.h)
        AND NOT EXISTS (SELECT 1 FROM ps4 p WHERE p.doc_id = e.doc_id AND p.sent = e.sent AND p.tok = e.h AND p.v = 'N'))
    , ps8 AS MATERIALIZED (
      SELECT doc_id, sent, tok, v FROM ps5
      UNION
      SELECT doc_id, sent, tok, v FROM (
        SELECT doc_id, sent, w AS tok, 'N' AS v FROM e WHERE regexp_matches(edge, '^(nmod|appos|name)')
        UNION ALL SELECT doc_id, sent, h, 'N' FROM e WHERE regexp_matches(edge, '^(nmod|appos|name)')
        UNION ALL SELECT doc_id, sent, w, 'AN' FROM e WHERE regexp_matches(edge, '^(nummod|amod|det|clf|case)')
        UNION ALL SELECT doc_id, sent, h, 'N' FROM e WHERE regexp_matches(edge, '^(nummod|amod|det|clf|case)')
        UNION ALL SELECT doc_id, sent, w, 'V' FROM e WHERE regexp_matches(edge, '^(acl)')
        UNION ALL SELECT doc_id, sent, h, 'N' FROM e WHERE regexp_matches(edge, '^(acl)')) u1)
    , ps9 AS MATERIALIZED (
      SELECT doc_id, sent, tok, v FROM ps8
      UNION
      SELECT e.doc_id, e.sent, e.w, 'AN' FROM e
      WHERE regexp_matches(e.edge, '^(neg)')
        AND EXISTS (SELECT 1 FROM ps8 p WHERE p.doc_id = e.doc_id AND p.sent = e.sent AND p.tok = e.h AND p.v = 'N'))
    , ps11 AS MATERIALIZED (
      SELECT doc_id, sent, tok, v FROM ps9
      UNION SELECT doc_id, sent, w, 'X' FROM e WHERE regexp_matches(edge, '^(punct|foreign)')
      UNION SELECT doc_id, sent, w, 'RM' FROM e WHERE regexp_matches(edge, '^(cc)'))
    , ps12 AS MATERIALIZED (
      SELECT doc_id, sent, tok, v FROM ps11
      UNION
      SELECT e.doc_id, e.sent, e.h, p.v FROM e
      JOIN ps11 p ON p.doc_id = e.doc_id AND p.sent = e.sent AND p.tok = e.w
      WHERE regexp_matches(e.edge, '^(conj|parataxis|flat|compound|fixed|mwe|list)')
        AND NOT EXISTS (SELECT 1 FROM ps11 q WHERE q.doc_id = e.doc_id AND q.sent = e.sent AND q.tok = e.h)
      UNION
      SELECT e.doc_id, e.sent, e.w, p.v FROM e
      JOIN ps11 p ON p.doc_id = e.doc_id AND p.sent = e.sent AND p.tok = e.h
      WHERE regexp_matches(e.edge, '^(conj|parataxis|flat|compound|fixed|mwe|list)')
        AND NOT EXISTS (SELECT 1 FROM ps11 q WHERE q.doc_id = e.doc_id AND q.sent = e.sent AND q.tok = e.w))
    , ps13 AS MATERIALIZED (
      SELECT doc_id, sent, tok, v FROM ps12
      UNION
      SELECT e.doc_id, e.sent, e.h, p.v FROM e
      JOIN ps12 p ON p.doc_id = e.doc_id AND p.sent = e.sent AND p.tok = e.w
      WHERE regexp_matches(e.edge, '^(conj|parataxis|flat|compound|fixed|mwe|list)')
        AND NOT EXISTS (SELECT 1 FROM ps12 q WHERE q.doc_id = e.doc_id AND q.sent = e.sent AND q.tok = e.h)
      UNION
      SELECT e.doc_id, e.sent, e.w, p.v FROM e
      JOIN ps12 p ON p.doc_id = e.doc_id AND p.sent = e.sent AND p.tok = e.h
      WHERE regexp_matches(e.edge, '^(conj|parataxis|flat|compound|fixed|mwe|list)')
        AND NOT EXISTS (SELECT 1 FROM ps12 q WHERE q.doc_id = e.doc_id AND q.sent = e.sent AND q.tok = e.w))
    , ps14 AS MATERIALIZED (
      SELECT doc_id, sent, tok, v FROM ps13
      UNION
      SELECT e.doc_id, e.sent, e.w, 'V' FROM e
      WHERE regexp_matches(e.edge, '^(root)')
        AND NOT EXISTS (SELECT 1 FROM ps13 p WHERE p.doc_id = e.doc_id AND p.sent = e.sent AND p.tok = e.w))
    , uu AS MATERIALIZED (
      SELECT doc_id, sent, tid AS tok,
        CASE WHEN regexp_matches(upos, 'NOUN|PROPN|PRON') THEN 'N'
             WHEN regexp_matches(upos, 'VERB|AUX') THEN 'V'
             WHEN regexp_matches(upos, 'ADJ|DET|NUM') THEN 'AN'
             WHEN regexp_matches(upos, 'ADV|PART') THEN 'AV'
             WHEN upos = 'ADP' THEN 'RN'
             WHEN upos = 'SCONJ' THEN 'RV'
             WHEN upos = 'CONJ' THEN 'RM'
             ELSE 'X' END AS v
      FROM tok2
      UNION ALL
      SELECT doc_id, sent, tid, CASE WHEN upos = 'ADP' THEN 'AN' ELSE 'AV' END
      FROM tok2 WHERE upos IN ('ADP', 'SCONJ'))
    , ud1 AS MATERIALIZED (
      SELECT p.doc_id, p.sent, p.tok, p.v FROM ps14 p WHERE NOT EXISTS (
        SELECT 1 FROM ps14 v JOIN uu u
          ON u.doc_id = v.doc_id AND u.sent = v.sent AND u.tok = v.tok AND u.v = v.v
        WHERE v.doc_id = p.doc_id AND v.sent = p.sent AND v.tok = p.tok AND v.v <> p.v))
    , ups1 AS MATERIALIZED (
      SELECT p.doc_id, p.sent, p.tok, p.v FROM uu p WHERE NOT EXISTS (
        SELECT 1 FROM ud1 v JOIN uu u
          ON u.doc_id = v.doc_id AND u.sent = v.sent AND u.tok = v.tok AND u.v = v.v
        WHERE v.doc_id = p.doc_id AND v.sent = p.sent AND v.tok = p.tok AND v.v <> p.v))
    , mt AS MATERIALIZED (
      SELECT t.doc_id, t.sent, t.tid AS tok,
        CASE WHEN EXISTS (
          SELECT 1 FROM ud1 v JOIN ups1 u
            ON u.doc_id = v.doc_id AND u.sent = v.sent AND u.tok = v.tok AND u.v = v.v
          WHERE v.doc_id = t.doc_id AND v.sent = t.sent AND v.tok = t.tid) THEN '1' ELSE '0' END AS v
      FROM tok2 t)"""

  /** Subject string for a PS-state row (tables expose `tok`). */
  private val psSubjSql = "':s' || CAST(sent AS VARCHAR) || '_' || CAST(tok AS VARCHAR)"

  /** The parse-only triple branches over tok2 (shared by the analyze and
    * link oracles): sentence nodes, the nextSentence chain, word typing,
    * the nextWord chain, and the 5 declared columns. */
  private val baseBranchesSql: String =
    s"""SELECT DISTINCT doc_id, sent, $sentNodeSql AS subj, 'rdf:type' AS pred, 'nif:Sentence' AS obj, TRUE AS obj_uri FROM tok2
      UNION ALL SELECT DISTINCT doc_id, sent, ':s' || CAST(sent - 1 AS VARCHAR) || '_0', 'nif:nextSentence', $sentNodeSql, TRUE FROM tok2 WHERE sent > 1
      UNION ALL SELECT doc_id, sent, $subjSql, 'rdf:type', 'nif:Word', TRUE FROM tok2
      UNION ALL SELECT doc_id, sent, $subjSql, 'nif:nextWord', ':s' || CAST(sent AS VARCHAR) || '_' || CAST(tid + 1 AS VARCHAR), TRUE FROM tok2 WHERE tid < ntok
      UNION ALL SELECT doc_id, sent, $subjSql, 'conll:ID', CAST(tid AS VARCHAR), FALSE FROM tok2
      UNION ALL SELECT doc_id, sent, $subjSql, 'conll:WORD', word, FALSE FROM tok2
      UNION ALL SELECT doc_id, sent, $subjSql, 'conll:UPOS', upos, FALSE FROM tok2
      UNION ALL SELECT doc_id, sent, $subjSql, 'conll:HEAD', ':s' || CAST(sent AS VARCHAR) || '_' || CAST(head AS VARCHAR), TRUE FROM tok2
      UNION ALL SELECT doc_id, sent, $subjSql, 'conll:EDGE', edge, FALSE FROM tok2"""

  /** NOTE on `nif:nextSentence` attribution: SpanParser emits the
    * (s{n-1}_0, nextSentence, s{n}_0) triple INSIDE sentence n's graph
    * (linkPrev), so Pipeline.triples tags it with sent = n — the SQL
    * branch above does the same. */

  /** Full triple table of the analyze-cascade output. */
  val analyzeSql: String =
    s"""$detCte $cascadeCte
    SELECT doc_id, CAST(sent AS BIGINT) AS sent, subj, pred, obj, obj_uri AS obj_is_uri FROM (
      $baseBranchesSql
      UNION ALL SELECT doc_id, sent, $psSubjSql, 'conll:POSsynt_UPOS', v, FALSE FROM ups1
      UNION ALL SELECT doc_id, sent, $psSubjSql, 'conll:POSsynt_UD', v, FALSE FROM ud1
      UNION ALL SELECT doc_id, sent, $psSubjSql, 'conll:POSsynt_match', v, FALSE FROM mt
    ) u ORDER BY doc_id, sent, subj, pred, obj"""

  /** tok3: the SR-parse det corpus (doc_id, sent, tid, word, lemma, pos,
    * pat, ntok) — the SQL mirror of parseSpansFor's chunking. */
  private val parseCte: String = {
    val offs = parseOffsets
    val ps = parsePos.indices
    val jCase = ps.map(j => s"WHEN p < ${offs(j + 1)} THEN $j").mkString(" ")
    val offCase = ps.map(j => s"WHEN $j THEN ${offs(j)}").mkString(" ")
    val endCase = ps.map(j => s"WHEN $j THEN ${offs(j + 1)}").mkString(" ")
    val lenCase = ps.map(j => s"WHEN $j THEN ${parsePos(j).length}").mkString(" ")
    val posCase = {
      val branches = parsePos.zipWithIndex.map { case (ps, j) =>
        val inner = ps.zipWithIndex
          .map { case (pos, t) => s"WHEN ${t + 1} THEN '$pos'" }.mkString(" ")
        s"WHEN $j THEN CASE tid $inner END"
      }.mkString(" ")
      s"CASE pat $branches END"
    }
    val lemCase = {
      val forced = parseLemmaForced.toSeq.sortBy(_._1)
        .map { case ((j, t), l) => s"WHEN pat = $j AND tid = $t THEN '$l'" }
        .mkString(" ")
      s"CASE $forced ELSE 'l' || word END"
    }
    s"""WITH ptk AS MATERIALIZED (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id,
             (i-1) // $parseCycle AS c, (i-1) % $parseCycle AS p, w AS word, nwords
      FROM (SELECT doc_id, unnest(words) AS w,
                   unnest(range(1, len(words)+1)) AS i,
                   CAST(len(words) AS BIGINT) AS nwords
            FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS words FROM documents) t0) t1
    ), tok3 AS MATERIALIZED (
      SELECT doc_id, c*${parsePos.length} + pat + 1 AS sent, tid, word, pat,
             $posCase AS pos, $lemCase AS lemma,
             CASE pat $lenCase END AS ntok
      FROM (
        SELECT doc_id, word, c, pat, p - (CASE pat $offCase END) + 1 AS tid, nwords,
               c*$parseCycle + (CASE pat $endCase END) AS sent_end
        FROM (SELECT doc_id, word, c, p, nwords, CASE $jCase END AS pat FROM ptk) a
      ) b
      WHERE sent_end <= nwords
    )"""
  }

  /** Full triple table of the converged parse-cascade output: base token
    * triples + the hand-derived tree (ptree VALUES) + the per-tag OLiA
    * concept closure (ptypes VALUES). Roots keep the input HEAD 0 → the
    * sentence node; reduced tokens carry their REDUCE-to-HEAD target and
    * EDGE label; no conll:ID (remove-ID), no SHIFT/REDUCE leftovers (the
    * six patterns consume every SHIFT edge — asserted in ParseDetSpec). */
  def parseSql: String = {
    val subj = "':s' || CAST(sent AS VARCHAR) || '_' || CAST(tid AS VARCHAR)"
    val tSubj = "':s' || CAST(t.sent AS VARCHAR) || '_' || CAST(t.tid AS VARCHAR)"
    val ptree = parseTree.zipWithIndex.flatMap { case (m, j) =>
      m.toSeq.sortBy(_._1).map { case (tid, (h, e)) => s"($j, $tid, $h, '$e')" }
    }.mkString(", ")
    val ptypes = parseTagTypes.toSeq.sortBy(_._1).flatMap { case (tag, cs) =>
      cs.sorted.map(c => s"('$tag', '$c')")
    }.mkString(", ")
    val pshift = parseShiftLeft.zipWithIndex.flatMap { case (es, j) =>
      es.map { case (f, t) => s"($j, $f, $t)" }
    }.mkString(", ")
    s"""$parseCte, ptree(pat, tid, head_tid, edge) AS (VALUES $ptree),
    ptypes(pos, concept) AS (VALUES $ptypes),
    pshift(pat, from_tid, to_tid) AS (VALUES $pshift)
    SELECT doc_id, CAST(sent AS BIGINT) AS sent, subj, pred, obj, obj_uri AS obj_is_uri FROM (
      SELECT DISTINCT doc_id, sent, $sentNodeSql AS subj, 'rdf:type' AS pred, 'nif:Sentence' AS obj, TRUE AS obj_uri FROM tok3
      UNION ALL SELECT DISTINCT doc_id, sent, ':s' || CAST(sent - 1 AS VARCHAR) || '_0', 'nif:nextSentence', $sentNodeSql, TRUE FROM tok3 WHERE sent > 1
      UNION ALL SELECT doc_id, sent, $subj, 'rdf:type', 'nif:Word', TRUE FROM tok3
      UNION ALL SELECT doc_id, sent, $subj, 'nif:nextWord', ':s' || CAST(sent AS VARCHAR) || '_' || CAST(tid + 1 AS VARCHAR), TRUE FROM tok3 WHERE tid < ntok
      UNION ALL SELECT doc_id, sent, $subj, 'conll:WORD', word, FALSE FROM tok3
      UNION ALL SELECT doc_id, sent, $subj, 'conll:LEMMA', lemma, FALSE FROM tok3
      UNION ALL SELECT doc_id, sent, $subj, 'conll:POS', pos, FALSE FROM tok3
      UNION ALL SELECT t.doc_id, t.sent, $tSubj, 'conll:HEAD',
        ':s' || CAST(t.sent AS VARCHAR) || '_' || CAST(COALESCE(pt.head_tid, 0) AS VARCHAR), TRUE
        FROM tok3 t LEFT JOIN ptree pt ON pt.pat = t.pat AND pt.tid = t.tid
      UNION ALL SELECT t.doc_id, t.sent, $tSubj, 'conll:EDGE', pt.edge, FALSE
        FROM tok3 t JOIN ptree pt ON pt.pat = t.pat AND pt.tid = t.tid
      UNION ALL SELECT t.doc_id, t.sent, $tSubj, 'rdf:type', y.concept, TRUE
        FROM tok3 t JOIN ptypes y ON y.pos = t.pos
      UNION ALL SELECT t.doc_id, t.sent, $tSubj, 'conll:SHIFT',
        ':s' || CAST(t.sent AS VARCHAR) || '_' || CAST(sh.to_tid AS VARCHAR), TRUE
        FROM tok3 t JOIN pshift sh ON sh.pat = t.pat AND sh.from_tid = t.tid
    ) u ORDER BY doc_id, sent, subj, pred, obj"""
  }

  /** K1 canonical TTL text, sentence-block closed form: the det corpus
    * has single-valued predicates and numeric ids, so the lexiconumeric
    * line sort reduces to (prev-sentence link line, sentence-node line,
    * tokens by tid) and the reference property order (rdf:type,
    * conll:WORD, declared columns in order, nif:nextWord last) is a
    * fixed template per token. Gates the canonical FORMATTING itself —
    * the TTL roundtrip gate ignores ordering by construction. */
  def ttlTextSql: String = {
    val sentV = "CAST(sent AS VARCHAR)"
    val tidV = "CAST(tid AS VARCHAR)"
    val tokLine =
      s"""':s' || $sentV || '_' || $tidV || ' a nif:Word; conll:WORD "' || word ||
         '"; conll:ID "' || $tidV || '"; conll:UPOS "' || upos ||
         '"; conll:HEAD :s' || $sentV || '_' || CAST(head AS VARCHAR) ||
         '; conll:EDGE "' || edge || '"' ||
         CASE WHEN tid < ntok
              THEN '; nif:nextWord :s' || $sentV || '_' || CAST(tid + 1 AS VARCHAR)
              ELSE '' END || ' .'"""
        .linesIterator.map(_.trim).mkString(" ")
    s"""$detCte, blocks AS (
      SELECT doc_id, sent, string_agg($tokLine, chr(10) ORDER BY tid) AS toklines
      FROM tok2 GROUP BY doc_id, sent)
    SELECT doc_id, CAST(sent AS BIGINT) AS sent,
      CASE WHEN sent > 1
           THEN ':s' || CAST(sent - 1 AS VARCHAR) || '_0 nif:nextSentence :s' || $sentV || '_0 .' || chr(10)
           ELSE '' END ||
      ':s' || $sentV || '_0 a nif:Sentence .' || chr(10) || toklines AS ttl
    FROM blocks ORDER BY doc_id, sent"""
  }

  /** UPOS→OLiA concept VALUES rows — the SAME driver-side ontology
    * closures the engine broadcasts (Ontology.tagToConcepts ∘
    * superClosure). */
  private def udConceptValues: String = {
    val t2c = graft.conll.Ontology.tagToConcepts(
      graft.conll.Ontology.miniOlia, graft.conll.Ontology.GRAPH_UD, graft.conll.Ontology.keepOlia)
    val sup = graft.conll.Ontology.superClosure(
      graft.conll.Ontology.miniOlia, graft.conll.Ontology.GRAPH_UD, graft.conll.Ontology.keepOlia)
    val rows = for {
      (tag, cs) <- t2c.toSeq
      c <- (cs ++ cs.flatMap(x => sup.getOrElse(x, Seq.empty))).distinct
    } yield s"('$tag', '$c')"
    rows.sorted.mkString(", ")
  }

  /** link-ud cascade + fused entity links over the det pipeline; entity
    * ids are the md5 gazetteer scheme. */
  val linkSql: String =
    s"""$detCte, ud_concepts(upos, concept) AS (VALUES $udConceptValues)
    SELECT doc_id, CAST(sent AS BIGINT) AS sent, subj, pred, obj, obj_uri AS obj_is_uri FROM (
      $baseBranchesSql
      UNION ALL SELECT t.doc_id, t.sent,
        ':s' || CAST(t.sent AS VARCHAR) || '_' || CAST(t.tid AS VARCHAR), 'rdf:type', c.concept, TRUE
        FROM tok2 t JOIN ud_concepts c ON c.upos = t.upos
      UNION ALL SELECT doc_id, sent, $subjSql, 'conll:ENTITY',
        'ent:' || substring(md5(lower(word)), 1, 12), TRUE FROM tok2
    ) u ORDER BY doc_id, sent, subj, pred, obj"""

  /** linkSql with the ENTITY objects CANONICALIZED: sameAs evidence is
    * the bucket star over the FIRST hash char of each entity id (16
    * buckets — guaranteed collisions among the 25-word det vocab, so the
    * rewrite is non-identity by construction; the r3–r7 3-char key never
    * collided and gated an identity rewrite, VERDICT r7 #1), so the
    * connected component's min label has the closed form
    * MIN(e) OVER (PARTITION BY bucket) — no recursion needed, while the
    * engine runs the real iterative min-label CC. */
  def linkCanonicalSql: String =
    s"""$detCte, ud_concepts(upos, concept) AS (VALUES $udConceptValues),
    ents AS (SELECT DISTINCT 'ent:' || substring(md5(lower(word)), 1, 12) AS e FROM tok2),
    canon AS (SELECT e, MIN(e) OVER (PARTITION BY substring(e, 5, 1)) AS c FROM ents)
    SELECT doc_id, CAST(sent AS BIGINT) AS sent, subj, pred, obj, obj_uri AS obj_is_uri FROM (
      $baseBranchesSql
      UNION ALL SELECT t.doc_id, t.sent,
        ':s' || CAST(t.sent AS VARCHAR) || '_' || CAST(t.tid AS VARCHAR), 'rdf:type', c.concept, TRUE
        FROM tok2 t JOIN ud_concepts c ON c.upos = t.upos
      UNION ALL SELECT t.doc_id, t.sent,
        ':s' || CAST(t.sent AS VARCHAR) || '_' || CAST(t.tid AS VARCHAR), 'conll:ENTITY', cn.c, TRUE
        FROM tok2 t JOIN canon cn ON cn.e = 'ent:' || substring(md5(lower(t.word)), 1, 12)
    ) u ORDER BY doc_id, sent, subj, pred, obj"""

  /** K2 TSV export (toConllTsv) over the parse-only det pipeline. */
  val conllExportSql: String =
    s"""$detCte
    SELECT doc_id, CAST(sent AS BIGINT) AS sent, CAST(tid AS INT) AS tok,
      CAST(tid AS VARCHAR) AS ID, word AS WORD, upos AS UPOS,
      CAST(head AS VARCHAR) AS HEAD, edge AS EDGE
    FROM tok2 ORDER BY doc_id, sent, tok"""

  /** K2 text sink (toConllText): one string per document — header, then
    * per-sentence blocks separated by blank lines. */
  val conllTextSql: String =
    s"""$detCte, blocks AS (
      SELECT doc_id, sent,
        string_agg(CAST(tid AS VARCHAR) || chr(9) || word || chr(9) || upos ||
                   chr(9) || CAST(head AS VARCHAR) || chr(9) || edge,
                   chr(10) ORDER BY tid) AS block
      FROM tok2 GROUP BY doc_id, sent)
    SELECT doc_id,
      '# global.columns = ID WORD UPOS HEAD EDGE' || chr(10) ||
      string_agg(block, chr(10) || chr(10) ORDER BY sent) AS text
    FROM blocks GROUP BY doc_id ORDER BY doc_id"""

  /** K3 eval-POSsynt SELECT over the analyze output. */
  val evalPossyntSql: String =
    s"""$detCte $cascadeCte
    SELECT t.doc_id, CAST(t.sent AS BIGINT) AS sent,
      ':s' || CAST(t.sent AS VARCHAR) || '_' || CAST(t.tid AS VARCHAR) AS subj,
      t.word, t.upos, t.edge AS udep,
      COALESCE((SELECT string_agg(v, ' ' ORDER BY v) FROM ups1 p
                WHERE p.doc_id = t.doc_id AND p.sent = t.sent AND p.tok = t.tid), '') AS "POSsynt_UPOS",
      COALESCE((SELECT string_agg(v, ' ' ORDER BY v) FROM ud1 p
                WHERE p.doc_id = t.doc_id AND p.sent = t.sent AND p.tok = t.tid), '') AS "POSsynt_UDEP",
      m.v AS "match"
    FROM tok2 t JOIN mt m ON m.doc_id = t.doc_id AND m.sent = t.sent AND m.tok = t.tid
    ORDER BY t.doc_id, t.sent, t.tid"""

  /** K3 generic select-conllu.sparql over the parse-only det pipeline. */
  val selectConlluSql: String =
    s"""$detCte
    SELECT doc_id, CAST(sent AS BIGINT) AS sent, CAST(tid AS INT) AS ord,
      CAST(tid AS VARCHAR) AS ID, word AS WORD, upos AS UPOS,
      CAST(head AS VARCHAR) AS HEAD, edge AS EDGE
    FROM tok2 ORDER BY doc_id, sent, ord"""

  /** K3 select-sentence-strings.sparql. */
  val selectSentencesSql: String =
    s"""$detCte
    SELECT doc_id, CAST(sent AS BIGINT) AS sent_id,
      string_agg(word, ' ' ORDER BY tid) AS sentence
    FROM tok2 GROUP BY doc_id, sent ORDER BY doc_id, sent_id"""

  /** U14 lookback-window rule (ContextWindow.pronounAntecedent, lookback
    * 2): a sentence-initial PRON word is annotated with the LAST nsubj
    * surface of the NEAREST preceding sentence (within the window) that
    * has one. */
  val contextAntecedentSql: String =
    s"""$detCte, nsubj_last AS (
      SELECT doc_id, sent, arg_max(word, tid) AS w
      FROM tok2 WHERE edge = 'nsubj' GROUP BY doc_id, sent)
    SELECT p.doc_id, CAST(p.sent AS BIGINT) AS sent,
      ':s' || CAST(p.sent AS VARCHAR) || '_1' AS subj,
      arg_max(n.w, n.sent) AS antecedent
    FROM (SELECT doc_id, sent FROM tok2 WHERE tid = 1 AND upos = 'PRON') p
    JOIN nsubj_last n
      ON n.doc_id = p.doc_id AND n.sent BETWEEN p.sent - 2 AND p.sent - 1
    GROUP BY p.doc_id, p.sent
    ORDER BY p.doc_id, sent"""

  /** U14 lookahead-window rule (ContextWindow.pronounCataphor, lookahead
    * 2): the symmetric mirror — nearest FOLLOWING sentence with an nsubj,
    * its last nsubj surface. */
  val contextCataphorSql: String =
    s"""$detCte, nsubj_last AS (
      SELECT doc_id, sent, arg_max(word, tid) AS w
      FROM tok2 WHERE edge = 'nsubj' GROUP BY doc_id, sent)
    SELECT p.doc_id, CAST(p.sent AS BIGINT) AS sent,
      ':s' || CAST(p.sent AS VARCHAR) || '_1' AS subj,
      arg_min(n.w, n.sent) AS postcedent
    FROM (SELECT doc_id, sent FROM tok2 WHERE tid = 1 AND upos = 'PRON') p
    JOIN nsubj_last n
      ON n.doc_id = p.doc_id AND n.sent BETWEEN p.sent + 1 AND p.sent + 2
    GROUP BY p.doc_id, p.sent
    ORDER BY p.doc_id, sent"""

  /** S7 XML-TSV → powla trees + xAttributes2value over the det XML docs.
    * Per sentence k (1-based): the re-asserted `:x1` doc node (rdf:value
    * folded to `doc id="D"`, x:id kept — xAttributes2value deletes only
    * rdf:value), the `:x{k+1}` s-node (document-global id counter:
    * doc = 1, k-th `<s>` = k+1), token hasParent/next chains, and the
    * CoNLL core with NO HEAD column → every token depends on the sentence
    * node (CoNLL2RDF.java:154-155). */
  val xmltsvSql: String =
    s"""$detCte
    SELECT doc_id, CAST(sent AS BIGINT) AS sent, subj, pred, obj, obj_uri AS obj_is_uri FROM (
      SELECT DISTINCT doc_id, sent, $sentNodeSql AS subj, 'rdf:type' AS pred, 'nif:Sentence' AS obj, TRUE AS obj_uri FROM tok2
      UNION ALL SELECT DISTINCT doc_id, sent, ':s' || CAST(sent - 1 AS VARCHAR) || '_0', 'nif:nextSentence', $sentNodeSql, TRUE FROM tok2 WHERE sent > 1
      UNION ALL SELECT doc_id, sent, $subjSql, 'rdf:type', 'nif:Word', TRUE FROM tok2
      UNION ALL SELECT doc_id, sent, $subjSql, 'nif:nextWord', ':s' || CAST(sent AS VARCHAR) || '_' || CAST(tid + 1 AS VARCHAR), TRUE FROM tok2 WHERE tid < ntok
      UNION ALL SELECT doc_id, sent, $subjSql, 'conll:WORD', word, FALSE FROM tok2
      UNION ALL SELECT doc_id, sent, $subjSql, 'conll:UPOS', upos, FALSE FROM tok2
      UNION ALL SELECT doc_id, sent, $subjSql, 'conll:HEAD', $sentNodeSql, TRUE FROM tok2
      UNION ALL SELECT doc_id, sent, $subjSql, 'powla:hasParent', ':x' || CAST(sent + 1 AS VARCHAR), TRUE FROM tok2
      UNION ALL SELECT doc_id, sent, $subjSql, 'powla:next', ':s' || CAST(sent AS VARCHAR) || '_' || CAST(tid + 1 AS VARCHAR), TRUE FROM tok2 WHERE tid < ntok
      UNION ALL SELECT DISTINCT doc_id, sent, ':x1', 'rdf:type', 'powla:Node', TRUE FROM tok2
      UNION ALL SELECT DISTINCT doc_id, sent, ':x1', 'rdf:type', 'conll:XML_DATA', TRUE FROM tok2
      UNION ALL SELECT DISTINCT doc_id, sent, ':x1', 'rdf:value', 'doc id="' || doc_id || '"', FALSE FROM tok2
      UNION ALL SELECT DISTINCT doc_id, sent, ':x1', 'x:id', doc_id, FALSE FROM tok2
      UNION ALL SELECT DISTINCT doc_id, sent, ':x' || CAST(sent + 1 AS VARCHAR), 'rdf:type', 'powla:Node', TRUE FROM tok2
      UNION ALL SELECT DISTINCT doc_id, sent, ':x' || CAST(sent + 1 AS VARCHAR), 'rdf:type', 'conll:XML_DATA', TRUE FROM tok2
      UNION ALL SELECT DISTINCT doc_id, sent, ':x' || CAST(sent + 1 AS VARCHAR), 'rdf:value', 's', FALSE FROM tok2
      UNION ALL SELECT DISTINCT doc_id, sent, ':x' || CAST(sent + 1 AS VARCHAR), 'powla:hasParent', ':x1', TRUE FROM tok2
    ) u ORDER BY doc_id, sent, subj, pred, obj"""

  /** S7 + trees/emptyNode2Word over the glue corpus: the `<g/>` marker
    * is a childless powla:Node, so emptyNode2Word materializes
    * `:x{2k+1}_word` (empty conll:WORD), splices it into the
    * nif:nextWord chain at the glue position (only the (t8, t9) pair
    * satisfies the precedes-path guards — trace in XmlGlueDetSpec), and
    * defaults its HEAD to the sentence node via the chain-walk HEAD+
    * closure. Node ids: doc = 1 (re-asserted per sentence), s_k = 2k,
    * g_k = 2k+1 (the self-closing glue increments the document-global
    * counter). */
  def xmltsvEmptySql: String = {
    val sNode = "':x' || CAST(2*sent AS VARCHAR)"
    val gNode = "':x' || CAST(2*sent + 1 AS VARCHAR)"
    val gWord = "':x' || CAST(2*sent + 1 AS VARCHAR) || '_word'"
    val nextTid = s"':s' || CAST(sent AS VARCHAR) || '_' || CAST(tid + 1 AS VARCHAR)"
    val afterGlue = s"':s' || CAST(sent AS VARCHAR) || '_' || CAST($GLUE_AT + 1 AS VARCHAR)"
    s"""$detCte, tok2f AS (SELECT * FROM tok2 WHERE ntok = $SENT_LEN)
    SELECT doc_id, CAST(sent AS BIGINT) AS sent, subj, pred, obj, obj_uri AS obj_is_uri FROM (
      SELECT DISTINCT doc_id, sent, $sentNodeSql AS subj, 'rdf:type' AS pred, 'nif:Sentence' AS obj, TRUE AS obj_uri FROM tok2f
      UNION ALL SELECT DISTINCT doc_id, sent, ':s' || CAST(sent - 1 AS VARCHAR) || '_0', 'nif:nextSentence', $sentNodeSql, TRUE FROM tok2f WHERE sent > 1
      UNION ALL SELECT doc_id, sent, $subjSql, 'rdf:type', 'nif:Word', TRUE FROM tok2f
      UNION ALL SELECT doc_id, sent, $subjSql, 'conll:WORD', word, FALSE FROM tok2f
      UNION ALL SELECT doc_id, sent, $subjSql, 'conll:UPOS', upos, FALSE FROM tok2f
      UNION ALL SELECT doc_id, sent, $subjSql, 'conll:HEAD', $sentNodeSql, TRUE FROM tok2f
      UNION ALL SELECT doc_id, sent, $subjSql, 'nif:nextWord',
        CASE WHEN tid = $GLUE_AT THEN $gWord ELSE $nextTid END, TRUE
        FROM tok2f WHERE tid < $SENT_LEN
      UNION ALL SELECT DISTINCT doc_id, sent, $gWord, 'nif:nextWord', $afterGlue, TRUE FROM tok2f
      UNION ALL SELECT doc_id, sent, $subjSql, 'powla:hasParent', $sNode, TRUE FROM tok2f
      UNION ALL SELECT doc_id, sent, $subjSql, 'powla:next',
        CASE WHEN tid = $GLUE_AT THEN $gNode ELSE $nextTid END, TRUE
        FROM tok2f WHERE tid < $SENT_LEN
      UNION ALL SELECT DISTINCT doc_id, sent, $gNode, 'powla:next', $afterGlue, TRUE FROM tok2f
      UNION ALL SELECT DISTINCT doc_id, sent, ':x1', 'rdf:type', 'powla:Node', TRUE FROM tok2f
      UNION ALL SELECT DISTINCT doc_id, sent, ':x1', 'rdf:type', 'conll:XML_DATA', TRUE FROM tok2f
      UNION ALL SELECT DISTINCT doc_id, sent, ':x1', 'rdf:value', 'doc', FALSE FROM tok2f
      UNION ALL SELECT DISTINCT doc_id, sent, ':x1', 'x:id', doc_id, FALSE FROM tok2f
      UNION ALL SELECT DISTINCT doc_id, sent, $sNode, 'rdf:type', 'powla:Node', TRUE FROM tok2f
      UNION ALL SELECT DISTINCT doc_id, sent, $sNode, 'rdf:type', 'conll:XML_DATA', TRUE FROM tok2f
      UNION ALL SELECT DISTINCT doc_id, sent, $sNode, 'rdf:value', 's', FALSE FROM tok2f
      UNION ALL SELECT DISTINCT doc_id, sent, $sNode, 'powla:hasParent', ':x1', TRUE FROM tok2f
      UNION ALL SELECT DISTINCT doc_id, sent, $gNode, 'rdf:type', 'powla:Node', TRUE FROM tok2f
      UNION ALL SELECT DISTINCT doc_id, sent, $gNode, 'rdf:type', 'conll:XML_DATA', TRUE FROM tok2f
      UNION ALL SELECT DISTINCT doc_id, sent, $gNode, 'rdf:value', 'g', FALSE FROM tok2f
      UNION ALL SELECT DISTINCT doc_id, sent, $gNode, 'powla:hasParent', $sNode, TRUE FROM tok2f
      UNION ALL SELECT DISTINCT doc_id, sent, $gWord, 'rdf:type', 'nif:Word', TRUE FROM tok2f
      UNION ALL SELECT DISTINCT doc_id, sent, $gWord, 'conll:WORD', '', FALSE FROM tok2f
      UNION ALL SELECT DISTINCT doc_id, sent, $gWord, 'powla:hasParent', $gNode, TRUE FROM tok2f
      UNION ALL SELECT DISTINCT doc_id, sent, $gWord, 'conll:HEAD', $sentNodeSql, TRUE FROM tok2f
    ) u ORDER BY doc_id, sent, subj, pred, obj"""
  }

  /** count_xml_triples.sparql over the det XML path: 2 conll:XML_DATA
    * nodes (doc + s) per sentence graph. */
  val countXmlSql: String =
    s"""$detCte
    SELECT CAST(2 * COUNT(*) AS BIGINT) AS n
    FROM (SELECT DISTINCT doc_id, sent FROM tok2) t"""

  /** K4 sorted N-Triples lines over the parse-only det pipeline (expanded
    * URIs, escaped literals — Serializers.toSortedNTriples). The engine
    * side sorts within partitions only (the 100 TB plan); the compare is
    * order-insensitive (the driver sorts rows before hashing). */
  val sortedNtriplesSql: String = {
    val conll = "http://ufal.mff.cuni.cz/conll2009-st/task-description.html#"
    val nif = "http://persistence.uni-leipzig.org/nlp2rdf/ontologies/nif-core#"
    val rdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    val wordUri = "'<urn:graft:' || doc_id || '#s' || CAST(sent AS VARCHAR) || '_' || CAST(tid AS VARCHAR) || '>'"
    val sentUri = "'<urn:graft:' || doc_id || '#s' || CAST(sent AS VARCHAR) || '_0>'"
    s"""$detCte
    SELECT $wordUri || ' <' || p || '> ' || o || ' .' AS line FROM (
      SELECT doc_id, sent, tid, '$rdfType' AS p, '<${nif}Word>' AS o FROM tok2
      UNION ALL SELECT doc_id, sent, tid, '${nif}nextWord',
        '<urn:graft:' || doc_id || '#s' || CAST(sent AS VARCHAR) || '_' || CAST(tid + 1 AS VARCHAR) || '>' FROM tok2 WHERE tid < ntok
      UNION ALL SELECT doc_id, sent, tid, '${conll}ID', '"' || CAST(tid AS VARCHAR) || '"' FROM tok2
      UNION ALL SELECT doc_id, sent, tid, '${conll}WORD', '"' || word || '"' FROM tok2
      UNION ALL SELECT doc_id, sent, tid, '${conll}UPOS', '"' || upos || '"' FROM tok2
      UNION ALL SELECT doc_id, sent, tid, '${conll}HEAD',
        '<urn:graft:' || doc_id || '#s' || CAST(sent AS VARCHAR) || '_' || CAST(head AS VARCHAR) || '>' FROM tok2
      UNION ALL SELECT doc_id, sent, tid, '${conll}EDGE', '"' || edge || '"' FROM tok2) u
    UNION ALL
    SELECT DISTINCT $sentUri || ' <$rdfType> <${nif}Sentence> .' FROM tok2
    UNION ALL
    SELECT DISTINCT '<urn:graft:' || doc_id || '#s' || CAST(sent - 1 AS VARCHAR) || '_0> <${nif}nextSentence> ' || $sentUri || ' .'
    FROM tok2 WHERE sent > 1"""
  }
}
