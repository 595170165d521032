package graft.conll

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Bounded sentence-context windows (SURVEY §1.4, §2.3 U14): the
  * reference's lookback/lookahead named graphs
  * (CoNLLRDFUpdater.java:131-132,536-561,844-894) give each sentence's
  * update scripts read access to the previous/next N sentences.
  *
  * Spark-native: a window over the sentence ordinal per document —
  * `rowsBetween(-lookback, -1)` / `(1, lookahead)` with collect_list —
  * ONE shuffle by (docId), no streaming state store. At 100 TB documents
  * are the partition unit, so the shuffle is by the natural key and
  * bounded by per-doc sentence counts.
  */
object ContextWindow {

  final case class SentenceWithContext(
      sentence: Sentence,
      lookback: Seq[Sentence],
      lookahead: Seq[Sentence])

  def attach(
      sents: Dataset[Sentence],
      lookback: Int,
      lookahead: Int
  ): Dataset[SentenceWithContext] = {
    import sents.sparkSession.implicits._
    val w = Window.partitionBy($"docId").orderBy($"sent")
    val sentence = struct($"docId", $"sent", $"triples")
    sents
      .withColumn("lb", collect_list(sentence).over(w.rowsBetween(-lookback.toLong, -1)))
      .withColumn("la", collect_list(sentence).over(w.rowsBetween(1, lookahead.toLong)))
      .select(sentence.as("sentence"), $"lb".as("lookback"), $"la".as("lookahead"))
      .as[SentenceWithContext]
  }

  /** Demonstration cross-sentence rule (the reference exposes lookback/
    * lookahead graphs to user scripts, README.md:160-166, but bundles no
    * script that uses them): a sentence-initial pronoun is annotated with
    * the nearest preceding sentence's subject surface form as
    * `conll:ANTECEDENT` — the lookback graph read is the point, not the
    * linguistics. Run it as `ctx.map(pronounAntecedent)`, narrow after the
    * one context shuffle. */
  def pronounAntecedent(c: SentenceWithContext): Sentence =
    pronounContext(c, c.lookback.reverseIterator, "conll:ANTECEDENT")

  /** Lookahead mirror of [[pronounAntecedent]] (the reference exposes BOTH
    * window graphs — CoNLLRDFUpdater.java:131-132): a sentence-initial
    * pronoun is annotated with the last nsubj surface of the NEAREST
    * following sentence (within the window) that has one, as
    * `conll:POSTCEDENT`. */
  def pronounCataphor(c: SentenceWithContext): Sentence =
    pronounContext(c, c.lookahead.iterator, "conll:POSTCEDENT")

  /** The one pronoun context rule: a sentence-initial pronoun gets, as
    * `pred`, the last nsubj surface of the first sentence of `window`
    * (nearest first) that has one. */
  private def pronounContext(
      c: SentenceWithContext, window: Iterator[Sentence], pred: String): Sentence = {
    val g = SentGraph(c.sentence)
    val firstWord = g.words.headOption
    val isPronoun = firstWord.exists(w =>
      g.objects(w, "conll:UPOS").contains("PRON"))
    if (isPronoun) {
      val subject = window.flatMap { other =>
        val og = SentGraph(other)
        og.pairs("conll:EDGE").collect {
          case (w, "nsubj", _) => og.objects(w, "conll:WORD").headOption
        }.flatten.lastOption
      }.find(_ => true)
      subject.foreach(a => g.add(Triple(firstWord.get, pred, a, oUri = false)))
    }
    Sentence(c.sentence.docId, c.sentence.sent, g.all)
  }
}
