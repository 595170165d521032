package graft.conll

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import Rules.Script

/** End-to-end KG-construction pipeline (SURVEY §3.4):
  *
  *   docs(spans) → parse (flatMap, narrow) → Dataset[Sentence]
  *     → rewrite cascade (map, narrow, per-sentence fixpoints)
  *     → entity link (broadcast gazetteer join)
  *     → triples DataFrame (long format, partitioned write)
  *
  * Everything between the initial scan and the final write is
  * shuffle-free: parsing and rewriting are per-document/per-sentence
  * narrow transforms, linking is a broadcast join. At 100 TB the job is
  * embarrassingly parallel over input splits; the only shuffles are the
  * optional canonicalization (ConnectedComponents) and any downstream
  * analytics.
  *
  * The compiled scripts and the three named cascades live in one
  * catalogue, [[PipelineManager.scripts]] and [[PipelineManager.cascades]];
  * the cascade `def`s below look them up.
  */
object Pipeline {

  final case class Metrics(
      sentencesIn: LongAccumulator,
      triplesOut: LongAccumulator,
      perScript: Map[String, (LongAccumulator, LongAccumulator)] // iterations, wallNanos
  ) {
    def toDf(spark: SparkSession): DataFrame = {
      import spark.implicits._
      val rows = perScript.toSeq.map { case (name, (it, ns)) =>
        (name, it.value, ns.value / 1000000L)
      }
      rows.toDF("script", "iterations", "wall_ms")
        .withColumn("sentences", lit(sentencesIn.value))
        .withColumn("triples_out", lit(triplesOut.value))
    }
  }

  def newMetrics(spark: SparkSession, scripts: Seq[(Script, Int)]): Metrics = Metrics(
    spark.sparkContext.longAccumulator("sentences_in"),
    spark.sparkContext.longAccumulator("triples_out"),
    scripts.map { case (s, _) =>
      s.name -> (
        spark.sparkContext.longAccumulator(s"${s.name}.iterations"),
        spark.sparkContext.longAccumulator(s"${s.name}.nanos"))
    }.toMap
  )

  /** Parse span sequences into sentence graphs. Narrow (flatMap). */
  def parse(docs: Dataset[InputDoc], cols: Seq[String]): Dataset[Sentence] = {
    import docs.sparkSession.implicits._
    docs.flatMap(d => SpanParser.parseDoc(d, cols))
  }

  /** U18: UTF-8 validation over the decoded span table (the reference
    * aborts on non-UTF-8 input — CoNLLRDFUpdater.java:779-789; a streaming
    * 100 TB job filters and counts instead). Drops docs with unpaired
    * surrogates (genuinely un-encodable) and docs containing U+FFFD —
    * reference parity for inputs where upstream decoding replaced
    * malformed bytes, at the cost of dropping documents that legitimately
    * contain the replacement character (ADVICE r2: prefer `isValidUtf8`
    * at the byte-bearing source, where the two cases are
    * distinguishable).
    *
    * `rejected` is incremented inside a filter: Spark's at-least-once
    * task semantics can over-count it under retries or plan
    * re-evaluation — a diagnostic alarm (the reference aborts outright on
    * ANY invalid input), not an exactly-once count. Narrow (filter). */
  def validateUtf8(docs: Dataset[InputDoc], rejected: LongAccumulator): Dataset[InputDoc] =
    docs.filter { d =>
      val ok = !d.spans.exists(s =>
        hasUnpairedSurrogate(s.text) || s.text.indexOf('\uFFFD') >= 0)
      if (!ok) rejected.add(1)
      ok
    }

  /** U18, byte layer \u2014 the reference's actual check (CoNLLRDFUpdater
    * .isValidUTF8, CoNLLRDFUpdater.java:779-789): a strict decoder pass
    * over the RAW bytes, before any decoding. Byte-bearing sources should
    * gate on this; once text is a JVM String the information is gone. */
  def isValidUtf8(bytes: Array[Byte]): Boolean =
    try {
      java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
        .decode(java.nio.ByteBuffer.wrap(bytes))
      true
    } catch { case _: java.nio.charset.CharacterCodingException => false }

  /** A decoded String fails to BE valid UTF-8 only via unpaired
    * surrogates (they cannot be encoded). */
  private def hasUnpairedSurrogate(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isHighSurrogate(c)) {
        if (i + 1 >= s.length || !Character.isLowSurrogate(s.charAt(i + 1))) return true
        i += 1
      } else if (Character.isLowSurrogate(c)) return true
      i += 1
    }
    false
  }

  /** Ingest TTL documents (the CoNLLRDFUpdater's input mode, SURVEY §3.2):
    * (doc_id, ttl text) rows → sentence graphs, chunked at blank lines.
    * Sentence numbers are recovered from the `:s{n}_0` node when
    * present; a chunk WITHOUT one takes the smallest number above the
    * last recovered one that NO numbered chunk of the document claims —
    * source numbering is never disturbed (a doc numbered 1,3,4 stays
    * 1,3,4; the old positional fallback silently renumbered to 1,2,3)
    * and a synthesized number can never collide with a later numbered
    * chunk (chunks 5, ?, 6 become 5, 7, 6 — not 5, 6, 6) NOR with an
    * earlier synthesized one (chunks ?, 1, ? become 2, 1, 3 — each
    * fallback joins the claimed set, so non-monotonic source numbering
    * around unnumbered chunks can't produce duplicate ids). Doc-local
    * two-pass, still narrow. Each fallback is counted in the optional
    * accumulator so a production run can alert on unnumbered input
    * rather than trust the synthesized ids. Narrow (flatMap). */
  def parseTtl(
      docs: Dataset[(String, String)],
      fallbacks: Option[LongAccumulator] = None): Dataset[Sentence] = {
    import docs.sparkSession.implicits._
    val SentNode = ":s([0-9]+)_0".r
    docs.flatMap { case (docId, text) =>
      val chunks = TtlParser.parseDocument(text)
      val nums = chunks.map(_.collectFirst {
        case Triple(SentNode(num), "rdf:type", "nif:Sentence", true) => num.toLong
      })
      val claimed = scala.collection.mutable.Set.from(nums.flatten)
      var last = 0L
      chunks.zip(nums).map { case (triples, nOpt) =>
        val n = nOpt.getOrElse {
          fallbacks.foreach(_.add(1))
          var c = last + 1L
          while (claimed.contains(c)) c += 1L
          claimed += c
          c
        }
        last = n
        Sentence(docId, n, triples)
      }
    }
  }

  /** The per-sentence cascade shared by [[rewrite]] and
    * [[rewriteTriples]]: each script to its fixpoint on `g`, in place,
    * counting the sentence, each script's iterations and nanoseconds, and
    * the triples out. */
  private def runCascade(g: SentGraph, scripts: Seq[(Script, Int)], metrics: Option[Metrics]): Unit = {
    metrics.foreach(_.sentencesIn.add(1))
    for ((script, maxIter) <- scripts) {
      val t0 = System.nanoTime()
      val iters = script.run(g, maxIter)
      metrics.flatMap(_.perScript.get(script.name)).foreach { case (it, ns) =>
        it.add(iters); ns.add(System.nanoTime() - t0)
      }
    }
    metrics.foreach(_.triplesOut.add(g.size))
  }

  /** Run the rewrite cascade per sentence, to fixpoint per script, with
    * accumulator-backed metrics (reference per-update statistics,
    * CoNLLRDFUpdater.java:100,921-934). Narrow (map).
    *
    * Triple tables take the fused [[rewriteTriples]]; this unfused form
    * serves callers that need the rewritten `Sentence`s (the per-sentence
    * renderers of [[PipelineManager.run]]), and `triples(rewrite(x))` is
    * the reference the fused path is checked against (PipelineSpec,
    * perfbench's `--reference` run). */
  def rewrite(
      sents: Dataset[Sentence],
      scripts: Seq[(Script, Int)],
      metrics: Option[Metrics] = None
  ): Dataset[Sentence] = {
    import sents.sparkSession.implicits._
    sents.map { sentence =>
      val g = SentGraph(sentence)
      runCascade(g, scripts, metrics)
      Sentence(sentence.docId, sentence.sent, g.all)
    }
  }

  /** Explode sentence graphs into the long (subj,pred,obj) contract table. */
  def triples(sents: Dataset[Sentence]): Dataset[TripleRow] = {
    import sents.sparkSession.implicits._
    sents.flatMap(s =>
      s.triples.map(t => TripleRow(s.docId, s.sent, t.s, t.p, t.o, t.oUri)))
  }

  /** Fused rewrite + explode: one flatMap, no intermediate Sentence
    * materialization — the path of every triple table (Catalyst already
    * fuses the operator chain; this also skips re-building the
    * Seq[Triple]). Same rows, in the same order, as `triples(rewrite(x))`. */
  def rewriteTriples(
      sents: Dataset[Sentence],
      scripts: Seq[(Script, Int)],
      metrics: Option[Metrics] = None
  ): Dataset[TripleRow] = {
    import sents.sparkSession.implicits._
    sents.flatMap { sentence =>
      val g = SentGraph(sentence)
      runCascade(g, scripts, metrics)
      val out = new scala.collection.mutable.ArrayBuffer[TripleRow](g.size)
      g.foreachTriple((s, p, o, u) =>
        out += TripleRow(sentence.docId, sentence.sent, s, p, o, u))
      out
    }
  }

  /** Doc-level output table: the original rows (doc_id, spans untouched —
    * the per-row span-sequence invariant) plus derived stats. */
  def docsOut(
      docs: Dataset[InputDoc],
      cols: Seq[String],
      scripts: Seq[(Script, Int)]
  ): DataFrame = {
    val t = rewriteTriples(parse(docs, cols), scripts)
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("sent")).as("n_sentences"), count(lit(1)).as("n_triples"))
    docs.toDF().join(t, Seq("doc_id"), "left_outer")
  }

  /** The analyze-ud cascade, from the catalogue ([[PipelineManager.cascades]]). */
  def analyzeCascade: Seq[(Script, Int)] = PipelineManager.cascade("analyze")

  /** The link-ud cascade over the bundled mini ontology, from the catalogue. */
  def linkCascade: Seq[(Script, Int)] = PipelineManager.cascade("link")

  /** The parse-ud cascade (examples/parse-ud.sh:35-53), from the catalogue. */
  def parseCascade: Seq[(Script, Int)] = PipelineManager.cascade("parse")
}
