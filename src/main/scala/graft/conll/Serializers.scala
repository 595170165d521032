package graft.conll

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Sinks (SURVEY §2.2).
  *
  *  - K4 sorted N-Triples: the reference's own diff-oracle format
  *    (CoNLLRDFUpdater.produceNTRIPLES, CoNLLRDFUpdater.java:453-477) —
  *    one expanded triple per line, lexicographically sorted.
  *  - K1 canonical CoNLL-RDF TTL: per-token predicate ordering and
  *    "lexiconumeric" line sort (CoNLLRDFFormatter.reorderTTLBuffer,
  *    CoNLLRDFFormatter.java:418-503; sort key :485-492).
  *  - K2 CoNLL TSV export: one shuffle — groupBy+pivot over the predicate
  *    set, word order from the token ordinal window, multi-values joined
  *    by '|', '_' fills (CoNLLRDFFormatter.columnsAsSelect, :506-569).
  */
object Serializers {

  /** Prefix expansion (Format2RDF.writePrefixes, Format2RDF.java:135-146). */
  val prefixes: Map[String, String] = Map(
    "conll:" -> "http://ufal.mff.cuni.cz/conll2009-st/task-description.html#",
    "nif:" -> "http://persistence.uni-leipzig.org/nlp2rdf/ontologies/nif-core#",
    "rdf:type" -> "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
    "rdf:" -> "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs:" -> "http://www.w3.org/2000/01/rdf-schema#",
    "owl:" -> "http://www.w3.org/2002/07/owl#",
    "olia:" -> "http://purl.org/olia/olia.owl#",
    "terms:" -> "http://purl.org/acoli/open-ie/",
    "x:" -> "http://example.org/xml#"
  )

  def expand(term: String, base: String): String =
    if (term.startsWith(":")) base + term.substring(1)
    else prefixes.collectFirst {
      case (p, full) if term.startsWith(p) && p.endsWith(":") => full + term.substring(p.length)
    }.getOrElse(if (term == "rdf:type") prefixes("rdf:type") else term)

  /** K4: expanded, lexicographically sorted N-Triples lines. One output
    * partition per input partition; global sort only when `globalSort`. */
  def toSortedNTriples(triples: Dataset[TripleRow], globalSort: Boolean = true): Dataset[String] = {
    import triples.sparkSession.implicits._
    val lines = triples.map { t =>
      val base = s"urn:graft:${t.doc_id}#"
      val s = s"<${expand(t.subj, base)}>"
      val p = s"<${expand(if (t.pred == "rdf:type") "rdf:type" else t.pred, base)}>"
      val o =
        if (t.obj_is_uri) s"<${expand(t.obj, base)}>"
        else "\"" + t.obj.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      s"$s $p $o ."
    }
    if (globalSort) lines.orderBy($"value") else lines.sortWithinPartitions($"value")
  }

  /** Lexiconumeric sort key: digit runs zero-padded to width 64
    * (CoNLLRDFFormatter.java:485-492). Scalar form of the codegen'd
    * Catalyst expression graft.functions.Lexiconumeric. */
  def lexiconumericKey(s: String): String =
    graft.functions.Lexiconumeric.keyString(s)

  /** K1: one canonical TTL block per sentence. Property order: rdf:type
    * first, conll:WORD, declared columns in order, everything else
    * (sorted), nif:nextWord last; subject lines sorted lexiconumerically. */
  def toCanonicalTtl(sentence: Sentence, cols: Seq[String]): String = {
    val bySubj = sentence.triples.groupBy(_.s)
    def orderKey(p: String): (Int, String) = p match {
      case "rdf:type" => (0, "")
      case "conll:WORD" => (1, "")
      case c if c.startsWith("conll:") && cols.contains(c.stripPrefix("conll:")) =>
        (2 + cols.indexOf(c.stripPrefix("conll:")), "")
      case "nif:nextWord" => (1000000, "")
      case other => (500000, other)
    }
    val lines = bySubj.toSeq.map { case (subj, ts) =>
      val props = ts.sortBy(t => (orderKey(t.p), t.o)).map { t =>
        val o = if (t.oUri) t.o else "\"" + t.o + "\""
        if (t.p == "rdf:type") s"a ${t.o}" else s"${t.p} $o"
      }
      s"$subj ${props.mkString("; ")} ."
    }
    lines.sortBy(lexiconumericKey).mkString("\n")
  }

  /** The @prefix header block, written once per output document
    * (Format2RDF.writePrefixes, Format2RDF.java:135-146; prefix
    * deduplication across chunks = U17, CoNLLRDFUpdater.java:624-629). */
  def prefixBlock(base: String): String =
    (Seq(s"@prefix : <$base> .") ++
      prefixes.toSeq.filterNot(_._1 == "rdf:type").sortBy(_._1)
        .map { case (p, full) => s"@prefix ${p.stripSuffix(":")}: <$full> ." })
      .mkString("\n")

  /** K1 document writer: one prefix block, then one canonical TTL block
    * per sentence separated by blank lines — the reference's serialized
    * stream shape (prefixes emitted once, sentences chunked). */
  def toCanonicalTtlDocument(sentences: Seq[Sentence], cols: Seq[String], base: String): String =
    (prefixBlock(base) +: sentences.sortBy(_.sent).map(s => toCanonicalTtl(s, cols)))
      .mkString("\n\n") + "\n"

  /** `-conll` column auto-discovery (CoNLLRDFFormatter.java:637-658):
    * scan rdfs:comment literals (comment lines are '\n'-joined per
    * sentence) for a CoNLL-U Plus `global.columns = ...` line. One
    * aggregate over the pushed-down comment predicate — min() makes the
    * winner DETERMINISTIC when sentences declare conflicting schemas
    * (the r2 limit(1000) probe was partition-order-dependent), and the
    * column list splits on whitespace RUNS like the reference's
    * String.split("\\s+"). */
  def discoverColumns(triples: DataFrame): Seq[String] = {
    val GC = "^\\s?global\\.columns\\s?=(.*)$".r
    triples.filter(col("pred") === "rdfs:comment" &&
        col("obj").rlike("(^|\n)\\s?global\\.columns\\s?="))
      .agg(min(col("obj"))).collect()
      .iterator.flatMap(r => Option(r.getString(0)).iterator)
      .flatMap(_.split("\n"))
      .collectFirst { case GC(rest) => rest.trim.split("\\s+").toSeq }
      .getOrElse(Seq.empty)
  }

  /** K2: CoNLL TSV reconstruction as a DataFrame with one column per
    * declared label plus (doc_id, sent, tok). Single shuffle:
    * groupBy(doc,sent,subj) + pivot on predicate.
    *
    * Column resolution follows the reference's chain (explicit list >
    * `rdfs:comment global.columns` discovery): pass `cols = Seq.empty`
    * to auto-discover. */
  def toConllTsv(triples: DataFrame, cols0: Seq[String]): DataFrame =
    conllTsvOrdered(triples, cols0).drop("id_rng")

  /** toConllTsv plus the internal `id_rng` ordering column: token ids pass
    * through VERBATIM (the reference mints `:s1_1-2` for CoNLL-U multiword
    * ranges — SpanParser.scala:200-211), so `tok` is the numeric PREFIX of
    * the id (range row `1-2` shares tok=1 with token `1`) and `id_rng`
    * breaks the tie CoNLL-U style (range line precedes its first covered
    * token). The r2 `_([0-9]+)$` extraction silently dropped range rows. */
  private[conll] def conllTsvOrdered(triples: DataFrame, cols0: Seq[String]): DataFrame = {
    val cols = if (cols0.nonEmpty) cols0 else discoverColumns(triples)
    require(cols.nonEmpty,
      "no columns: pass an explicit list or ingest a corpus with a global.columns comment")
    val colPreds = cols.map(c => s"conll:$c")
    val prepared = triples
      .filter(col("pred").isin(colPreds: _*))
      .withColumn("cell",
        when(col("obj_is_uri") && col("pred").rlike("(?i)^conll:HEAD[0-9]*$"),
          regexp_extract(col("obj"), "_([0-9]+)$", 1))
          .otherwise(col("obj")))
    val pivoted = prepared
      .groupBy(col("doc_id"), col("sent"), col("subj"))
      .pivot("pred", colPreds)
      .agg(array_join(array_sort(collect_list(col("cell"))), "|"))
    val out = pivoted
      .withColumn("id_str", regexp_extract(col("subj"), "^:s[0-9]+_(.+)$", 1))
      .filter(col("id_str") =!= "" && col("id_str") =!= "0") // drop the sentence node
      .withColumn("tok", regexp_extract(col("id_str"), "^([0-9]+)", 1).cast("int"))
      .filter(col("tok").isNotNull)
      .withColumn("id_rng",
        when(col("id_str").contains("-"), 0).otherwise(1))
      .drop("id_str")
    val renamed = colPreds.zip(cols).foldLeft(out) { case (df, (p, c)) =>
      df.withColumn(c,
        when(col(s"`$p`").isNull || col(s"`$p`") === "", "_").otherwise(col(s"`$p`")))
        .drop(p)
    }
    renamed.select(
      (Seq(col("doc_id"), col("sent"), col("tok"), col("id_rng")) ++ cols.map(col)): _*)
  }

  /** K2 text rendering: one string per document — `# global.columns`
    * header (CoNLLRDFFormatter emits it for -conll output,
    * CoNLLRDFFormatter.java:637-658), TAB-joined rows in token order,
    * blank line between sentences. Two aggregations (sent, then doc),
    * both with ordered collect — no driver-side loops. */
  def toConllText(triples: DataFrame, cols0: Seq[String]): DataFrame = {
    val cols = if (cols0.nonEmpty) cols0 else discoverColumns(triples)
    val wide = conllTsvOrdered(triples, cols)
    val line = concat_ws("\t", cols.map(col): _*)
    val perSent = wide
      .withColumn("line", line)
      .groupBy(col("doc_id"), col("sent"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("tok"), col("id_rng"), col("line")))),
          x => x.getField("line")),
        "\n").as("block"))
    perSent
      .groupBy(col("doc_id"))
      .agg(concat(
        lit(s"# global.columns = ${cols.mkString(" ")}\n"),
        array_join(
          transform(array_sort(collect_list(struct(col("sent"), col("block")))),
            x => x.getField("block")),
          "\n\n")).as("text"))
  }

  /** K3: the analyze-ud evaluation SELECT
    * (examples/sparql/analyze/eval-POSsynt.sparql) as a declarative
    * DataFrame query: per word, its surface/UPOS/EDGE/match plus the
    * sorted-distinct group_concat of the two POSsynt columns.
    *
    * ONE conditional aggregation over (doc, sent, subj) instead of six
    * self-joins — six joins meant six recomputations of the upstream
    * cascade plus six shuffles. WORD/UPOS/EDGE/match are single-valued
    * per token in the analyze pipeline (the reference's own SELECT binds
    * them as plain variables under `group by ?word`, which presumes the
    * same), so `max(when(...))` is exact; the mandatory-binding
    * (inner-join) semantics survive as a null filter.
    *
    * The group_concat sets are aggregated as a BITMASK (`bit_or` over the
    * closed 8-value POSsynt vocabulary that analyze/{UPOS,EDGE}-to-POSsynt
    * .sparql can emit) and decoded after the shuffle: `collect_set` is an
    * object-typed aggregate, which forces ObjectHashAggregateExec and its
    * sort-based fallback after 128 groups per partition — measured 3–6×
    * slower with heavy GC variance at sf0.1. The bitmask keeps the whole
    * aggregation in codegen'd HashAggregateExec (longs only). */
  def evalPossyntSelect(triples: DataFrame): DataFrame = {
    // alphabetical, so the decoded concat equals the sorted group_concat
    val psDomain = Seq("AN", "AV", "N", "RM", "RN", "RV", "V", "X")
    def one(pred: String) = max(when(col("pred") === pred, col("obj")))
    def bits(pred: String) = bit_or(
      when(col("pred") === pred,
        psDomain.zipWithIndex.foldLeft(lit(0L)) { case (acc, (v, i)) =>
          when(col("obj") === v, lit(1L << i)).otherwise(acc)
        }).otherwise(lit(0L)))
    def decode(mask: org.apache.spark.sql.Column) = concat_ws(" ",
      psDomain.zipWithIndex.map { case (v, i) =>
        when(mask.bitwiseAND(lit(1L << i)) =!= 0L, v) // concat_ws skips nulls
      }: _*)
    triples
      .groupBy(col("doc_id"), col("sent"), col("subj"))
      .agg(
        one("conll:WORD").as("word"),
        one("conll:UPOS").as("upos"),
        one("conll:EDGE").as("udep"),
        one("conll:POSsynt_match").as("match"),
        bits("conll:POSsynt_UPOS").as("upos_mask"),
        bits("conll:POSsynt_UD").as("ud_mask"))
      .filter(col("word").isNotNull && col("upos").isNotNull &&
        col("udep").isNotNull && col("match").isNotNull)
      // SPARQL group_concat over an unbound OPTIONAL yields "" (not NULL)
      .select(col("doc_id"), col("sent"), col("subj"), col("word"), col("upos"),
        col("udep"), decode(col("upos_mask")).as("POSsynt_UPOS"),
        decode(col("ud_mask")).as("POSsynt_UDEP"), col("match"))
  }

  /** K3 generic SELECT surface: examples/sparql/select-conllu.sparql —
    * CoNLL-U reconstruction where word order comes from the nif:nextWord*
    * chain (the reference computes `?ordinal` as count(nextWord*) and
    * orders by desc(?ordinal), select-conllu.sparql:13-48; walking the
    * chain is the same order, computed in the per-sentence regime of U12
    * — zero shuffle, the graph is already sentence-local). Multi-values
    * are group_concat'd with '|'; HEAD URIs are rendered as the reference's
    * strafter(strafter(str(?headurl),"#s"),"_") — the part after the '_'. */
  def selectConllU(sents: Dataset[Sentence], cols: Seq[String]): DataFrame = {
    import sents.sparkSession.implicits._
    val isHead: Seq[Boolean] = cols.map(_.toUpperCase.matches("^HEAD[0-9]*$"))
    val rows = sents.flatMap { s =>
      val g = SentGraph(s)
      g.wordOrder.iterator.zipWithIndex.map { case (w, i) =>
        val cells = cols.zip(isHead).map { case (c, hd) =>
          val vs = g.objects(w, s"conll:$c")
          val rendered = if (hd) vs.map(_.replaceFirst("^:s[0-9]+_", "")) else vs
          rendered.sorted.mkString("|")
        }
        (s.docId, s.sent, i + 1, cells)
      }.toSeq
    }.toDF("doc_id", "sent", "ord", "cells")
    cols.zipWithIndex.foldLeft(rows) { case (df, (c, i)) =>
      df.withColumn(c, col("cells").getItem(i))
    }.drop("cells")
  }

  /** K3: examples/sparql/select-sentence-strings.sparql — sentence strings
    * from conll:WORD triples, ordered by the numeric token id extracted
    * from the subject URI (the reference's BIND(replace(...)) pair). Fully
    * declarative: one groupBy shuffle. */
  def selectSentenceStrings(triples: DataFrame): DataFrame =
    triples.filter(col("pred") === "conll:WORD")
      .withColumn("tid",
        regexp_extract(col("subj"), "s[0-9]+_([0-9]+)$", 1).cast("bigint"))
      .withColumn("sent_id",
        regexp_extract(col("subj"), "s([0-9]+)_[0-9]+$", 1).cast("bigint"))
      .groupBy(col("doc_id"), col("sent_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("tid"), col("obj")))),
          x => x.getField("obj")),
        " ").as("sentence"))

  /** K3: examples/sparql/count_xml_triples.sparql — the number of
    * `rdf:type conll:XML_DATA` triples, as a single-row (n: bigint)
    * frame. The count happens per sentence inside the narrow object
    * pipeline: one Long per sentence reaches the aggregate, instead of
    * every triple of the graph being materialized as a row and then
    * filtered (at 100 TB, a per-sentence scalar instead of the whole long
    * table for one number). */
  def countXmlNodes(sents: Dataset[Sentence]): DataFrame = {
    import sents.sparkSession.implicits._
    sents.map(_.triples.count(t =>
        t.p == "rdf:type" && t.o == "conll:XML_DATA").toLong)
      .toDF("c")
      .agg(coalesce(sum(col("c")), lit(0L)).as("n"))
  }
}
