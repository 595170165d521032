package graft.conll

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class ContextEvalSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("context window attaches bounded lookback/lookahead per doc") {
    import spark.implicits._
    val docs = DocGen.docs(spark, 6)
    val sents = Pipeline.parse(docs, DocGen.columns)
    val ctx = ContextWindow.attach(sents, lookback = 2, lookahead = 1).collect()
    for (c <- ctx) {
      assert(c.lookback.size <= 2 && c.lookahead.size <= 1)
      assert(c.lookback.forall(_.docId == c.sentence.docId))
      assert(c.lookback.forall(_.sent < c.sentence.sent))
      assert(c.lookahead.forall(_.sent == c.sentence.sent + 1))
    }
    // a sentence with predecessors actually gets them
    val withLb = ctx.filter(_.sentence.sent >= 3)
    assert(withLb.nonEmpty && withLb.forall(_.lookback.nonEmpty))
  }

  test("cross-sentence rule reads the lookback graph (U14 demonstration)") {
    import spark.implicits._
    val rows = Seq(
      "1\tdog\tNOUN\t2\tnsubj", "2\truns\tVERB\t0\troot", "",
      "1\tit\tPRON\t2\tnsubj", "2\tsleeps\tVERB\t0\troot", ""
    )
    val spans = rows.zipWithIndex.map { case (r, i) =>
      Span(if (r.isEmpty) "sentence_break" else "token", r, "", i)
    }
    val docs = Seq(InputDoc("d1", spans)).toDS
    val sents = Pipeline.parse(docs, Seq("ID", "WORD", "UPOS", "HEAD", "EDGE"))
    val out = ContextWindow.attach(sents, lookback = 2, lookahead = 0)
      .map(ContextWindow.pronounAntecedent)
    val s2 = out.filter(_.sent == 2L).head()
    assert(s2.triples.contains(Triple(":s2_1", "conll:ANTECEDENT", "dog", false)))
    // sentence 1 has no lookback → unannotated
    val s1 = out.filter(_.sent == 1L).head()
    assert(!s1.triples.exists(_.p == "conll:ANTECEDENT"))
  }

  test("eval-POSsynt SELECT: one row per word, group_concat columns sorted") {
    import spark.implicits._
    val docs = DocGen.docs(spark, 8)
    val t = Pipeline.triples(
      Pipeline.rewrite(Pipeline.parse(docs, DocGen.columns), Pipeline.analyzeCascade)).toDF()
    val eval = Serializers.evalPossyntSelect(t).cache()
    assert(eval.count() > 0)
    // every row has word/upos/udep/match; match is "1" or "0"
    assert(eval.filter($"word".isNull || $"upos".isNull || $"udep".isNull).count() == 0)
    assert(eval.filter(!$"match".isin("1", "0")).count() == 0)
    // ADP words ({RN,AN} from UPOS, AN from case edge) show sorted concat
    val adp = eval.filter($"upos" === "ADP" && $"udep" === "case").limit(1).collect()
    if (adp.nonEmpty) {
      assert(adp.head.getAs[String]("POSsynt_UPOS") == "AN" ||
        adp.head.getAs[String]("POSsynt_UPOS") == "AN RN")
    }
    eval.unpersist()
  }

  test("eval-POSsynt bitmask aggregation ≡ naive collect_set reference") {
    // guards the closed-domain assumption behind the bit_or encoding: the
    // decoded masks must equal the sorted group_concat of collect_set
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = DocGen.docs(spark, 30)
    val t = Pipeline.triples(
      Pipeline.rewrite(Pipeline.parse(docs, DocGen.columns), Pipeline.analyzeCascade)).toDF()
    def naiveCat(pred: String, as: String) =
      t.filter(col("pred") === pred)
        .groupBy(col("doc_id"), col("sent"), col("subj"))
        .agg(array_join(array_sort(collect_set(col("obj"))), " ").as(as))
    val fast = Serializers.evalPossyntSelect(t)
      .select($"doc_id", $"sent", $"subj", $"POSsynt_UPOS", $"POSsynt_UDEP")
    val naive = fast.select($"doc_id", $"sent", $"subj")
      .join(naiveCat("conll:POSsynt_UPOS", "nu"), Seq("doc_id", "sent", "subj"), "left_outer")
      .join(naiveCat("conll:POSsynt_UD", "nd"), Seq("doc_id", "sent", "subj"), "left_outer")
      .na.fill("", Seq("nu", "nd"))
      .select($"doc_id", $"sent", $"subj", $"nu".as("POSsynt_UPOS"), $"nd".as("POSsynt_UDEP"))
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
  }
}
