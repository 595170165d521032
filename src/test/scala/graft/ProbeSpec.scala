package graft

import org.apache.spark.sql.functions.broadcast
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Probe

/** `graft.tools.Probe`'s command line (no session is started), its
  * plan counter and its plan-dump normalization. */
class ProbeSpec extends AnyFunSuite {
  private def fails(args: String*): String =
    intercept[IllegalArgumentException](Probe.parse(args.toArray)).getMessage

  test("levers: k=v tokens parse; a token without '=' fails naming the token") {
    assert(Probe.levers(Seq("spark.graft.cc.localMaxEdges=0", "a=x=y", "b=")) ==
      Seq("spark.graft.cc.localMaxEdges" -> "0", "a" -> "x=y", "b" -> ""))
    val e = intercept[IllegalArgumentException](Probe.levers(Seq("a=1", "spark.graft.oops")))
    assert(e.getMessage.contains("'spark.graft.oops'"))
    assert(intercept[IllegalArgumentException](Probe.levers(Seq("=v"))).getMessage.contains("'=v'"))
  }

  test("levers: a spark.graft key the engine does not read fails naming it and the key it reads") {
    val e = intercept[IllegalArgumentException](
      Probe.levers(Seq("spark.sql.shuffle.partitions=8", "spark.graft.sql.targetPartitionBytes=-1")))
    assert(e.getMessage.contains("'spark.graft.sql.targetPartitionBytes'"))
    assert(e.getMessage.contains("spark.graft.cc.localMaxEdges"))
  }

  test("parse: each verb's positional arguments, levers and flags") {
    assert(Probe.parse(Array("time", "d1,gen:5000", "3", "q14_tokenize,q42_cc_chain",
      "spark.graft.cc.localMaxEdges=0", "--json", "out.json")) ==
      Probe.Time(Seq("d1", "gen:5000"), 3, Seq("q14_tokenize", "q42_cc_chain"),
        Seq("spark.graft.cc.localMaxEdges" -> "0"), Some("out.json")))
    assert(Probe.parse(Array("plan", "d", "q22_lsh_jaccard", "--full", "--out", "o", "--tag", "t")) ==
      Probe.Plan("d", Seq("q22_lsh_jaccard"), Nil, full = true, Some(("o", "t"))))
    assert(Probe.parse(Array("plan", "d", "q22_lsh_jaccard", "a=1")) ==
      Probe.Plan("d", Seq("q22_lsh_jaccard"), Seq("a" -> "1"), full = false, None))
    assert(Probe.parse(Array("state", "5000,50000")) == Probe.State(Seq(5000L, 50000L), None))
  }

  test("parse: an unknown verb fails naming it and listing the verbs") {
    for (args <- Seq(Seq("ab"), Seq(), Seq("--full"))) {
      val m = fails(args: _*)
      assert(m.contains(s"'${args.headOption.getOrElse("")}'") && m.contains("time|plan|state"), args)
    }
  }

  test("parse: a non-integer or non-positive <n> fails naming it") {
    for (n <- Seq("x", "0", "-2", "1.5", "")) {
      val m = fails("time", "d", n, "q14_tokenize")
      assert(m.contains("<n>") && m.contains(s"'$n'"), n)
    }
  }

  test("parse: an unknown entry fails naming it, for time and plan") {
    assert(fails("time", "d", "2", "q14_tokenize,q99_nope").contains("'q99_nope'"))
    assert(fails("plan", "d", "q99_nope").contains("'q99_nope'"))
  }

  test("parse: a dir given twice fails naming it") {
    assert(fails("time", "d1,gen:50,d1", "2", "q14_tokenize").contains("'d1'"))
  }

  test("parse: --out without --tag (or the reverse) fails naming both") {
    for (f <- Seq(Seq("--out", "o"), Seq("--tag", "t"))) {
      val m = fails(Seq("plan", "d", "q14_tokenize") ++ f: _*)
      assert(m.contains("--out") && m.contains("--tag"), f)
    }
  }

  test("parse: an unknown flag, a flag of another verb or a flag without a value fails naming it") {
    assert(fails("time", "d", "2", "q14_tokenize", "--full").contains("'--full'"))
    assert(fails("plan", "d", "q14_tokenize", "--json", "x").contains("'--json'"))
    assert(fails("state", "10", "--json").contains("'--json'"))
    assert(fails("plan", "d", "q14_tokenize", "--bogus").contains("'--bogus'"))
  }

  test("parse: a gen: dir without a non-negative count, or a non-positive state size, fails naming it") {
    for (d <- Seq("gen:x", "gen:", "gen:-1", "gen:1.5")) {
      assert(fails("time", s"d,$d", "2", "q14_tokenize").contains(s"'$d'"), d)
      assert(fails("plan", d, "q14_tokenize").contains(s"'$d'"), d)
    }
    assert(Probe.parse(Array("time", "gen:0", "1", "q14_tokenize")).asInstanceOf[Probe.Time].dirs == Seq("gen:0"))
    for (n <- Seq("0", "x", "-5")) assert(fails("state", s"10,$n").contains(s"'$n'"), n)
    assert(fails("state").contains("<nDocs>"))
  }

  test("planCounts: a broadcast join under a persisted subtree is counted") {
    val spark = TestSpark.spark
    val cached = spark.range(0, 5000).toDF("k").join(broadcast(spark.range(0, 10).toDF("k")), "k").persist()
    // one broadcast inside the cache (q22's shape), one outside it
    val df = cached.join(broadcast(spark.range(0, 20).toDF("k")), "k")
    try assert(Probe.planCounts(df)._2 == 2)
    finally Probe.reset(spark)
  }

  test("stablePlan: dumps that differ only in plan ids, RDD ids and closure identities compare equal") {
    def dump(planId: Int, rdd: Int, lambda: String) =
      s"""(1) Scan ExistingRDD
         |Arguments: [node#638L, component#639L], MapPartitionsRDD[$rdd] at createDataFrame at Fixpoint.scala:54, ExistingRDD, UnknownPartitioning(0)
         |(4) MapElements
         |Arguments: graft.conll.EntityLinker$$$$$lambda, obj#12: java.lang.String
         |(9) BroadcastExchange
         |Arguments: HashedRelationBroadcastMode(List(input[0, string, false]),false), [plan_id=$planId]
         |""".stripMargin
    val a = dump(412, 122, "Lambda$1873/0x000000080176c9a8@5d9b7a8c")
    val b = dump(438, 118, "Lambda$2051/0x00000008017f1c40@1f2e3d4c")
    val jdk21 = dump(7, 3, "Lambda/0x00007f3a2c1b2e18@6a0b1c2d")
    assert(a != b)
    assert(Probe.stablePlan(a) == Probe.stablePlan(b))
    assert(Probe.stablePlan(a) == Probe.stablePlan(jdk21))
    for (token <- Seq("[plan_id=_]", "MapPartitionsRDD[_] at", "EntityLinker$$Lambda, obj#12"))
      assert(Probe.stablePlan(a).contains(token), token)
    // any other difference survives
    assert(Probe.stablePlan(a) != Probe.stablePlan(a.replace("obj#12", "obj#13")))
  }
}
