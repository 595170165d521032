package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The r9 small-graph driver cutover must be OBSERVATIONALLY IDENTICAL
  * to the distributed fixpoint loops: same labels, same depths, same
  * schema/types, same loud failures. Each test computes the same graph
  * through both regimes by flipping the cutover conf (0 disables). */
class LocalCcSpec extends AnyFunSuite {
  private val spark = graft.TestSpark.spark
  import spark.implicits._

  private def withConf[T](key: String, v: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, v)
    try body
    finally { prev match { case Some(p) => spark.conf.set(key, p); case None => spark.conf.unset(key) } }
  }
  private val CC = "spark.graft.cc.localMaxEdges"

  private def n(i: Int) = f"n$i%04d"

  test("run(): local == distributed on seeded random string graphs") {
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      val raw = Seq.fill(1 + rnd.nextInt(150))((n(rnd.nextInt(60)), n(rnd.nextInt(60))))
        .filter { case (a, b) => a != b }
      if (raw.nonEmpty) {
        val df = raw.toDF("src", "dst")
        val local = ConnectedComponents.run(spark, df)
        assert(local.schema.map(f => (f.name, f.dataType.typeName)) ==
          Seq(("node", "string"), ("component", "string")))
        val loc = local.as[(String, String)].collect().toMap
        val dist = withConf(CC, "0") {
          ConnectedComponents.run(spark, df).as[(String, String)].collect().toMap
        }
        assert(loc == dist, s"run() local != distributed at seed $seed")
      }
    }
  }

  test("runStar(): local == distributed, string and bigint keys") {
    val rnd = new scala.util.Random(42)
    val rawS = Seq.fill(200)((n(rnd.nextInt(80)), n(rnd.nextInt(80))))
      .filter { case (a, b) => a != b }
    val dfS = rawS.toDF("src", "dst")
    val locS = ConnectedComponents.runStar(spark, dfS).as[(String, String)].collect().toMap
    val distS = withConf(CC, "0") {
      ConnectedComponents.runStar(spark, dfS).as[(String, String)].collect().toMap
    }
    assert(locS == distS)
    // numeric MIN semantics must survive the local path too (review r6)
    val dfL = Seq((9L, 29L), (29L, 1009L), (7L, 1009L), (3L, 12L)).toDF("src", "dst")
    val locL = ConnectedComponents.runStar(spark, dfL).as[(Long, Long)].collect().toMap
    // two components: {7,9,29,1009} (numeric min 7 — NOT the
    // lexicographic min "1009") and {3,12}
    assert(locL == Map(7L -> 7L, 9L -> 7L, 29L -> 7L, 1009L -> 7L, 3L -> 3L, 12L -> 3L))
    val locR = ConnectedComponents.run(spark, dfL).as[(Long, Long)].collect().toMap
    assert(locR == locL)
  }

  test("runStar(): MID-LOOP cutover (distributed rounds then driver finish) is exact") {
    // chain of 120: 119 edges > bound 60, so ≥1 star round contracts the
    // graph distributed-side before the count drops under the bound and
    // the driver union-find finishes — the 100 TB tail-round shape
    val edges = (1 until 120).map(i => (n(i), n(i + 1))).toDF("src", "dst")
    val (df, rounds) = withConf(CC, "60") {
      ConnectedComponents.runStarStats(spark, edges)
    }
    val got = df.as[(String, String)].collect().toMap
    assert(rounds >= 1, "expected at least one distributed round before cutover")
    assert(got.size == 120 && got.values.toSet == Set(n(1)))
    val dist = withConf(CC, "0") {
      ConnectedComponents.runStar(spark, edges).as[(String, String)].collect().toMap
    }
    assert(got == dist)
  }

  test("run()/runStar(): non-BMP labels take Spark's UTF-8 byte order on the driver too") {
    // U+FFFD < U+1F600 as UTF-8 bytes (EF.. < F0..), as Spark's MIN
    // compares; UTF-16 code units order them the other way (FFFD > D83D)
    val (rep, smile) = ("\uFFFD", "\uD83D\uDE00")
    val df = Seq((smile, rep), ("a" + smile, "a" + rep)).toDF("src", "dst")
    for (cc <- Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
        ConnectedComponents.run(spark, _), ConnectedComponents.runStar(spark, _))) {
      val local = cc(df).as[(String, String)].collect().toMap
      val dist = withConf(CC, "0")(cc(df).as[(String, String)].collect().toMap)
      assert(dist(smile) == rep && dist("a" + smile) == "a" + rep)
      assert(local == dist)
    }
  }

  test("depths(): local == distributed on a forest; same failures") {
    def run(edges: Seq[(String, String)], roots: Seq[String], conf: String,
            maxIter: Int = 64): Map[String, Int] = withConf(CC, conf) {
      IterativeClosure.depths(spark, edges.toDF("child", "parent"),
          roots.toDF("node"), maxIter)
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    }
    val chain = (2 to 9).map(i => (s"c$i", s"c${i - 1}"))
    val tree = (2 to 15).map(i => (s"t$i", s"t${i / 2}"))
    val forest = chain ++ tree :+ (("x", "y")) // x unreachable
    assert(run(forest, Seq("c1", "t1"), "500000") == run(forest, Seq("c1", "t1"), "0"))
    // a multi-parent input fails identically, naming the contract
    val multi = Seq(("d", "a"), ("d", "b"))
    for (conf <- Seq("500000", "0"))
      assert(intercept[IllegalArgumentException](run(multi, Seq("a"), conf))
        .getMessage.contains("takes a forest"), conf)
    // a root-reachable cycle (each child has one parent, so the contract
    // check passes and only the round budget can stop the walk) exhausts
    // the budget loudly in both regimes
    val cyc = Seq(("b", "a"), ("a", "b"))
    for (conf <- Seq("500000", "0"))
      assert(intercept[IllegalArgumentException](run(cyc, Seq("a"), conf, maxIter = 5))
        .getMessage.contains("did not drain"), conf)
  }

  test("registry CC entries: cutover result equals forced-distributed result (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    for (name <- Seq("q19_canonicalize_cc", "q42_cc_chain", "q30_tree_depth")) {
      def rows(ccConf: String) = withConf(CC, ccConf) {
        val r = graft.SparkEntry.queries(name)(spark, dir)
          .collect().map(_.toString).sorted.toSeq
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        r
      }
      assert(rows("500000") == rows("0"), s"$name local != distributed")
    }
  }
}
