package graft.operators

import graft.conll.EntityLinker
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

  /** A graph over node indices 0 until 40, where index order is the key
    * order, that min-label propagation needs two or more rounds for:
    * paths with their minimum at one end or inside, stars centred on
    * their largest node (off the minimum), disjoint pairs, a self-loop,
    * and duplicated and reversed copies of some edges. */
  private def multiRound(rnd: scala.util.Random): Seq[(Int, Int)] = {
    val pool = rnd.shuffle((0 until 40).toVector).iterator
    def take(k: Int) = Vector.fill(k)(pool.next())
    val long = take(5 + rnd.nextInt(4)).sorted
    val minAtEnd = long.head +: rnd.shuffle(long.tail)
    val paths = minAtEnd +: Vector.fill(1 + rnd.nextInt(2))(take(2 + rnd.nextInt(5)))
    val stars = Vector.fill(1 + rnd.nextInt(2))(take(3 + rnd.nextInt(4)).sorted)
    val pairs = Vector.fill(1 + rnd.nextInt(3))(take(2))
    val edges = paths.flatMap(p => p.zip(p.tail)) ++
      stars.flatMap(s => s.init.map(leaf => (s.last, leaf))) ++
      pairs.map(p => (p(0), p(1))) :+ ((minAtEnd(1), minAtEnd(1)))
    val again = rnd.shuffle(edges).take(4)
    rnd.shuffle(edges ++ again ++ again.map(_.swap))
  }

  /** Spark's string order: unsigned UTF-8 bytes. */
  private val utf8Order: Ordering[String] = (a: String, b: String) =>
    java.util.Arrays.compareUnsigned(a.getBytes("UTF-8"), b.getBytes("UTF-8"))

  test("run()/runStar(): forced-distributed == cutover on multi-round graphs; string, bigint and non-BMP keys") {
    // index order is key order, so a star's centre stays off the minimum
    // under each type's own order: non-BMP and U+FFFD prefixes order
    // differently as UTF-8 (Spark's MIN) and as UTF-16
    val strKeys = (0 until 40).map(i => f"n$i%02d")
    val nonBmp = (0 until 40).map(i => Seq("\uFFFD", "\uD83D\uDE00", "a\uD83D\uDE00", "\u00E9")(i % 4) + (i / 4))
      .sorted(utf8Order)
    val longs = (0 until 40).map(i => if (i % 3 == 0) i.toLong else 1000L * i).sorted
    def check[K](keys: IndexedSeq[K], seed: Int)(labels: org.apache.spark.sql.DataFrame => Map[K, K])(
        implicit enc: org.apache.spark.sql.Encoder[(K, K)]): Unit = {
      val graph = multiRound(new scala.util.Random(seed)).map { case (a, b) => (keys(a), keys(b)) }
      val df = spark.createDataset(graph).toDF("src", "dst")
      val (cut, cutN) = ConnectedComponents.runCounted(spark, df)
      val (dist, distN) = withConf(CC, "0")(ConnectedComponents.runCounted(spark, df))
      val (c, d) = (labels(cut), labels(dist))
      assert(c == d, s"forced-distributed != cutover at seed $seed")
      assert(cutN == c.size && distN == d.size, s"node counts $cutN / $distN of ${c.size} at seed $seed")
      val star = labels(ConnectedComponents.runStar(spark, df))
      val starDist = withConf(CC, "0")(labels(ConnectedComponents.runStar(spark, df)))
      assert(star == c && starDist == c, s"runStar != run at seed $seed")
    }
    for (seed <- 1 to 4) {
      check(strKeys, seed)(_.as[(String, String)].collect().toMap)
      check(nonBmp, seed)(_.as[(String, String)].collect().toMap)
      check(longs, seed)(_.as[(Long, Long)].collect().toMap)
    }
  }

  test("canonicalize: identical rows on the driver and forced-distributed CC paths") {
    // objects: entity links inside and outside a component, a WORD literal
    // equal to a component node (any object equal to a node is rewritten),
    // and a null object
    val rnd = new scala.util.Random(5)
    val sameAs = multiRound(rnd).map { case (a, b) => (f"ent:$a%02d", f"ent:$b%02d") }.toDF("src", "dst")
    val objs = (0 until 44).map(i => f"ent:$i%02d")
    val linked = (objs.zipWithIndex.flatMap { case (o, i) => Seq(
        ("d1", 1L, s":t$i", "conll:ENTITY", o, true),
        ("d1", 2L, s":w$i", "conll:WORD", o, false)) } :+
      (("d2", 1L, ":n", "conll:WORD", null, false)))
      .toDF("doc_id", "sent", "subj", "pred", "obj", "obj_is_uri")
    def rows(conf: String) = withConf(CC, conf) {
      EntityLinker.canonicalize(spark, linked, sameAs).collect().map(_.toString).sorted.toSeq
    }
    val (local, dist) = (rows("500000"), rows("0"))
    assert(local == dist)
    assert(local.size == linked.count())
    // a WORD literal equal to a node took its component's minimum
    val canon = withConf(CC, "0")(ConnectedComponents.run(spark, sameAs).as[(String, String)].collect().toMap)
    val (node, min) = canon.find { case (n, m) => n != m }.get
    assert(local.contains(s"[d1,2,:w${node.stripPrefix("ent:").toInt},conll:WORD,$min,false]"))
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
