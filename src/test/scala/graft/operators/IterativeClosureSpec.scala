package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** `depths` over a forest: each node at its depth below its root, nodes
  * no root reaches absent, and a multi-parent child failing the call
  * naming the forest contract. */
class IterativeClosureSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // keep this suite on the DISTRIBUTED loop (the r9 small-graph driver
  // cutover would otherwise take every graph here); local == distributed
  // is pinned in LocalCcSpec
  override def beforeAll(): Unit =
    spark.conf.set("spark.graft.cc.localMaxEdges", "0")
  override def afterAll(): Unit =
    spark.conf.unset("spark.graft.cc.localMaxEdges")

  private def run(edges: Seq[(String, String)], roots: Seq[String]): Map[String, Int] =
    IterativeClosure.depths(spark, edges.toDF("child", "parent"), roots.toDF("node"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap

  test("a forest: each node at its depth below its root") {
    // two trees: a chain of 5 and a binary tree of 7
    val chain = (2 to 5).map(i => (s"c$i", s"c${i - 1}"))
    val tree = (2 to 7).map(i => (s"t$i", s"t${i / 2}"))
    val g = run(chain ++ tree, Seq("c1", "t1"))
    assert(g == (1 to 5).map(i => s"c$i" -> (i - 1)).toMap ++
      Map("t1" -> 0, "t2" -> 1, "t3" -> 1, "t4" -> 2, "t5" -> 2, "t6" -> 2, "t7" -> 2))
  }

  test("a child with two parents fails naming the forest contract") {
    // diamond: d has parents b and c2
    val edges = Seq(("b", "a"), ("c1", "a"), ("c2", "c1"), ("d", "b"), ("d", "c2"))
    val e = intercept[IllegalArgumentException](run(edges, Seq("a")))
    assert(e.getMessage.contains("takes a forest") && e.getMessage.contains("multiple parents"))
  }

  test("nodes unreachable from any root are absent; loop terminates") {
    val edges = Seq(("b", "a"), ("x", "y"), ("y", "x")) // cycle off-root
    val g = run(edges, Seq("a"))
    assert(g == Map("a" -> 0, "b" -> 1))
  }
}
