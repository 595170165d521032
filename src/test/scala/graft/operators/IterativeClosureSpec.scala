package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The round-6 `forest` fast path must be observationally identical to
  * the general regime on single-parent inputs, and the general regime
  * must keep handling multi-path DAGs (min depth) that forest mode is
  * NOT contracted for. */
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

  private def run(edges: Seq[(String, String)], roots: Seq[String],
                  forest: Boolean): Map[String, Int] =
    IterativeClosure.depths(spark,
        edges.toDF("child", "parent"), roots.toDF("node"), forest = forest)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap

  test("forest mode equals general mode on a forest") {
    // two trees: a chain of 5 and a binary tree of 7
    val chain = (2 to 5).map(i => (s"c$i", s"c${i - 1}"))
    val tree = (2 to 7).map(i => (s"t$i", s"t${i / 2}"))
    val edges = chain ++ tree
    val roots = Seq("c1", "t1")
    val g = run(edges, roots, forest = false)
    val f = run(edges, roots, forest = true)
    assert(f == g)
    assert(g("c5") == 4 && g("t7") == 2 && g("t1") == 0)
  }

  test("general mode takes the min depth across DAG paths") {
    // diamond: d reachable at depth 2 (via b) and depth 3 (via c2)
    val edges = Seq(("b", "a"), ("c1", "a"), ("c2", "c1"),
      ("d", "b"), ("d", "c2"))
    val g = run(edges, Seq("a"), forest = false)
    assert(g == Map("a" -> 0, "b" -> 1, "c1" -> 1, "c2" -> 2, "d" -> 2))
  }

  test("nodes unreachable from any root are absent; loop terminates") {
    val edges = Seq(("b", "a"), ("x", "y"), ("y", "x")) // cycle off-root
    val g = run(edges, Seq("a"), forest = false)
    assert(g == Map("a" -> 0, "b" -> 1))
  }
}
