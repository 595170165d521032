package graft.conll

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** `Rules.closure`, the one `p+` walk of the scripts, Viz and the ontology
  * closures, against a naive iterate-to-fixpoint `p+` on generated small
  * digraphs: cycles, self-loops, nodes the start cannot reach, and starts
  * on and off a cycle. */
class ClosureSpec extends AnyFunSuite {

  private val graph: Gen[(Int, Seq[(Int, Int)], Int)] = for {
    n <- Gen.choose(1, 8)
    m <- Gen.choose(0, 12)
    edges <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    start <- Gen.choose(0, n - 1)
  } yield (n, edges, start)

  /** `p+` as a fixpoint: the successors of the start, then of every node
    * reached, until nothing new is added. */
  private def naivePlus(edges: Seq[(Int, Int)], start: Int): Set[Int] = {
    var reached = edges.collect { case (`start`, v) => v }.toSet
    var grown = true
    while (grown) {
      val next = reached ++ edges.collect { case (u, v) if reached(u) => v }
      grown = next.size > reached.size
      reached = next
    }
    reached
  }

  test("closure equals the fixpoint p+, holds the start iff it is on a cycle, lists each node after a predecessor") {
    var onCycle, offCycle, selfLoops, unreachable = 0
    val prop = Prop.forAll(graph) { case (n, edges, start) =>
      val succ = edges.groupMap(_._1)(_._2)
      val walk = Rules.closure(start)(succ.getOrElse(_, Nil)).toSeq
      val plus = naivePlus(edges, start)
      // on a cycle: an edge into the start from the start or from a node it reaches
      val cyclic = edges.exists { case (u, v) => v == start && (u == start || plus(u)) }
      if (cyclic) onCycle += 1 else offCycle += 1
      if (edges.exists { case (u, v) => u == v }) selfLoops += 1
      if ((0 until n).exists(x => x != start && !plus(x))) unreachable += 1
      val afterPredecessor = walk.zipWithIndex.forall { case (y, i) =>
        edges.exists { case (x, `y`) => x == start || walk.take(i).contains(x); case _ => false }
      }
      walk.distinct == walk && walk.toSet == plus && walk.contains(start) == cyclic && afterPredecessor
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
    // the generator must reach every shape named above
    assert(onCycle > 0 && offCycle > 0, s"starts on a cycle: $onCycle, off: $offCycle")
    assert(selfLoops > 0, "no self-loop was generated")
    assert(unreachable > 0, "no graph with a node the start cannot reach was generated")
  }
}
