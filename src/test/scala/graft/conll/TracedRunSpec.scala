package graft.conll

import org.scalatest.funsuite.AnyFunSuite

/** The K4 debug path (`Script.runTraced`) computes the production
  * fixpoint (`Script.run`): every catalogue script, at its catalogue
  * iteration budget, leaves the same graph under both, in the same order,
  * and the traced run dumps no iteration beyond the ones `run` executed.
  *
  * Cascade scripts run in cascade order, so each sees the graph its
  * predecessors built (REDUCE-english-2 needs initialize-SHIFT's chain);
  * the scripts outside every cascade run once on the parsed sentence. */
class TracedRunSpec extends AnyFunSuite {

  private lazy val sentences =
    (0L until 40L).flatMap(id => SpanParser.parseDoc(DocGen.genDoc(42L, id), DocGen.columns))

  /** Runs `steps` on two copies of `sentence`, one per entry point, and
    * asserts they agree after each script. @return (script, last dump's
    * iteration) for each script that changed the graph. */
  private def compare(sentence: Sentence, steps: Seq[(String, Int)]): Seq[(String, Int)] = {
    val (ran, traced) = (SentGraph(sentence), SentGraph(sentence))
    steps.flatMap { case (name, n) =>
      val script = PipelineManager.scripts(name)
      val iterations = script.run(ran, n)
      val dumps = script.runTraced(traced, n)
      assert(traced.all == ran.all, s"$name on ${sentence.docId}/${sentence.sent}: graphs differ")
      dumps.lastOption.map { last =>
        assert(last.iteration <= iterations,
          s"$name on ${sentence.docId}/${sentence.sent}: dump at iteration ${last.iteration}, run took $iterations")
        name -> last.iteration
      }
    }
  }

  test("runTraced == run for every catalogue script at its catalogue budget") {
    val inCascade = PipelineManager.cascades.values.flatten.map(_._1).toSet
    val alone = (PipelineManager.scripts.keySet -- inCascade).toSeq.sorted.map(_ -> 1)
    assert(sentences.nonEmpty)
    val changed = sentences.flatMap { s =>
      PipelineManager.cascades.values.flatMap(compare(s, _)) ++ compare(s, alone)
    }
    // not vacuous: the traced path dumped, and some fixpoint took more
    // than one iteration
    assert(changed.map(_._1).toSet.size >= 10, changed.map(_._1).distinct)
    assert(changed.exists(_._2 > 1))
  }
}
