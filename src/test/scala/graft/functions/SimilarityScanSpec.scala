package graft.functions

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.queries.DecimalDot

/** `Similarity.scan`, the one top-k scan of q28/q31/q38 and `topK`, against
  * a driver-side reference: per query, the corpus rows whose cell is in its
  * probe set, sorted by (sim desc, id asc) and truncated to k. Both dot
  * products run. Generated corpora draw their vectors from a small pool,
  * so duplicate vectors give equal-sim ties; k ranges past the corpus
  * size; more partitions than rows leave some partitions empty; probe sets
  * range over a cell no row has, so some queries admit nothing. */
class SimilarityScanSpec extends AnyFunSuite {
  import SimilarityScanSpec.Case
  private lazy val spark = TestSpark.spark

  private type Dot = (Array[Float], Array[Float]) => Double

  /** A row's cell: the first component mod 3, so cell 3 holds no row. */
  private val cellOf: (Array[Float], Double) => Long = (v, _) => math.floorMod(v(0).toInt, 3).toLong

  private val genCase: Gen[Case] = for {
    dim <- Gen.choose(1, 3)
    vec = Gen.listOfN(dim, Gen.oneOf(-3f, -2f, -1f, 1f, 2f, 3f)).map(_.toArray)
    pool <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, vec))
    n <- Gen.frequency(1 -> Gen.const(0), 8 -> Gen.choose(1, 14))
    vs <- Gen.listOfN(n, Gen.oneOf(pool))
    ids <- Gen.pick(n, 0L until 1000L).map(_.toSeq)
    nq <- Gen.choose(1, 3)
    qs <- Gen.listOfN(nq, Gen.zip(Gen.oneOf(Gen.oneOf(pool), vec),
      Gen.someOf(0L to 3L).map(_.toSet)))
    k <- Gen.choose(1, n + 3)
    slices <- Gen.choose(1, n + 3)
  } yield Case(ids.zip(vs), qs.zipWithIndex.map { case ((v, p), i) => (i.toLong, v, p) }, k, slices)

  /** (q_id, cell, rnk, c_id, sim) by sorting every admitted row on the driver. */
  private def reference(c: Case, dot: Dot, cell: (Array[Float], Double) => Long)
      : Seq[(Long, Long, Int, Long, Double)] =
    c.queries.flatMap { case (qid, qv, probes) =>
      c.corpus.flatMap { case (id, v) =>
        val nv = dot(v, v)
        val cl = cell(v, nv)
        if (probes(cl)) Some((cl, id, dot(qv, v) / math.sqrt(dot(qv, qv) * nv))) else None
      }.sortWith((a, b) => a._3 > b._3 || (a._3 == b._3 && a._2 < b._2))
        .take(c.k).zipWithIndex
        .map { case ((cl, id, sim), i) => (qid, cl, i + 1, id, sim) }
    }

  test("scan equals a driver-side (sim desc, id asc) sort truncated to k, for both dot products") {
    import spark.implicits._
    var ties, kOverCorpus, emptyPartitions, unmatched = 0
    val prop = Prop.forAll(genCase) { c =>
      val corpus = spark.sparkContext.parallelize(c.corpus, c.slices).toDS()
      emptyPartitions += corpus.rdd.glom().map(_.isEmpty).collect().count(identity)
      if (c.k > c.corpus.size) kOverCorpus += 1
      // topK: flat search, every row in cell 0 and every query probing it
      val flatRef = reference(c.copy(queries = c.queries.map(q => (q._1, q._2, Set(0L)))),
        Similarity.dot, (_, _) => 0L)
      ties += flatRef.groupBy(r => (r._1, r._5)).count(_._2.size > 1)
      unmatched += c.queries.count { case (_, _, p) =>
        c.corpus.nonEmpty && !c.corpus.exists(r => p(cellOf(r._2, 0.0)))
      }
      def got(dot: Dot) = Similarity.scan(corpus, c.queries.toArray, c.k, dot, cellOf)
        .as[(Long, Long, Int, Long, Double)].collect().toSeq.sortBy(r => (r._1, r._3))
      val flat = Similarity.topK(corpus, c.queries.map(q => (q._1, q._2)).toArray, c.k)
        .as[(Long, Int, Long, Double)].collect().toSeq.sortBy(r => (r._1, r._2))
      Seq[Dot](Similarity.dot, DecimalDot.dot).forall(dot => got(dot) == reference(c, dot, cellOf)) &&
        flat == flatRef.map(r => (r._1, r._3, r._4, r._5))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
    // the generator must reach the cases named above
    assert(ties > 0, "no equal-sim tie inside a top k was generated")
    assert(kOverCorpus > 0, "no k larger than the corpus was generated")
    assert(emptyPartitions > 0, "no empty corpus partition was generated")
    assert(unmatched > 0, "no query whose probe set matches no row was generated")
  }
}

object SimilarityScanSpec {
  private final case class Case(
      corpus: Seq[(Long, Array[Float])],
      queries: Seq[(Long, Array[Float], Set[Long])],
      k: Int,
      slices: Int)
}
