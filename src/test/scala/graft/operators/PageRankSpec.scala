package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** q48_pagerank against an independent driver-side reference (no Spark,
  * no SQL): the same synthesized citation graph and the same
  * integer-scaled 5-round iteration computed with plain Long arithmetic.
  * Bit-exactness across partition counts is the entry's whole design
  * claim (float PageRank would diverge between partial-aggregation
  * orders), so the spec also re-runs the entry under a different
  * shuffle width and asserts byte-identical ranks.
  */
class PageRankSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val nDocs = 60L

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("pagerank-spec").toString
    (0L until nDocs).toDF("doc_id")
      .repartition(3)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  /** Plain-Scala mirror of the entry's graph synthesis. */
  private lazy val refEdges: Seq[(Long, Long)] = {
    val m = nDocs // max(doc_id) + 1
    (for {
      u <- 0L until nDocs
      b <- 1L to (1L + u % 3L)
      dst = java.lang.Math.floorMod(u * (7L + b), m)
      if dst != u
    } yield (u, dst)).distinct
  }

  /** Plain-Scala mirror of the entry's integer iteration. */
  private def reference: Map[Long, Long] = {
    val edges = refEdges
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var pr = nodes.map(n => n -> 1000000L).toMap
    for (_ <- 1 to 5) {
      val contrib = edges
        .map { case (src, dst) => dst -> pr(src) / deg(src) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      // dangling mass (standard formulation): rank on sink nodes is
      // redistributed uniformly, integer-floored, before damping
      val dsh = nodes.filterNot(deg.contains).map(pr).sum / math.max(1, nodes.size)
      pr = nodes.map(n =>
        n -> (150000L + (contrib.getOrElse(n, 0L) + dsh) * 85L / 100L)).toMap
    }
    pr
  }

  private def runEntry(): Seq[(Long, Long)] =
    graft.SparkEntry.queries("q48_pagerank")(spark, dir)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))

  test("entry ranks equal the driver-side integer reference") {
    val got = runEntry()
    val want = reference
    assert(got.map(_._1).toSet == want.keySet, "node set mismatch")
    got.foreach { case (node, pr) =>
      assert(pr == want(node), s"rank mismatch at node $node")
    }
    // and the ordering contract: pr desc, node asc tiebreak
    assert(got == got.sortBy { case (node, pr) => (-pr, node) })
  }

  test("the synthesized graph contains dangling nodes (the redistribution term is not vacuous)") {
    val srcs = refEdges.map(_._1).toSet
    val dangling = (refEdges.map(_._2).toSet -- srcs)
    assert(dangling.nonEmpty,
      "no sink nodes at this nDocs — the dangling-mass term would be untested")
    // and the share actually moves a rank: with dsh = 0 the reference
    // degenerates to the old formulation, so recompute without the term
    // and assert at least one node's rank differs
    val edges = refEdges
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var prOld = nodes.map(n => n -> 1000000L).toMap
    for (_ <- 1 to 5) {
      val contrib = edges
        .map { case (src, dst) => dst -> prOld(src) / deg(src) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      prOld = nodes.map(n => n -> (150000L + contrib.getOrElse(n, 0L) * 85L / 100L)).toMap
    }
    assert(reference != prOld, "dangling share changed no rank — term vacuous")
  }

  test("distributed loop (r9 cutover disabled) is byte-identical to the local path") {
    // the small-graph driver evaluation (spark.graft.cc.localMaxEdges)
    // takes every graph this spec builds — force the distributed rounds
    // and pin both regimes to the same ranks
    val a = runEntry()
    spark.conf.set("spark.graft.cc.localMaxEdges", "0")
    try assert(runEntry() == a, "distributed loop != local path")
    finally spark.conf.unset("spark.graft.cc.localMaxEdges")
  }

  test("ranks are byte-identical across shuffle widths") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val a = runEntry()
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "13")
      assert(runEntry() == a, "partition count changed the ranks")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }
}
