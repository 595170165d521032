package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Distributed BFS-level computation over an edge table — the scale path
  * for transitive-closure queries that exceed one sentence (SURVEY §2.4
  * U12: per-sentence HEAD+ walks stay in SentGraph; cross-document
  * closures run here).
  *
  * Each round is one join (edges ⋈ frontier) whose strategy is left to
  * the optimizer on purpose: a thin frontier broadcasts (the edge side
  * then never shuffles — the common case, since a BFS level is a small
  * slice of the graph), a fat one falls back to a shuffle join with AQE
  * skew-splitting. Forcing a fixed co-partitioned layout here was
  * measured SLOWER (round 6): it pre-pays a full edge-table exchange to
  * optimize away per-round shuffles that the broadcast regime never
  * performs. Rounds = longest path length. The input is a FOREST: every
  * child has exactly one parent (CoNLL HEAD columns by construction), so
  * each node is reached exactly once and a round is just the one join,
  * with no seen-filter and no min-depth regroup; a multi-parent child
  * fails the call. Each round's one job is
  * [[Fixpoint.checkpointCounting]]: it truncates lineage and
  * counts the new frontier (the drain trigger) in the same pass; node ids
  * never pass through the counting UDF, so they keep their input type.
  * Under [[graft.Sizing.localMaxEdges]] counted edges the closure takes
  * the one driver finish of the graph fixpoints, [[Fixpoint.driverFinish]],
  * with an in-memory level BFS of the same semantics.
  */
object IterativeClosure {

  private val MultiParent =
    "IterativeClosure.depths takes a forest (every child has exactly one parent), " +
      "but a child has multiple parents"
  private def undrained(maxIter: Int) = s"BFS closure did not drain the frontier in $maxIter " +
    "rounds — path length exceeds the budget (or a root-reachable cycle)"

  /** @param edges (child, parent) rows — a forest pointing rootward; a
    *              child with two rows fails the call
    * @param roots (node) rows with depth 0
    * @return (node, depth) for every node reachable from a root by
    *         following child←parent edges downward. */
  def depths(spark: SparkSession, edges: DataFrame, roots: DataFrame,
             maxIter: Int = 64): DataFrame = {
    import spark.implicits._
    // at-least-once reading: it only routes, an inflated one keeps a
    // small graph distributed
    val (e, eCount) = Fixpoint.checkpointCounting(
      edges.select($"child", $"parent"), lit(true), "closure_edges")
    // Small-graph cutover (Fixpoint.driverFinish): under the bound
    // the edges and roots are collected once (a block read of the
    // checkpoint) and the level-synchronous BFS runs in memory with the
    // identical forest check and maxIter failure — depth-many rounds of
    // scheduling cost over a small graph (q30's det token trees: 7
    // levels, 4.5 s warm at sf0.1) become one collect.
    val local = Fixpoint.driverFinish(e, eCount)(levelBfs(roots, maxIter))
    if (local.isDefined) return local.get
    // the forest contract is load-bearing (without a seen-filter a
    // multi-parent child would re-enter the frontier every round as
    // silently duplicated rows) — verify it against the checkpointed
    // edges, once per call, same discipline as
    // ConnectedComponents.assertComponentLabels
    require(e.groupBy($"child").count().filter($"count" > 1).isEmpty, MultiParent)
    var labeled = roots.select($"node").distinct()
      .withColumn("depth", lit(0)).localCheckpoint()
    var frontier = labeled
    var i = 0
    var done = false
    while (!done && i < maxIter) {
      // the frontier count replaces a separate isEmpty action, and
      // `labeled` is NOT re-checkpointed: it is a union of already-
      // checkpointed frontiers, so its lineage stays shallow (≤ rounds)
      // with no extra job per round. An empty reading is only the
      // TRIGGER: it is CONFIRMED by isEmpty on the checkpointed table
      // before the loop exits, so a lost bump can cost one cheap confirm,
      // never a truncated closure.
      val reached = e.join(frontier, e("parent") === frontier("node"))
        .select(e("child").as("node"), (frontier("depth") + 1).as("depth"))
      val (next, size) = Fixpoint.checkpointCounting(reached, lit(true), s"bfs_frontier_$i")
      if (size == 0L && next.isEmpty) done = true
      else {
        labeled = labeled.union(next)
        frontier = next
      }
      i += 1
    }
    // a truncated closure (budget exhausted with a non-empty frontier)
    // would silently omit every node deeper than maxIter — fail loudly
    // like the ConnectedComponents loops (64 levels covers any real
    // HEAD-tree; hitting the cap means a cycle reached from a root or a
    // mis-set budget, not a big corpus)
    require(done, undrained(maxIter))
    labeled
  }

  /** Driver-side level-synchronous BFS over collected (child, parent)
    * rows — the solver `depths` passes to [[Fixpoint.driverFinish]].
    * Semantics mirror the distributed loop exactly: same forest-contract
    * check (row counts per child, not distinct parents), propagation
    * WITHOUT a seen-filter (a root that is also some node's child is
    * re-emitted at its reached depth, as the distributed join does), and
    * an undrained frontier after maxIter rounds fails with the same loud
    * message. */
  private def levelBfs(roots: DataFrame, maxIter: Int)(
      es: Array[Row]): (StructType, Seq[Row]) = {
    require(es.map(_.get(0)).distinct.length == es.length, MultiParent)
    val children = es.groupMap(_.get(1))(_.get(0))
    val node = roots.select(col("node"))
    var frontier: Seq[(Any, Int)] = node.distinct().collect().toSeq.map(r => (r.get(0), 0))
    val labeled = scala.collection.mutable.ArrayBuffer[(Any, Int)]() ++= frontier
    var i = 0
    var done = false
    while (!done && i < maxIter) {
      val reached = frontier.flatMap { case (n, d) =>
        children.getOrElse(n, Array.empty[Any]).map(c => (c, d + 1))
      }
      if (reached.isEmpty) done = true
      else { labeled ++= reached; frontier = reached }
      i += 1
    }
    require(done, undrained(maxIter))
    (StructType(Seq(StructField("node", node.schema.head.dataType), StructField("depth", IntegerType))),
      labeled.toSeq.map { case (n, d) => Row(n, d) })
  }
}
