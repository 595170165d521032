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
  * performs. Rounds = longest path length. In the general DAG regime an
  * anti-join against the already-labeled set and a min-depth regroup
  * deduplicate multi-path reaches; for a FOREST (every child has
  * exactly one parent — CoNLL HEAD columns by construction) each node
  * is reached exactly once, so `forest = true` skips both. Each round's
  * one job is [[Fixpoint.checkpointCounting]]: it truncates lineage and
  * counts the new frontier (the drain trigger) in the same pass; node ids
  * never pass through the counting UDF, so they keep their input type.
  * Under [[graft.Sizing.localMaxEdges]] counted edges the closure takes
  * the one driver finish of the graph fixpoints, [[Fixpoint.driverFinish]],
  * with an in-memory level BFS of the same semantics.
  */
object IterativeClosure {

  /** @param edges  (child, parent) rows — a forest/DAG pointing rootward
    * @param roots  (node) rows with depth 0
    * @param forest every child has exactly ONE parent (single-HEAD
    *               trees): BFS reaches each node exactly once, so the
    *               seen-filter and min-depth regroup are provably no-ops
    *               and are skipped — the round is just the one join.
    *               Leave false for general DAGs / multi-parent graphs.
    * @return (node, depth) for every node reachable from a root by
    *         following child←parent edges downward. */
  def depths(spark: SparkSession, edges: DataFrame, roots: DataFrame,
             maxIter: Int = 64, forest: Boolean = false): DataFrame = {
    import spark.implicits._
    // at-least-once reading: it only routes, an inflated one keeps a
    // small graph distributed
    val (e, eCount) = Fixpoint.checkpointCounting(
      edges.select($"child", $"parent"), lit(true), "closure_edges")
    // Small-graph cutover (Fixpoint.driverFinish): under the bound
    // the edges and roots are collected once (a block read of the
    // checkpoint) and the level-synchronous BFS runs in memory with the
    // identical forest check, min-depth regime and maxIter failure —
    // depth-many rounds of scheduling cost over a small graph (q30's det
    // token trees: 7 levels, 4.5 s warm at sf0.1) become one collect.
    val local = Fixpoint.driverFinish(e, eCount)(levelBfs(roots, maxIter, forest))
    if (local.isDefined) return local.get
    // the forest contract is load-bearing (it justifies skipping the
    // seen-filter, and a multi-parent child would re-enter the frontier
    // every round as silently duplicated rows) — verify it against the
    // checkpointed edges, once per call, same discipline as
    // ConnectedComponents.assertComponentLabels
    if (forest) {
      val multi = e.groupBy($"child").count().filter($"count" > 1)
      require(multi.isEmpty,
        "forest=true but a child has multiple parents — use forest=false " +
          "for DAG/multi-parent inputs")
    }
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
      val (next, size) = Fixpoint.checkpointCounting(
        if (forest) reached
        else reached
          .join(labeled.select($"node".as("seen")), $"node" === $"seen", "left_anti")
          .groupBy($"node").agg(min($"depth").as("depth")),
        lit(true),
        s"bfs_frontier_$i")
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
    require(done,
      s"BFS closure did not drain the frontier in $maxIter rounds — " +
        "path length exceeds the budget (or a root-reachable cycle)")
    labeled
  }

  /** Driver-side level-synchronous BFS over collected (child, parent)
    * rows — the solver `depths` passes to [[Fixpoint.driverFinish]].
    * Semantics mirror the distributed loop exactly: same forest-contract
    * check (row counts per child, not distinct parents), forest mode
    * propagates WITHOUT a seen-filter (a root that is also some node's
    * child is re-emitted at its reached depth, as the distributed join
    * does), DAG mode labels each node once at its minimum depth, and an
    * undrained frontier after maxIter rounds fails with the same loud
    * message. */
  private def levelBfs(roots: DataFrame, maxIter: Int, forest: Boolean)(
      es: Array[Row]): (StructType, Seq[Row]) = {
    if (forest) {
      val perChild = new java.util.HashMap[Any, Integer]()
      es.foreach { r =>
        val c = r.get(0)
        val n = perChild.get(c)
        perChild.put(c, if (n == null) 1 else n + 1)
      }
      val it = perChild.values().iterator()
      var multi = false
      while (it.hasNext && !multi) multi = it.next() > 1
      require(!multi,
        "forest=true but a child has multiple parents — use forest=false " +
          "for DAG/multi-parent inputs")
    }
    val children = new java.util.HashMap[Any, scala.collection.mutable.ArrayBuffer[Any]]()
    es.foreach { r =>
      var b = children.get(r.get(1))
      if (b == null) { b = scala.collection.mutable.ArrayBuffer[Any](); children.put(r.get(1), b) }
      b += r.get(0)
    }
    val rootVals = roots.select(col("node"))
      .distinct().collect().map(_.get(0))
    val nodeDt = roots.select(col("node"))
      .schema.head.dataType
    val labeled = scala.collection.mutable.ArrayBuffer[(Any, Int)]()
    val seen = new java.util.HashSet[Any]()
    rootVals.foreach { v => labeled += ((v, 0)); if (!forest) seen.add(v) }
    var frontier: Seq[(Any, Int)] = rootVals.toSeq.map(v => (v, 0))
    var i = 0
    var done = false
    while (!done && i < maxIter) {
      val reached = frontier.flatMap { case (n, d) =>
        val cs = children.get(n)
        if (cs == null) Nil else cs.map(c => (c, d + 1))
      }
      val next =
        if (forest) reached
        else reached.filter { case (n, _) => seen.add(n) } // first reach = min depth (level order)
      if (next.isEmpty) done = true
      else { labeled ++= next; frontier = next }
      i += 1
    }
    require(done,
      s"BFS closure did not drain the frontier in $maxIter rounds — " +
        "path length exceeds the budget (or a root-reachable cycle)")
    (StructType(Seq(StructField("node", nodeDt), StructField("depth", IntegerType))),
      labeled.toSeq.map { case (n, d) => Row(n, d) })
  }
}
