package graft.operators

import graft.Sizing
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed connected components by iterative min-label propagation.
  *
  * Used for entity canonicalization (north_rule): nodes are entity ids,
  * edges are sameness evidence; the component label (= minimum node id in
  * the component) becomes the canonical id.
  *
  * Scale notes:
  *  - each iteration is one shuffle (join on `src`) + one aggregation;
  *    iteration count is bounded by the graph diameter. Entity-sameness
  *    graphs are short-diameter (star-shaped around canonical mentions),
  *    so this converges in a handful of rounds; for adversarially long
  *    chains switch to the large-star/small-star variant (doubles label
  *    reach per round, O(log n) rounds).
  *  - `localCheckpoint` truncates lineage every iteration so the plan
  *    doesn't grow with the loop (SURVEY §4 "fixpoint executor").
  *  - convergence: each round is one [[Fixpoint.checkpointCounts]]
  *    job, whose at-least-once count (changed labels; runStar: surviving
  *    edges) is the cheap TRIGGER only (ADVICE r5 / VERDICT r5 #1 — the
  *    trigger-only variant produced one nondeterministic wrong-label run).
  *    Both loops exit on ONE exact test, run only on rounds where the
  *    trigger fires (normally once per call): every edge of the
  *    checkpointed input has endpoints that share one label, and none is
  *    unlabeled ([[isFixpoint]]). With the label invariant
  *    min(component) ≤ label ≤ node, a passing test alone proves the
  *    exact min-label answer, so no early-convergence anomaly, known or
  *    unknown, can exit a loop; a failing one keeps it looping into the
  *    `maxIter` failure.
  *  - small-graph cutover: both loops pass their counted edges and a
  *    driver union-find to the one driver finish, [[Fixpoint.driverFinish]]:
  *    under [[Sizing.localMaxEdges]] edges the fixpoint is solved on the
  *    driver instead of in rounds that each schedule 3+ exchanges and a
  *    checkpoint over data that fits in one task (q42's ~480-edge chain
  *    graph paid 4.5 s of warm wall at sf0.1). Both loops already count
  *    their edges for the convergence trigger, so the probe is free;
  *    runStar's contraction hands the O(log n) tail rounds to the driver
  *    once the count drops under the bound. The union-find takes the
  *    minimum member under the ordering Spark's MIN uses for the key
  *    type, so it computes the identical fixpoint; LocalCcSpec pins
  *    local == distributed, non-BMP strings included.
  *  - widths: every round's exchanges are sized from the measured edge
  *    count ([[Sizing.width]], recomputed per round as the star
  *    contraction shrinks the graph); an explicit width also pins both
  *    sides of a round's agg+join pair to one co-partitioned layout (AQE
  *    never coalesces a user-specified width).
  */
object ConnectedComponents {

  /** Orderings matching Spark's MIN/comparison semantics for the key
    * types the CC entries use; None → no local path (defensive). Strings
    * compare as unsigned UTF-8 bytes, as Spark's do: Java's UTF-16
    * order differs on non-BMP characters (U+1F600 < U+FFFD in UTF-16). */
  private def orderingFor(dt: DataType): Option[Ordering[Any]] = {
    import org.apache.spark.unsafe.types.UTF8String
    dt match {
      case StringType  => Some(Ordering.fromLessThan[Any]((a, b) =>
        UTF8String.fromString(a.asInstanceOf[String])
          .binaryCompare(UTF8String.fromString(b.asInstanceOf[String])) < 0))
      case LongType    => Some(Ordering.Long.on[Any](_.asInstanceOf[Long]))
      case IntegerType => Some(Ordering.Int.on[Any](_.asInstanceOf[Int]))
      case _           => None
    }
  }

  /** Driver-side union-find over collected (a, b) edge rows — the
    * solver both loops pass to [[Fixpoint.driverFinish]]: one
    * (node, minimum-of-component) row per distinct endpoint, under the
    * loop outputs' exact schema. Path-compressed, union-by-size;
    * O(E α(E)) — sub-millisecond at the cutover bound. */
  private def unionFind(dt: DataType, ord: Ordering[Any])(edges: Array[Row]): (StructType, Seq[Row]) = {
    val idx = new java.util.HashMap[Any, Integer]()
    val nodes = scala.collection.mutable.ArrayBuffer[Any]()
    def id(v: Any): Int = {
      val existing = idx.get(v)
      if (existing != null) existing.intValue()
      else { val i = nodes.length; idx.put(v, Integer.valueOf(i)); nodes += v; i }
    }
    val parent = scala.collection.mutable.ArrayBuffer[Int]()
    val size = scala.collection.mutable.ArrayBuffer[Int]()
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    for (e <- edges) {
      val ia = id(e.get(0)); val ib = id(e.get(1))
      while (parent.length < nodes.length) { parent += parent.length; size += 1 }
      val ra = find(ia); val rb = find(ib)
      if (ra != rb) {
        if (size(ra) < size(rb)) { parent(ra) = rb; size(rb) += size(ra) }
        else { parent(rb) = ra; size(ra) += size(rb) }
      }
    }
    // minimum member per root, under the column type's ordering
    val minOf = new java.util.HashMap[Int, Any]()
    var i = 0
    while (i < nodes.length) {
      val r = find(i)
      val cur = minOf.get(r)
      if (cur == null || ord.lt(nodes(i), cur)) minOf.put(r, nodes(i))
      i += 1
    }
    (StructType(Seq(StructField("node", dt), StructField("component", dt))),
      (0 until nodes.length).map(j => Row(nodes(j), minOf.get(find(j)))))
  }

  /** @param edges DataFrame with two columns `src`, `dst` of one key type
    *        (undirected).
    * @return DataFrame(node, component) of that type — component is the
    *         smallest node id reachable from `node`, in the order Spark's
    *         MIN uses (strings: UTF-8 bytes).
    *         Labels that do not converge in `maxIter` rounds (silently
    *         WRONG on any node a distant minimum has not reached yet) fail
    *         loudly instead.
    */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 50): DataFrame =
    runCounted(spark, edges, maxIter)._1

  /** [[run]] and the number of its rows (one per node), read without a
    * job of its own: exact on the driver finish (the union-find's row
    * count); on the distributed path the at-least-once row counter of
    * the last round, counted in that round's checkpoint job, so a
    * reading is ≥ the true count. */
  def runCounted(spark: SparkSession, edges: DataFrame, maxIter: Int = 50): (DataFrame, Long) = {
    import spark.implicits._
    // The symmetrized edges are checkpointed once, unpartitioned: a
    // localCheckpoint reports UnknownPartitioning (Spark 4.1, AQE on), so
    // a repartition(p, src) ahead of a second checkpoint could not carry
    // its layout into the rounds — it cost two extra jobs per call while
    // the seed groupBy and every round's labels⋈sym join still planned
    // their own exchange on src.
    // The checkpoint counts its rows in the same job. The reading is
    // at-least-once, so it only routes: a retry-inflated count keeps a
    // small graph distributed or widens the rounds, never mislabels.
    val (sym, symCount) = Fixpoint.checkpointCounting(
      edges.select($"src", $"dst")
        .union(edges.select($"dst".as("src"), $"src".as("dst")))
        .filter($"src" =!= $"dst")
        .distinct(),
      lit(true), "cc_sym_edges")
    // Small-graph cutover (see the object doc): the measured symmetrized
    // edge count is already in hand for the width sizing; under the
    // bound the whole fixpoint is one driver union-find instead of
    // diameter-many shuffle rounds. sym IS the exact input graph here,
    // so the union-find result is the exact min-label fixpoint by
    // construction — the convergence trigger and the exit test have
    // nothing left to check. Its row count is the node count.
    val dt = sym.schema("src").dataType
    var localNodes = 0L
    val local = orderingFor(dt).flatMap(ord =>
      Fixpoint.driverFinish(sym, symCount) { rows =>
        val solved = unionFind(dt, ord)(rows)
        localNodes = solved._2.size
        solved
      })
    if (local.isDefined) return (local.get, localNodes)
    val p = Sizing.width(spark, symCount, Sizing.EdgesPerPartition)

    // seed with min(node, direct neighbors): the state after one
    // propagation round of the node-id init, computed inside the same
    // aggregation that enumerates the nodes (no join) — one fewer
    // iteration for free, same fixpoint. The seed is a plan over sym,
    // computed inside round 0's job, which reads it twice: as the old
    // labels and through the join. The not-null filter (a no-op: sym
    // has no null key) is the one the join infers for its read alone;
    // with it in both reads they are one plan, and AQE runs their
    // aggregation's exchange once.
    var labels = sym.filter($"src".isNotNull).groupBy($"src").agg(min($"dst").as("m"))
      .select($"src".as("node"), least($"src", $"m").as("lbl"))
    val lblType = labels.schema("lbl").dataType
    // sym's columns renamed: while the labels are a plan over sym, a
    // join on sym("src") could not tell the two sides' columns apart
    val adj = sym.select($"src".as("from"), $"dst".as("to"))

    var converged = false
    var nodes = 0L
    var i = 0
    while (!converged && i < maxIter) {
      val prop = labels.join(adj, $"node" === $"from").select($"to".as("node"), $"lbl")
      // The old label rides the min-aggregation as a second column, so
      // the changed-label count needs no compare job. `changed == 0` is
      // only the TRIGGER for the exact exit test (see the object doc),
      // checked against the CHECKPOINTED symmetrized edges, not the
      // caller's raw plan: the input may hang off an expensive
      // un-persisted chain that a second traversal would recompute in
      // full. A spurious trigger costs one test, a suppressed one a spare
      // round; neither can mislabel. The second counter counts the
      // round's rows, one per node: the last round's is the node count.
      val (next, Seq(changed, rows)) = Fixpoint.checkpointCounts(
        labels.select($"node", $"lbl", $"lbl".as("old"))
          .union(prop.withColumn("old", lit(null).cast(lblType)))
          .repartition(p, $"node")
          .groupBy($"node").agg(min($"lbl").as("lbl"), max($"old").as("old")),
        Seq($"old".isNull || $"lbl" =!= $"old", lit(true)),
        s"cc_round_$i")
      labels = next.select($"node", $"lbl")
      converged = changed == 0 && isFixpoint(sym, labels.select($"node", $"lbl".as("component")))
      nodes = rows
      i += 1
    }
    // non-convergence means silently-wrong labels (a label may not yet
    // have propagated across a long chain) — fail loudly; callers with
    // high-diameter graphs should use runStar (O(log n) rounds)
    require(converged,
      s"min-label CC did not converge in $maxIter rounds — graph diameter " +
        "exceeds the round budget; use runStar for high-diameter graphs")
    (labels.select($"node", $"lbl".as("component")), nodes)
  }

  /** The exact fixpoint test (VERDICT r5 #1a): the exit test of `run`
    * and `runStar`.
    *
    * Exactness argument, independent of any accumulator or convergence
    * trigger: both algorithms maintain the invariant
    * `min(component(v)) ≤ label(v) ≤ v` (`run` seeds labels from node
    * ids and only ever replaces them by minima of existing labels;
    * `runStar` reads them off edges v < u inside one component). If every
    * edge's endpoints carry the SAME label, labels are constant per
    * component; the component's minimum node m has label ≤ m by the
    * invariant and ≥ min(component) = m, so the constant IS m — i.e.
    * edge-wise label equality ⟹ the exact min-label answer. A missing
    * endpoint (node dropped from the label table) is also a violation.
    * Cost: one join over the edge set.
    *
    * @param edges  (src, dst) rows
    * @param labels (node, component) rows */
  private def isFixpoint(edges: DataFrame, labels: DataFrame): Boolean = {
    val l1 = labels.select(col("node").as("src"), col("component").as("lsrc"))
    val l2 = labels.select(col("node").as("dst"), col("component").as("ldst"))
    edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .join(l1, Seq("src"), "left").join(l2, Seq("dst"), "left")
      .filter(col("lsrc").isNull || col("ldst").isNull ||
        col("lsrc") =!= col("ldst"))
      .isEmpty
  }

  /** [[isFixpoint]] or a loud error: any early-convergence anomaly
    * becomes a failure instead of a wrong hash. */
  def assertComponentLabels(edges: DataFrame, labels: DataFrame): Unit =
    require(isFixpoint(edges, labels),
      "CC labels are not a fixpoint: an edge joins two different labels " +
        "(or an endpoint is unlabeled) — convergence was declared early")

  /** Connected components by alternating large-star / small-star rounds
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond" — a public-literature algorithm): each round contracts the
    * graph toward per-component stars centered at the minimum node, so
    * label reach DOUBLES per round and convergence is O(log n) rounds
    * regardless of diameter. This is the scale path for long-chain /
    * high-diameter evidence graphs where `run`'s min-label propagation
    * needs diameter-many rounds (a 10^12-doc provenance chain has
    * diameter ~10^10: min-label never finishes, large-star needs ~35
    * rounds). For short-diameter graphs (the gazetteer bucket stars)
    * `run` is cheaper per round — callers pick by graph shape.
    *
    *  - large-star: per node u, connect every LARGER neighbor to
    *    m = min(N(u) ∪ {u});
    *  - small-star: orient edges large→small; per node u, connect u and
    *    every smaller neighbor to the minimum;
    *  - exit: `run`'s rule. When a round keeps the edge count (the
    *    counted checkpoint's trigger), its labels are read off — each
    *    node u gets every v of an edge (u → v), each target v gets
    *    itself — and returned, checkpointed, if [[isFixpoint]] passes
    *    against the checkpointed input edges. Every round emits edges
    *    with v < u inside one component, so each read-off label of a node
    *    is a node of its component no larger than it: min(component) ≤
    *    label ≤ node, the test's invariant. A node with two read-off labels
    *    fails the test on any of its edges (the join pairs each of its
    *    labels with each of a neighbour's), so a passing test proves the
    *    exact min-label answer even on a round whose edge set is not yet
    *    a star; a failing one loops on into the `maxIter` failure.
    */
  def runStar(spark: SparkSession, edges: DataFrame, maxIter: Int = 50): DataFrame =
    runStarStats(spark, edges, maxIter)._1

  /** runStar + the number of large-star/small-star rounds taken — the
    * measurable O(log n) evidence (a diameter-d chain converges in
    * ~log2(d) rounds, not d). */
  def runStarStats(spark: SparkSession, edges: DataFrame, maxIter: Int = 50): (DataFrame, Int) = {
    import spark.implicits._
    // the checkpointed input edges are the exit test's reference:
    // re-traversing the caller's raw plan would recompute its full
    // upstream chain (q34's LSH cascade) a second time
    var (e, eCount) = Fixpoint.checkpointCounting(
      edges.select($"src".as("u"), $"dst".as("v")).filter($"u" =!= $"v").distinct(),
      lit(true), "star_edges_in")
    val input = e.select($"u".as("src"), $"v".as("dst"))
    var out: Option[DataFrame] = None
    var i = 0
    // Small-graph cutover (see the object doc): checked at every round
    // head, because the star contraction shrinks the edge set
    // geometrically — at 100 TB the first rounds run distributed and the
    // O(log n) tail (tiny data, full per-round scheduling cost) finishes
    // as one driver union-find. Components and the per-component minimum
    // are invariants of the star rounds (edges only ever connect nodes
    // of one component and the minimum is always retained as a target),
    // so the union-find over the CONTRACTED edges yields the identical
    // label set. At i == 0 it ran on exactly the input edges, exact by
    // construction; after contracted rounds a failed exit test is a bug
    // and fails loudly.
    val dt = e.schema("u").dataType
    val ord = orderingFor(dt)
    while (out.isEmpty && i < maxIter) {
      out = ord.flatMap(o => Fixpoint.driverFinish(e, eCount)(unionFind(dt, o)))
      if (out.isEmpty) {
        val (ss, ssCount) = starRound(spark, e, eCount, i)
        // An unchanged count is only the TRIGGER for the exact exit test
        // (see runStar): it also fires on rounds whose labels are not yet
        // exact (a chain keeps one edge per non-minimum node for several
        // rounds), and a retry-inflated count fires it spuriously or
        // suppresses it for a round. Each costs a failed test or a spare
        // round; none can mislabel. The read-off is checkpointed only
        // once it passed.
        if (ssCount == eCount) {
          val labels = ss.select($"u".as("node"), $"v".as("component"))
            .union(ss.select($"v".as("node"), $"v".as("component")))
            .distinct()
          if (isFixpoint(input, labels)) out = Some(labels.localCheckpoint())
        }
        e = ss
        eCount = ssCount
        i += 1
      } else if (i > 0) assertComponentLabels(input, out.get)
    }
    // labels that failed every exit test in maxIter rounds may be wrong
    // with no signal (ADVICE r4). 50 rounds covers diameter 2^50; hitting
    // the cap means a bug, not a big graph — fail loudly instead of
    // mislabeling.
    require(out.isDefined,
      s"large-star/small-star CC did not converge in $maxIter rounds")
    (out.get, i)
  }

  /** One large-star + small-star round over the distinct edges `e`
    * (`eCount` of them, at-least-once), checkpointed with its own
    * at-least-once edge count. */
  private def starRound(spark: SparkSession, e: DataFrame, eCount: Long, i: Int): (DataFrame, Long) = {
    import spark.implicits._
    // Each star pass shares ONE exchange between its aggregation and
    // its join: the adjacency is explicitly hash-partitioned on `u`
    // at the width the CURRENT edge count calls for (the count is
    // already tracked for the convergence trigger; the contraction
    // shrinks the graph round over round), so the groupBy needs no
    // further shuffle and the subsequent join finds both sides
    // co-partitioned. Three exchanges per round total (sym, ori,
    // final dedup) — the naive formulation paid ~six, all at the
    // session default width regardless of graph size.
    val p = Sizing.width(spark, eCount * 2, Sizing.EdgesPerPartition)
    // large-star over the symmetrized adjacency
    val sym = e.select($"u", $"v").union(e.select($"v".as("u"), $"u".as("v")))
      .repartition(p, $"u")
    val mins = sym.groupBy($"u").agg(min($"v").as("mv"))
      .select($"u", least($"mv", $"u").as("m"))
    // no dedup here: the orientation step aggregates again anyway, and
    // u' = v > v' = m holds by construction (m ≤ u < v), so no self-loops
    val ls = sym.filter($"v" > $"u")
      .join(mins, "u")
      .select($"v".as("u"), $"m".as("v"))
    // small-star over large→small oriented edges; duplicate oriented
    // edges are harmless (MIN is duplicate-invariant, the final
    // distinct dedups the round's output), so the mid-round dedup
    // exchange is dropped in favor of the u-partitioning the agg+join
    // pair reuses
    val ori = ls.select(greatest($"u", $"v").as("u"), least($"u", $"v").as("v"))
      .repartition(p, $"u")
    val mins2 = ori.groupBy($"u").agg(min($"v").as("m"))
    // The counted round replaces a per-round count() action.
    Fixpoint.checkpointCounting(
      ori.join(mins2, "u")
        .select($"v".as("u"), $"m".as("v"))
        .union(mins2.select($"u", $"m".as("v")))
        .filter($"u" =!= $"v")
        // dedup rides an explicit (u, v) exchange at width p: the
        // aggregate behind dropDuplicates sees the clustering satisfied
        // and inserts no second, session-default-width shuffle
        .repartition(p, $"u", $"v").dropDuplicates(),
      lit(true),
      s"star_edges_$i")
  }
}
