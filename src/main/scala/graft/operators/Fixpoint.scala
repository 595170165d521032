package graft.operators

import graft.Sizing
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types.StructType

/** The one materialization round of the graph fixpoints (CC min-label,
  * CC large-star/small-star, BFS closure, PageRank): each checkpoints its
  * input edges and every round with it. And their one driver finish: a
  * counted checkpoint under [[Sizing.localMaxEdges]] is solved on the
  * driver instead of in distributed rounds. */
object Fixpoint {

  /** Eagerly `localCheckpoint` `df`, counting in the same job the rows on
    * which `counted` holds (null counts as false, as in `filter`).
    *
    * The count rides a throwaway Boolean column whose UDF bumps a fresh
    * accumulator named `name`, so no key or label column passes through a
    * UDF and every column keeps its type. The UDF is marked non-deterministic
    * so the optimizer may neither fold a constant `counted` nor move or
    * repeat the bump. The reading is at-least-once (a task retry can
    * inflate it): callers use it as a convergence TRIGGER whose firing an
    * exact check must confirm, or to size and route (the driver cutover,
    * the exchange width, CC's node count for the canonicalize broadcast),
    * where an inflated reading only keeps a small graph distributed or a
    * small table unbroadcast.
    *
    * @return the checkpointed frame (`df`'s columns) and the reading */
  def checkpointCounting(df: DataFrame, counted: Column, name: String): (DataFrame, Long) = {
    val (out, Seq(n)) = checkpointCounts(df, Seq(counted), name)
    (out, n)
  }

  /** [[checkpointCounting]] with one counter per predicate in `counted`,
    * all read in the one checkpoint job; each accumulator is named
    * `name`. */
  def checkpointCounts(df: DataFrame, counted: Seq[Column], name: String): (DataFrame, Seq[Long]) = {
    val sc = df.sparkSession.sparkContext
    val accs = counted.map(_ => sc.longAccumulator(name))
    val flags = counted.indices.map(k => s"_counted$k")
    val marked = counted.indices.foldLeft(df) { (d, k) =>
      val acc = accs(k)
      val bump = udf { (hit: Boolean) => if (hit) acc.add(1); hit }.asNondeterministic()
      d.withColumn(flags(k), bump(counted(k)))
    }
    (marked.localCheckpoint().drop(flags: _*), accs.map(_.value.longValue))
  }

  /** The small-graph cutover of every graph fixpoint (CC `run` and
    * `runStar`, `IterativeClosure.depths`, q48's PageRank): over a graph
    * that fits one task each distributed round is pure scheduling cost.
    * When `reading`, the at-least-once size of the checkpointed `edges`
    * (from [[checkpointCounting]]), is at most [[Sizing.localMaxEdges]],
    * `edges` is collected, `solve` computes the fixpoint from its rows on
    * the driver, and the solver's rows come back as a one-partition frame
    * with the solver's schema. Otherwise None: the caller runs its
    * distributed rounds. An inflated reading only keeps a small graph
    * distributed; the reading is ≥ the true size, so the cutover never
    * fires on a graph over the bound.
    *
    * @param solve the driver solver: collected edge rows → (schema, rows) */
  def driverFinish(edges: DataFrame, reading: Long)(
      solve: Array[Row] => (StructType, Seq[Row])): Option[DataFrame] = {
    val spark = edges.sparkSession
    if (reading > Sizing.localMaxEdges(spark)) None
    else {
      val (schema, rows) = solve(edges.collect())
      Some(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema))
    }
  }
}
