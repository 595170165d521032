package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.udf

/** The one materialization round of the graph fixpoints (CC min-label,
  * CC large-star/small-star, BFS closure, PageRank): each checkpoints its
  * input edges and every round with it. */
object Fixpoint {

  /** Eagerly `localCheckpoint` `df`, counting in the same job the rows on
    * which `counted` holds (null counts as false, as in `filter`).
    *
    * The count rides a throwaway Boolean column whose UDF bumps a fresh
    * accumulator named `name`, so no key or label column passes through a
    * UDF and every column keeps its type. The UDF is marked non-deterministic
    * so the optimizer may neither fold a constant `counted` nor move or
    * repeat the bump. The reading is at-least-once (a task retry can
    * inflate it): callers use it as a convergence TRIGGER and confirm an
    * exit exactly, or to route (the driver cutover, the exchange width),
    * where an inflated reading only keeps a small graph distributed.
    *
    * @return the checkpointed frame (`df`'s columns) and the reading */
  def checkpointCounting(df: DataFrame, counted: Column, name: String): (DataFrame, Long) = {
    val acc = df.sparkSession.sparkContext.longAccumulator(name)
    val bump = udf { (hit: Boolean) => if (hit) acc.add(1); hit }.asNondeterministic()
    val out = df.withColumn("_counted", bump(counted)).localCheckpoint().drop("_counted")
    (out, acc.value)
  }
}
