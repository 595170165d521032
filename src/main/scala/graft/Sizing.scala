package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The one measured-size routing policy: every exchange width, state-store
  * width, broadcast bound and driver cutover the engine sizes from data.
  *
  * Widths follow one formula, `ceil(units / perPartition)` floored at 1
  * and capped at 4× the session's parallelism, over either on-disk bytes
  * (read from the path's own Hadoop FileSystem, any scheme) or rows the
  * caller has already counted. A small input gets a narrow exchange
  * instead of core-count tasks over kilobytes; at scale the width reaches
  * the cap. A byte width whose input cannot be measured (missing path,
  * 0 bytes) is 0: the caller keeps Spark's session-wide shuffle width,
  * never width 1.
  */
object Sizing {

  /** Bytes per exchange partition for byte-sized widths. */
  val TargetPartitionBytes: Long = 64L << 20

  /** Rows per partition for the CC fixpoint loops, sized from counted edges. */
  val EdgesPerPartition: Long = 250000L

  /** Row bound under which a join side is broadcast: the gazetteer in
    * `EntityLinker.linkUnioned` (at most this many rows: the fused
    * map-side lookup; more: a plain equi-join whose strategy is
    * Catalyst's) and the component table in `EntityLinker.canonicalize`.
    * ~1M string pairs is tens of MB. */
  val BroadcastRows: Int = 1000000

  /** Edge-count bound under which the graph fixpoints finish on the
    * driver: connected components (`run`, `runStar`), the BFS of
    * `IterativeClosure.depths` and q48's PageRank. Over a small graph
    * every distributed round is pure scheduling overhead; the driver
    * path computes the identical result. 0 disables the cutover. It is
    * the only `spark.graft.*` key the engine reads. */
  val LocalMaxEdgesKey = "spark.graft.cc.localMaxEdges"

  /** ceil(units / perPartition), floored at 1, capped at 4 × parallelism. */
  def width(units: Long, perPartition: Long, parallelism: Int): Int =
    math.max(1L, math.min(math.ceil(units.toDouble / perPartition).toLong, parallelism * 4L)).toInt

  def width(spark: SparkSession, units: Long, perPartition: Long): Int =
    width(units, perPartition, spark.sparkContext.defaultParallelism)

  /** Total bytes under `path` on its own FileSystem; 0 when it is missing. */
  def bytes(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    try p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
    catch { case _: java.io.FileNotFoundException => 0L }
  }

  /** Exchange width for rows fed by `path`'s bytes; 0 (keep the session
    * width) when the path is missing or empty. */
  def byteWidth(spark: SparkSession, path: String): Int = {
    val b = bytes(spark, path)
    if (b <= 0) 0 else width(spark, b, TargetPartitionBytes)
  }

  /** `df` hash-partitioned on `cols` at `width`, or as is when `width`
    * is 0 (unmeasured: the next operator's session-width exchange). */
  def repartition(df: DataFrame, width: Int, cols: Column*): DataFrame =
    if (width > 0) df.repartition(width, cols: _*) else df

  /** The driver-cutover bound ([[LocalMaxEdgesKey]], default 500k). A
    * value that is not a whole number ≥ 0 fails naming the key: a
    * negative bound would act as 0 under another spelling. */
  def localMaxEdges(spark: SparkSession): Long =
    spark.conf.getOption(LocalMaxEdgesKey).fold(500000L) { v =>
      v.trim.toLongOption.filter(_ >= 0).getOrElse(throw new IllegalArgumentException(
        s"$LocalMaxEdgesKey must be a whole number of edges, 0 or more, got '$v'"))
    }

  /** `key` is in the engine's conf namespace but is not a key it reads,
    * so setting it would change nothing. */
  def ignoredKey(key: String): Boolean =
    key.startsWith("spark.graft.") && key != LocalMaxEdgesKey
}
