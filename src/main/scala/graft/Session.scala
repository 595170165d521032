package graft

import org.apache.spark.sql.SparkSession

/** The one session policy of the shipped entry points: `graft.Main`, the
  * `graft.tools.Probe` verbs and the test suite. The frozen `Bench` and
  * `Verify` keep their own builders; `SessionSpec` pins that this policy
  * sets each of Bench's keys to Bench's value, except the ones
  * [[localKeys]] documents as local-only.
  */
object Session {

  /** Set on every session. */
  val keys: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    // collect_list/collect_set aggs: keep ObjectHashAggregate hashing
    // instead of its 128-group sort-based fallback (measured ~5-10% on
    // the pivot-based exports)
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1000000",
    "spark.sql.session.timeZone" -> "UTC")

  /** Added only by a single-JVM session: the master, one shuffle partition
    * per thread, and no UI. On a cluster all three are the submitter's
    * choice, so `Main` leaves them to spark-submit and Spark's defaults. */
  def localKeys(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.ui.enabled" -> "false")

  /** A `local[cpus]` session under the policy, with `confs` set at build
    * time on top. */
  def local(cpus: Int, confs: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
    (keys ++ localKeys(cpus) ++ confs).foreach { case (k, v) => builder.config(k, v) }
    builder.getOrCreate()
  }
}
