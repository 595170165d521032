package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-generated test data.
  *
  * All tables are read lazily; Catalyst pushes filters/projections into the
  * parquet scan (verify with `.explain`: `PushedFilters`, `ReadSchema`).
  */
object Tables {
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, dir: String): DataFrame  = t(s, dir, "lineitem")
  def orders(s: SparkSession, dir: String): DataFrame    = t(s, dir, "orders")
  def customer(s: SparkSession, dir: String): DataFrame  = t(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame  = t(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame      = t(s, dir, "part")
  def nation(s: SparkSession, dir: String): DataFrame    = t(s, dir, "nation")
  def region(s: SparkSession, dir: String): DataFrame    = t(s, dir, "region")
  def events(s: SparkSession, dir: String): DataFrame    = t(s, dir, "events")
  def documents(s: SparkSession, dir: String): DataFrame = t(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = t(s, dir, "embeddings")

  /** Cheap content fingerprint of a source table's on-disk form (file or
    * directory): total bytes + newest mtime, seconds granularity. Keys
    * the /tmp fixture caches (file-ingest corpus, manager/streaming
    * parquet stages) so a REGENERATED testdata table can never be served
    * a stale derived fixture — the v-tags guard generator changes, this
    * guards source-content changes under an unchanged path. */
  def srcTag(dir: String, name: String): String = {
    def walk(f: java.io.File): (Long, Long) =
      if (f.isFile) (f.length, f.lastModified)
      else Option(f.listFiles).getOrElse(Array.empty[java.io.File])
        .map(walk).foldLeft((0L, 0L)) {
          case ((s, m), (s2, m2)) => (s + s2, math.max(m, m2))
        }
    val (bytes, mtime) = walk(new java.io.File(s"$dir/$name.parquet"))
    // millisecond mtime: a deterministic generator can regenerate a
    // same-sized table within one wall-clock second (review r6)
    s"$bytes-$mtime"
  }

  /** Split counts already measured for a scan, keyed by
    * path + content fingerprint + session parallelism. Probing a scan's
    * split count via `df.rdd.getNumPartitions` materializes the physical
    * RDD — measured ~130 ms of driver time PER CALL at sf0.1
    * (docs/ROUND6_NOTES.md; the probe is in git history), a real slice
    * of sub-second entry floors across widened()'s eleven call sites.
    * The count only changes when the on-disk content changes, which
    * [[srcTag]] detects at ~7 µs, so first use pays the probe and every
    * later call is a map hit. */
  private val splitCounts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Measured-byte exchange width for a small-row chain fed by table
    * `name` ([[graft.Sizing.byteWidth]]; 0 keeps the session width). */
  def byteWidth(s: SparkSession, dir: String, name: String): Int =
    graft.Sizing.byteWidth(s, s"$dir/$name.parquet")

  /** Widen an under-split scan for a NARROW downstream chain: a corpus
    * written as one small parquet file arrives as ONE input split, so a
    * shuffle-free pipeline hung off it (the det parse cascades, the
    * per-vector embedding loops) runs single-threaded no matter how many
    * cores the session has. Repartition ONLY when the scan yields fewer
    * splits than the session's parallelism — on any real multi-split
    * corpus (at 100 TB a scan has thousands of file splits) the guard
    * never fires, so this can never introduce a full-corpus shuffle;
    * when it does fire the exchanged bytes are by construction smaller
    * than one split.
    *
    * Apply ONLY where downstream per-row work dominates (object
    * pipelines: det parse cascades, per-vector loops, big explodes) —
    * for columnar scan→agg plans the exchange costs more than the
    * single-threaded vectorized decode saves (measured: widening
    * lineitem made q01 0.4 → 0.7 s warm). */
  def widened(s: SparkSession, dir: String, name: String): DataFrame = {
    val df  = t(s, dir, name)
    val par = s.sparkContext.defaultParallelism
    // every split-affecting config participates in the key: two sessions
    // with equal parallelism but different file-split configs split the
    // same file differently (review r6; ADVICE r6 added the open-cost and
    // min-partition knobs — a mid-process change of any of these must
    // invalidate the cached count, not reuse it)
    val splitConf = Seq(
      "spark.sql.files.maxPartitionBytes",
      "spark.sql.files.openCostInBytes",
      "spark.sql.files.minPartitionNum",
      "spark.sql.leafNodeDefaultParallelism"
    ).map(k => s.conf.getOption(k).getOrElse("-")).mkString("|")
    val key = s"$dir/$name.parquet@${srcTag(dir, name)}@$par@$splitConf"
    val n   = splitCounts.computeIfAbsent(key, _ => df.rdd.getNumPartitions)
    if (n < par) df.repartition(par) else df
  }
}
