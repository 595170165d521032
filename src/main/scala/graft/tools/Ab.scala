package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Warm timing of registry entries in ONE session, optionally as a
  * same-window A/B of session confs ("levers").
  *
  * Usage: runMain graft.tools.Ab <sfDir> <n> <entry,...> [k=v ...]
  *
  * Without levers each entry runs `n` times; the line prints the min
  * (the warm floor) and every run. With levers, each entry first runs
  * once with the levers unset and once set (warming both shapes), then
  * `n` interleaved unset/set pairs, so both sides share the host's
  * window. Each line also carries the steal delta of its window
  * ([[HostGauge.stealWindow]]). Only warm-vs-warm comparisons of one
  * session are meaningful: cold numbers swing 2-3x.
  */
object Ab {

  /** `k=v` tokens as (key, value) pairs; a token without `=` (or with an
    * empty key) fails with a message naming it, and so does a
    * `spark.graft.*` key the engine does not read: setting it would A/B
    * two identical sessions. */
  def levers(tokens: Seq[String]): Seq[(String, String)] = tokens.map { t =>
    t.split("=", 2) match {
      case Array(k, _) if graft.Sizing.ignoredKey(k) => throw new IllegalArgumentException(
        s"'$k' is not read by the engine; the one spark.graft key it reads is ${graft.Sizing.LocalMaxEdgesKey}")
      case Array(k, v) if k.nonEmpty => k -> v
      case _ => throw new IllegalArgumentException(s"expected a k=v lever, got '$t'")
    }
  }

  /** The session the tools share, shaped like Bench's:
    * local[$SPARK_GRAFT_CPUS] (default: the available processors),
    * shuffle width = threads, AQE on, plus `confs` set at build time. */
  def session(confs: Seq[(String, String)] = Nil): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    confs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** A registry entry by name; an unknown name fails before any run. */
  def entry(name: String): (SparkSession, String) => DataFrame =
    graft.SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown registry entry '$name'"))

  /** Between-run hygiene, as in Bench/Verify: drop cached plans AND
    * checkpoint/persist blocks so runs don't accumulate executor memory. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Ab <sfDir> <n> <entry,...> [k=v ...]")
    val sfDir = args(0)
    val n = args(1).toInt
    val fns = args(2).split(",").toSeq.map(name => name -> entry(name))
    val lever = levers(args.drop(3).toSeq)
    val spark = session()
    graft.queries.Fixtures.ensureAll(spark, sfDir) // untimed, as in Bench

    def once(fn: (SparkSession, String) => DataFrame, set: Boolean): Double = {
      lever.foreach { case (k, v) => if (set) spark.conf.set(k, v) else spark.conf.unset(k) }
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val s = (System.nanoTime() - t0) / 1e9
      reset(spark)
      s
    }
    def runs(ts: Seq[Double]) = f"min ${ts.min}%7.3f  runs ${ts.map(t => f"$t%.3f").mkString(" ")}"

    for ((name, fn) <- fns) {
      val (line, steal) = HostGauge.stealWindow {
        if (lever.isEmpty) runs((1 to n).map(_ => once(fn, set = false)))
        else {
          once(fn, set = false); once(fn, set = true)
          val pairs = (1 to n).map(_ => (once(fn, set = false), once(fn, set = true)))
          s"unset ${runs(pairs.map(_._1))}  set ${runs(pairs.map(_._2))}"
        }
      }
      println(f"[ab] $name%-24s $line  steal ${steal.fold("ungated")(_.toString)}")
    }
    spark.stop()
  }
}
