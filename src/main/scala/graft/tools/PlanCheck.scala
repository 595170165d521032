package graft.tools

/** Prints exchange/scan statistics for a registry entry's physical plan
  * — the `.explain` audit as a greppable one-liner per entry. Used to
  * verify that a rewrite's plan has exactly the shuffles its design
  * claims (e.g. the round-6 narrow LSH chain: bucket window + band
  * self-join + candidate distinct + two pair→set joins, nothing
  * corpus-wide before the window).
  *
  * Usage: runMain graft.tools.PlanCheck <entry,...> <sfDir> [k=v ...]
  *        [--full] [--out <dir> --tag <t>]
  *
  * `k=v` levers are session confs, parsed as in [[Ab]] (e.g.
  * spark.graft.cc.localMaxEdges=0 for the distributed graph fixpoints).
  * `--full` prints the final adaptive plan.
  * `--out`/`--tag` write each entry's `.explain("formatted")` plan,
  * taken before execution, to `<dir>/<entry>_<t>.txt` — the committed
  * plan evidence of an optimization round (plans/r<NN>/).
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val usage = "usage: PlanCheck <entry,...> <sfDir> [k=v ...] [--full] [--out <dir> --tag <t>]"
    val valued = Set("--out", "--tag")
    args.filter(_.startsWith("--")).foreach(f => require(f == "--full" || valued(f), s"unknown flag '$f'; $usage"))
    def value(f: String): Option[String] = args.indexOf(f) match {
      case -1 => None
      case i => Some(args.lift(i + 1).getOrElse(throw new IllegalArgumentException(s"$f needs a value")))
    }
    val dump = (value("--out"), value("--tag")) match {
      case (Some(d), Some(t)) => Some((d, t))
      case (None, None) => None
      case _ => throw new IllegalArgumentException(s"--out and --tag go together; $usage")
    }
    val positional = args.indices
      .filterNot(i => args(i).startsWith("--") || (i > 0 && valued(args(i - 1))))
      .map(args(_))
    require(positional.length >= 2, usage)
    val names = positional(0).split(",").toSeq
    val dir = positional(1)
    val fns = names.map(Ab.entry)
    val spark = Ab.session(Ab.levers(positional.drop(2)))
    dump.foreach { case (d, _) => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)) }
    names.zip(fns).foreach { case (name, fn) =>
      val df = fn(spark, dir)
      for ((d, t) <- dump) {
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(java.nio.file.Paths.get(d, s"${name}_$t.txt"), txt)
        println(s"[plan] wrote $d/${name}_$t.txt (${txt.length} chars)")
      }
      // execute df's OWN physical plan (df.count() would finalize the
      // count's separate QueryExecution and leave this one
      // isFinalPlan=false, hiding AQE's runtime SMJ→BHJ conversions —
      // the r8 find: the old counts were of the pre-execution tree)
      df.queryExecution.toRdd.count()
      val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0) // finalized AQE toString appends the initial tree too — count the final section only
      def count(p: String) = p.r.findAllIn(plan).length
      println(f"[plan] $name%-22s shuffles=${count("Exchange hashpartitioning|Exchange rangepartitioning|Exchange SinglePartition")}" +
        f" reused=${count("ReusedExchange")}" +
        f" broadcasts=${count("BroadcastExchange")}" +
        f" filescans=${count("FileScan|BatchScan")}" +
        f" cachedscans=${count("InMemoryTableScan|TableCacheQueryStage")}" +
        f" codegen=${count("\\*\\(\\d+\\)")}")
      if (args.contains("--full")) println(plan)
      Ab.reset(spark)
    }
    spark.stop()
  }
}
