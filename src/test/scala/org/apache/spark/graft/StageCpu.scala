package org.apache.spark.graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-stage task CPU of registry entries, read from a `SparkListener`:
  * each completed stage's summed executor CPU and run time, its task
  * count, and the operator scopes of its RDDs (`WholeStageCodegen (N)` is
  * the `*(N)` of the formatted plan). It calls only `SparkEntry.queries`,
  * so the same file runs in any checkout of the engine.
  *
  * {{{
  * sbt -batch "Test/runMain org.apache.spark.graft.StageCpu <dir> <runs> <entry,…>"
  * }}}
  *
  * Each entry runs once unrecorded, then `runs` times; each run prints its
  * total task CPU, then each stage prints its median over the runs. */
object StageCpu {
  final case class Stage(id: Int, tasks: Int, cpuS: Double, runS: Double, scopes: Seq[String])

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: StageCpu <dir> <runs> <entry,…>")
    val Array(dir, runs, entries) = args
    val spark = graft.Session.local(4)
    val sc = spark.sparkContext
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Stage]()
    sc.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        stages.add(Stage(i.stageId, i.numTasks, m.executorCpuTime / 1e9, m.executorRunTime / 1e3,
          i.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)).distinct))
      }
    })
    for (name <- entries.split(",")) {
      val fn = graft.SparkEntry.queries(name)
      def once(): Seq[Stage] = {
        sc.listenerBus.waitUntilEmpty()
        stages.clear()
        fn(spark, dir).collect()
        sc.listenerBus.waitUntilEmpty()
        graft.tools.Probe.reset(spark)
        stages.toArray(Array.empty[Stage]).toSeq.sortBy(_.id)
      }
      once()
      val all = (1 to runs.toInt).map(_ => once())
      all.zipWithIndex.foreach { case (ss, r) =>
        println(f"[cpu] $name%-22s run ${r + 1}  task cpu ${ss.map(_.cpuS).sum}%.3f s  " +
          f"task run ${ss.map(_.runS).sum}%.3f s  stages ${ss.size}")
      }
      // stage k of every run with the last run's stage count, as medians
      val same = all.filter(_.size == all.last.size)
      def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
      all.last.indices.foreach { k =>
        val s = all.last(k)
        println(f"[stage] $name%-22s ${s.tasks}%3d tasks  cpu ${median(same.map(_(k).cpuS))}%.3f s  " +
          f"run ${median(same.map(_(k).runS))}%.3f s  " + s.scopes.mkString("[", ", ", "]"))
      }
    }
    spark.stop()
  }
}
