package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The Spark jobs one call starts, in start order: a listener records
  * each job's SQL execution id, whether its final stage is a shuffle map
  * stage (an AQE query stage) or a result stage, and that stage's call
  * site. The listener bus delivers events asynchronously
  * (`listenerBus` is `private[spark]`), so it is drained before the log
  * is read. */
object JobLog {
  def of[T](sc: SparkContext)(body: => T): (T, Seq[String]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val last = e.stageInfos.maxBy(_.stageId)
        val sql = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        jobs.add(s"sql ${sql.getOrElse("-")}: ${if (last.shuffleDepId.isDefined) "map" else "result"} stage, ${last.name}")
      }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.toArray(Array.empty[String]).toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
