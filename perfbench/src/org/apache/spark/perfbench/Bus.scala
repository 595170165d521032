package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lets the benchmark wait for Spark's asynchronous listener bus, so the
  * counters a listener has collected for a finished call are complete
  * before they are read. `listenerBus` is `private[spark]`. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
