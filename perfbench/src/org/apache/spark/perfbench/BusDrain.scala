package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every listener queue of the context has delivered its
  * pending events. The traced harness calls it between the build and the
  * action of one execution, so each listener event is attributed to the
  * phase that caused it. `LiveListenerBus` is Spark-private, hence the
  * package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
