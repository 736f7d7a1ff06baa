package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus drain, so the harness can
  * read a query's task counts only after every event of its jobs has been
  * delivered. Lives in the spark namespace for access only. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
