package org.apache.spark.flowbenchshim

import org.apache.spark.SparkContext

/** The one private Spark hook the benchmark needs: wait until every
  * posted listener event has been delivered, so counters read after an
  * action include that action's tasks.
  */
object ListenerBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
