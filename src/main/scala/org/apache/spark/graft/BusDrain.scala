package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Access to the listener bus's drain, which Spark keeps package-private:
  * once an operation has returned, every event of its jobs has been posted,
  * so after the drain a listener has seen them all. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
