package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus's drain, which Spark keeps package-private:
  * after an operation returns, every event of its jobs has been posted,
  * so draining the bus means a listener has seen all of them. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
