package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Lives in Spark's package to reach the listener bus: block until every
  * event posted so far has reached the listeners, so a read of the
  * benchmark's counters sees all jobs that have already ended.
  */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
