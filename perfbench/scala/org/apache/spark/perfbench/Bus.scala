package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached every listener. The
  * listener bus is private to Spark, hence this one-line bridge in Spark's
  * package namespace.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
