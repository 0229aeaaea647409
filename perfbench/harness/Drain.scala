package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus's drain, which Spark keeps package-private. */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
