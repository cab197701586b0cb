package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain is Spark-private; this one call is the only
  * reason the benchmark has a file in Spark's package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
