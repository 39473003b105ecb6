package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus's drain is package-private to Spark; the benchmark
  * needs it so per-layer counters are complete before they are read.
  */
object BusFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
