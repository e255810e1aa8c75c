package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus's drain is private to Spark; the benchmark's tracer
  * needs it before it reads its counts. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
