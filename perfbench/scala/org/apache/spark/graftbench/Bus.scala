package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus's drain is package-private to Spark; the
  * benchmark needs it to read every event of a phase before it
  * summarizes the phase. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
