package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is package-private to Spark. */
object Bus {

  /** Block until every event posted so far has reached every listener, so
    * counters read afterwards include the work that has just finished. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
