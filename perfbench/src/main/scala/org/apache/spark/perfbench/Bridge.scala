package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the listener bus, which Spark keeps package-private. */
object Bridge {
  /** Blocks until every event posted so far has reached every listener,
    * so counters read afterwards include the op that just finished. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
