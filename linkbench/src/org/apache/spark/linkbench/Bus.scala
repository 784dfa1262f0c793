package org.apache.spark.linkbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private: the
  * layer collector must see every event of a layer before it reads
  * the layer's totals. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
