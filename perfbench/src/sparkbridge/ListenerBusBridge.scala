package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run must see every event of its jobs before it sums them. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
