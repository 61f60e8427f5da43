package org.apache.spark.graftglue

import org.apache.spark.SparkContext

/** Test access to the listener bus, which Spark keeps package-private. */
object ListenerBus {
  /** Block until every event posted so far reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
