package org.apache.spark.perfbenchglue

import org.apache.spark.SparkContext

/** Reaches the listener bus, which Spark keeps package-private. */
object Glue {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
