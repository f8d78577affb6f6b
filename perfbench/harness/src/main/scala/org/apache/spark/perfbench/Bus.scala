package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus access the public API does not expose: the tracer must
  * read its listeners only after every posted event was delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
