package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus access for the benchmark harness. Listener events are
  * delivered asynchronously; the harness drains the bus before it reads
  * what its listeners recorded. `listenerBus` is `private[spark]`, hence
  * this object's package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
