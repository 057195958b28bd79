package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Listener-bus access for specs that count jobs. Events reach
  * listeners asynchronously; a spec drains the bus before it reads what
  * its listener recorded. `listenerBus` is `private[spark]`, hence this
  * object's package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
