package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * test's listener counts are complete. `listenerBus` is
  * `private[spark]`, hence the package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
