package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** Public re-export of the `private[spark]` listener-bus drain: Spark
  * delivers listener events on its own thread, so a count a listener keeps
  * is complete only after every posted event has been delivered. Same
  * access pattern as [[GraftLiteralBridge]].
  */
object GraftListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
