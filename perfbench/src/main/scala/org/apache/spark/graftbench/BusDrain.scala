package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Spark delivers listener events on its own thread. The traced run reads
  * what its listeners recorded only after this returns, so no event of a
  * finished iteration is still in flight. `listenerBus` is private to the
  * `org.apache.spark` package, hence this file's package.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
