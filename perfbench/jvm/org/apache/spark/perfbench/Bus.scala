package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the traced run
  * drains it at operation boundaries so every event of an operation is
  * recorded before the next one starts. `listenerBus` is private to
  * the `org.apache.spark` package, hence this one-line bridge. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
