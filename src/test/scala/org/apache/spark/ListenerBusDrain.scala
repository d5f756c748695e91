package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * a test's listener counts are complete when it reads them.
  * `listenerBus` is package-private to `org.apache.spark`.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
