package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so counters read after a timed call are complete.
  * `listenerBus` is package-private to `org.apache.spark`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
