package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * a traced op's stage, task and plan events are attributed to that op
  * before the next one starts. The listener bus is package-private; this
  * is the one call the harness needs from it.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
