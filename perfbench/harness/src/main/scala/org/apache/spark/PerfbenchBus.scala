package org.apache.spark

/** Lets the traced harness wait until every posted listener event has been
  * delivered, so a pass's spans are complete before they are summed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
