package org.apache.spark

/** The one private Spark call the benchmark needs: wait until every
  * queued listener event is delivered, so the trace holds all of a
  * pass's task and query records before its listeners are removed. */
object SparkAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
