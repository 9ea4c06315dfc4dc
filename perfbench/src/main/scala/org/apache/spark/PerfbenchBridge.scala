package org.apache.spark

/** Access to the listener bus drain, which is `private[spark]`: the tracer
  * must see every job, task and query-execution event of a run before it
  * attributes them to spans.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
