package org.apache.spark

/** The one sanctioned private[spark] hop (mirror of GraftSqlBridge for the
  * SQL side): the listener bus, posted to by graft.Metrics and flushed so
  * metric snapshots are read only after every queued event has been
  * delivered.
  */
object GraftSparkBridge {
  def waitListenerBus(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  def post(sc: SparkContext, event: scheduler.SparkListenerEvent): Unit =
    sc.listenerBus.post(event)
}
