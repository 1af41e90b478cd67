package org.apache.spark

/** The one package-private Spark call the benchmark needs: waiting until
  * the listener bus has delivered every event of finished work.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
