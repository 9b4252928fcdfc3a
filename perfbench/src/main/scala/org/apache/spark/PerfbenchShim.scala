package org.apache.spark

/** The listener bus delivers events asynchronously; the tracer reads its
  * per-request state only after every posted event has been delivered.
  * `waitUntilEmpty` is private[spark], hence this one-line accessor. */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
