package org.apache.spark

/** The listener bus delivers events asynchronously; a suite that judges
  * listener records waits until every posted event has been delivered.
  * `waitUntilEmpty` is private[spark], hence this one-line accessor. */
object GraftTestShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
