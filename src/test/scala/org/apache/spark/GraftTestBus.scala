package org.apache.spark

/** The listener bus delivers events asynchronously; counts read right
  * after an action would miss its last events. `waitUntilEmpty` is
  * package-private, so specs reach it from here. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
