package org.apache.spark

/** The listener bus delivers events asynchronously; counters read
  * right after an action would miss its last tasks. `waitUntilEmpty`
  * is package-private, so the benchmark reaches it from here. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
