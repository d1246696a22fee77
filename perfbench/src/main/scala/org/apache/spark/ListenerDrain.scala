package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * tracer's counters are complete before spans are summarised. The bus is
  * `private[spark]`, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
