package org.apache.spark

/** Bridge into the `private[spark]` listener bus: the benchmark drains it
  * after a traced action so every task and stage event of that action has
  * reached the listeners before the next query starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
