package org.apache.spark

/** Test access to the SparkContext's listener bus, which is
  * `private[spark]`: listeners receive events asynchronously, so a test
  * counting jobs or query executions drains the bus before it reads. */
object TestListenerBus {
  /** Block until every event posted so far has reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
