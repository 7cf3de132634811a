package org.apache.spark

/** Waits until every event posted so far has reached the listeners. The
  * listener bus is private to Spark; this accessor lives in Spark's package
  * so the benchmark's traced run can attribute counts to the batch or query
  * that caused them before the next one starts. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
