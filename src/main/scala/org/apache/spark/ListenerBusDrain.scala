package org.apache.spark

/** Access to the driver's listener bus, which Spark keeps package-private:
  * blocks until every event posted so far (job ends, task ends,
  * query-execution callbacks) has reached its listeners. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
