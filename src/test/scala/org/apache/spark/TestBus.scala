package org.apache.spark

/** Drains Spark's asynchronous listener bus so that a listener has seen
  * every event posted so far. The bus lives behind `private[spark]`,
  * hence this accessor in Spark's package. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
