package org.apache.spark

/** Drains Spark's asynchronous listener bus so that a listener has seen
  * every event of the jobs that already finished. The bus lives behind
  * `private[spark]`, hence this accessor in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
