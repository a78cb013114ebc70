package org.apache.spark

/** The listener bus's drain is Spark-private; the tracer needs every
  * event delivered before it attributes jobs and queries to spans. */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
