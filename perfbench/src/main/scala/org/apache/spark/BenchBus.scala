package org.apache.spark

/** The listener bus's drain is Spark-private; the traced replay needs
  * every event of its requests delivered before it reads the figures. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
