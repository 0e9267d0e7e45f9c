package org.apache.spark

/** Test helper: the listener bus is private to Spark, so a test that counts
  * jobs through a `SparkListener` drains it from inside the package.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
