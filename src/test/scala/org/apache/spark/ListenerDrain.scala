package org.apache.spark

/** Test access to the listener bus drain (package-private in Spark):
  * listener events are delivered asynchronously, so a spec that counts
  * jobs through a SparkListener drains the bus before reading its count.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
