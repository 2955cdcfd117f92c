package org.apache.spark

/** The benchmark reads its listener's figures only after every queued
  * event has been delivered; the bus's drain is Spark-private. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
