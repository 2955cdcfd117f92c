package org.apache.spark

/** Specs that count jobs with a listener read it only after every queued
  * event has been delivered; the bus's drain is Spark-private. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
