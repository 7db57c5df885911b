package org.apache.spark.grafttest

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`: a test waits on it until every
  * event posted so far has reached every listener, so what a listener
  * collected is complete when the test reads it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
