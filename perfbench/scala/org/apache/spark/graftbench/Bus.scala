package org.apache.spark.graftbench

import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface

/** The listener bus is `private[spark]`; the benchmark needs three things
  * from it: a queue of its own for its listener, a way to wait until every
  * posted event has been delivered before it reads its counters, and the
  * number of events the bus dropped (a dropped event is a lost measurement). */
object Bus {
  val Queue = "perfbench"

  def addListener(sc: SparkContext, l: SparkListenerInterface): Unit =
    sc.listenerBus.addToQueue(l, Queue)

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Events dropped by every queue of the bus since the context started. */
  def droppedEvents(sc: SparkContext): Long =
    sc.listenerBus.metrics.metricRegistry.getCounters.asScala.collect {
      case (name, c) if name.endsWith("numDroppedEvents") => c.getCount
    }.sum
}
