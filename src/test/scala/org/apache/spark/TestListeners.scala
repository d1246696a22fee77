package org.apache.spark

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.SparkListenerInterface

/** The listeners registered on a context's bus, which is `private[spark]`. */
object TestListeners {
  def of(sc: SparkContext): Seq[SparkListenerInterface] = sc.listenerBus.listeners.asScala.toSeq
}
