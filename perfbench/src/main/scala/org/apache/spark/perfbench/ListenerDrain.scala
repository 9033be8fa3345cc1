package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every posted listener event has been delivered.
  *
  * The listener bus is asynchronous and its drain is `private[spark]`;
  * the tracer drains at each span boundary so that an event posted
  * inside a span is handled while that span is still the open one.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
