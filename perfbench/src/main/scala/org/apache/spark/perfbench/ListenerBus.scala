package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain, which Spark keeps package-private. The
  * benchmark's tracer waits on it before it attaches or detaches its
  * listeners, so that a traced call's events all reach them and no event
  * of an untraced call does. */
object ListenerBus {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
