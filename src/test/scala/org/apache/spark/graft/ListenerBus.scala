package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to Spark's listener bus: [[drain]] blocks until every
  * event posted so far has reached the listeners, so a listener that
  * counts jobs has seen all of a statement's jobs once it returns.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
