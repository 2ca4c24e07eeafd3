package org.apache.spark

/** Test access to the listener bus's `waitUntilEmpty`, which Spark keeps
  * package-private: waits until every event posted so far is delivered. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
