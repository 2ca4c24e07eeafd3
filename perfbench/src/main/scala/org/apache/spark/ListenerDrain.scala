package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far.
  * The bus's `waitUntilEmpty` is package-private to Spark, so this one
  * call lives in Spark's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
