package org.apache.spark

/** Spec-side access to Spark's listener-bus drain (internal to Spark):
  * after it returns, every event posted so far has reached the
  * listeners, so a spec can count the jobs an action started. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
