package org.apache.spark

/** The listener bus's drain, which Spark keeps package-private: a job
  * count read right after an action must include that action's
  * events. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
