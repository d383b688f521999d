package org.apache.spark

/** The listener bus's drain is `private[spark]`; the traced run needs it so
  * that every event a call caused is delivered before the next call starts,
  * which is what lets each job be attributed to the call that launched it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
