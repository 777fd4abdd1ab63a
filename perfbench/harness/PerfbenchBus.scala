package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the traced run waits for every posted event to be delivered before it
  * attributes listener records to the phase that just ended. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
