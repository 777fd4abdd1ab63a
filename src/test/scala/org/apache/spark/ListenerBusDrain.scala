package org.apache.spark

/** Test access to the listener bus's drain, which Spark keeps
  * package-private: a spec that counts listener events waits for every
  * posted event to be delivered before it asserts. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
