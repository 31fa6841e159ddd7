package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps
  * package-private: a test that counts listener events waits until
  * every event posted so far has been delivered. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
