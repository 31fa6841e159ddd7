package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the benchmark folds listener events only after every event posted so
  * far has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
