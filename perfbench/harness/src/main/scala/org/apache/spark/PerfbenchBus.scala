package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the tracer waits for every event of an op to be delivered before it
  * closes the op's counts.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
