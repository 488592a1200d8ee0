package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * a spec that counts jobs with a listener waits for every event to be
  * delivered before it reads its counts.
  */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
